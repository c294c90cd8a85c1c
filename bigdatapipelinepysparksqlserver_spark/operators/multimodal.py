"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas UDFs.

The pattern for a 100 TB training-data pipeline:

- media lives in a BINARY column (or a reference + byte-range into an
  object store); metadata (codec, dims, duration) is a typed STRUCT
  column so filters on it prune BEFORE any decode work;
- decode / transform runs as ``mapInPandas`` — Arrow moves each
  partition to Python in columnar batches (no per-row pickling), and
  the decode cost parallelizes with the scan;
- transformed outputs are fixed-size so downstream ops stay native.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build an image media table from any source column cast to binary.

    Native expressions only: the payload column is a real BinaryType and
    the metadata struct is computed during the scan (octet_length etc.),
    so metadata predicates are codegen'd and never deserialize payloads.
    """
    payload = F.col(text_col).cast("binary")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("raw").alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def pil_available() -> bool:
    """Import-probe for the real image codec (Pillow)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("out_width", IntegerType(), False),
        StructField("out_height", IntegerType(), False),
        StructField("payload", BinaryType(), False),
    ]
)


def resize_image_batches(
    media: DataFrame, width: int = 32, height: int = 32, decoder: str = "auto"
) -> DataFrame:
    """Resize via ``mapInPandas`` — the batch-transform shape of the
    multimodal pipeline (decode → transform → RE-ENCODED binary out).

    ``decoder="real"`` (PIL): decode → bilinear resize to
    (width, height) → grayscale raw-byte payload of exactly
    width×height bytes; undecodable payloads degrade to a zero payload
    of the right size (poison rows must never kill a corpus job).
    ``"surrogate"``: deterministic byte resample — ``np.resize`` tiles/
    truncates the raw payload to width×height bytes — exercising the
    identical distributed path (Arrow binary in AND out, fixed-size
    output contract) with no codec dependency. ``"auto"`` picks per
    environment; the plan is identical either way.

    Scale: per-row Python CPU behind an Arrow batch boundary; size
    ``arrow.maxRecordsPerBatch`` against payload size, pre-partition by
    size class to avoid stragglers. Output
    payloads are FIXED-SIZE by construction, so downstream batching
    (training shards, tensor packing) needs no per-row length handling.
    """
    if decoder not in ("auto", "real", "surrogate"):
        raise ValueError(f"unknown decoder: {decoder!r}")
    if decoder == "auto":
        decoder = "real" if pil_available() else "surrogate"
    if decoder == "real" and not pil_available():
        raise ImportError(
            "decoder='real' requires Pillow; install it or use decoder='auto'"
        )
    n_out = width * height

    def surrogate(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = np.frombuffer(payload, dtype=np.uint8)
                resized = np.resize(buf, n_out) if buf.size else np.zeros(
                    n_out, dtype=np.uint8
                )
                out.append((mid, width, height, resized.tobytes()))
            yield pd.DataFrame(
                out, columns=["media_id", "out_width", "out_height", "payload"]
            )

    def real(batches):
        import io

        import numpy as np
        import pandas as pd
        from PIL import Image

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    img = Image.open(io.BytesIO(payload)).convert("L").resize(
                        (width, height), Image.BILINEAR
                    )
                    body = np.asarray(img, dtype=np.uint8).tobytes()
                except Exception:
                    body = bytes(n_out)
                out.append((mid, width, height, body))
            yield pd.DataFrame(
                out, columns=["media_id", "out_width", "out_height", "payload"]
            )

    kernel = real if decoder == "real" else surrogate
    return media.select("media_id", "payload").mapInPandas(
        kernel, schema=RESIZED_SCHEMA
    )


def sample_frames(
    media: DataFrame, every_ms: int = 1000, max_frames: int = 16
) -> DataFrame:
    """Video frame-sampling PLAN (native side): explode a frame-index
    sequence per video from metadata only — the decode of each sampled
    frame is then a mapInPandas kernel like ``resize_image_batches``.

    Keeping the index generation native means the (video × frame) work
    list is built by codegen and can be repartitioned to balance decode
    load BEFORE any Python worker touches bytes.
    """
    # clamp to [1, max_frames]: Spark's sequence(0, -1) would count DOWN,
    # so a sub-interval duration must still yield exactly one frame
    n_frames = F.greatest(
        F.least(
            F.coalesce((F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1)),
            F.lit(max_frames),
        ),
        F.lit(1),
    )
    return media.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_index"),
    ).withColumn("frame_ts_ms", F.col("frame_index") * F.lit(every_ms))
