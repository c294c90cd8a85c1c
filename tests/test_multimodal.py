"""Multimodal plumbing: binary payloads, Arrow-batched resize, frame plan."""

from __future__ import annotations

import pytest

from bigdatapipelinepysparksqlserver_spark.operators.multimodal import (
    attach_binary_payload,
    sample_frames,
)

import pyspark.sql.functions as F


@pytest.fixture()
def media(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "abc"), (3, "")], ["doc_id", "text"]
    )
    return attach_binary_payload(docs, "doc_id", "text")


def test_payload_schema_and_metadata(media):
    assert dict(media.dtypes)["payload"] == "binary"
    rows = {r.media_id: r.meta.n_bytes for r in media.collect()}
    assert rows == {1: 11, 2: 3, 3: 0}


def test_frame_plan_clamps(spark):
    docs = spark.createDataFrame([(1, "x" * 500), (2, "y" * 50)], ["doc_id", "text"])
    media = attach_binary_payload(docs, "doc_id", "text")
    with_dur = media.withColumn(
        "meta",
        F.struct(
            F.col("meta.media_type"), F.col("meta.codec"), F.col("meta.width"),
            F.col("meta.height"),
            (F.col("meta.n_bytes") * 10).cast("long").alias("duration_ms"),
            F.col("meta.n_bytes"),
        ),
    )
    plan = sample_frames(with_dur, every_ms=1000, max_frames=4)
    frames = {r.media_id: [] for r in plan.collect()}
    for r in plan.collect():
        frames[r.media_id].append((r.frame_index, r.frame_ts_ms))
    assert sorted(frames[1]) == [(0, 0), (1, 1000), (2, 2000), (3, 3000)]  # capped at 4
    assert sorted(frames[2]) == [(0, 0)]  # sub-second duration → 1 frame


def test_resize_fixed_size_deterministic(media, spark, executed_plan):
    """resize_image_batches: every output payload is EXACTLY w×h bytes
    (the fixed-size contract downstream tensor packing relies on),
    deterministic across runs, one row per input, via MapInPandas —
    including the empty payload (zero-filled, not dropped/crashed)."""
    from bigdatapipelinepysparksqlserver_spark.operators.multimodal import (
        resize_image_batches,
    )

    out = resize_image_batches(media, width=4, height=3, decoder="surrogate")
    rows = {r.media_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    for r in rows.values():
        assert (r.out_width, r.out_height) == (4, 3)
        assert len(r.payload) == 12
    # surrogate = np.resize tiling of the raw bytes — verifiable driver-side
    assert rows[2].payload == (b"abc" * 4)          # 3 bytes tiled to 12
    assert rows[1].payload == b"hello worldh"  # 11 bytes tiled to 12
    assert rows[3].payload == bytes(12)              # empty -> zero-filled
    # deterministic across executions
    again = {r.media_id: r.payload for r in
             resize_image_batches(media, width=4, height=3, decoder="surrogate").collect()}
    assert {k: v.payload for k, v in rows.items()} == again
    plan = executed_plan(out)
    assert "MapInPandas" in plan


def test_resize_decoder_validation(media):
    from bigdatapipelinepysparksqlserver_spark.operators.multimodal import (
        pil_available,
        resize_image_batches,
    )

    with pytest.raises(ValueError, match="unknown decoder"):
        resize_image_batches(media, decoder="nope")
    if not pil_available():
        with pytest.raises(ImportError, match="Pillow"):
            resize_image_batches(media, decoder="real")


def test_media_dedup_audit_invariants(spark):
    """Blob accounting must balance: every payload is either a distinct
    representative or a reclaimable duplicate, and duplicate groups
    imply reclaimable bytes."""
    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    # sf0.1: the one local SF whose corpus carries byte-identical dups
    r = REGISTRY["media_dedup_audit"].fn(
        spark, "/root/testdata/sf0.1"
    ).collect()[0]
    assert r["n_media"] == r["n_distinct_payloads"] + r["dup_media"]
    assert (r["dup_groups"] > 0) == (r["dup_media"] > 0)
    assert (r["reclaimable_bytes"] > 0) == (r["dup_media"] > 0)
    assert r["dup_groups"] > 0  # the dedup path is actually exercised


def test_media_shard_plan_matches_python_packing(spark, tmp_path):
    """Prefix-sum byte packing replayed in python: md5-ordered greedy
    fill, blob belongs to the file where its first byte lands."""
    import hashlib

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY
    from bigdatapipelinepysparksqlserver_spark.queries.multimodal_queries import (
        MEDIA_SHARD_BUDGET_BYTES,
        MEDIA_SHARD_HEX,
    )

    texts = [("x" * (7000 + 997 * i % 50000)) + str(i) for i in range(40)]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["shard"], r["file_id"]): (r["n_blobs"], r["file_bytes"])
        for r in REGISTRY["media_shard_plan"].fn(spark, str(tmp_path)).collect()
    }

    want: dict = {}
    items = sorted(
        (hashlib.md5(t.encode()).hexdigest(), i, len(t.encode()))
        for i, t in enumerate(texts)
    )
    cum: dict = {}
    for h, _i, n in items:
        shard = h[:MEDIA_SHARD_HEX]
        start = cum.get(shard, 0)
        fid = start // MEDIA_SHARD_BUDGET_BYTES
        nb, bb = want.get((shard, fid), (0, 0))
        want[(shard, fid)] = (nb + 1, bb + n)
        cum[shard] = start + n
    assert got == want
