"""Offline IVF codebook trainer — the production quantizer path.

Trains the seeded KMeans coarse quantizer ONCE, offline, and versions
the resulting codebook as a JSON artifact inside the package
(`bigdatapipelinepysparksqlserver_spark/artifacts/`). The query
`ann_ivfpq_topk` loads the artifact, so its query path contains NO
training — assignment is a pure scan-side projection over
literal centroids, replayable in the DuckDB oracle.

Centroid components are rounded to 6 dp by the trainer
(operators/similarity.py `train_ivf_codebook`), so the JSON text, the
Spark literal arrays, and the oracle SQL literals all reproduce the
exact same doubles.

Usage: python tools/train_ivf_codebook.py [sf_dir] [k]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatapipelinepysparksqlserver_spark.operators.similarity import (  # noqa: E402
    train_ivf_codebook,
)
from bigdatapipelinepysparksqlserver_spark.session import get_spark  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog  # noqa: E402

ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bigdatapipelinepysparksqlserver_spark",
    "artifacts",
    "ivf_codebook_v1.json",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark("train-ivf-codebook")
    emb = Catalog(spark, sf_dir).embeddings
    codebook = train_ivf_codebook(emb, vec_col="embedding", n_centroids=k, seed=42)
    cells = sorted(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in codebook.collect()
    )
    artifact = {
        "version": 1,
        "algorithm": "kmeans(random-init, seed=42, maxIter=8) over L2-normalized vectors",
        "trained_on": sf_dir,
        "n_centroids": k,
        "dim": len(cells[0][1]),
        "centroids": {str(c): v for c, v in cells},
    }
    os.makedirs(os.path.dirname(ARTIFACT), exist_ok=True)
    with open(ARTIFACT, "w") as f:
        json.dump(artifact, f)
    print(f"wrote {ARTIFACT}: k={k} dim={artifact['dim']} trained_on={sf_dir}")


if __name__ == "__main__":
    main()
