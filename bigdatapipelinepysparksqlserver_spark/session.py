"""SparkSession factory.

Replaces the reference's session factory (``pipeline_scripts/spark_session.py:5-22``:
yarn master, 3 executors x 1 core x 512 MB) with a scale-aware factory:
the same code runs on ``local[*]`` for tests and on a 1000-executor cluster —
only ``master`` and resource conf change, never the plan code.

Defaults chosen for 100 TB-scale behavior:
- AQE on (runtime coalescing, skew-join splitting, dynamic join re-plan)
- dynamic partition overwrite, which ``LakeTable.compact_partitions``
  needs to rewrite partitions in place (the CDC rebuild's staged swap
  does not depend on it)
- Arrow for any pandas interchange (the reference's driver-side pandas funnel
  is eliminated, but Pandas-UDF extension ops use Arrow batches)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to *any* session handed to us (including
# the driver's own session in `__spark_entry__`): keep this list to confs that
# are safe to set post-creation.
RUNTIME_CONFS: dict[str, str] = {
    # driver testdata parquet uses TIMESTAMP(NANOS) which Spark cannot decode
    # natively; read as long and convert in the catalog loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "Etc/UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # small dims (nation/region/part at test SFs; Clients/Products in the
    # reference) should broadcast — raise threshold above default 10MB.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Used by the query registry so the driver's own SparkSession gets the
    nanos/timezone handling it needs to read the testdata correctly.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable in this deployment → keep going; the conf is an
            # optimization, not a correctness requirement (except nanosAsLong,
            # which IS runtime-settable in Spark 4).
            pass
    return spark


def get_spark(
    app_name: str = "bigdatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession configured for this engine.

    ``master=None`` defers to spark-submit / env so the same entrypoint works
    on a real cluster; tests pass ``local[N]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
