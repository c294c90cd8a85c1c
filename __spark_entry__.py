"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real surface lives in ``bigdatapipelinepysparksqlserver_spark.queries``
(the registry maps every operator from SURVEY.md §2 plus the
LLM-data-pipeline extensions to a (Spark callable, DuckDB oracle) pair).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bigdatapipelinepysparksqlserver_spark.queries import (
    REGISTRY,
    oracle_queries,
    spark_queries,
)

SF0001_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: mart query 1 (count-distinct clients per
    country/gender — the reference's `load_sales_mart.py:26-29` analog)
    on sf0.001. Driver checks it runs and yields ≥0 rows."""
    return REGISTRY["mart_client_count"].fn(spark, SF0001_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for every registered query, keyed by query name.
    Approximate and hashed operators (MinHash/SimHash/hyperplane LSH,
    HLL and top-k sketches, policy-sized LSH) replay in DuckDB through
    engine-portable hash families, literal constants, or exact-regime
    and error-corridor checks."""
    return oracle_queries()
