"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ELT pipeline
(`tmpfsoares/BigDataPipelinePysparkSQLServer`), re-expressed Spark-first.

Layout
------
- ``session``    — SparkSession factory (AQE, Arrow, dynamic partition overwrite)
- ``schemas``    — explicit StructType schemas (single source of truth per table)
- ``sources``    — parquet catalog (testdata), partitioned lake mgmt, JDBC wrappers
- ``functions``  — scalar expression library (year_month, decodes, cutoffs, ...)
- ``operators``  — relational surface + LLM-data-pipeline ops (dedup, similarity,
                   text analysis)
- ``plans``      — driver-level plan steps: run-ledger/lineage state machine,
                   incremental partition rebuild (CDC), reconciliation comparator
- ``streaming``  — Structured Streaming sinks and transforms that no
                   pipeline runs yet (only tests drive them)
- ``pipelines``  — end-to-end compositions of the reference's two pipelines,
                   incl. the atomic mart publish protocol
- ``workload``   — seeded synthetic OLTP workload generator (CDC round-trip tests)
- ``queries``    — registry mapping query names -> (Spark callable, DuckDB oracle)
"""

__version__ = "0.1.0"
