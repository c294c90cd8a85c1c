"""Explicit StructType schemas — the single source of truth per table
(SURVEY.md §1.2: the reference declares lake/mart schemas in Hive DDL +
StructType, `load_sales_history.py:101-103,:156-161`; we standardize on
DecimalType(18,2) for money end-to-end instead of the reference's
Float/Decimal mix).

Nullability contract: all lake columns non-null except `updated_date`
and the dim-derived columns (LEFT OUTER joins may produce dangling-FK
nulls — SURVEY §7.5 risk 5 relaxation).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

MONEY = DecimalType(18, 2)

# ---------------------------------------------------------------------------
# OLTP source tables (reference DB `Production`, images/schema.png)
# ---------------------------------------------------------------------------

SALES = StructType(
    [
        StructField("id", LongType(), False),
        StructField("sale_date", TimestampType(), False),
        StructField("year_month", IntegerType(), False),
        StructField("paid", MONEY, False),
        StructField("client_id", LongType(), False),
        StructField("product_id", LongType(), False),
        StructField("updated_date", TimestampType(), True),
    ]
)

CLIENTS = StructType(
    [
        StructField("id", LongType(), False),
        StructField("gender", StringType(), False),
        StructField("country", StringType(), False),
    ]
)

PRODUCTS = StructType(
    [
        StructField("id", LongType(), False),
        StructField("product", StringType(), False),
        StructField("size", StringType(), False),
        StructField("color", StringType(), False),
        StructField("price", MONEY, False),
    ]
)

# tombstone log for delete propagation (reference `Removed`,
# data_generation.py:120-124)
REMOVED = StructType(
    [
        StructField("table", StringType(), False),
        StructField("id", LongType(), False),
        StructField("record_date", TimestampType(), False),
        StructField("year_month", IntegerType(), False),
        StructField("deleted_date", TimestampType(), False),
    ]
)

# ---------------------------------------------------------------------------
# lake fact table (reference `sales_history`, load_sales_history.py:101-103)
# partitioned by (year_month, country)
# ---------------------------------------------------------------------------

SALES_HISTORY = StructType(
    [
        StructField("id", LongType(), False),
        StructField("sale_date", TimestampType(), False),
        StructField("paid", MONEY, False),
        StructField("client_id", LongType(), False),
        StructField("gender", StringType(), True),
        StructField("product_id", LongType(), False),
        StructField("product", StringType(), True),
        StructField("size", StringType(), True),
        StructField("color", StringType(), True),
        StructField("updated_date", TimestampType(), True),
        # partition columns last (dynamic-partition insert order contract)
        StructField("year_month", IntegerType(), False),
        StructField("country", StringType(), True),
    ]
)

LAKE_PARTITION_COLS = ("year_month", "country")

# ---------------------------------------------------------------------------
# run ledger (reference `Sales_History_Lineage`, images/lineage.png)
# ---------------------------------------------------------------------------

LEDGER = StructType(
    [
        StructField("id", LongType(), False),
        StructField("exec_start", TimestampType(), False),
        StructField("exec_finish", TimestampType(), True),
        StructField("previous_cutoff", TimestampType(), True),
        StructField("current_cutoff", TimestampType(), False),
        StructField("pipeline_status", StringType(), False),
        StructField("validation_start", TimestampType(), True),
        StructField("validation_finish", TimestampType(), True),
        StructField("validation_status", StringType(), False),
    ]
)
