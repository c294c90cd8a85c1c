"""JDBC wrapper configuration (S1/S9) — no database in the container, so
these verify the constructed reader options and pushdown-subquery shape."""

from __future__ import annotations

import pytest

from bigdatapipelinepysparksqlserver_spark.sources.jdbc import (
    JdbcConfig,
    jdbc_reader,
    jdbc_scan_options,
)

CFG = JdbcConfig(
    url="jdbc:sqlserver://db:1433;databaseName=Production",
    user="sa",
    password="x",
)


def test_scan_options_partitioned():
    opts = jdbc_scan_options(
        CFG, "(SELECT * FROM Sales WHERE Year_Month = 202401) q",
        partition_column="ID", lower_bound=1, upper_bound=100_000,
        num_partitions=16,
    )
    assert opts["partitionColumn"] == "ID"
    assert opts["numPartitions"] == "16"
    assert opts["dbtable"].startswith("(SELECT")
    assert opts["driver"].endswith("SQLServerDriver")


def test_scan_options_requires_bounds():
    with pytest.raises(ValueError, match="bound"):
        jdbc_scan_options(CFG, "Sales", partition_column="ID")


def test_reader_constructs(spark):
    # building the reader performs no connection; load() would
    r = jdbc_reader(spark, CFG, "Sales")
    assert r is not None


# ---------------------------------------------------------------------------
# Real round-trips against embedded Derby (ships with Spark). Embedded
# mode shares the JVM, so this exercises the genuine JDBC read/write
# paths — partitioned parallel scans, filter pushdown, truncate
# semantics — without a network database; on a cluster only the url/
# driver change.
# ---------------------------------------------------------------------------

import tempfile

from bigdatapipelinepysparksqlserver_spark.sources.jdbc import read_jdbc, write_jdbc


@pytest.fixture()
def derby_cfg():
    db = tempfile.mkdtemp(prefix="derby_") + "/db"
    return JdbcConfig(
        url=f"jdbc:derby:{db};create=true",
        user="app",
        password="app",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )


def test_jdbc_write_read_roundtrip_partitioned(spark, derby_cfg):
    df = spark.range(0, 200).selectExpr("id", "id * 2 AS v")
    write_jdbc(df, derby_cfg, "SALES", mode="overwrite")
    back = read_jdbc(
        spark, derby_cfg, "SALES",
        partition_column="ID", lower_bound=0, upper_bound=200, num_partitions=4,
    )
    # S1: genuinely parallel — one Spark partition per ID range-slice
    assert back.rdd.getNumPartitions() == 4
    assert sorted((r.id, r.v) for r in back.collect()) == [(i, 2 * i) for i in range(200)]


def test_jdbc_filter_pushdown_reaches_scan(spark, derby_cfg, executed_plan):
    write_jdbc(spark.range(0, 100).selectExpr("id", "id * 2 AS v"), derby_cfg, "T")
    flt = read_jdbc(spark, derby_cfg, "T").where("v > 100")
    plan = executed_plan(flt)
    assert "PushedFilters" in plan and "GreaterThan(v,100)" in plan.replace("V", "v")
    assert flt.count() == 49  # the filter also actually filtered


def test_jdbc_pushdown_subquery_dbtable(spark, derby_cfg):
    write_jdbc(spark.range(0, 50).selectExpr("id", "id % 5 AS ym"), derby_cfg, "S")
    # reference's per-partition extract shape; Spark writes case-preserving
    # QUOTED identifiers, so Derby needs the quoted column name
    q = '(SELECT * FROM S WHERE "ym" = 3) q'
    got = read_jdbc(spark, derby_cfg, q)
    assert sorted(r.id for r in got.collect()) == [i for i in range(50) if i % 5 == 3]


def test_jdbc_truncate_overwrite_staging_protocol(spark, derby_cfg):
    """M4: overwrite+truncate reloads the staging table without dropping
    it — the reference's TRUNCATE-then-INSERT mart load."""
    write_jdbc(spark.range(0, 10).selectExpr("id"), derby_cfg, "STG", mode="overwrite")
    write_jdbc(
        spark.range(100, 105).selectExpr("id"), derby_cfg, "STG",
        mode="overwrite", truncate=True,
    )
    got = read_jdbc(spark, derby_cfg, "STG")
    assert sorted(r.id for r in got.collect()) == list(range(100, 105))
    # append on top (S9)
    write_jdbc(spark.range(105, 107).selectExpr("id"), derby_cfg, "STG", mode="append")
    assert read_jdbc(spark, derby_cfg, "STG").count() == 7


def test_jdbc_source_read_fails_loud_except_missing_table(spark, derby_cfg):
    """Only "table does not exist" reads as an empty source table; any
    other failure (here: a database that is not there) must raise, or
    the CDC loader would read an outage as "no rows" and miss deletes."""
    from bigdatapipelinepysparksqlserver_spark.schemas import SALES
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import JdbcSourceTables

    empty = JdbcSourceTables(spark, derby_cfg).read("sales")
    assert empty.schema == SALES
    assert empty.collect() == []

    gone = JdbcConfig(
        url=f"jdbc:derby:{tempfile.mkdtemp(prefix='derby_')}/absent;create=false",
        user="app",
        password="app",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    with pytest.raises(Exception, match="not found"):
        JdbcSourceTables(spark, gone).read("sales")


@pytest.mark.parametrize("state", ["42X05", "S0002", "42S02"])
def test_is_missing_table_walks_cause_chain(spark, state):
    """Each listed SQLState marks a missing table wherever it sits in the
    cause chain (SQL Server error 208 is S0002 unless the URL sets
    xopenStates=true, then 42S02); other states, and chains without a
    SQLException, do not."""
    from py4j.protocol import Py4JJavaError

    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import is_missing_table

    jvm = spark._jvm

    def failure(sql_state):
        cause = jvm.java.sql.SQLException("Invalid object name 'removed'.", sql_state, 208)
        outer = jvm.java.lang.RuntimeException(
            "Job aborted", jvm.java.lang.RuntimeException("task failed", cause)
        )
        return Py4JJavaError("An error occurred while calling o1.load.", outer)

    assert is_missing_table(spark, failure(state))
    assert not is_missing_table(spark, failure("08S01"))  # connection failure
    plain = Py4JJavaError("x", jvm.java.lang.IllegalStateException(state))
    assert not is_missing_table(spark, plain)


@pytest.mark.slow
def test_cdc_pipeline_with_jdbc_source(spark, derby_cfg, tmp_path):
    """The reference's real topology: SQL database as CDC source. The
    full protocol — seeded workload, two incremental loads with
    inserts/updates/deletes, reconciliation — runs against Derby through
    the JdbcSourceTables adapter, extract predicates pushed down."""
    from datetime import datetime, timedelta

    from bigdatapipelinepysparksqlserver_spark.pipelines import run_pipeline_1
    from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger
    from bigdatapipelinepysparksqlserver_spark.plans.reconcile import SUCCESSFUL
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import JdbcSourceTables
    from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
    from bigdatapipelinepysparksqlserver_spark.workload import WorkloadGenerator

    t1 = datetime(2024, 6, 1, 12, 3, 42)
    t2 = t1 + timedelta(days=1)
    src = JdbcSourceTables(spark, derby_cfg)
    gen = WorkloadGenerator(src, seed=11)
    gen.seed_dimensions(n_clients=20, n_products=8)
    lake = LakeTable(spark, str(tmp_path / "lake"))
    ledger = RunLedger(spark, str(tmp_path / "ledger"))

    gen.insert_sales(60, batch=1, now=t1, spread_days=10)
    rep1 = run_pipeline_1(spark, src, lake, ledger, now=t1)
    assert rep1["validation"].status == SUCCESSFUL
    assert rep1["validation"].source_count == rep1["validation"].lake_count > 0

    stamp = t2 - timedelta(hours=1)
    gen.insert_sales(20, batch=2, now=stamp, spread_days=1)
    assert gen.update_sales(batch=2, now=stamp, p=0.08) > 0
    assert gen.delete_sales(batch=2, now=stamp, p=0.05) > 0
    rep2 = run_pipeline_1(spark, src, lake, ledger, now=t2)
    assert rep2["validation"].status == SUCCESSFUL

    # tombstoned rows really left the lake
    deleted = {r.id for r in src.read("removed").collect()}
    assert deleted and not (deleted & {r.id for r in lake.read().collect()})


def test_jdbc_mart_publish_transactional_swap(spark, derby_cfg):
    """M5 over JDBC: staging → transactional DELETE+INSERT swap; a crash
    between the two statements must leave the PREVIOUS snapshot."""
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import JdbcMartPublisher

    pub = JdbcMartPublisher(spark, derby_cfg)
    v1 = spark.range(0, 5).selectExpr("id", "CAST('a' AS STRING) AS tag")
    pub.write_staging("MART1", v1)
    pub.publish("MART1")
    assert sorted(r.id for r in pub.read(spark, "MART1").collect()) == list(range(5))

    # second snapshot replaces the first
    v2 = spark.range(10, 13).selectExpr("id", "CAST('b' AS STRING) AS tag")
    pub.write_staging("MART1", v2)
    pub.publish("MART1")
    got = pub.read(spark, "MART1").collect()
    assert sorted(r.id for r in got) == [10, 11, 12]
    assert {r.tag for r in got} == {"b"}

    # failure mid-transaction rolls back to the committed snapshot:
    # drop the staging table, then publish → INSERT fails after DELETE,
    # but the DELETE must roll back with it
    conn = pub._connection()
    try:
        conn.createStatement().executeUpdate("DROP TABLE MART1_STAGING")
    finally:
        conn.close()
    with pytest.raises(Exception):
        pub.publish("MART1")
    assert sorted(r.id for r in pub.read(spark, "MART1").collect()) == [10, 11, 12]


def test_jdbc_publish_identity_insert_reads_columns_from_metadata(
    spark, derby_cfg
):
    """identity_insert publish resolves the staging table's ordered
    column list from connection metadata and executes the explicit
    column-listed INSERT (ADVICE r9: T-SQL error 8101 requires a column
    list under SET IDENTITY_INSERT ON — the generic dialect proves the
    metadata→column-list→execution path on Derby)."""
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import JdbcMartPublisher

    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import write_jdbc

    pub = JdbcMartPublisher(spark, derby_cfg)
    v = spark.range(0, 4).selectExpr(
        "id", "CAST('x' AS STRING) AS tag", "id * 2 AS amount"
    )
    pub.write_staging("MARTID", v)
    # adversarial sibling: '_' in getColumns' LIKE pattern would match
    # it and interleave its columns (r10 review finding) — the exact
    # TABLE_NAME post-filter must exclude it
    write_jdbc(
        spark.range(1).selectExpr("id AS zz_other"), derby_cfg,
        "MARTIDXSTAGING", mode="overwrite",
    )
    conn = pub._connection()
    try:
        assert [
            c.strip('"').upper()
            for c in pub._table_columns(conn, "MARTID_STAGING")
        ] == ["ID", "TAG", "AMOUNT"]
    finally:
        conn.close()
    pub.publish("MARTID", identity_insert=True)
    got = pub.read(spark, "MARTID").collect()
    assert sorted((r.id, r.amount) for r in got) == [(i, 2 * i) for i in range(4)]


@pytest.mark.slow
def test_jdbc_ledger_state_machine_and_full_pipeline(spark, derby_cfg, tmp_path):
    """The ledger where the reference keeps it — a lineage table in the
    database, mutated with real INSERT/UPDATE/DELETE — driving the full
    pipeline together with the JDBC source: every control-plane surface
    (M1-M3, S11, A5/P7) against Derby."""
    from datetime import datetime, timedelta

    from bigdatapipelinepysparksqlserver_spark.pipelines import run_pipeline_1
    from bigdatapipelinepysparksqlserver_spark.plans.ledger import (
        FAILED,
        JdbcRunLedger,
        SUCCESSFUL,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import JdbcSourceTables
    from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
    from bigdatapipelinepysparksqlserver_spark.workload import WorkloadGenerator

    t0 = datetime(2024, 6, 1, 12, 3, 42)
    led = JdbcRunLedger(spark, derby_cfg)

    # state machine alone: failed run's id is reused after purge (A5+M3)
    assert led.next_run_id() == 1
    led.start_run(1, t0, None, t0)
    led.finish_run(1, t0, FAILED)
    assert led.next_run_id() == 1
    led.purge_failed(1)
    assert led.read().count() == 0

    # full pipeline: JDBC source + JDBC ledger
    src = JdbcSourceTables(spark, derby_cfg)
    gen = WorkloadGenerator(src, seed=5)
    gen.seed_dimensions(n_clients=15, n_products=6)
    lake = LakeTable(spark, str(tmp_path / "lake"))
    gen.insert_sales(40, batch=1, now=t0, spread_days=8)
    rep = run_pipeline_1(spark, src, lake, led, now=t0)
    assert rep["validation"].status == SUCCESSFUL
    rows = led.read().collect()
    assert len(rows) == 1 and rows[0].pipeline_status == "SUCCESSFUL"
    assert rows[0].current_cutoff == rep["current_cutoff"]  # S11 round-trips

    # second run resolves previous_cutoff from the DB (S11)
    t1 = t0 + timedelta(days=1)
    gen.insert_sales(10, batch=2, now=t1 - timedelta(hours=1), spread_days=1)
    rep2 = run_pipeline_1(spark, src, lake, led, now=t1)
    assert rep2["previous_cutoff"] == rep["current_cutoff"]
    assert rep2["validation"].status == SUCCESSFUL


# ---------------------------------------------------------------------------
# Dialect adapters (VERDICT r8 #4): statement-text contracts. The
# generic dialect's EXECUTION is proven by the Derby matrix above; the
# SQL Server dialect is pinned here as text — the exact T-SQL the
# reference runs (load_sales_mart.py:92-101) — since no SQL Server
# exists in this environment.
# ---------------------------------------------------------------------------


def test_sqlserver_dialect_swap_matches_reference_tsql():
    from bigdatapipelinepysparksqlserver_spark.sources.dialects import (
        SqlServerDialect,
    )

    d = SqlServerDialect()
    assert d.swap_statements("SALES_MART", "SALES_MART_STAGING") == [
        "TRUNCATE TABLE SALES_MART",
        "INSERT INTO SALES_MART SELECT * FROM SALES_MART_STAGING",
    ]
    # identity-safe staging: the bracket that prevents T-SQL error 544,
    # with the EXPLICIT column list T-SQL requires under
    # SET IDENTITY_INSERT ON (SELECT * throws error 8101)
    assert d.swap_statements(
        "M", "M_STAGING", identity_insert=True, columns=["id", "amount"]
    ) == [
        "TRUNCATE TABLE M",
        "SET IDENTITY_INSERT M ON",
        "INSERT INTO M (id, amount) SELECT id, amount FROM M_STAGING",
        "SET IDENTITY_INSERT M OFF",
    ]
    # the identity path without a column list would be invalid T-SQL
    # (error 8101) — refused at build time, never shipped to the server
    with pytest.raises(ValueError, match="8101"):
        d.swap_statements("M", "M_STAGING", identity_insert=True)
    assert (
        d.create_empty_like("SALES_MART", "SALES_MART_STAGING")
        == "SELECT * INTO SALES_MART FROM SALES_MART_STAGING WHERE 1 = 0"
    )


def test_sqlserver_dialect_ddl_type_mapping(spark):
    from bigdatapipelinepysparksqlserver_spark.sources.dialects import (
        JdbcDialect,
        SqlServerDialect,
    )

    df = spark.createDataFrame(
        [],
        "id bigint, country string, sale_date timestamp, paid decimal(18,2),"
        " score double, active boolean",
    )
    assert SqlServerDialect().create_column_types(df) == (
        "country NVARCHAR(64), sale_date DATETIME2(6), score FLOAT,"
        " active BIT"
    )
    # generic keeps today's Derby-proven behavior: strings only
    assert JdbcDialect().create_column_types(df) == "country VARCHAR(64)"


def test_dialect_top_n_forms():
    from bigdatapipelinepysparksqlserver_spark.sources.dialects import (
        JdbcDialect,
        SqlServerDialect,
    )

    body = "id FROM RUN_CONTROL WHERE pipeline_status = 'SUCCESSFUL'"
    assert (
        SqlServerDialect().top_n(body, 1, order_by="id DESC")
        == "SELECT TOP (1) id FROM RUN_CONTROL WHERE pipeline_status ="
        " 'SUCCESSFUL' ORDER BY id DESC"
    )
    assert (
        JdbcDialect().top_n(body, 1, order_by="id DESC")
        == "SELECT id FROM RUN_CONTROL WHERE pipeline_status = 'SUCCESSFUL'"
        " ORDER BY id DESC FETCH FIRST 1 ROWS ONLY"
    )


def test_sqlserver_jdbc_url():
    from bigdatapipelinepysparksqlserver_spark.sources.dialects import (
        sqlserver_jdbc_url,
    )

    assert sqlserver_jdbc_url("dbhost", "Production") == (
        "jdbc:sqlserver://dbhost:1433;databaseName=Production;"
        "encrypt=true;trustServerCertificate=true"
    )


def test_publisher_composes_dialect_statements(spark):
    """publish_statements is the pure seam publish() executes: the
    SQL Server publisher's first publish is clone + truncate + fill,
    steady-state drops the clone."""
    from bigdatapipelinepysparksqlserver_spark.sources.dialects import (
        SqlServerDialect,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import (
        JdbcConfig,
        JdbcMartPublisher,
    )

    pub = JdbcMartPublisher(
        spark,
        JdbcConfig(url="jdbc:sqlserver://x;databaseName=d", user="u", password="p"),
        dialect=SqlServerDialect(),
    )
    assert pub.publish_statements("MART", first_publish=True) == [
        "SELECT * INTO MART FROM MART_STAGING WHERE 1 = 0",
        "TRUNCATE TABLE MART",
        "INSERT INTO MART SELECT * FROM MART_STAGING",
    ]
    assert pub.publish_statements("MART", first_publish=False) == [
        "TRUNCATE TABLE MART",
        "INSERT INTO MART SELECT * FROM MART_STAGING",
    ]


def test_normalize_identifier_quote():
    """JDBC spec: a driver without quoted-identifier support returns a
    single SPACE from getIdentifierQuoteString() — that must mean 'no
    quoting' (bare names), never space-wrapped columns (ADVICE r10)."""
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import (
        normalize_identifier_quote,
    )

    assert normalize_identifier_quote('"') == '"'
    assert normalize_identifier_quote("`") == "`"
    assert normalize_identifier_quote(" ") == ""    # spec: unsupported
    assert normalize_identifier_quote("") == '"'    # non-compliant → ANSI
    assert normalize_identifier_quote(None) == '"'
