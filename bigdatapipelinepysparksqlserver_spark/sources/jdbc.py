"""JDBC source/sink wrappers (S1, S9, S11; reference
`pipeline_scripts/sql_conn.py:11-30` + chunked reads
`load_sales_history.py:118-135` + pandas `to_sql` writes
`load_sales_mart.py:55,:78`).

Spark-first: the reference's driver-side pandas chunk funnel (20k rows
per chunk through ONE process) is replaced by Spark's parallel
partitioned JDBC read — ``partitionColumn/lowerBound/upperBound/
numPartitions`` split the table into N concurrent range-scans, and
Catalyst pushes filters and column pruning into the generated SQL
(`PushedFilters` in .explain). Writes go executor→DB in parallel
batches instead of driver-side row INSERTs.

Tests exercise the full read/write paths against embedded Derby
(bundled with Spark): partitioned parallel scans, filter pushdown into
the generated SQL, pushdown subqueries, and the truncate-overwrite
staging protocol. Only url/driver change for a networked database.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, DataFrameReader, SparkSession


@dataclass
class JdbcConfig:
    """Connection descriptor (reference `config/cred.conf` analog)."""

    url: str  # e.g. jdbc:sqlserver://host:1433;databaseName=Production
    user: str
    password: str
    driver: str = "com.microsoft.sqlserver.jdbc.SQLServerDriver"
    options: dict[str, str] = field(default_factory=dict)

    def base_options(self) -> dict[str, str]:
        return {
            "url": self.url,
            "user": self.user,
            "password": self.password,
            "driver": self.driver,
            **self.options,
        }


def normalize_identifier_quote(raw: str | None) -> str:
    """Normalize ``DatabaseMetaData.getIdentifierQuoteString()``.

    JDBC spec: a driver that does NOT support quoted identifiers
    returns a single SPACE — which is truthy, so a naive ``raw or '"'``
    would wrap every column in spaces and emit invalid SQL. A blank /
    whitespace answer means "no quoting" (empty string → bare names);
    a None/empty answer from a non-compliant driver falls back to the
    ANSI double quote."""
    return (raw or '"').strip()


# SQLSTATEs for "table does not exist": Derby (42X05); SQL Server error
# 208 "Invalid object name", which mssql-jdbc reports as S0002 by default
# and as the X/Open 42S02 only when the URL sets xopenStates=true
MISSING_TABLE_SQLSTATES = frozenset({"42X05", "S0002", "42S02"})


def is_missing_table(spark: SparkSession, exc: Py4JJavaError) -> bool:
    """True when a JDBC read failed because the table does not exist:
    some ``java.sql.SQLException`` in the Java cause chain carries one
    of ``MISSING_TABLE_SQLSTATES``."""
    gateway = spark.sparkContext._gateway
    j = exc.java_exception
    while j is not None:
        if (
            is_instance_of(gateway, j, "java.sql.SQLException")
            and j.getSQLState() in MISSING_TABLE_SQLSTATES
        ):
            return True
        j = j.getCause()
    return False


def jdbc_scan_options(
    cfg: JdbcConfig,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    fetch_size: int = 10_000,
) -> dict[str, str]:
    """S1 — parallel partitioned scan configuration (pure, testable).

    ``table`` may be a table name or a pushdown subquery
    ``(SELECT ... WHERE ...) q`` — the reference's per-partition extract
    query (`load_sales_history.py:112-116`) maps to exactly that, with
    the engine's half-open window predicate in the WHERE.
    """
    opts = {
        **cfg.base_options(),
        "dbtable": table,
        "fetchsize": str(fetch_size),
    }
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned read needs lower_bound and upper_bound")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def jdbc_reader(spark: SparkSession, cfg: JdbcConfig, table: str, **kw) -> DataFrameReader:
    return spark.read.format("jdbc").options(**jdbc_scan_options(cfg, table, **kw))


def read_jdbc(spark: SparkSession, cfg: JdbcConfig, table: str, **kw) -> DataFrame:
    return jdbc_reader(spark, cfg, table, **kw).load()


def write_jdbc(
    df: DataFrame,
    cfg: JdbcConfig,
    table: str,
    mode: str = "append",
    truncate: bool = False,
    batch_size: int = 10_000,
    create_column_types: str | None = None,
) -> None:
    """S9/M4 — executor-parallel batched write.

    ``mode="overwrite", truncate=True`` reproduces the reference's
    TRUNCATE-then-load staging protocol (`load_sales_mart.py:51-55`)
    without dropping the table (keeps grants/DDL).

    ``create_column_types`` overrides column DDL when the writer creates
    the table (e.g. ``"country VARCHAR(32)"``) — needed for dialects
    whose default StringType mapping is a large-object type that cannot
    be compared/pushed down (Derby maps StringType → CLOB).
    """
    w = (
        df.write.format("jdbc")
        .options(**cfg.base_options())
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .option("truncate", "true" if truncate else "false")
    )
    if create_column_types:
        w = w.option("createTableColumnTypes", create_column_types)
    w.mode(mode).save()


class JdbcMartPublisher:
    """M4+M5 against a real database: staging load + transactional
    TRUNCATE/INSERT-SELECT swap — the reference's mart publish protocol
    verbatim (`load_sales_mart.py:51-53,:92-102`: BEGIN TRAN; TRUNCATE
    final; INSERT final SELECT * FROM staging; COMMIT).

    The swap runs as ONE java.sql transaction on a raw connection
    (autocommit off): readers under SQL-standard isolation never observe
    the empty-table intermediate state, and a failure between the two
    statements rolls back to the previous snapshot — the JDBC twin of
    ``pipelines.MartPublisher``'s directory-rename swap.

    Spark's DataFrame writer cannot express multi-statement
    transactions, so the swap goes through the JVM's DriverManager via
    the session's gateway — control-plane SQL, not a data path (the
    data moved in ``write_staging``, executor-parallel).

    ``dialect`` (default :class:`~.dialects.JdbcDialect`, the
    SQL-standard form the Derby matrix proves) owns every statement
    that differs per engine; pass
    :class:`~.dialects.SqlServerDialect` to speak the reference's
    actual T-SQL (TRUNCATE TABLE swap, SELECT-INTO clone, NVARCHAR /
    DATETIME2 DDL, IDENTITY_INSERT bracketing).
    """

    def __init__(self, spark: SparkSession, cfg: JdbcConfig, dialect=None):
        from .dialects import JdbcDialect

        self.spark = spark
        self.cfg = cfg
        self.dialect = dialect or JdbcDialect()

    def staging_name(self, table: str) -> str:
        return f"{table}_STAGING"

    def write_staging(self, table: str, df: DataFrame) -> None:
        write_jdbc(
            df, self.cfg, self.staging_name(table), mode="overwrite",
            create_column_types=self.dialect.create_column_types(df),
        )

    def _connection(self):
        jvm = self.spark.sparkContext._jvm
        return jvm.java.sql.DriverManager.getConnection(
            self.cfg.url, self.cfg.user, self.cfg.password
        )

    def _table_exists(self, conn, name: str) -> bool:
        rs = conn.getMetaData().getTables(None, None, name.upper(), None)
        try:
            return bool(rs.next())
        finally:
            rs.close()

    def _table_columns(self, conn, name: str) -> list[str]:
        """Ordered column names of ``name`` from connection metadata —
        the explicit column list T-SQL requires under
        SET IDENTITY_INSERT ON (error 8101 on ``SELECT *``)."""
        md = conn.getMetaData()
        # quote each identifier: the Spark JDBC writer creates QUOTED
        # (case-exact) columns, and an unquoted name would be folded
        # by the engine (Derby → upper) and miss them
        q = normalize_identifier_quote(md.getIdentifierQuoteString())
        # getColumns' table argument is a LIKE pattern — MARTID_STAGING
        # would also match MARTIDXSTAGING and interleave a sibling
        # table's columns into one ordinal-sorted list (r10 review
        # finding), and drivers disagree on pattern escaping (Derby
        # reports an EMPTY search-escape string). So: query with the
        # raw pattern but keep only rows whose TABLE_NAME equals the
        # candidate EXACTLY — wildcard semantics can then never leak a
        # sibling in. Candidates in stored-case order: exact, upper
        # (unquoted-create engines fold up), lower.
        for cand in (name, name.upper(), name.lower()):
            rs = md.getColumns(None, None, cand, None)
            try:
                cols = []
                while rs.next():
                    if rs.getString("TABLE_NAME") != cand:
                        continue
                    cols.append(
                        (int(rs.getInt("ORDINAL_POSITION")),
                         rs.getString("COLUMN_NAME"))
                    )
            finally:
                rs.close()
            if cols:
                return [f"{q}{c}{q}" for _, c in sorted(cols)]
        return []

    def publish_statements(
        self,
        table: str,
        first_publish: bool,
        identity_insert: bool = False,
        columns: list[str] | None = None,
    ) -> list[str]:
        """The swap as an ordered statement list (pure — this is what
        the dialect unit tests assert), executed by :meth:`publish`
        inside one transaction. ``columns`` is the staging table's
        ordered column list; mandatory for the T-SQL identity path."""
        staging = self.staging_name(table)
        stmts = []
        if first_publish:
            # first publish: clone staging's shape, then fall through
            # to the same transactional fill path
            stmts.append(self.dialect.create_empty_like(table, staging))
        stmts.extend(
            self.dialect.swap_statements(
                table, staging, identity_insert, columns=columns
            )
        )
        return stmts

    def publish(self, table: str, identity_insert: bool = False) -> None:
        conn = self._connection()
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            first = not self._table_exists(conn, table)
            cols = (
                self._table_columns(conn, self.staging_name(table))
                if identity_insert
                else None
            )
            for sql in self.publish_statements(
                table, first, identity_insert, columns=cols
            ):
                st.executeUpdate(sql)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return read_jdbc(spark, self.cfg, table)


class JdbcSourceTables:
    """The OLTP-source quartet as JDBC tables — the reference's actual
    topology (SQL Server as CDC source, `sql_conn.py:11-30`), drop-in
    for ``workload.SourceTables`` so the whole pipeline (generator, CDC
    loader, reconciler) runs against a real database. Exercised in tests
    via embedded Derby.

    String columns get explicit VARCHAR DDL (``create_column_types``)
    because some dialects map StringType to CLOB, which cannot be
    compared — and the CDC branch predicates (e.g. ``table = 'sales'``
    on the tombstone table) must push down into the source SQL.

    ``write`` materializes the frame on the driver before overwriting:
    the workload generator read-modifies-overwrites the SAME table, and
    a lazy plan would read from the table mid-truncate. This is a
    test-harness concern only — the ENGINE never overwrites its source
    (parquet SourceTables uses tmp+rename for the same reason).
    """

    def __init__(self, spark: SparkSession, cfg: JdbcConfig):
        from ..schemas import CLIENTS, PRODUCTS, REMOVED, SALES

        self.spark = spark
        self.cfg = cfg
        self.schemas = {
            "sales": SALES, "clients": CLIENTS, "products": PRODUCTS, "removed": REMOVED
        }

    def _varchar_ddl(self, name: str) -> str | None:
        cols = [
            f"{f.name} VARCHAR(64)"
            for f in self.schemas[name].fields
            if f.dataType.typeName() == "string"
        ]
        return ", ".join(cols) or None

    def read(self, name: str) -> DataFrame:
        try:
            df = read_jdbc(self.spark, self.cfg, name)
        except Py4JJavaError as e:
            # a table not created yet is legitimately empty; any other
            # failure (auth, network, missing database) must not read
            # as "no rows", or the CDC loader would miss tombstones
            if not is_missing_table(self.spark, e):
                raise
            return self.spark.createDataFrame([], self.schemas[name])
        # normalize to the canonical schema (column order + exact types)
        return df.select(
            *[
                df[f.name].cast(f.dataType).alias(f.name)
                for f in self.schemas[name].fields
            ]
        )

    def write(self, name: str, df: DataFrame) -> None:
        # cast to the canonical schema and write DISTRIBUTED — a
        # collect()+createDataFrame round-trip here would funnel every row
        # through the driver, the exact reference anti-pattern (SURVEY
        # §2.1-S2) this engine removes. The eager localCheckpoint is still
        # required: callers pass plans derived from THIS table (read →
        # modify → overwrite), and a lazy write would truncate the source
        # mid-read. Checkpointing materializes the partitions on the
        # executors (not the driver) before the overwrite drops the table.
        from ..caching import tracked_local_checkpoint

        ordered, free = tracked_local_checkpoint(
            df.select(
                *[
                    df[f.name].cast(f.dataType).alias(f.name)
                    for f in self.schemas[name].fields
                ]
            )
        )
        try:
            write_jdbc(
                ordered, self.cfg, name, mode="overwrite",
                create_column_types=self._varchar_ddl(name),
            )
        finally:
            free()  # the write materialized the snapshot; free its blocks now

    def append(self, name: str, df: DataFrame) -> None:
        ordered = df.select([f.name for f in self.schemas[name].fields])
        write_jdbc(
            ordered, self.cfg, name, mode="append",
            create_column_types=self._varchar_ddl(name),
        )
