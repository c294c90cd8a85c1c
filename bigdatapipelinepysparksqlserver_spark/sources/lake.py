"""Partitioned-parquet lake management (SURVEY §2.1 S4-S6, §2.8 M6).

The reference manages a Hive table partitioned by (year_month, country)
with explicit drop-partition + insert (`load_sales_history.py:101-103,
:170-177`). Here that two-step is ONE staged swap
(:meth:`LakeTable.overwrite_partitions`): the incoming DataFrame is
written once into a hidden ``_stage-<uuid>`` directory under the table
root, then directory renames swap each written partition in for its
live twin. ``replace`` names leading-key values to replace WHOLE, so a
value the new data no longer produces is removed in the same swap —
delete-to-empty cleanup needs no partition-listing job. Unrelated
partitions are never touched, and the write does not depend on the
session's ``partitionOverwriteMode``.

Path-based tables (no metastore dependency) so the same code runs under
plain local Spark, a Hive metastore, or a lakehouse catalog.

Scale notes:
- the swap touches exactly the changed partitions — rebuild cost is
  proportional to the CHANGE SET, never the table (the whole point of
  partition-grain CDC at 100 TB).
- every write lands one file per partition, avoiding the small-files
  problem the reference calls out (README.md:62), and runs on every
  core: the hash repartition on the partition keys has a fixed count
  (the session's default parallelism), because AQE coalesces a keyed
  shuffle of small data — a CDC change set — into one task, which then
  writes every partition's file in turn.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import LAKE_PARTITION_COLS
from .lake_snapshot import escape_partition_value, one_file_per_partition

STAGE_PREFIX = "_stage-"


class LakeTable:
    """A partitioned parquet table rooted at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: Sequence[str] = LAKE_PARTITION_COLS,
        schema=None,
    ):
        self.spark = spark
        self.path = path
        self.partition_cols = tuple(partition_cols)
        # fallback schema for the legitimately-EMPTY table state (every
        # partition deleted): parquet can't infer a schema from zero
        # files, but an empty table is not an error — CDC can delete
        # everything. Default: the lake's wide sales-history schema.
        if schema is None:
            from ..schemas import SALES_HISTORY

            schema = SALES_HISTORY
        self.schema = schema
        # the schema of this instance's last write, and the schema an
        # inferring read returned after a write of that schema (see read)
        self._written = None
        self._read_schema = None

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(self.path)
        )

    def read(self, merge_schema: bool = False) -> DataFrame:
        """Full-table scan; Catalyst prunes partitions from any filter on
        the partition columns (verify via PartitionFilters in .explain).
        An empty/absent table reads as zero rows of ``self.schema``.

        Parquet schema inference is a one-task Spark job per read, so
        after this instance's own write the read skips it: the schema
        the first inferring read returned is passed back with
        ``.schema(...)`` while the instance's writes keep the schema of
        the write that read followed. Being inference's own answer, it
        carries the inferred partition column types (from directory
        names: ``year_month`` reads as ``int`` even when the written
        frame held ``long``). It is remembered only when its data
        columns are the written ones, so a table whose older files have
        another schema keeps inferring; a write with another schema
        drops it, and an instance that never wrote always infers. Like
        the writes, this assumes a single writer per table.

        ``merge_schema=True`` unions the schemas of ALL partition files
        (columns added by later CDC runs read as NULL in older
        partitions) — schema evolution without rewriting history, which
        at 100 TB is the only affordable kind. Off by default: merging
        footers costs a file-listing pass, and the steady-state reader
        should use the latest schema it already knows."""
        if not self.exists():
            return self.spark.createDataFrame([], self.schema)
        if merge_schema:
            return self.spark.read.option("mergeSchema", "true").parquet(self.path)
        if self._read_schema is not None:
            return self.spark.read.schema(self._read_schema).parquet(self.path)
        df = self.spark.read.parquet(self.path)
        if self._written is not None and _data_cols(df.schema, self.partition_cols) == (
            _data_cols(self._written, self.partition_cols)
        ):
            self._read_schema = df.schema
        return df

    def write_full(self, df: DataFrame) -> None:
        """Initial full load (reference: first run, empty partition list →
        full-window extract)."""
        self._writer(df).mode("overwrite").parquet(self.path)

    def overwrite_partitions(self, df: DataFrame, replace: Sequence = ()) -> None:
        """M6 — staged partition swap: the drop+insert of
        load_sales_history.py:172-173 as one write plus directory renames.

        ``df`` is written once into ``<root>/_stage-<uuid>`` (a name
        without ``=``, so Spark's file index and :meth:`exists` ignore
        it). Then every leaf partition ``df`` produced replaces its live
        twin, and every leading-key value in ``replace`` is replaced as
        a whole directory — removed outright when ``df`` has no rows for
        it, which is the delete-to-empty case. Partitions outside both
        sets are never touched, whatever the session's
        ``partitionOverwriteMode``. Replaced directories move into the
        stage directory, which is deleted on the way out.

        An exception before the first rename leaves the live table
        untouched. Each partition swap is two renames (live out, new
        in), so a partition is never a mix of old and new files, but a
        multi-partition swap is not atomic as a whole — the same
        per-partition commit Spark's dynamic overwrite makes, and a
        crash mid-swap is repaired by re-running the rebuild.
        :class:`~.lake_snapshot.SnapshotLakeTable` is the lake with one
        visibility event. Single writer: a ``_stage-*`` directory found
        at the start of a write is a killed writer's leftover and is
        deleted, so two concurrent writers on one table are not
        supported (nor were they under dynamic overwrite)."""
        self._sweep_stages()
        stage = os.path.join(self.path, f"{STAGE_PREFIX}{uuid.uuid4().hex}")
        try:
            self._writer(df).mode("errorifexists").parquet(stage)
            self._swap_in(stage, replace)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def apply_rebuild(self, df: DataFrame, changed_year_months: Sequence = ()) -> None:
        """One CDC rebuild: replace every partition under
        ``changed_year_months`` with ``df``'s rows for it, dropping those
        ``df`` no longer produces (same contract as
        :meth:`~.lake_snapshot.SnapshotLakeTable.apply_rebuild`)."""
        self.overwrite_partitions(df, replace=changed_year_months)

    def _sweep_stages(self) -> None:
        if not os.path.isdir(self.path):
            return
        for name in os.listdir(self.path):
            if name.startswith(STAGE_PREFIX):
                shutil.rmtree(os.path.join(self.path, name))

    def _swap_in(self, stage: str, replace: Sequence) -> None:
        """Move the staged partitions into the live table (see
        :meth:`overwrite_partitions`)."""
        lead = self.partition_cols[0]
        whole = {f"{lead}={escape_partition_value(v)}" for v in replace}
        rels = sorted(whole) + [
            rel
            for rel in self._leaf_rels(stage, 0)
            if rel.split(os.sep, 1)[0] not in whole
        ]
        trash = os.path.join(stage, "_replaced")
        os.mkdir(trash)
        for i, rel in enumerate(rels):
            live, new = os.path.join(self.path, rel), os.path.join(stage, rel)
            if os.path.isdir(live):
                os.rename(live, os.path.join(trash, str(i)))
            if os.path.isdir(new):
                os.makedirs(os.path.dirname(live), exist_ok=True)
                os.rename(new, live)

    def _leaf_rels(self, base: str, level: int) -> list[str]:
        """Leaf partition directories under ``base`` (which sits at
        partition depth ``level``), relative to ``base``."""
        if not os.path.isdir(base):
            return []
        key = f"{self.partition_cols[level]}="
        out = []
        for name in os.listdir(base):
            if not name.startswith(key):
                continue
            if level + 1 == len(self.partition_cols):
                out.append(name)
            else:
                sub = self._leaf_rels(os.path.join(base, name), level + 1)
                out.extend(os.path.join(name, rel) for rel in sub)
        return out

    def drop_partition_values(self, rows: Sequence[Sequence]) -> None:
        """S5 — explicit partition drop (ALTER TABLE ... DROP PARTITION)
        for retention and cleanup: one tuple per partition, holding its
        raw value for each partition col in ``partition_cols`` order.
        Rebuilds do not need it (``overwrite_partitions``' ``replace``
        removes partitions whose content disappeared)."""
        root = os.path.abspath(self.path)
        for vals in rows:
            if len(vals) != len(self.partition_cols):
                raise ValueError(
                    f"expected {len(self.partition_cols)} values {self.partition_cols}, got {vals!r}"
                )
            d = os.path.join(
                root,
                *[
                    f"{k}={escape_partition_value(v)}"
                    for k, v in zip(self.partition_cols, vals)
                ],
            )
            if os.path.isdir(d):
                shutil.rmtree(d)
            # prune now-empty ancestor partition dirs (an empty
            # `year_month=X` shell would make the parquet reader fail
            # schema inference on an otherwise-valid empty table)
            parent = os.path.dirname(d)
            while parent != root and os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
                parent = os.path.dirname(parent)

    def partition_file_stats(
        self, only_under: Sequence[str] | None = None
    ) -> list[tuple[str, int, int]]:
        """Per-partition (relative_dir, file_count, total_bytes) from
        filesystem metadata only — no data scan. A 100 TB lake's scan
        cost is driven by file count as much as byte count (per-file
        open/footer overhead, task scheduling), so the layout must be
        measurable cheaply.

        ``only_under`` restricts the walk to the given partition-dir
        prefixes (e.g. ``["year_month=202406"]``) — the change-set-bounded
        form ``IncrementalMart.refresh`` uses to see whether a rebuild
        wrote any file: listing cost then scales with the partitions just
        touched, never the table.
        """
        root = os.path.abspath(self.path)
        roots = (
            [root]
            if only_under is None
            else [os.path.join(root, rel) for rel in only_under]
        )
        stats: list[tuple[str, int, int]] = []
        for walk_root in roots:
            for dirpath, _dirnames, filenames in os.walk(walk_root):
                data = [
                    n
                    for n in filenames
                    if n.endswith(".parquet") and not n.startswith(("_", "."))
                ]
                if not data:
                    continue
                nbytes = sum(
                    os.path.getsize(os.path.join(dirpath, n)) for n in data
                )
                stats.append((os.path.relpath(dirpath, root), len(data), nbytes))
        return stats

    def register_catalog_table(self, name: str) -> None:
        """S4 — catalog DDL: CREATE TABLE IF NOT EXISTS ... USING PARQUET
        PARTITIONED BY ... LOCATION path (load_sales_history.py:101-103),
        then partition discovery (MSCK REPAIR) so SQL readers see every
        partition directory. Idempotent."""
        df = self.read()
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.schema.fields
        )
        parts = ", ".join(f"`{c}`" for c in self.partition_cols)
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING PARQUET "
            f"PARTITIONED BY ({parts}) LOCATION '{os.path.abspath(self.path)}'"
        )
        self.spark.sql(f"MSCK REPAIR TABLE {name}")

    def partitions(self) -> DataFrame:
        """A1-style distinct partition listing, resolved from directory
        metadata (no data scan — Spark lists partition dirs)."""
        return self.read().select(*self.partition_cols).distinct()

    def _writer(self, df: DataFrame):
        # one file per partition, written by every core (see
        # one_file_per_partition)
        out = one_file_per_partition(df, self.partition_cols)
        if out.schema != self._written:
            self._written, self._read_schema = out.schema, None
        return out.write.partitionBy(*self.partition_cols)


def _data_cols(schema, partition_cols: Sequence[str]) -> list:
    """(name, type) of the non-partition columns of ``schema``."""
    return [(f.name, f.dataType) for f in schema.fields if f.name not in partition_cols]


def write_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    bucket_col: "str | list[str]",
    num_buckets: int,
    sort_col: "str | list[str] | None" = None,
    path: str | None = None,
) -> None:
    """Hash-bucketed (and optionally sorted) catalog table.

    Bucketing is the pre-shuffle: both sides of a repeated equi-join (or a
    repeated groupBy) written with the SAME bucket column and count join
    WITHOUT any Exchange — the hash partitioning is baked into the file
    layout at write time, and with ``sort_col`` the sort is too, so a
    sort-merge join degenerates to a zip of pre-sorted buckets. At 100 TB
    this converts the fact⋈fact shuffle (the single most expensive
    operation in the pipeline) into a local merge, paid once at ingest.
    Idempotent: re-running replaces the table.

    Multi-column joins: bucket by ALL the join keys (pass a list) —
    Spark's co-partitioning check requires every cluster key by default
    (`spark.sql.requireAllClusterKeysForCoPartition`), so a subset
    bucketing still forces an Exchange on the stored side.
    """
    bcols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w = df.write.format("parquet").mode("overwrite").bucketBy(
        num_buckets, bcols[0], *bcols[1:]
    )
    if sort_col is not None:
        scols = [sort_col] if isinstance(sort_col, str) else list(sort_col)
        w = w.sortBy(scols[0], *scols[1:])
    if path is not None:
        w = w.option("path", os.path.abspath(path))
    w.saveAsTable(name)


def write_bloom_store(
    df: DataFrame,
    path: str,
    key: str,
    ndv: int,
    extra_bloom_cols: Sequence[str] = (),
    cluster_col: str | None = None,
    num_files: int | None = None,
    fpp: float = 0.01,
    row_group_bytes: int | None = None,
) -> None:
    """Point-lookup-capable corpus store: parquet with BLOOM FILTERS on
    ``key`` (and ``extra_bloom_cols``), clustered by ``cluster_col``.

    The layout answers the 100 TB ops question min/max stats cannot:
    "fetch these K doc_ids from the corpus" when the store is kept in
    its NATURAL cluster order (time, source, topic) so the id column is
    scattered across every file — footer min/max spans the whole id
    range in every row group and prunes nothing. A per-row-group bloom
    filter (parquet-mr ``BlockSplitBloomFilter``, sized from ``ndv`` and
    ``fpp``) lets the reader drop row groups whose filter misses the
    probed key BEFORE decoding any page: an ``=``/``IN`` predicate reads
    ~(matches + fpp·row_groups) groups instead of the full table. Spark's
    scan applies this automatically — pushed ``eq``/``in`` predicates
    reach parquet-mr's row-group filter, which consults the bloom filter
    when footer stats can't decide (reader conf
    ``parquet.filter.bloom.enabled``, default true).

    ``ndv`` is the expected distinct count of ``key`` PER ROW GROUP (the
    filter is per column chunk); passing the table-level NDV merely
    oversizes the bitset — wasted footer bytes, never wrong answers.
    Bloom filters give false POSITIVES only (an extra row group read at
    rate ``fpp``), never false negatives, so results are always exact.

    ``cluster_col`` (default: the key itself) orders rows within files.
    Clustering by a non-key column is the bloom filter's home turf;
    clustering by the key itself makes min/max stats do the pruning and
    the bloom filter a cheap belt-and-braces layer for absent-key probes.
    ``row_group_bytes`` shrinks row groups below the 128 MB default —
    pruning granularity is the row group, so smaller groups prune finer
    at the cost of more footer entries (tests use tiny groups to get
    many groups from small data).
    """
    order = cluster_col or key
    out = df
    if num_files is not None:
        out = out.repartitionByRange(num_files, F.col(order))
    w = (
        out.sortWithinPartitions(order)
        .write.mode("overwrite")
        .option(f"parquet.bloom.filter.enabled#{key}", "true")
        .option(f"parquet.bloom.filter.expected.ndv#{key}", str(int(ndv)))
        .option(f"parquet.bloom.filter.fpp#{key}", repr(float(fpp)))
    )
    for c in extra_bloom_cols:
        w = (
            w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            .option(f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv)))
            .option(f"parquet.bloom.filter.fpp#{c}", repr(float(fpp)))
        )
    if row_group_bytes is not None:
        w = w.option("parquet.block.size", str(int(row_group_bytes)))
    w.parquet(path)


def point_lookup(
    spark: SparkSession, path: str, key: str, values: Sequence
) -> DataFrame:
    """Fetch the rows of a :func:`write_bloom_store` store whose ``key``
    is in ``values`` — a plain pushed-down IN scan; the bloom/stats
    row-group pruning happens inside the parquet reader, invisible to
    the plan (the scan shows ``PushedFilters: [In(key, ...)]``)."""
    return spark.read.parquet(path).where(F.col(key).isin(list(values)))


def bloom_prune_audit(
    spark: SparkSession, path: str, key: str, value: int
) -> "tuple[int, int]":
    """(surviving, total) row groups across the store's files for an
    ``eq(key, value)`` probe, measured through parquet-mr's OWN
    row-group filter (``ParquetFileReader.open`` with a record filter —
    the same stats→dictionary→bloom cascade the Spark scan runs). The
    ops-side proof that a store's layout actually prunes: surviving ≪
    total for present keys, ~0 for absent ones.

    ``value`` must be a Python int outside 32-bit range OR the probe
    column declared INT64 with values that Py4J maps to a JVM long —
    this helper probes via the JVM API directly. Audit/ops tooling, not
    a query path.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    FilterApi = jvm.org.apache.parquet.filter2.predicate.FilterApi
    FilterCompat = jvm.org.apache.parquet.filter2.compat.FilterCompat
    pred = FilterCompat.get(FilterApi.eq(FilterApi.longColumn(key), int(value)))
    surviving = total = 0
    for root, _dirs, files in os.walk(path):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            p = jvm.org.apache.hadoop.fs.Path(os.path.join(root, fname))
            infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                p, hconf
            )
            plain = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
            total += plain.getRowGroups().size()
            plain.close()
            opts = (
                jvm.org.apache.parquet.ParquetReadOptions.builder()
                .withRecordFilter(pred)
                .build()
            )
            filt = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile, opts)
            surviving += filt.getRowGroups().size()
            filt.close()
    return surviving, total


def analyze_table(
    spark: SparkSession,
    name: str,
    columns: Sequence[str] = (),
    partition_spec: str | None = None,
) -> None:
    """Collect optimizer statistics for a catalog table — the missing
    half of "let Catalyst optimize": without stats the planner only
    knows FILE SIZES, so a selective filter on a big table still looks
    big and a broadcast-able join side gets a sort-merge plan. ANALYZE
    records rowCount/sizeInBytes plus per-column NDV/min/max/null-count
    histogram inputs; with ``spark.sql.cbo.enabled`` the filter/join
    estimators then shrink filtered relations to ~size/ndv and flip
    them under ``autoBroadcastJoinThreshold`` — the plan change that
    turns a fact⋈filtered-fact shuffle into a broadcast at 100 TB.

    ``partition_spec`` (e.g. ``"year_month=202405"``) scopes the scan to
    newly-loaded partitions — stats refresh cost ∝ change set, the same
    contract as the CDC rebuild. Column stats are table-wide; refresh
    them at the cadence selectivity drifts, not per load.
    """
    if partition_spec:
        spark.sql(
            f"ANALYZE TABLE {name} PARTITION ({partition_spec}) "
            "COMPUTE STATISTICS"
        )
    else:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        collist = ", ".join(f"`{c}`" for c in columns)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {collist}")


def table_stats(spark: SparkSession, name: str) -> dict:
    """The recorded statistics, parsed from ``DESCRIBE EXTENDED``:
    ``{"sizeInBytes": int|None, "rowCount": int|None}`` — what the
    planner will actually use (None = never analyzed → file-size
    fallback)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    out: dict = {"sizeInBytes": None, "rowCount": None}
    for r in rows:
        if r.col_name == "Statistics":
            # e.g. "12345 bytes, 600 rows"
            for part in r.data_type.split(","):
                part = part.strip()
                if part.endswith("bytes"):
                    out["sizeInBytes"] = int(part.split()[0])
                elif part.endswith("rows"):
                    out["rowCount"] = int(part.split()[0])
    return out

