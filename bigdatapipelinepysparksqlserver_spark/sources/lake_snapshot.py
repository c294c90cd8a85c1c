"""Snapshot-isolated partitioned lake — manifest-versioned publishes.

Closes the last dirty-read window in the engine (VERDICT r8 #1): the
plain :class:`~.lake.LakeTable` rebuild swaps partition directories
in one at a time, so it commits PER PARTITION — a reader concurrent
with a multi-partition CDC rebuild can observe some partitions new and
some old. The reference's mart publish avoids exactly this with a
staging→final transactional swap (`load_sales_mart.py:92-102`); this
module applies the same no-dirty-read intent to the history lake
(`load_sales_history.py:170-177`) without giving up the CDC contract
that rebuild cost ∝ change set.

Design (the public lakehouse-table pattern — Iceberg/Delta-style
metadata pointers over immutable data files, re-expressed on the
engine's existing :class:`~.fs.SnapshotFS` seam):

    <root>/_CURRENT                     # pointer: "m<N>" (atomic swap)
    <root>/manifests/m<N>.json          # partition rel-path -> owning txn
    <root>/data/txn=<T>/<k1>=v/.../*.parquet   # immutable once referenced

A snapshot IS a manifest: a map from each live partition
(``year_month=202406/country=US``) to the transaction directory that
owns its files. A rebuild

1. writes ONLY the changed partitions into a fresh ``txn=<N>``
   directory (invisible — no manifest references it),
2. derives the written partition list from a directory walk of that
   txn dir (pure metadata, no extra Spark job),
3. composes the next manifest = previous manifest, minus every entry
   under a changed ``year_month`` (delete-to-empty cleanup falls out
   of the metadata swap for free — no stale-partition diff job), plus
   the just-written entries,
4. writes ``m<N>.json`` (unique name, fsync'd) and atomically swaps
   ``_CURRENT``.

Readers resolve pointer → manifest → explicit leaf-directory list once
and are then pinned to a whole snapshot: every file they will ever
touch is immutable, so a rebuild racing the read is invisible. The
pointer swap is the ONLY visibility event — exactly the
:class:`MartPublisher` / ``publish_store_version`` argument, proven
here by the same reader-hammer pytest over LocalFS AND the
non-atomic-rename ObjectStoreSimFS.

Scale notes (100 TB):
- publish cost ∝ change set: changed-partition data write + one
  manifest (≈ live-partition count entries, KBs–MBs of JSON) + one
  pointer put. Unchanged partitions are never copied, moved, or listed.
- read() hands Spark an explicit leaf-dir list under one basePath, so
  partition columns (and PartitionFilters pruning) work exactly as on
  a plain partitioned table; the driver-side path list is one entry
  per live partition — the granularity Iceberg tracks per FILE, kept
  per PARTITION here because the CDC writer already compacts each
  partition to a bounded file set on every rebuild.
- fragmentation-across-runs cannot occur by construction: a partition
  is wholly owned by the single txn that last rebuilt it (the hash
  repartition in the writer yields one file per partition), so there
  is nothing to compact.
- GC reaps manifests behind the retain window and any data partition
  directory no retained manifest references; ``retain`` bounds how
  long an in-flight reader's snapshot stays valid, identical to the
  mart contract.

Writer topology: publishes are normally serialized by the pipeline's
single-flight ledger (C5). Since r10 the publish lifecycle is the
shared :class:`~.pointer.VersionedPointerPublisher` protocol, whose
COMMIT is a conditional pointer put (``SnapshotFS.set_pointer_if``):
if two publishers do race, exactly one wins and the loser's txn/
manifest are reaped with an explicit retryable
:class:`~.pointer.ConcurrentPublishError`, never a silent last-writer-
wins clobber. Pass ``grace_seconds`` > the longest publish when
overlap is possible so in-flight claims aren't reaped as crashed
orphans; concurrent READERS are the whole point and need nothing.
"""

from __future__ import annotations

import json
import re
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import LAKE_PARTITION_COLS
from .fs import LocalFS, SnapshotFS
from .pointer import ConcurrentPublishError, VersionedPointerPublisher

POINTER = "_CURRENT"
ROLLBACK_KEEP = "_ROLLBACK_KEEP"  # manifests/ marker: highest once-live id


class ExpectationError(ValueError):
    """A publish-time data-quality expectation failed. Nothing was
    claimed or written — the lake is exactly as before. ``violations``
    maps each failed expectation name to its violating-row count."""

    def __init__(self, what: str, violations: dict):
        self.violations = dict(violations)
        super().__init__(
            f"{what} rejected by expectations: "
            + ", ".join(f"{n} ({c} rows)" for n, c in violations.items())
        )


# Hive/Spark partition-path escaping (ADVICE r9): the writer escapes
# these characters as %XX in partition directory names (Spark's
# ExternalCatalogUtils.escapePathName, mirroring Hive FileUtils), and a
# NULL partition value is written as __HIVE_DEFAULT_PARTITION__. The
# manifest stores rel paths in the ESCAPED (on-disk) form; every
# surface that decodes values out of (partitions()) or composes rel
# paths from raw values (drop_partition_values, apply_rebuild's
# changed-set) must round-trip through these two functions or a value
# containing ':', '/', '=', … silently fails to match.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_HIVE_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\\x7f{[]^') | frozenset(
    chr(i) for i in range(1, 32)
)


def escape_partition_value(v) -> str:
    """Raw partition value -> the directory-name form Spark writes."""
    if v is None:
        return _HIVE_NULL
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPE_CHARS else c for c in str(v)
    )


def one_file_per_partition(df: DataFrame, partition_cols: Sequence[str]) -> DataFrame:
    """``df`` with its partition columns moved last, hash-repartitioned
    on them into ``defaultParallelism`` shuffle partitions: every row of
    one table partition lands in one task, so a ``partitionBy`` write
    gives exactly one file per partition (small-files avoidance,
    README.md:62), and the write stage runs on every core. The count is
    fixed because AQE coalesces a keyed shuffle of small data into one
    task, which then writes every file in turn; a repartition with an
    explicit count is never coalesced."""
    ordered = df.select(
        *[c for c in df.columns if c not in partition_cols], *partition_cols
    )
    n = df.sparkSession.sparkContext.defaultParallelism
    return ordered.repartition(n, *[F.col(c) for c in partition_cols])


def unescape_partition_value(s: str):
    """Directory-name form -> raw value (None for the Hive null dir)."""
    if s == _HIVE_NULL:
        return None
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 3 <= n:
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def _widened(a, b):
    """The WIDER of two Spark types when one safely widens to the
    other (lossless, readable in place by Spark's parquet upcast-on-
    read), else None. The accepted lattice is the table-format
    standard (Iceberg's evolution set) plus decimal SCALE growth,
    which Spark's reader also upcasts losslessly:

    - integral chain  byte -> short -> int -> long
    - float -> double
    - decimal(p,s) -> decimal(p',s') with s' >= s and p'-s' >= p-s
      (integer digits never shrink — the SURVEY §1.2 decimal seam:
      a ledger that outgrows decimal(18,2) widens to (28,2) without
      rewriting history)
    """
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    if a == b:
        return a
    ints = (ByteType, ShortType, IntegerType, LongType)
    if isinstance(a, ints) and isinstance(b, ints):
        return a if ints.index(type(a)) >= ints.index(type(b)) else b
    flts = (FloatType, DoubleType)
    if isinstance(a, flts) and isinstance(b, flts):
        return a if isinstance(a, DoubleType) else b
    if isinstance(a, DecimalType) and isinstance(b, DecimalType):
        for wide, narrow in ((a, b), (b, a)):
            if (
                wide.scale >= narrow.scale
                and wide.precision - wide.scale
                >= narrow.precision - narrow.scale
            ):
                return wide
    return None


def _merge_schema(prior, new):
    """Schema merge: additive (prior column order kept, brand-new
    columns appended; old files read the merged schema and fill NULL)
    plus safe type WIDENING on existing columns (see :func:`_widened`;
    the merged schema records the wider type and readers upcast narrow
    history in place). Anything else — narrowing-only-one-way is fine,
    but an incompatible change (string -> int, double -> decimal) — is
    refused by name: rewriting history is a migration, not an
    evolution."""
    if prior is None:
        return new
    from pyspark.sql.types import StructField, StructType

    new_by_name = {f.name: f for f in new.fields}
    merged = []
    for f in prior.fields:
        g = new_by_name.get(f.name)
        if g is None or g.dataType == f.dataType:
            merged.append(f)
            continue
        wide = _widened(f.dataType, g.dataType)
        if wide is None:
            raise ValueError(
                f"schema evolution rejected: column {f.name!r} changes type "
                f"{f.dataType.simpleString()} -> {g.dataType.simpleString()} "
                "(not a safe widening; additive columns and widenings "
                "byte/short/int->long, float->double, decimal growth only)"
            )
        merged.append(
            StructField(f.name, wide, f.nullable or g.nullable, f.metadata)
        )
    prior_names = {f.name for f in prior.fields}
    return StructType(
        merged + [f for f in new.fields if f.name not in prior_names]
    )


def _stat_encode(v, widen: int = 0):
    """Encode a column value for manifest zone-map storage/comparison.

    Encodings are chosen so PYTHON comparison of two encoded values
    orders the same as SQL comparison of the originals: ints/floats
    natively; timestamps/dates as fixed-width sortable strings;
    Decimals as floats WIDENED one ulp outward (``widen`` = -1 for a
    stored min, +1 for a stored max) so float rounding can only make
    the zone LARGER — pruning stays conservative. Everything else is
    str (correct for string columns; do not put binary/array columns
    in ``stats_cols``)."""
    import datetime
    import decimal
    import math

    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if widen < 0:
            return math.nextafter(f, -math.inf)
        if widen > 0:
            return math.nextafter(f, math.inf)
        return f
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return str(v)


_DATEISH = re.compile(
    r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$"
)
_CONJUNCT = re.compile(
    r"^\s*(?:"
    r"(?P<col1>[A-Za-z_][A-Za-z0-9_]*)\s*(?P<op1>==|<=|>=|=|<|>)\s*(?P<lit1>.+?)"
    r"|(?P<lit2>.+?)\s*(?P<op2>==|<=|>=|=|<|>)\s*(?P<col2>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<col3>[A-Za-z_][A-Za-z0-9_]*)\s+between\s+(?P<lo3>.+?)\s+and\s+(?P<hi3>.+?)"
    r")\s*$",
    re.IGNORECASE,
)


def _parse_literal(s: str):
    """A SQL literal -> a probe value `_stat_encode` orders correctly
    against stored zones, or None when it isn't a recognizable literal
    (identifiers, expressions, function calls -> no bound extracted)."""
    s = s.strip()
    up = s.upper()
    for prefix in ("DATE", "TIMESTAMP"):
        if up.startswith(prefix + " ") or up.startswith(prefix + "'"):
            s = s[len(prefix):].strip()
            break
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'" and "'" not in s[1:-1]:
        return s[1:-1]
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        return None


def _widen_dateish_hi(v):
    """A date-like string used as an INCLUSIVE upper bound is widened
    past any same-instant spelling with more precision ('2024-06-01'
    must not prune a zone whose min reads
    '2024-06-01 00:00:00.000000'): append '~' (0x7E, above every
    digit/space/punct), keeping the prune conservative for date,
    timestamp, and plain string zones alike. A STRICT ``<`` bound
    stays raw — a zone whose min spells the same instant with more
    precision compares above the raw literal and prunes, which is
    sound because that instant itself fails the strict filter.
    (A larger-than-true upper bound only keeps more partitions, so the
    'T' separator — 0x54, above ' ' — needs no handling here.)"""
    if isinstance(v, str) and _DATEISH.match(v):
        return v + "~"
    return v


def _weaken_dateish_lo(v):
    """A date-like string used as a LOWER bound is weakened to its
    DATE PREFIX (first 10 chars). Two spelling hazards make the full
    literal unsound on the low side (either can prune a partition the
    row filter would keep):

    - against a DATE-typed zone, Spark casts the time-bearing literal
      by TRUNCATION ('2024-06-01 12:30' filters like '2024-06-01'),
      while the stored zone spells only the date — the full-string
      compare sits ABOVE the zone max and wrong-prunes;
    - a 'T'-separated ISO literal compares above every space-separated
      zone spelling of the same instant (' ' 0x20 < 'T' 0x54).

    The date prefix is <= every cast interpretation of the literal
    (date truncation, timestamp parse, raw string), so a zone that
    ends below the prefix ends below the true bound — prune stays
    sound at day granularity, which is what partition zones resolve
    anyway. Upper bounds are unaffected (see ``_widen_dateish_hi``)."""
    if isinstance(v, str) and _DATEISH.match(v):
        return v[:10]
    return v


def extract_prune_ranges(predicate: str, stats_cols) -> dict:
    """Conservative {col: (lo, hi)} range extraction from a SQL-ish
    predicate, for manifest zone-map pruning. Only TOP-LEVEL AND
    conjuncts of the forms ``col <op> literal``, ``literal <op> col``
    and ``col BETWEEN a AND b`` (ops =, ==, <, <=, >, >=) over the
    named ``stats_cols`` contribute bounds; everything else — OR/NOT
    anywhere, IN lists, function calls, parenthesized subtrees,
    non-stats columns — contributes NOTHING, never a wrong bound: an
    ignored conjunct only means less pruning, and the caller always
    re-applies the FULL predicate as the row filter. This is the
    honest subset: extraction can only shrink the scan toward what
    the row filter would keep anyway."""
    cols = set(stats_cols)
    # MASK quoted strings before ANY structural decision — the OR/NOT/
    # paren scan, the BETWEEN cutter, and the AND split all run on the
    # masked text, so a literal like 'x and paid > 5' can never fake a
    # conjunct (and produce a WRONG bound) or smuggle a keyword.
    # Placeholders are quoted \x00<i>\x00 tokens (no spaces, keywords,
    # or operators), restored per-conjunct before literal parsing.
    literals: list[str] = []

    def _mask(m: "re.Match[str]") -> str:
        literals.append(m.group(0))
        return f"'\x00{len(literals) - 1}\x00'"

    masked = re.sub(r"'(?:[^']|'')*'", _mask, predicate)

    def _unmask(s: str) -> str:
        return re.sub(
            r"'\x00(\d+)\x00'", lambda m: literals[int(m.group(1))], s
        )

    if re.search(r"\bor\b|\bnot\b|!=|<>|\bin\b|[()]", masked, re.IGNORECASE):
        return {}
    # BETWEEN owns one AND; cut each BETWEEN..AND.. out as one unit
    # before splitting conjuncts on the remaining ANDs
    parts: list[str] = []
    rest = masked
    bet = re.compile(
        r"[A-Za-z_][A-Za-z0-9_]*\s+between\s+\S+\s+and\s+\S+", re.IGNORECASE
    )
    while True:
        m = bet.search(rest)
        if not m:
            break
        parts.append(m.group(0))
        rest = rest[: m.start()] + " 1=1 " + rest[m.end():]
    parts.extend(re.split(r"\band\b", rest, flags=re.IGNORECASE))
    parts = [_unmask(p) for p in parts]

    out: dict = {}

    def add(col: str, lo=None, hi=None) -> None:
        plo, phi = out.get(col, (None, None))
        if lo is not None:
            try:
                plo = lo if plo is None or _stat_encode(lo) > _stat_encode(plo) else plo
            except TypeError:
                pass
        if hi is not None:
            try:
                phi = hi if phi is None or _stat_encode(hi) < _stat_encode(phi) else phi
            except TypeError:
                pass
        out[col] = (plo, phi)

    for part in parts:
        if part.strip() in ("", "1=1"):
            continue
        m = _CONJUNCT.match(part)
        if not m:
            continue
        if m.group("col3"):
            col = m.group("col3")
            lo = _parse_literal(m.group("lo3"))
            hi = _parse_literal(m.group("hi3"))
            if col in cols and lo is not None and hi is not None:
                add(col, lo=_weaken_dateish_lo(lo), hi=_widen_dateish_hi(hi))
            continue
        if m.group("col1"):
            col, op, lit = m.group("col1"), m.group("op1"), m.group("lit1")
        else:
            col, lit = m.group("col2"), m.group("lit2")
            op = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}.get(
                m.group("op2"), m.group("op2")
            )  # literal OP col -> col flipped-OP literal
        if col not in cols:
            continue
        v = _parse_literal(lit)
        if v is None:
            continue
        if op in ("=", "=="):
            add(col, lo=_weaken_dateish_lo(v), hi=_widen_dateish_hi(v))
        elif op == "<=":
            add(col, hi=_widen_dateish_hi(v))
        elif op == "<":
            add(col, hi=v)
        elif op in (">", ">="):
            add(col, lo=_weaken_dateish_lo(v))
    return {c: b for c, b in out.items() if b != (None, None)}


def zones_may_match(zones: dict, ranges: dict) -> bool:
    """Can a partition with these zone maps hold a row satisfying
    every range in ``ranges``? The single prune decision, shared by
    :meth:`SnapshotLakeTable.pruned_partitions` and the property tests
    that pin its soundness. Conservative in every uncertain direction:
    a missing/NULL zone keeps the partition, and a probe bound whose
    encoded type doesn't compare with the stored zone keeps it too."""
    for col, (lo, hi) in ranges.items():
        b = zones.get(col)
        if not b or b[0] is None or b[1] is None:
            continue  # no zone -> keep (conservative)
        try:
            if hi is not None and b[0] > _stat_encode(hi):
                return False
            if lo is not None and b[1] < _stat_encode(lo):
                return False
        except TypeError:
            # probe bound's encoded type doesn't compare with the
            # stored zone (e.g. numeric zone, string bound) -> keep
            # conservatively rather than wrong-prune
            continue
    return True


class _LakeProtocol(VersionedPointerPublisher):
    """The shared pointer lifecycle bound to the lake's two-piece
    artifact layout: a version id *i* owns ``manifests/m<i>.json`` AND
    ``data/txn=<i>/``. The txn directory is the exclusive-create CLAIM
    (unique ids even under racing publishers); retain GC stays
    lake-specific (manifest window + referenced-partition reaping)."""

    def __init__(self, lake: "SnapshotLakeTable"):
        super().__init__(
            lake.fs,
            lake.root,
            prefix="m",
            retain=lake.retain,
            grace_seconds=lake.grace_seconds,
            what="snapshot lake",
            recover_hint="set it to m<max manifest id>",
        )
        self.lake = lake

    def keep_marker_path(self) -> str:
        return f"{self.root}/manifests/{ROLLBACK_KEEP}"

    def version_ids(self) -> list[int]:
        return self.lake._manifest_ids()

    def orphan_ids(self) -> list[int]:
        ids = set(self.lake._manifest_ids())
        data = f"{self.root}/data"
        if self.fs.is_dir(data):
            ids.update(
                int(d[4:])
                for d in self.fs.list_dir(data)
                if d.startswith("txn=") and d[4:].isdigit()
            )
        return sorted(ids)

    def claim(self, i: int) -> bool:
        return self.fs.make_dir_exclusive(f"{self.root}/data/txn={i}")

    def reap(self, i: int) -> None:
        self.fs.remove_file(f"{self.root}/manifests/m{i}.json")
        self.fs.rmtree(f"{self.root}/manifests/m{i}.shards")
        self.fs.rmtree(f"{self.root}/data/txn={i}")

    def artifact_age(self, i: int) -> float:
        return min(
            self.fs.age_seconds(f"{self.root}/data/txn={i}"),
            self.fs.age_seconds(f"{self.root}/manifests/m{i}.json"),
        )

    def gc(self, current: int) -> None:
        self.lake._gc(current)


class SnapshotLakeTable:
    """Drop-in for :class:`~.lake.LakeTable` in the CDC pipeline with
    snapshot-isolated publishes (same read/rebuild surface; rebuilds go
    through :meth:`apply_rebuild` for a single visibility event)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_cols: Sequence[str] = LAKE_PARTITION_COLS,
        schema=None,
        fs: SnapshotFS | None = None,
        retain: int = 1,
        grace_seconds: float = 0.0,
        stats_cols: Sequence[str] = (),
        manifest_shard_size: int = 20000,
        expectations: dict | None = None,
    ):
        self.spark = spark
        self.root = root
        self.partition_cols = tuple(partition_cols)
        self.fs = fs or LocalFS()
        self.retain = retain
        self.grace_seconds = grace_seconds
        # manifests with more entries than this shard into bounded
        # m<N>.shards/s<k>.json files (Iceberg's manifest-list idea);
        # below it the single-JSON layout stays (~37 bytes/entry —
        # one read to ~10^5 partitions). Readers are shard-transparent.
        self.manifest_shard_size = manifest_shard_size
        # publish-time data-quality gates: {name: SQL predicate} every
        # written row must satisfy (SQL CHECK semantics — NULL passes),
        # enforced on the change set of EVERY publish path (full load,
        # CDC rebuild, merge, partition overwrite) BEFORE anything is
        # claimed or written; a violation raises ExpectationError with
        # per-expectation counts and the lake is untouched. One extra
        # change-set-sized aggregate per gated publish.
        self.expectations = dict(expectations or {})
        # zone-map columns: per-partition [min, max] recorded in the
        # manifest at publish (computed from the just-written change
        # set only), so readers can prune partitions on NON-partition
        # columns driver-side before Spark ever lists a directory —
        # the Iceberg partition-stats idea at the engine's
        # per-partition granularity
        self.stats_cols = tuple(stats_cols)
        if schema is None:
            from ..schemas import SALES_HISTORY

            schema = SALES_HISTORY
        self.schema = schema
        self._proto = _LakeProtocol(self)

    # -- snapshot resolution ------------------------------------------------

    def current_id(self) -> int | None:
        return self._proto.current_id()

    def _manifest_ids(self) -> list[int]:
        mdir = f"{self.root}/manifests"
        if not self.fs.is_dir(mdir):
            return []
        return sorted(
            int(n[1:-5])
            for n in self.fs.list_dir(mdir)
            if n.startswith("m") and n.endswith(".json") and n[1:-5].isdigit()
        )

    def _read_manifest_doc(self, mid: int) -> dict:
        raw = self.fs.read_pointer(f"{self.root}/manifests/m{mid}.json")
        if raw is None:
            raise FileNotFoundError(f"manifest m{mid} missing under {self.root}")
        return json.loads(raw)

    def _read_manifest_full(
        self, mid: int, doc: dict | None = None
    ) -> tuple[dict[str, int], dict]:
        if doc is None:
            doc = self._read_manifest_doc(mid)
        if "txn_shards" in doc:
            txns: dict[str, int] = {}
            stats: dict = {}
            for k in range(int(doc["txn_shards"])):
                raw = self.fs.read_pointer(
                    f"{self.root}/manifests/m{mid}.shards/s{k}.json"
                )
                if raw is None:
                    raise FileNotFoundError(
                        f"manifest m{mid} shard s{k} missing under "
                        f"{self.root} (of {doc['txn_shards']})"
                    )
                shard = json.loads(raw)
                txns.update(
                    {rel: int(txn) for rel, txn in shard["txns"].items()}
                )
                stats.update(shard.get("stats", {}))
            return txns, stats
        txns = {rel: int(txn) for rel, txn in doc["txns"].items()}
        return txns, doc.get("stats", {})

    def _read_manifest(self, mid: int) -> dict[str, int]:
        return self._read_manifest_full(mid)[0]

    @staticmethod
    def _schema_from_doc(doc: dict | None):
        from pyspark.sql.types import StructType

        sj = None if doc is None else doc.get("schema")
        return None if sj is None else StructType.fromJson(sj)

    def _manifest_schema(self, mid: int | None):
        """The schema RECORDED in a manifest (additively merged across
        publishes — see ``_merge_schema``), as a StructType, or None
        for pre-evolution manifests."""
        if mid is None:
            return None
        return self._schema_from_doc(self._read_manifest_doc(mid))

    def _rel_of(self, vals) -> str:
        """Partition values (in partition_cols order) -> the manifest's
        on-disk escaped rel key. ONLY safe for values whose ``str()``
        matches Spark's directory rendering (strings read back from
        the dirs themselves, e.g. ``_collect_stats``); for TYPED
        values collected from a scan use :meth:`_rel_value_index` —
        ``str(True)`` is ``'True'`` but the directory says ``true``."""
        return "/".join(
            f"{k}={escape_partition_value(v)}"
            for k, v in zip(self.partition_cols, vals)
        )

    def _rel_value_index(self, txns) -> dict[tuple, str]:
        """{typed partition-value tuple -> manifest rel}: every rel's
        directory values decoded through the SAME Spark cast the
        scanner applies, so a tuple collected from a scan (or passed
        by a caller as Python values) looks up its rel regardless of
        spelling divergences between ``str()`` and Spark's directory
        rendering (booleans, fractional seconds, ...). One
        manifest-sized local job; built at most once per operation."""
        if not txns:
            return {}
        rows, rels = [], []
        for i, rel in enumerate(sorted(txns)):
            vals = dict(p.split("=", 1) for p in rel.split("/"))
            rows.append(
                (i,)
                + tuple(
                    unescape_partition_value(vals[c])
                    for c in self.partition_cols
                )
            )
            rels.append(rel)
        sch = {
            f.name: f.dataType
            for f in self.spark.createDataFrame([], self.schema).schema.fields
        }
        df = self.spark.createDataFrame(
            rows,
            "__i int, "
            + ", ".join(f"{c} string" for c in self.partition_cols),
        )
        typed = df.select(
            "__i",
            *[F.col(c).cast(sch[c]).alias(c) for c in self.partition_cols],
        ).collect()
        return {
            tuple(r[c] for c in self.partition_cols): rels[r["__i"]]
            for r in typed
        }

    def live_schema(self):
        """The live snapshot's full (evolved) schema: the manifest's
        recorded schema when present, else the declared one."""
        rec = self._manifest_schema(self.current_id())
        if rec is not None:
            return rec
        return self.spark.createDataFrame([], self.schema).schema

    def current_manifest(self) -> dict[str, int] | None:
        """The live snapshot's {partition rel path -> owning txn} map,
        or None before the first publish."""
        cur = self.current_id()
        return None if cur is None else self._read_manifest(cur)

    def current_stats(self) -> dict:
        """The live snapshot's zone maps: {rel -> {col -> [min, max]}}
        (empty for partitions published before stats_cols was set, or
        when no stats_cols are configured)."""
        cur = self.current_id()
        return {} if cur is None else self._read_manifest_full(cur)[1]

    @staticmethod
    def _prune_txns(txns: dict, stats: dict, ranges: dict) -> dict[str, int]:
        """THE zone-prune decision over a manifest — one definition
        shared by pruned_partitions / read_pruned / merge_rows so the
        three surfaces can never diverge."""
        if not ranges:
            return dict(txns)
        return {
            rel: txn
            for rel, txn in txns.items()
            if zones_may_match(stats.get(rel, {}), ranges)
        }

    @staticmethod
    def _diff_rels(a: dict, b: dict) -> dict:
        """Partition-grain manifest diff (txn identity = change
        detector), shared by snapshot_diff and snapshot_diff_rows."""
        return {
            "added": sorted(set(b) - set(a)),
            "removed": sorted(set(a) - set(b)),
            "rewritten": sorted(r for r in set(a) & set(b) if a[r] != b[r]),
        }

    def pruned_partitions(self, ranges: dict) -> dict[str, int]:
        """The live manifest entries whose zone maps INTERSECT every range
        in ``ranges`` ({col: (lo, hi)}, either bound None = open).
        Conservative: a partition with no recorded stats for a column
        is always kept. Sound only for range/equality predicates on the
        named columns (an IS NULL probe must use :meth:`read` — NULLs
        are invisible to min/max zones)."""
        cur = self.current_id()
        if cur is None:
            return {}
        txns, stats = self._read_manifest_full(cur)
        return self._prune_txns(txns, stats, ranges)

    def _scan_rels(self, man: dict[str, int], rels, rec=None) -> DataFrame:
        """Explicit-path scan of manifest entries. ``rec`` (a recorded
        evolved schema) makes files missing later-added columns fill
        NULL; the discovered ``txn`` partition level is dropped."""
        if not rels:
            return self.spark.createDataFrame([], rec or self.schema)
        paths = [f"{self.root}/data/txn={man[rel]}/{rel}" for rel in sorted(rels)]
        reader = self.spark.read.option("basePath", f"{self.root}/data")
        if rec is not None:
            reader = reader.schema(rec)
        return reader.parquet(*paths).drop("txn")

    def read_pruned(self, ranges: dict) -> DataFrame:
        """Scan the live snapshot restricted to partitions whose zone
        maps can satisfy ``ranges`` — manifest-level pruning on
        NON-partition columns, decided driver-side from pure metadata
        before Spark lists a single directory. The caller still applies
        its own row filter (zones bound partitions, not rows); at a
        100 TB lake a selective time-range probe goes from listing
        every partition to opening only the months that can match.
        Pointer resolved once (snapshot-consistent manifest+schema);
        sound only for range/equality predicates on the RAW stats
        columns — a derived-expression filter (to_date(ts), abs(x))
        or an IS NULL probe must use :meth:`read`."""
        cur = self.current_id()
        if cur is None:
            return self._scan_rels({}, [])
        doc = self._read_manifest_doc(cur)
        txns, stats = self._read_manifest_full(cur, doc=doc)
        keep = self._prune_txns(txns, stats, ranges)
        return self._scan_rels(keep, list(keep), self._schema_from_doc(doc))

    def read_where(self, predicate: str) -> DataFrame:
        """Zone-map-aware scan from a plain SQL predicate (VERDICT r10
        #3 — makes the manifest zone maps load-bearing for SQL-shaped
        consumers, who won't hand-build ``{col: (lo, hi)}`` ranges):
        conjunctive range/equality bounds on ``stats_cols`` are
        extracted from ``predicate`` (see :func:`extract_prune_ranges`
        — strictly conservative, anything unextractable just prunes
        less), the manifest drops every partition whose zones cannot
        satisfy them BEFORE Spark lists a single directory, and the
        FULL predicate is then applied as the row filter, so the
        result is always exactly ``read().where(predicate)`` — only
        cheaper. Partition-column conjuncts need no zone: they reach
        the explicit-path scan as ordinary PartitionFilters."""
        ranges = extract_prune_ranges(predicate, self.stats_cols)
        base = self.read_pruned(ranges) if ranges else self.read()
        return base.where(predicate)

    def exists(self) -> bool:
        m = self.current_manifest()
        return bool(m)

    def register_view(self, name: str, where: str | None = None) -> None:
        """S4/S7 twin for SQL readers: a temp view over the LIVE
        snapshot. The view pins the snapshot resolved NOW (the
        explicit-path scan), so `spark.sql` consumers get the same
        repeatable-read semantics as :meth:`read` — re-register to see
        a later publish. (A metastore table can't express per-query
        pointer resolution; the view is the honest SQL surface.)

        ``where`` registers a zone-map PRUNED view instead (see
        :meth:`read_where`): the predicate's conjunctive range bounds
        on ``stats_cols`` drop non-matching partitions at the manifest
        level, so a ``spark.sql`` consumer querying the view gets
        metadata pruning on non-partition columns — without the view's
        semantics ever drifting from ``read().where(...)``."""
        df = self.read_where(where) if where else self.read()
        df.createOrReplaceTempView(name)

    def snapshots(self) -> list[int]:
        """Manifest ids readable right now (the retain window + live)."""
        return self._manifest_ids()

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY twin: one row per READABLE snapshot
        (retain window + live), newest first, from pure manifest
        metadata — no file listing, no data scan. Columns: the
        snapshot id, the parent it was composed against, whether it is
        live, partition / freshly-written-partition counts, zone-map
        coverage and schema width. The operational first stop before
        ``read_snapshot`` / ``rollback`` / ``snapshot_diff_rows``."""
        rows = []
        cur = self.current_id()
        for mid in self._manifest_ids():
            doc = self._read_manifest_doc(mid)
            txns, stats = self._read_manifest_full(mid, doc=doc)
            sch = self._schema_from_doc(doc)
            rows.append(
                (
                    mid,
                    doc.get("parent"),
                    mid == cur,
                    len(txns),
                    sum(1 for t in txns.values() if t == mid),
                    len(stats),
                    None if sch is None else len(sch.fields),
                )
            )
        return self.spark.createDataFrame(
            sorted(rows, reverse=True),
            "snapshot_id int, parent int, is_live boolean, "
            "partitions int, partitions_written int, zoned_partitions int, "
            "schema_columns int",
        )

    def read_snapshot(self, mid: int) -> DataFrame:
        """Time travel: scan a RETAINED older snapshot by manifest id —
        the lake twin of the mart's ``read_version`` / the stores'
        ``rollback_store_version`` target. Within the retain window the
        referenced partition dirs are immutable and un-GC'd, so the
        read is exactly the table as of that publish ("what did the
        June partitions look like before this morning's CDC run").
        Time travel reads under the snapshot's OWN recorded schema —
        a later evolution does not retroactively add columns."""
        doc = self._read_manifest_doc(mid)
        m, _ = self._read_manifest_full(mid, doc=doc)
        return self._scan_rels(m, list(m), self._schema_from_doc(doc))

    def snapshot_diff(self, from_mid: int, to_mid: int) -> dict:
        """What changed between two retained snapshots, at PARTITION
        grain, from pure manifest metadata (no file listing, no Spark
        job): partitions ``added`` (only in ``to``), ``removed`` (only
        in ``from``), and ``rewritten`` (present in both but owned by a
        different txn — the manifest's immutability makes txn identity
        a complete change detector: a partition's bytes can only change
        by being rewritten into a new txn)."""
        return self._diff_rels(
            self._read_manifest(from_mid), self._read_manifest(to_mid)
        )

    def snapshot_diff_rows(self, from_mid: int, to_mid: int) -> DataFrame:
        """Row-level diff between two retained snapshots: one row per
        inserted (``change='insert'``) or deleted (``'delete'``) row —
        an update appears as delete+insert. Scans ONLY the partitions
        the manifest diff marks changed (added/removed/rewritten), so
        the cost ∝ change set at any lake size; unchanged partitions
        are proven identical by txn identity and never read. The
        comparison is ``exceptAll`` both ways (duplicate-correct).
        Across a schema evolution both sides read under the MERGED
        schema, so a pre-evolution row diffs with NULL in the later
        columns rather than failing to align."""
        a_doc = self._read_manifest_doc(from_mid)
        b_doc = self._read_manifest_doc(to_mid)
        a, _ = self._read_manifest_full(from_mid, doc=a_doc)
        b, _ = self._read_manifest_full(to_mid, doc=b_doc)
        d = self._diff_rels(a, b)
        old_rels = d["removed"] + d["rewritten"]
        new_rels = d["added"] + d["rewritten"]
        sa = self._schema_from_doc(a_doc)
        sb = self._schema_from_doc(b_doc)
        merged = sa if sb is None else (_merge_schema(sa, sb) if sa else sb)

        old_df = self._scan_rels(a, old_rels, merged)
        new_df = self._scan_rels(b, new_rels, merged)
        cols = new_df.columns
        return (
            new_df.exceptAll(old_df.select(cols))
            .withColumn("change", F.lit("insert"))
            .unionByName(
                old_df.select(cols)
                .exceptAll(new_df)
                .withColumn("change", F.lit("delete"))
            )
        )

    def rollback(self, mid: int) -> int:
        """Point the live pointer BACK at a retained manifest — the
        operational undo for a bad publish. Pure pointer swap; nothing
        is deleted. The rolled-back-FROM manifest is recorded as a
        retained survivor (shared protocol, ADVICE r9) so the next
        publish's crashed-orphan reap does NOT mistake it — a once-live
        snapshot a retain-window reader may still be pinned to — for a
        crashed publish; it ages out of the retain window like any
        other snapshot."""
        return self._proto.rollback(mid)

    def read(self) -> DataFrame:
        """Scan the LIVE snapshot — pinned: the resolved leaf dirs are
        immutable once referenced, so a concurrent rebuild (or ten) is
        invisible to this DataFrame. Partition columns come from the
        directory structure under the shared basePath, so Catalyst's
        PartitionFilters pruning works exactly as on a plain
        partitioned table; the synthetic ``txn`` level is dropped.
        Under the manifest's RECORDED schema (additive evolution), so
        pre-evolution partitions fill NULL for later columns. The
        pointer is resolved ONCE — manifest and schema always come
        from the same snapshot even under a concurrent publish."""
        cur = self.current_id()
        if cur is None:
            return self._scan_rels({}, [])
        doc = self._read_manifest_doc(cur)
        m, _ = self._read_manifest_full(cur, doc=doc)
        return self._scan_rels(m, list(m), self._schema_from_doc(doc))

    def partitions(self) -> DataFrame:
        """Distinct live partition values — decoded from the MANIFEST
        (pure metadata; no file listing), cast to the scanned types."""
        m = self.current_manifest() or {}
        rows = []
        for rel in m:
            vals = dict(p.split("=", 1) for p in rel.split("/"))
            rows.append(
                tuple(
                    unescape_partition_value(vals[c])
                    for c in self.partition_cols
                )
            )
        df = self.spark.createDataFrame(
            rows, ", ".join(f"{c} string" for c in self.partition_cols)
        )
        # cast targets come from the DECLARED schema (an empty local
        # frame resolves a DDL-string schema too) — not from read(),
        # whose explicit-path resolution would list every live
        # partition just to learn two dtypes
        sch = {
            f.name: f.dataType
            for f in self.spark.createDataFrame([], self.schema).schema.fields
        }
        return df.select(
            *[F.col(c).cast(sch[c]).alias(c) for c in self.partition_cols]
        )

    # -- publishes ----------------------------------------------------------

    def write_full(self, df: DataFrame) -> list[str]:
        """Initial full load: one txn owning every partition."""
        return self._publish(df, replace_all=True)

    def overwrite_partitions(self, df: DataFrame) -> list[str]:
        """M6 twin: replace exactly the partitions present in ``df``,
        atomically for readers (one pointer swap, not one commit per
        partition)."""
        return self._publish(df, replace_all=False)

    def apply_rebuild(
        self,
        df: DataFrame,
        changed_year_months: Sequence | None = None,
    ) -> list[str]:
        """One CDC rebuild as ONE visibility event: write ``df``'s
        partitions to a fresh txn and swap in a manifest where every
        prior entry under ``changed_year_months`` is replaced by (or,
        if the extract no longer produces it, dropped with) the new
        txn's partitions. Subsumes the plain lake's overwrite +
        stale-partition-drop two-step — and removes the extra
        distinct-partitions Spark job the two-step needed."""
        return self._publish(
            df, replace_all=False, changed_year_months=changed_year_months
        )

    def drop_partition_values(self, rows: Sequence[Sequence]) -> None:
        """Metadata-only partition drop: publish a manifest without the
        entries (no data move; GC reaps the bytes once unreferenced).
        Values resolve through the typed value index (same cast as the
        scanner), so spellings like ``True`` vs the directory's
        ``true`` cannot silently miss; the str-rel form is tried too
        for raw directory-spelled strings. Unknown values no-op."""
        for vals in rows:
            if len(vals) != len(self.partition_cols):
                raise ValueError(
                    f"expected {len(self.partition_cols)} values "
                    f"{self.partition_cols}, got {vals!r}"
                )
        cur = self.current_manifest() or {}
        index = self._rel_value_index(cur)
        rels = set()
        for vals in rows:
            rel = index.get(tuple(vals))
            rels.add(rel if rel is not None else self._rel_of(vals))
        self._publish_manifest({r: t for r, t in cur.items() if r not in rels})

    def merge_rows(
        self,
        source: DataFrame,
        key_cols: Sequence[str],
        delete_col: str | None = None,
        validate_keys: bool = True,
        broadcast_keys: bool = True,
    ) -> dict:
        """Row-level MERGE by key — the lakehouse upsert/delete DML the
        partition-replace CDC surface can't express: each source row
        REPLACES every live row sharing its key (wherever it lives,
        even across partitions), or INSERTS if the key is absent;
        rows flagged true in ``delete_col`` delete their key instead
        (absent key -> no-op). One CAS-committed publish; readers see
        the whole merge or none of it.

        Plan shape (and why it holds at 100 TB):

        1. locate matched keys with a column-pruned scan of key +
           partition columns only — zone-map-pruned to partitions whose
           recorded [min, max] intersects the batch's key range when a
           key column is in ``stats_cols`` (the Delta/Iceberg
           MERGE file-skipping idea at partition grain), with the
           batch keys broadcast so the lake side never shuffles;
        2. net change = batch-sized ``exceptAll`` both ways between the
           matched old rows and the upserts — an upsert identical to
           its live row cancels out, so untouched-in-practice
           partitions are NOT rewritten and the net change equals
           ``snapshot_diff_rows`` exactly;
        3. rewrite ONLY partitions carrying a net change (old rows
           minus net deletes, plus net inserts) in one publish; a
           partition merged to empty drops from the manifest.

        The publish verifies the snapshot hasn't moved since the change
        set was computed (``expect_mid``) and raises the retryable
        :class:`~.pointer.ConcurrentPublishError` otherwise. Source
        keys must be unique (checked unless ``validate_keys=False``);
        multiple LIVE rows sharing a key all collapse to the single
        source row. Source columns follow the evolution rules (missing
        table columns fill NULL, widened types merge). Set
        ``broadcast_keys=False`` when the batch is too large to broadcast
        (the locate join then shuffles both sides).
        Returns {"written": [...], "replaced": [...]}."""
        key_cols = list(key_cols)
        cur = self.current_id()
        if cur is None:
            raise ValueError(
                "merge_rows needs a live snapshot (write_full first)"
            )
        doc = self._read_manifest_doc(cur)
        txns, stats = self._read_manifest_full(cur, doc=doc)
        rec = self._schema_from_doc(doc)
        if rec is None:
            rec = self.spark.createDataFrame([], self.schema).schema
        if delete_col is not None and (
            delete_col in key_cols
            or delete_col in self.partition_cols
            or delete_col in {f.name for f in rec.fields}
        ):
            raise ValueError(
                f"delete_col {delete_col!r} collides with a key, "
                "partition, or table column (it is a batch-only flag)"
            )
        for k in key_cols:
            if k not in source.columns:
                raise ValueError(f"key column {k!r} missing from source")
            if k not in {f.name for f in rec.fields}:
                raise ValueError(f"key column {k!r} is not a table column")
        for p in self.partition_cols:
            if p not in source.columns:
                raise ValueError(
                    f"partition column {p!r} missing from source (merge "
                    "routes every upsert to its partition)"
                )
        if validate_keys:
            dup = (
                source.groupBy(*key_cols)
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"duplicate source keys in merge batch: "
                    f"{tuple(dup[0][k] for k in key_cols)!r} "
                    "(each key may appear once)"
                )
        upserts_src = source
        if delete_col is not None:
            flag = F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
            upserts_src = source.where(~flag).drop(delete_col)
        else:
            upserts_src = source
        merged = _merge_schema(
            rec, upserts_src.drop(*self.partition_cols).schema
        )
        # align the batch to the merged schema (order, casts, NULL-fill
        # for table columns the batch doesn't carry)
        upserts = upserts_src.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in upserts_src.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in merged.fields
            ]
        ).persist()
        skeys = source.select(*key_cols).persist()
        bkeys = F.broadcast(skeys) if broadcast_keys else skeys

        def semi_on_keys(left: DataFrame) -> DataFrame:
            # null-SAFE key match (<=>): a NULL key component matches
            # its live NULL counterpart, so replaying an already-
            # applied NULL-keyed upsert cancels in the net-change step
            # instead of inserting a duplicate (exceptAll is null-safe
            # too) — the replay-safety contract holds for every key
            right = bkeys.alias("__mk")
            cond = None
            for k in key_cols:
                c = left[k].eqNullSafe(F.col(f"__mk.{k}"))
                cond = c if cond is None else (cond & c)
            return left.join(right, cond, "leftsemi")

        net_del = net_ins = None
        try:
            # 1. locate: which live partitions hold a batch key?
            zone_keys = [k for k in key_cols if k in self.stats_cols]
            cand = txns
            if zone_keys:
                r = skeys.agg(
                    *[
                        a
                        for k in zone_keys
                        for a in (
                            F.min(k).alias(f"__mn_{k}"),
                            F.max(k).alias(f"__mx_{k}"),
                        )
                    ]
                ).first()
                rngs = {
                    k: (r[f"__mn_{k}"], r[f"__mx_{k}"]) for k in zone_keys
                }
                cand = self._prune_txns(txns, stats, rngs)
            loc = semi_on_keys(
                self._scan_rels(cand, list(cand), merged).select(
                    *key_cols, *self.partition_cols
                )
            ).select(*self.partition_cols).distinct().collect()
            # typed values -> manifest rels through the value index
            # (str(v) need not match Spark's directory spelling)
            rel_index = self._rel_value_index(txns)
            loc_tuples = {
                tuple(row[c] for c in self.partition_cols) for row in loc
            }
            unresolved = sorted(
                str(t) for t in loc_tuples if t not in rel_index
            )
            if unresolved:
                # every located tuple came FROM a live partition; a
                # miss means the decode disagrees with the scan parse
                # for this type — failing loud beats silently treating
                # a live partition as new (which would drop its rows)
                raise RuntimeError(
                    "merge_rows could not map scanned partition values "
                    f"back to manifest entries: {unresolved[:5]}"
                )
            matched_rels = sorted({rel_index[t] for t in loc_tuples})
            matched_old = semi_on_keys(
                self._scan_rels(txns, matched_rels, merged)
            )
            # 2. net change (batch-sized both sides)
            net_del = matched_old.exceptAll(upserts).persist()
            net_ins = upserts.exceptAll(matched_old).persist()
            aff_vals = (
                net_del.select(*self.partition_cols)
                .union(net_ins.select(*self.partition_cols))
                .distinct()
                .collect()
            )
            if not aff_vals:
                return {"written": [], "replaced": []}
            # existing partitions resolve through the value index; a
            # tuple with no entry is a brand-new partition (insert) —
            # the write walk picks it up. net_del tuples always resolve
            # (they are live rows), since loc_tuples ⊇ their partitions.
            aff_rels = sorted(
                {
                    rel_index[t]
                    for t in (
                        tuple(row[c] for c in self.partition_cols)
                        for row in aff_vals
                    )
                    if t in rel_index
                }
            )
            # 3. rewrite only net-affected partitions
            content = (
                self._scan_rels(txns, aff_rels, merged)
                .exceptAll(net_del)
                .unionByName(net_ins)
            )
            written = self._publish(
                content,
                replace_all=False,
                replace_rels=set(aff_rels),
                expect_mid=cur,
            )
            return {"written": written, "replaced": aff_rels}
        finally:
            for df in (upserts, skeys, net_del, net_ins):
                if df is not None:
                    df.unpersist()

    # -- internals ----------------------------------------------------------

    def _check_expectations(self, df: DataFrame) -> None:
        """Evaluate every configured expectation over the change set in
        ONE aggregate job; raise :class:`ExpectationError` naming each
        failed expectation with its violating-row count. SQL CHECK
        semantics: a row violates only when the predicate evaluates to
        FALSE (NULL/unknown passes, the standard's behavior)."""
        if not self.expectations:
            return
        names = list(self.expectations)
        aggs = [
            F.sum(
                (~F.coalesce(F.expr(self.expectations[n]), F.lit(True)))
                .cast("long")
            ).alias(f"__e{i}")
            for i, n in enumerate(names)
        ]
        row = df.agg(*aggs).first()
        bad = {
            n: int(row[f"__e{i}"])
            for i, n in enumerate(names)
            if row[f"__e{i}"]
        }
        if bad:
            raise ExpectationError("publish", bad)

    def _walk_partitions(self, base: str, depth: int) -> list[str]:
        """Rel paths of partition leaf dirs under ``base`` holding at
        least one data file, via the fs seam (no Spark job)."""
        out: list[str] = []

        def rec(prefix: str, level: int) -> None:
            path = f"{base}/{prefix}" if prefix else base
            if not self.fs.is_dir(path):
                return
            if level == depth:
                if any(
                    not n.startswith(("_", ".")) for n in self.fs.list_dir(path)
                ):
                    out.append(prefix)
                return
            key = self.partition_cols[level]
            for n in self.fs.list_dir(path):
                if n.startswith(f"{key}="):
                    rec(f"{prefix}/{n}" if prefix else n, level + 1)

        rec("", 0)
        return sorted(out)

    def _publish(
        self,
        df: DataFrame,
        replace_all: bool,
        changed_year_months: Sequence | None = None,
        replace_rels: "set[str] | None" = None,
        expect_mid=...,
    ) -> list[str]:
        if replace_rels is not None and changed_year_months is not None:
            raise ValueError(
                "replace_rels and changed_year_months are exclusive"
            )
        self._check_expectations(df)  # before any claim or write
        nxt, observed = self._proto.begin()  # claims data/txn=<nxt>
        txn_dir = f"{self.root}/data/txn={nxt}"
        # resolve the prior snapshot ONCE (doc + shards): at 10^5
        # sharded entries, separate current_stats()/current_manifest()/
        # _manifest_schema() calls would each re-read the whole shard
        # set — multiplying exactly the metadata cost sharding bounds
        prior_id = self._proto._parse(observed)
        if expect_mid is not ... and prior_id != expect_mid:
            # the caller composed its change set against a snapshot
            # that is no longer live (merge_rows resolves the snapshot
            # once and derives the replaced partitions from it) —
            # proceeding would publish a stale delta over someone
            # else's rows. Same retryable contract as the commit CAS.
            self._proto.abort(nxt)
            raise ConcurrentPublishError(
                f"snapshot moved (expected m{expect_mid}, live is "
                f"m{prior_id}) since the change set was computed; "
                "recompute against the new snapshot and retry"
            )
        if prior_id is not None:
            prior_doc = self._read_manifest_doc(prior_id)
            prior_txns, prior_stats = self._read_manifest_full(
                prior_id, doc=prior_doc
            )
            prior_schema = self._schema_from_doc(prior_doc)
        else:
            prior_txns, prior_stats, prior_schema = {}, {}, None
        # one file per partition, same repartition as LakeTable's
        # writer; the write is invisible — nothing references txn=<nxt>
        # yet
        ordered = one_file_per_partition(df, self.partition_cols)
        try:
            # schema-evolution gate BEFORE the data write: a refused
            # (type-changing) publish aborts its claim without having
            # written anything
            rec_schema = (
                ordered.schema
                if replace_all
                else _merge_schema(prior_schema, ordered.schema)
            )
            # mode("append"), NOT overwrite: Spark's overwrite DELETES
            # the target dir before recreating it, which would release
            # the exclusive-create id claim mid-publish — a concurrent
            # begin() could then claim the SAME id and the CAS loser
            # would reap the winner's live artifacts (r10 review
            # finding). The claimed dir is freshly created and empty,
            # so append is write-equivalent and never deletes it.
            (
                ordered.write.partitionBy(*self.partition_cols)
                .mode("append")
                .parquet(txn_dir)
            )
            written = self._walk_partitions(txn_dir, len(self.partition_cols))
        except Exception:
            self._proto.abort(nxt)
            raise
        if replace_all:
            manifest = {rel: nxt for rel in written}
        elif replace_rels is not None:
            manifest = {
                rel: txn
                for rel, txn in prior_txns.items()
                if rel not in replace_rels
            }
            manifest.update({rel: nxt for rel in written})
        else:
            manifest = dict(prior_txns)
            if changed_year_months is not None:
                lead = self.partition_cols[0]
                # the dropped value is either the WHOLE rel (one-level
                # partitioning) or its leading directory — a bare
                # prefix test would never match one-level rels and
                # stale delete-to-empty entries would survive
                dropped = {
                    f"{lead}={escape_partition_value(v)}"
                    for v in changed_year_months
                }
                manifest = {
                    rel: txn
                    for rel, txn in manifest.items()
                    if rel not in dropped
                    and not any(rel.startswith(d + "/") for d in dropped)
                }
            manifest.update({rel: nxt for rel in written})
        # NOTE: an empty extract leaves the claimed txn dir in place —
        # deleting it before commit would let a concurrent publisher
        # claim the same id (two writers composing m<N>.json). The
        # post-commit GC reaps the unreferenced empty dir.
        # zone maps: carried entries keep their prior stats; written
        # entries get fresh ones computed from the just-written txn dir
        # (change-set-sized, column-pruned read-back — never the lake)
        written_set = set(written)
        stats = {
            rel: prior_stats[rel]
            for rel in manifest
            if rel not in written_set and rel in prior_stats
        }
        if self.stats_cols and written:
            stats.update(self._collect_stats(txn_dir, written, rec_schema))
        self._commit_manifest(manifest, nxt, observed, stats, rec_schema)
        return written

    def _collect_stats(
        self, txn_dir: str, written: list[str], rec_schema=None
    ) -> dict:
        """Per-partition [min, max] of each stats column over the
        just-written partitions. One change-set-sized Spark job; the
        collect is one row per written partition (control-plane).

        The manifest keys stats by the ON-DISK escaped rel, so the
        read-back partition values must round-trip to exactly the
        directory spelling. Spark's partition type inference breaks
        that (dir ``m=06`` reads back as int 6 → rel ``m=6`` — the
        stats would silently never attach and pruning would be lost).
        The read therefore declares an EXPLICIT schema: partition
        columns as strings (values come back exactly as the
        directories spell them, minus Hive escaping, which re-escaping
        restores byte-for-byte) and stats columns at the recorded
        (possibly widened) types. Explicit schema also means no
        session-conf mutation — concurrent readers are never exposed
        to a publisher's read settings — and column pruning down to
        exactly the stats columns."""
        from pyspark.sql.types import StringType, StructField, StructType

        rec = rec_schema or self.spark.createDataFrame([], self.schema).schema
        data_fields = {f.name: f for f in rec.fields}
        # a stats column the lake doesn't carry yet (one it will only
        # gain by a later schema evolution) simply gets no zone —
        # readers keep the partition conservatively
        present = [
            c
            for c in self.stats_cols
            if c in data_fields and c not in self.partition_cols
        ]
        if not present:
            return {}
        read_schema = StructType(
            [StructField(c, data_fields[c].dataType) for c in present]
            + [StructField(pc, StringType()) for pc in self.partition_cols]
        )
        df = (
            self.spark.read.option("basePath", txn_dir)
            .schema(read_schema)
            .parquet(*[f"{txn_dir}/{rel}" for rel in written])
        )
        aggs = []
        for c in present:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        rows = df.groupBy(*self.partition_cols).agg(*aggs).collect()
        out: dict = {}
        for r in rows:
            rel = "/".join(
                f"{k}={escape_partition_value(r[k])}"
                for k in self.partition_cols
            )
            zones = {}
            for c in present:
                mn = _stat_encode(r[f"__mn_{c}"], widen=-1)
                mx = _stat_encode(r[f"__mx_{c}"], widen=1)
                if mn is None or mx is None:
                    continue  # all-NULL / absent column: no zone
                zones[c] = [mn, mx]
            if zones:
                out[rel] = zones
        return out

    def _publish_manifest(self, manifest: dict[str, int]) -> None:
        """Manifest-only publish (metadata drop): same claim → write →
        conditional-swap lifecycle, no data write. Surviving entries
        keep their zone maps."""
        nxt, observed = self._proto.begin()
        # the claimed (empty) txn dir stays until post-commit GC: it IS
        # the id reservation — deleting it pre-commit would let a
        # concurrent publisher claim the same id and overwrite our
        # manifest file before the CAS arbitrates
        prior_id = self._proto._parse(observed)
        # one resolve of the prior snapshot (doc + shards), not one per
        # stats/schema accessor — the sharded-manifest cost discipline
        if prior_id is not None:
            prior_doc = self._read_manifest_doc(prior_id)
            prior_stats = self._read_manifest_full(prior_id, doc=prior_doc)[1]
        else:
            prior_doc, prior_stats = {}, {}
        stats = {rel: prior_stats[rel] for rel in manifest if rel in prior_stats}
        self._commit_manifest(
            manifest, nxt, observed, stats, self._schema_from_doc(prior_doc)
        )

    def _commit_manifest(
        self,
        manifest: dict[str, int],
        nxt: int,
        observed: str | None,
        stats: dict | None = None,
        rec_schema=None,
    ) -> None:
        self.fs.makedirs(f"{self.root}/manifests")
        # unique name (the txn claim made <nxt> ours alone) + fsync'd
        # write; invisible until the pointer swap
        doc: dict = {"id": nxt}
        parent = self._proto._parse(observed)
        if parent is not None:
            # the snapshot this publish was composed AGAINST (history's
            # lineage column; correct across rollbacks: a publish on top
            # of a rolled-back-to snapshot records THAT id)
            doc["parent"] = parent
        if rec_schema is not None:
            doc["schema"] = rec_schema.jsonValue()
        stats = stats or {}
        if len(manifest) > self.manifest_shard_size:
            # Iceberg-style manifest LIST: past ~10^5 partitions one
            # JSON blob becomes a multi-MB read/rewrite on every
            # publish and a single-file hotspot. Entries are split by
            # sorted-rel slicing into bounded shard files written
            # BEFORE the pointer swap (unique m<nxt>.shards/ dir — the
            # claim made <nxt> ours alone, so shards are as invisible
            # and immutable as the doc itself); the doc records only
            # the shard count. _read_manifest_full stays the single
            # read seam, so every reader is shard-transparent.
            rels = sorted(manifest)
            size = self.manifest_shard_size
            n_shards = (len(rels) + size - 1) // size
            self.fs.makedirs(f"{self.root}/manifests/m{nxt}.shards")
            for k in range(n_shards):
                part = rels[k * size : (k + 1) * size]
                shard = {"txns": {r: manifest[r] for r in part}}
                sh_stats = {r: stats[r] for r in part if r in stats}
                if sh_stats:
                    shard["stats"] = sh_stats
                self.fs.set_pointer(
                    f"{self.root}/manifests/m{nxt}.shards/s{k}.json",
                    json.dumps(shard, sort_keys=True),
                )
            doc["txn_shards"] = n_shards
        else:
            doc["txns"] = manifest
            if stats:
                doc["stats"] = stats
        self.fs.set_pointer(
            f"{self.root}/manifests/m{nxt}.json",
            json.dumps(doc, sort_keys=True),
        )
        # the ONLY visibility event — CONDITIONAL: a concurrent publish
        # that moved the pointer first wins; ours is reaped and
        # ConcurrentPublishError raised (shared protocol)
        self._proto.commit(nxt, observed)

    def _gc(self, current: int) -> None:
        """Reap manifests behind the retain window and data partition
        dirs no retained manifest references. Never touches anything a
        reader inside the retain window can still resolve, nor a
        concurrent publisher's in-flight (younger than grace) claim.
        The keep set is the protocol's live LINEAGE (last retain+1
        lives), not an id-arithmetic window — see
        ``VersionedPointerPublisher.retained_ids``."""
        retained = self._proto.retained_ids(current)
        keep_ids = [i for i in self._manifest_ids() if i in retained]
        grace = self.grace_seconds
        for i in self._manifest_ids():
            if i in keep_ids:
                continue
            if i != current and self._proto.artifact_age(i) < grace:
                continue  # possibly in-flight concurrent publish
            self.fs.remove_file(f"{self.root}/manifests/m{i}.json")
            self.fs.rmtree(f"{self.root}/manifests/m{i}.shards")
        referenced: set[tuple[int, str]] = set()
        for i in keep_ids:
            for rel, txn in self._read_manifest(i).items():
                referenced.add((txn, rel))
        data = f"{self.root}/data"
        if not self.fs.is_dir(data):
            return
        for d in self.fs.list_dir(data):
            if not (d.startswith("txn=") and d[4:].isdigit()):
                continue
            txn = int(d[4:])
            base = f"{data}/{d}"
            if txn != current and self.fs.age_seconds(base) < grace:
                continue  # possibly in-flight concurrent publish
            live = False
            for rel in self._walk_partitions(base, len(self.partition_cols)):
                if (txn, rel) in referenced:
                    live = True
                else:
                    self.fs.rmtree(f"{base}/{rel}")
            if not live:
                self.fs.rmtree(base)
