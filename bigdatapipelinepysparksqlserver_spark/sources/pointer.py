"""The versioned-pointer publish protocol, once (VERDICT r9 #3).

Three publishers in the engine share one correctness argument — a
pointer file atomically names the live immutable snapshot; artifacts
are written invisibly and become visible only at the pointer swap:

- ``pipelines.MartPublisher``          (mart version dirs,  v<N>)
- ``operators.stores.publish_store_version`` (index stores, v<N>)
- ``sources.lake_snapshot.SnapshotLakeTable`` (manifests m<N>.json +
  data txn=<N> dirs)

Through r9 each carried its own copy of the surrounding lifecycle —
orphan reap, lost-pointer refusal, retain-window GC, rollback — and the
r8 lost-pointer bug class had to be fixed twice because of it. This
module is the single implementation; the three call sites supply only
what genuinely differs (how artifacts for version *i* are named,
claimed, aged, and reaped).

Protocol (per publish):

1. ``begin()`` — refuse on a lost pointer (snapshots on disk, pointer
   missing: an operational error, never a reap); reap crashed-publish
   orphans above the high-water mark whose artifacts are older than
   ``grace_seconds``; CLAIM the next free id by an exclusive create
   (``SnapshotFS.make_dir_exclusive``), so two racing publishers hold
   DISTINCT ids and never write over each other's artifacts. Returns
   ``(id, observed_pointer)``.
2. caller writes its artifacts into the claimed slot — invisible,
   nothing references them.
3. ``commit(id, observed)`` — conditional pointer put
   (``SnapshotFS.set_pointer_if``, VERDICT r9 #2): iff the pointer
   still reads ``observed``, swap it to the new id. A LOSER (a
   concurrent publish moved the pointer first) reaps its own claimed
   artifacts and raises :class:`ConcurrentPublishError` — explicit and
   retryable, never a silent lost update. The winner runs retain GC.

Multi-writer grace window: with the default ``grace_seconds=0`` the
protocol assumes the single-flight ledger (C5) serializes publishes —
crashed orphans are reaped immediately at the next ``begin()`` and
version numbers are reused, the engine's historical behavior. When two
publishers MAY overlap, set
``grace_seconds`` larger than the longest publish: an in-flight
claim is then indistinguishable from a crashed orphan only until it
ages past the grace, so ``begin()`` leaves young claims alone and the
CAS at commit is the sole arbiter. (This mirrors object-store table
formats: conditional-put on the metadata pointer plus age-thresholded
orphan cleanup.)

Rollback: a pure pointer swap BACK to a retained id, recording the
rolled-back-FROM id in a ``_ROLLBACK_KEEP`` marker so the next
``begin()`` treats once-live snapshots above the pointer as retained
history (readers may be pinned to them) rather than crashed orphans,
and allocates past them (ADVICE r9).
"""

from __future__ import annotations

from .fs import LocalFS, SnapshotFS


class ConcurrentPublishError(RuntimeError):
    """A concurrent publish won the pointer race. The losing publish's
    artifacts were reaped; nothing became visible. Retryable: re-stage
    (or re-run the cycle) against the new live snapshot."""


class VersionedPointerPublisher:
    """One versioned-pointer lifecycle. Default artifact layout is a
    directory per version (``{root}/{prefix}{id}``) — what the mart and
    the index stores use; the snapshot lake overrides the artifact
    hooks for its manifest+txn two-piece layout."""

    POINTER = "_CURRENT"
    KEEP_MARKER = "_ROLLBACK_KEEP"
    LINEAGE = "_LINEAGE"
    LINEAGE_KEEP = 16  # live-history entries kept (≥ any sane retain+1)

    def __init__(
        self,
        fs: SnapshotFS | None,
        root: str,
        prefix: str = "v",
        retain: int = 1,
        grace_seconds: float = 0.0,
        what: str = "versioned store",
        recover_hint: str | None = None,
    ):
        self.fs = fs or LocalFS()
        self.root = root
        self.prefix = prefix
        self.retain = retain
        self.grace_seconds = grace_seconds
        self.what = what
        self.recover_hint = recover_hint

    # -- pointer ------------------------------------------------------------

    def pointer_path(self) -> str:
        return f"{self.root}/{self.POINTER}"

    def keep_marker_path(self) -> str:
        return f"{self.root}/{self.KEEP_MARKER}"

    def lineage_path(self) -> str:
        return f"{self.root}/{self.LINEAGE}"

    # -- lineage --------------------------------------------------------------
    # ``retain`` counts previous LIVES, not id-adjacent numbers: under
    # contention the winner's id can skip past a loser's claim (v1 live,
    # A claims v2, B wins with v3), and an arithmetic [current-retain,
    # current] window would then reap v1 — the exact snapshot a reader
    # resolved moments ago — while "retaining" the dead claim. The
    # lineage file records the recent pointer history (oldest→newest,
    # maintained by commit/rollback, atomic set_pointer write); GC keeps
    # the last retain+1 lineage ids. Self-healing: a commit appends the
    # OBSERVED previous live id too, so a crash between CAS and lineage
    # write is repaired by the next commit; GC additionally always keeps
    # ``current``. Stores created before the lineage file fall back to
    # the arithmetic window.

    def _lineage(self) -> list[int]:
        raw = self.fs.read_pointer(self.lineage_path())
        if not raw:
            return []
        out = []
        for name in raw.split():
            i = self._parse(name)
            if i is not None:
                out.append(i)
        return out

    def _lineage_append(self, *ids: "int | None") -> None:
        entries = self._lineage()
        for i in ids:
            if i is None:
                continue
            entries = [e for e in entries if e != i] + [i]
        # keep at least retain+1 lives: with retain >= LINEAGE_KEEP a
        # fixed cap could no longer hold the whole GC keep set and the
        # overflow would fall back to the arithmetic id window — the
        # exact skipped-id blind spot the lineage exists to close
        keep_n = max(self.LINEAGE_KEEP, self.retain + 1)
        self.fs.set_pointer(
            self.lineage_path(),
            " ".join(f"{self.prefix}{i}" for i in entries[-keep_n:]),
        )

    def retained_ids(self, current: int) -> set[int]:
        """The GC keep set: the UNION of the last ``retain``+1 recorded
        lives (lineage) and the arithmetic id window
        [current−retain, current], plus ``current`` unconditionally.
        The union is strictly conservative — either rule alone has a
        blind spot: the arithmetic window evicts the true previous live
        when ids skip past a dead claim; a fresh lineage (first publish
        after an upgrade from a pre-lineage layout, when the file holds
        fewer than retain+1 entries) would evict snapshots the
        configured window still owes to readers (r10 review finding)."""
        keep = set(self._lineage()[-(self.retain + 1):])
        keep.update(
            i
            for i in self.version_ids()
            if current - self.retain <= i <= current
        )
        keep.add(current)
        return keep

    def _parse(self, name: str | None) -> int | None:
        if name is None:
            return None
        p = self.prefix
        return (
            int(name[len(p):])
            if name.startswith(p) and name[len(p):].isdigit()
            else None
        )

    def current_id(self) -> int | None:
        return self._parse(self.fs.read_pointer(self.pointer_path()))

    def keep_id(self) -> int | None:
        return self._parse(self.fs.read_pointer(self.keep_marker_path()))

    # -- artifact hooks (override for non-dir-per-version layouts) ----------

    def version_ids(self) -> list[int]:
        """Ids with artifacts on disk (live + retained + orphans)."""
        p = self.prefix
        if not self.fs.is_dir(self.root):
            return []
        return sorted(
            int(d[len(p):])
            for d in self.fs.list_dir(self.root)
            if d.startswith(p) and d[len(p):].isdigit()
        )

    def orphan_ids(self) -> list[int]:
        """Ids the crashed-orphan reap considers (default: same as
        :meth:`version_ids`; the lake adds pointer-less txn dirs)."""
        return self.version_ids()

    def claim(self, i: int) -> bool:
        """Atomically claim id ``i``; False if already taken."""
        return self.fs.make_dir_exclusive(f"{self.root}/{self.prefix}{i}")

    def reap(self, i: int) -> None:
        """Delete id ``i``'s artifacts (claim included)."""
        self.fs.rmtree(f"{self.root}/{self.prefix}{i}")

    def artifact_age(self, i: int) -> float:
        return self.fs.age_seconds(f"{self.root}/{self.prefix}{i}")

    def has_version(self, i: int) -> bool:
        return i in self.version_ids()

    def gc(self, current: int) -> None:
        """Retain GC after a successful commit: keep
        :meth:`retained_ids`, reap the rest. Any other id younger than
        the grace window — above OR below ``current`` (a slower
        claimant's id can sit below a winner that skipped past it) —
        may be a concurrent publisher's in-flight claim and is never
        touched here: its commit either wins a later CAS or self-reaps,
        and a crashed one ages past the grace and is reaped then. With
        grace > 0 the disk floor is therefore one grace window of
        publishes beyond the retain set."""
        keep = self.retained_ids(current)
        for i in self.version_ids():
            if i in keep:
                continue
            if i != current and self.artifact_age(i) < self.grace_seconds:
                continue
            self.reap(i)

    # -- protocol -----------------------------------------------------------

    def high_water(self) -> int:
        """Highest id known to have been LIVE: the pointer, or the
        rollback marker when a rollback moved the pointer back over
        once-live snapshots."""
        return max(self.current_id() or 0, self.keep_id() or 0)

    def begin(self) -> tuple[int, str | None]:
        """Allocate the next id: lost-pointer refusal, age-gated orphan
        reap above the high-water mark, exclusive claim. Returns
        ``(id, observed_pointer_content)`` — pass both to
        :meth:`commit`."""
        observed = self.fs.read_pointer(self.pointer_path())
        cur = self._parse(observed)
        ids = self.version_ids()
        if cur is None and ids:
            # a lost/unreadable pointer over REAL snapshots is a
            # recoverable operational error, never a reap — but a
            # version YOUNGER than the grace window with no pointer is
            # a concurrent FIRST publish's in-flight claim, which the
            # CAS (expect=None) will arbitrate; refuse only when an
            # aged version proves the pointer went missing
            stale = [
                i for i in ids if self.artifact_age(i) >= self.grace_seconds
            ]
            if stale:
                hint = self.recover_hint or (
                    f"set it to {self.prefix}{max(ids)}"
                )
                raise FileNotFoundError(
                    f"{self.what} {self.root} has versions {ids} but no "
                    f"{self.POINTER} pointer; restore the pointer ({hint}) "
                    "before publishing — refusing to reap them as orphans"
                )
        high = self.high_water()
        for i in self.orphan_ids():
            if i > high and self.artifact_age(i) >= self.grace_seconds:
                self.reap(i)
        if (self.keep_id() or 0) <= (cur or 0):
            # marker is stale once the pointer re-passes it
            self.fs.remove_file(self.keep_marker_path())
        nxt = high + 1
        while not self.claim(nxt):
            nxt += 1  # a concurrent claim (or in-grace orphan) holds it
        return nxt, observed

    def commit(self, nxt: int, observed: str | None) -> int:
        """Conditional pointer swap. Raises
        :class:`ConcurrentPublishError` (after reaping our own claimed
        artifacts) when a concurrent publish moved the pointer first."""
        ok = self.fs.set_pointer_if(
            self.pointer_path(), observed, f"{self.prefix}{nxt}"
        )
        if not ok:
            self.reap(nxt)
            raise ConcurrentPublishError(
                f"{self.what} {self.root}: pointer moved past "
                f"{observed!r} while publishing {self.prefix}{nxt} — a "
                "concurrent publish won; this attempt's artifacts were "
                "reaped, nothing became visible. Re-run against the new "
                "live snapshot."
            )
        if (self.keep_id() or 0) <= nxt:
            self.fs.remove_file(self.keep_marker_path())
        # record the live transition (observed first: heals a lineage
        # gap left by a crash between a previous CAS and lineage write)
        self._lineage_append(self._parse(observed), nxt)
        self.gc(nxt)
        return nxt

    def abort(self, nxt: int) -> None:
        """Give up a claimed id before commit (cleanup path)."""
        self.reap(nxt)

    def rollback(self, mid: int) -> int:
        """Point the live pointer BACK at a retained id. Records the
        rolled-back-from id so later publishes treat the once-live
        snapshots above the pointer as retained history, not crashed
        orphans (they age out of the retain window normally).

        The swap itself is a CAS, like every other pointer mutation: an
        unconditional write could land between a concurrent commit's
        read-compare and its set, silently erasing that commit — the
        exact lost update the protocol promises cannot happen. A
        rollback that loses the race raises
        :class:`ConcurrentPublishError`; re-inspect the new live
        snapshot and re-issue if still wanted."""
        if not self.has_version(mid):
            raise FileNotFoundError(
                f"rollback target {self.prefix}{mid} not on disk under "
                f"{self.root} (have: {self.version_ids()}; widen retain= "
                "to keep more)"
            )
        observed = self.fs.read_pointer(self.pointer_path())
        cur = self._parse(observed)
        if cur is not None and cur > mid:
            # written BEFORE the swap so a crash between the two leaves
            # the once-live ids above the pointer protected; if the CAS
            # below loses, the marker is conservative junk that the next
            # winning commit (whose id is > high_water ≥ marker) clears
            keep = max(cur, self.keep_id() or 0)
            self.fs.set_pointer(
                self.keep_marker_path(), f"{self.prefix}{keep}"
            )
        if not self.fs.set_pointer_if(
            self.pointer_path(), observed, f"{self.prefix}{mid}"
        ):
            raise ConcurrentPublishError(
                f"{self.what} {self.root}: pointer moved past "
                f"{observed!r} while rolling back to {self.prefix}{mid} — "
                "a concurrent publish won; nothing changed. Re-inspect "
                "the new live snapshot and re-issue the rollback if "
                "still wanted."
            )
        self._lineage_append(mid)  # mid is live again
        return mid
