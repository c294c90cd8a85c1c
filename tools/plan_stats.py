"""Count physical operators in an explain_dump file from the DETAILS
section — the numbered ``(N) OpName`` entries list every distinct
physical node exactly once, so cached-plan display repetition (the tree
section prints a cached relation's build under every InMemoryTableScan
that reads it) and AQE Initial/Final duplication don't inflate counts.
A cached build's nodes appear once, which matches runtime (the cache is
computed once).

Node ids are deduplicated per SECTION: a ``===== ... =====`` header
(subqueries, adaptively optimized-out exchanges) or a ``Subquery:N``
header starts a new one, since a subplan section may number its nodes
from (1) again.

Usage: python tools/plan_stats.py plans/r12/<query>_<suffix>.txt ...
"""

from __future__ import annotations

import re
import sys


SECTION = re.compile(r"^(=====.*=====|Subquery:\d+ )")


def stats(path: str) -> dict:
    counts: dict[str, int] = {}
    seen: set[int] = set()
    for line in open(path):
        if SECTION.match(line):
            seen.clear()
            continue
        m = re.match(r"^\((\d+)\) ([A-Za-z][A-Za-z0-9_]*)", line)
        if not m:
            continue
        nid = int(m.group(1))
        if nid in seen:  # a node listed twice within one section
            continue
        seen.add(nid)
        name = m.group(2)
        counts[name] = counts.get(name, 0) + 1
    return counts


def main() -> None:
    for path in sys.argv[1:]:
        c = stats(path)
        interesting = [
            "Exchange", "BroadcastExchange", "Scan", "InMemoryTableScan",
            "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
            "Sort", "Window", "Generate", "HashAggregate",
            "ObjectHashAggregate", "TakeOrderedAndProject",
        ]
        parts = [f"{k}={c.get(k, 0)}" for k in interesting if c.get(k)]
        other = sum(v for k, v in c.items() if k not in interesting)
        print(f"{path}: " + " ".join(parts) + f" (other={other})")


if __name__ == "__main__":
    main()
