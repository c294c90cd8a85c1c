"""Scale rehearsal: measure per-query scaling slope between two sf dirs.

Runs the headline bench set plus the scale-path extras in ``EXTRAS``
(policy-sized SimHash and embedding LSH near-dup, bucketed LSH top-k,
incremental MinHash dedup), or the comma-separated ``SCALE_QUERIES``
list instead, at a base dir
(default sf0.1) and a scaled dir (default .scaled/sf1 from
make_scaled_sf.py), min-of-3 warm runs each, and reports the wall-time
ratio per query next to the data ratio. A bucketed/linear operator should
scale ~= the data ratio (with fixed overheads making small-data ratios
LOWER); anything super-linear is flagged. A query name that is not
registered is an error, before any Spark work starts.

It keeps its own timing loop rather than ``bench.time_query``: each run
writes to a noop sink instead of collecting (the slope of interest is the
plan's, not the cost of pulling result rows into Python) and there are no
untimed warm runs, so its numbers measure something else than bench.py's.

Output: one JSON line + a markdown table (paste into BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.session import get_spark  # noqa: E402

EXTRAS = (
    "dedup_simhash_pairs_sized",
    "emb_neardup_lsh_sized",
    "ann_lsh_topk",
    "dedup_incremental",
)


def _time_queries(spark, sf_dir: str, names: list[str], runs: int = 3):
    out: dict[str, float] = {}
    # warmup amortizes JVM/codegen startup out of the first measured query
    REGISTRY["mart_client_count"].fn(spark, sf_dir).collect()
    for name in names:
        best = float("inf")
        for _ in range(runs):
            # the dedup/LSH operators persist() intermediates; without
            # clearing, run 2+ would time a CACHE HIT of run 1's blocks,
            # not the operator — fatal for a scaling-slope measurement
            spark.catalog.clearCache()
            t0 = time.time()
            # noop sink, not collect(): full distributed execution with
            # zero driver-side result materialization. A per-doc query
            # (text_quality_score: one row per document) measured via
            # collect() is dominated by single-threaded driver
            # deserialization at larger SF — the first sf3 pass flagged
            # it 4.06x at 3x data while the PLAN was dead linear (0.87s
            # -> 0.91s under an agg consumer). The slope of interest is
            # the plan's; production consumes row-cardinality output
            # through a sink, never the driver.
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        print(f"# {sf_dir} {name}: {out[name]}s", file=sys.stderr, flush=True)
    return out


def main() -> None:
    base = os.environ.get("SCALE_BASE", "/root/testdata/sf0.1")
    scaled = os.environ.get("SCALE_TARGET", "/root/repo/.scaled/sf1")
    factor = float(os.environ.get("SCALE_FACTOR", "10"))
    # per-task heap parity with a production executor (see
    # tools/skew_bench.py): local[32] shares ONE heap across 32
    # concurrent tasks, and the default 8 g gives each a third of a
    # normal executor's working memory — the scaled corpora then OOM in
    # shuffle buffers exactly as an undersized executor would.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    if os.environ.get("SCALE_QUERIES"):
        names = os.environ["SCALE_QUERIES"].split(",")
    else:
        names = [n for n, s in REGISTRY.items() if s.headline] + list(EXTRAS)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"scale_rehearsal: not registered queries: {unknown}")
    spark = get_spark("scale-rehearsal")
    t_base = _time_queries(spark, base, names)
    t_scaled = _time_queries(spark, scaled, names)
    rows = []
    for n in names:
        ratio = round(t_scaled[n] / t_base[n], 2) if t_base[n] > 0 else None
        rows.append((n, t_base[n], t_scaled[n], ratio))
    print(
        json.dumps(
            {
                "metric": "scale_rehearsal",
                "base": base,
                "scaled": scaled,
                "data_factor": factor,
                "queries": {
                    n: {"base_s": b, "scaled_s": s, "ratio": r}
                    for n, b, s, r in rows
                },
            }
        )
    )
    print()
    print("| query | sf0.1 s | sf1 s | ratio (data x%g) | verdict |" % factor)
    print("|---|---|---|---|---|")
    for n, b, s, r in rows:
        verdict = "linear-or-better" if r is not None and r <= factor * 1.2 else "SUPER-LINEAR"
        print(f"| {n} | {b} | {s} | {r} | {verdict} |")
    spark.stop()


if __name__ == "__main__":
    main()
