"""Benchmark harness: times each headline query and prints ONE JSON line.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Each query is planned and fully executed
(count-collapsed via a noop write would hide result materialization, so we
use ``collect()`` on the final — small — results, matching how the driver's
correctness gate consumes them).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdatapipelinepysparksqlserver_spark.caching import release_caches  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.session import get_spark  # noqa: E402


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def time_query(spark, fn, sf_dir: str, runs: int = 5) -> float:
    """Min wall time of ``runs`` timed ``fn(spark, sf_dir).collect()``
    calls, after 2 untimed warm executions.

    The warm runs retire the JVM's one-time compilation of THIS plan
    (janino whole-stage codegen + C2 JIT — measured ~7 s -> ~3.2 ->
    ~2.1 -> steady ~1.9 s on the widest plan, dedup_minhash): a
    long-lived cluster pays that once per plan shape, steady-state is
    the number that scales. Data caching is NOT warm: clearCache()
    before every execution (warm and timed) evicts the dedup/LSH
    operators' persist()ed intermediates, otherwise later runs would
    time a cache HIT of the first run's blocks rather than the
    operator — min-of-N must measure real recomputation.
    """
    for _ in range(2):
        spark.catalog.clearCache()
        fn(spark, sf_dir).collect()
        release_caches()  # drain the scope registry (blocks already evicted)
    best = float("inf")
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.time()
        fn(spark, sf_dir).collect()
        best = min(best, time.time() - t0)
        release_caches()
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")

    # one warmup pass on the cheapest headline query amortizes JVM/codegen
    # startup out of the per-query numbers
    warm = REGISTRY["mart_client_count"].fn(spark, sf_dir)
    warm.collect()

    # min-of-5: the box's ambient-load spikes outlast a 3-sample window on
    # ~1 s queries, and a single sample swings ±15-20 % from scheduling
    # noise alone
    load_before = loadavg()
    timings = {
        name: time_query(spark, spec.fn, sf_dir)
        for name, spec in REGISTRY.items()
        if spec.headline
    }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "loadavg_before": load_before,
                "loadavg_after": loadavg(),
                "runs_per_query": 5,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
