"""Per-query A/B micro-bench: bench.py's timing loop
(``bench.time_query``: 2 untimed warm executions, then min of N timed
runs, clearCache + release_caches around every execution) over a NAMED
subset of registered queries, so an optimization's before/after can be
measured without paying a full bench sweep. Prints one JSON line
compatible with bench.py's ``queries`` map.

Usage: python tools/qbench.py [-n RUNS] <query> [query ...]

Honors $SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import loadavg, time_query  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 5
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qbench")

    # same warmup the bench uses (JVM/codegen startup out of the numbers)
    REGISTRY["mart_client_count"].fn(spark, sf_dir).collect()

    load_before = loadavg()
    timings = {n: time_query(spark, REGISTRY[n].fn, sf_dir, runs) for n in names}
    print(
        json.dumps(
            {
                "queries": timings,
                "total": round(sum(timings.values()), 3),
                "loadavg_before": load_before,
                "loadavg_after": loadavg(),
                "runs_per_query": runs,
            }
        )
    )


if __name__ == "__main__":
    main()
