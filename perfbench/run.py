"""Benchmark entry point: one workload, one process, one JSON result line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload cdc_cycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. The line before the result is a report with the
environment stamp, every median with its sample count, and the names of
failed operations. ``--smoke`` runs every workload once at tiny size, with
and without tracing, and checks that every metric in ``BENCHMARK.json`` is
printed with its unit and that no operation failed.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bigdatapipelinepysparksqlserver_spark  # noqa: E402,F401  (fails fast without the package)

from workloads import Stopwatch  # noqa: E402

WORKLOADS = ("cdc_cycle", "queries")
E2E_UNITS = {"setup_s": "s", "round_s.p50": "s", "op_geomean_s": "s", "peak_rss_mb": "MB"}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _commit() -> str:
    """HEAD's commit when the checkout is a git work tree, else ``unknown``."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return "unknown"


def _package_digest() -> str:
    """Hash of the package's sources: identifies the code without git."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "bigdatapipelinepysparksqlserver_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return h.hexdigest()[:16]


def start_spark(work: str, cores: int):
    """The package's session factory, with every scratch path inside
    ``work``."""
    from bigdatapipelinepysparksqlserver_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # a fixed, pre-touched heap: G1 otherwise grows the resident heap by a
    # different amount each run, which swamps the rest of peak RSS
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                f"-Xms{heap} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def run_one(spark, work: str, workload: str, seed: int, seconds: float, trace: bool,
            smoke: bool, cores: int, session: tuple) -> tuple[dict, dict]:
    """Run one workload; ``session`` is the session start's (adjusted,
    wall, stolen share). Returns (result line, report)."""
    import pyspark

    import workloads

    load_before = _loadavg()
    sw = Stopwatch()
    res = workloads.run(spark, ROOT, work, workload, seed, seconds, trace, smoke, cores)
    _, _, steal = sw.read()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    setup_s = session[0] + res.setup_s
    if trace:
        metrics = {k: {"value": res.per_layer[k], "unit": u}
                   for k, u in workloads.per_layer_units().items()}
    else:
        values = {
            "setup_s": setup_s,
            "round_s.p50": statistics.median(res.rounds),
            "op_geomean_s": res.op_geomean(),
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "error_rate": len(res.failures) / res.attempted,
        "failures": res.failures,
        "setup_s": {"value": setup_s, "wall": session[1] + res.setup_wall,
                    "session_s": session[0], "samples": 1},
        "round_s": {"p50": statistics.median(res.rounds), "samples": len(res.rounds),
                    "all": res.rounds, "wall": res.rounds_wall},
        "op_s": {k: {"p50": statistics.median(v), "samples": len(v)} for k, v in res.ops.items()},
        "peak_rss_mb": rss,
        "detail": res.detail,
        "inputs": res.inputs,
        "env": {
            "nproc": os.cpu_count(), "cores_used": cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": pyspark.__version__, "commit": _commit(),
            "package_sha": _package_digest(),
            "loadavg_before": load_before, "loadavg_after": _loadavg(),
            "cpu_steal_share": steal,
        },
    }
    line = {
        "correct": not res.failures,
        "attempted": res.attempted,
        "failed": len(res.failures),
        "metrics": metrics,
    }
    return line, report


def smoke(spark, work: str, cores: int, session: tuple) -> int:
    """Every workload at tiny size, untraced and traced; checks that every
    metric ``BENCHMARK.json`` names is printed with its unit and that no
    operation failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for workload in WORKLOADS:
        for trace, declared in ((False, bench["end_to_end"]), (True, bench["per_layer"])):
            line, report = run_one(spark, work, workload, 1, 1, trace, True, cores, session)
            for m in declared:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{workload} trace={trace}: {m['name']} is {got}")
            extra = set(line["metrics"]) - {m["name"] for m in declared}
            if extra:
                problems.append(f"{workload} trace={trace}: undeclared {sorted(extra)}")
            if report["error_rate"] != 0:
                problems.append(f"{workload} trace={trace}: failures {report['failures']}")
            print(f"smoke {workload} trace={trace}: {len(line['metrics'])} metrics, "
                  f"error_rate {report['error_rate']}", flush=True)
    for p in problems:
        print(f"SMOKE FAIL {p}", file=sys.stderr)
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")

    sw = Stopwatch()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    spark = None
    try:
        spark = start_spark(work, cores)
        session = sw.read()
        if args.smoke:
            return smoke(spark, work, cores, session)
        line, report = run_one(spark, work, args.workload, args.seed, args.seconds,
                               bool(args.trace), False, cores, session)
        print(json.dumps({"report": report}, default=str))
        print(json.dumps(line))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass


if __name__ == "__main__":
    sys.exit(main())
