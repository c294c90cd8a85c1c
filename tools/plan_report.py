"""Physical-plan audit: dump scale-relevant plan properties for EVERY
registered query into PLANS.md.

For each audited query, reports from the ACTUAL executed plan (AQE
final):

- exchange count (shuffles) and broadcast count,
- parquet pushdown evidence (PushedFilters / ReadSchema width),
- whole-stage codegen span count,
- presence of the scale hazards the engine bans (cartesian product,
  single-partition Window, Python row UDF).

The audit list is the REGISTRY itself — one row per registered query —
so the report cannot lag registry additions (the r7 close missed the
last two additions because this file carried a hand-maintained list).
Queries that cannot be audited in this harness go in SKIP with an
explicit reason and are printed in their own section.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md (the default
writes PLANS.md in the repo root).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.session import get_spark  # noqa: E402

# name -> reason. Everything NOT here gets a table row; an empty dict
# means the report covers the registry completely.
SKIP: dict[str, str] = {}

# Plan nodes that mark a scale hazard; tests/test_plans.py bans the same
# nodes across the registry.
PY_UDF_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
CARTESIAN_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")


def audit(plan: str) -> dict:
    # an executed AQE plan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — audit only the final section, else every
    # count doubles
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==")[0]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "exchanges": len(re.findall(r"Exchange hashpartitioning", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange|BroadcastHashJoin", plan)),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": sum(1 for p in pushed if p.strip()),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "hazard_cartesian": any(n in plan for n in CARTESIAN_NODES),
        "hazard_py_udf": any(n in plan for n in PY_UDF_NODES),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    spark = get_spark("plan-report")
    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `tools/plan_report.py` at `{sf_dir}` from the EXECUTED",
        "AQE-final plans, enumerating the full query REGISTRY"
        f" ({len(REGISTRY)} entries) so the audit cannot lag additions.",
        "Hazards — cartesian product, Python row UDF,",
        "partition-less Window — are additionally BANNED across all registered",
        "queries by `tests/test_plans.py`, except the cartesian joins its",
        "allow-list names (the brute-force ANN baseline and 1-row scalar",
        "broadcasts). Counts are occurrences in the",
        "printed tree: a persisted/reused subtree (e.g. the minhash candidate",
        "table, consumed by both the doc prune and the verify join) prints",
        "once per consumer but EXECUTES once — treat its counts as an upper",
        "bound.",
        "",
        "| query | shuffles | broadcasts | codegen spans | scans w/ pushed filters | top-k lowered | hazards |",
        "|---|---|---|---|---|---|---|",
    ]
    errors: list[str] = []
    for name, spec in REGISTRY.items():
        if name in SKIP:
            continue
        try:
            df = spec.fn(spark, sf_dir)
            # execute first: AQE only materializes stage boundaries and
            # WholeStageCodegen markers in the FINAL plan
            # (isFinalPlan=true)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — report, don't die mid-table
            errors.append(f"| {name} | {type(e).__name__}: {str(e)[:120]} |")
            continue
        a = audit(plan)
        hazards = [
            h for h, key in (
                ("cartesian", "hazard_cartesian"),
                ("py-udf", "hazard_py_udf"),
            ) if a[key]
        ]
        lines.append(
            f"| {name} | {a['exchanges']} | {a['broadcasts']} | "
            f"{a['codegen_spans']} | {a['pushed_filters']} | "
            f"{'yes' if a['take_ordered'] else '—'} | "
            f"{', '.join(hazards) if hazards else 'none'} |"
        )
    if SKIP:
        lines += ["", "## Skipped (explicit, with reasons)", ""]
        lines += [f"- `{n}` — {r}" for n, r in sorted(SKIP.items())]
    if errors:
        lines += [
            "",
            "## Errored during audit (fix or move to SKIP with a reason)",
            "",
            "| query | error |",
            "|---|---|",
            *errors,
        ]
    lines += [
        "",
        "Reading the table:",
        "",
        "- **shuffles** — `Exchange hashpartitioning` count; each is a full",
        "  network redistribution, the dominant cost at 100 TB.",
        "- **broadcasts** — dimension sides shipped to every executor instead",
        "  of shuffling the fact side.",
        "- **codegen spans** — distinct WholeStageCodegen regions; expression",
        "  work outside a span is interpreted.",
        "- **scans w/ pushed filters** — parquet scans whose predicates reached",
        "  row-group statistics (min/max skipping).",
        "- **top-k lowered** — ORDER BY + LIMIT planned as",
        "  TakeOrderedAndProject (per-partition heaps, no global sort).",
        "",
    ]
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
