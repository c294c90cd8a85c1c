"""Reachability gate: every package definition (function, class,
method, constant) and every registered query has to be reached by
something other than a test, and every option (a parameter with a
default) has to be set by something other than a test.

ROADMAP items 2 and 4: a definition, query or option that no graded or
headline query, pipeline or tool uses has to justify its place or go.
Only code outside `tests/` keeps anything alive: a test that runs a
query or sets an option, or a package `__init__.py` that re-exports a
name, does not count as a use. The tests read source with `ast` only
(no git, no Spark session), so comments and docstrings never count as
a use. Each test has an explicit allow-list; an entry that is undefined
or that the scan would no longer report fails the test, so the list
cannot go stale.
"""

from __future__ import annotations

import ast
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "bigdatapipelinepysparksqlserver_spark"

# Code whose uses keep a package definition alive: the package itself,
# the tools, the benchmark and the two entry scripts. Tests do not. The
# tools, the benchmark and bench.py are also what runs past-cap queries.
RUNNER_DIRS = (ROOT / "tools", ROOT / "perfbench")
REFERRER_DIRS = (PKG, *RUNNER_DIRS)
REFERRER_FILES = (ROOT / "bench.py", ROOT / "__spark_entry__.py")


def _referrers() -> list[Path]:
    return [p for d in REFERRER_DIRS for p in sorted(d.rglob("*.py"))] + list(REFERRER_FILES)

# Definitions kept although no code outside tests reaches them. A key
# is a package-relative module path (the whole module), "module:name"
# or "module:Class.method"; the value says why it stays.
ALLOWED_DEFS = {
    "sources/jdbc.py": "deployment I/O: the reference extracts SQL Server over JDBC (capability (a))",
    "sources/dialects.py": "deployment I/O: the SQL Server dialect and URL for that extract",
    "sources/formats.py": "deployment I/O: the file formats a deployment may land instead",
    "plans/ledger.py:JdbcRunLedger": "deployment I/O: the run ledger kept in the source database",
    "sources/fs.py:ObjectStoreSimFS": "a fake object store that tests substitute for the local filesystem",
    "corpus.py:build_corpus": "builds the test corpora",
    "operators/graph.py:triangle_counts": "the exact reference the triangle-estimate tests compare against",
    "operators/similarity.py:ivf_codebook_topk": "the IVF search the ANN store tests compare against",
    **{
        f"streaming/metrics.py:StreamingHealthListener.{m}": "Spark's listener bus calls it"
        for m in ("onQueryStarted", "onQueryProgress", "onQueryIdle", "onQueryTerminated")
    },
}


def _worklist(module: str, names: str, tests: str) -> dict:
    return {f"{module}:{n}": f"test-only; retires with {tests}" for n in names.split()}


# Test-only definitions still waiting to be deleted together with the
# tier-1 tests that pin them (ROADMAP item 2). Entries join only when
# the gate's rules widen; otherwise they only leave: delete the
# definition and its tests, then the entry.
TEST_ONLY_WORKLIST = {
    **_worklist(
        "operators/sampling.py",
        "hash_sample deterministic_shuffle stratified_sample hash_split hash_fold "
        "FRAC60_SCALE temperature_mix weighted_sample_k",
        "17 tests in test_training_ops, test_profiling_ops and test_properties",
    ),
    "queries/training_queries.py:SPLIT_BOUNDS": "test-only; retires with hash_split",
    **_worklist(
        "operators/graph.py",
        "label_propagation write_edge_store read_edge_store triangle_count_estimate "
        "sample_edges_md5 TRIANGLE_SAMPLE_INV_P3",
        "3 tests in test_components",
    ),
    **_worklist(
        "operators/multimodal.py",
        "pil_available RESIZED_SCHEMA resize_image_batches sample_frames",
        "3 tests in test_multimodal",
    ),
    **_worklist(
        "operators/similarity.py",
        "recommended_cells quantize_embeddings quantized_topk embedding_dq_report "
        "lsh_multiprobe_topk",
        "6 tests in test_similarity, test_profiling_ops and test_properties",
    ),
    **_worklist(
        "operators/stats.py",
        "_D scaled_bigint grouped_pearson_corr equi_depth_histogram",
        "6 tests in test_profiling_ops",
    ),
    **_worklist(
        "operators/text.py",
        "source_ngram_overlap fuzzy_term_pairs",
        "3 tests in test_training_ops and test_corpus",
    ),
    "operators/relational.py:fixed_width_histogram": "test-only; retires with 3 tests in test_profiling_ops",
    **_worklist(
        "operators/skew.py",
        "salted_join salted_agg skew_report",
        "test_plans::test_salted_join_and_agg, test_properties::test_salted_agg_equals_direct "
        "and test_components::test_skew_report_identifies_pathological_key",
    ),
    **_worklist(
        "operators/stores.py",
        "compact_store_batches compact_store_live rollback_store_version",
        "10 tests in test_store_compaction and 3 in test_pointer_protocol",
    ),
    **_worklist(
        "streaming/cdc.py",
        "streaming_hourly_agg streaming_dedup streaming_enrich streaming_running_totals "
        "streaming_transition_counts streaming_hopping_agg streaming_rolling_actives "
        "foreach_batch_partition_overwrite foreach_batch_incremental_mart_publish "
        "foreach_batch_ivf_store_upsert foreach_batch_online_semantic_dedup "
        "foreach_batch_token_budget_ingest foreach_batch_drift_monitor "
        "foreach_batch_edge_store_append foreach_batch_online_copy_gate",
        "22 tests in test_streaming, test_lake_snapshot::test_streaming_sink_publishes_atomic_snapshots "
        "and test_store_compaction::test_compact_semantic_streaming_store",
    ),
    "streaming/metrics.py:attach_health_listener": "test-only; retires with "
    "test_streaming::test_streaming_health_listener_captures_progress",
    "operators/graph.py:read_edge_store_batched": "test-only; retires with "
    "test_streaming::test_streaming_edge_store_append_recomposes_and_replays",
    "operators/similarity.py:ivf_partitioned_topk": "test-only; retires with "
    "test_streaming::test_streaming_ivf_store_grows_and_keeps_pruning and "
    "test_store_compaction::test_ivf_store_compaction_probe_equivalence",
    "functions/expressions.py:null_default": "test-only; retires with "
    "test_expressions::test_decode_map_and_null_default",
    **_worklist(
        "sources/lake.py",
        "write_bloom_store point_lookup bloom_prune_audit analyze_table table_stats",
        "5 tests in test_lake",
    ),
    "sources/lake.py:LakeTable.register_catalog_table": "test-only; retires with "
    "test_lake::test_register_catalog_table",
    **_worklist(
        "pipelines.py",
        "MartPublisher.recover MartPublisher.list_versions MartPublisher.read_version",
        "test_mart_publish::test_publish_crash_between_version_rename_and_pointer_swap, "
        "::test_recover_falls_back_when_pointer_names_missing_dir and "
        "::test_snapshot_time_travel_reads_retained_version",
    ),
    **_worklist(
        "sources/lake_snapshot.py",
        "SnapshotLakeTable.live_schema SnapshotLakeTable.current_stats "
        "SnapshotLakeTable.register_view SnapshotLakeTable.snapshots "
        "SnapshotLakeTable.read_snapshot",
        "6 tests in test_lake_snapshot",
    ),
    "sources/lake_snapshot.py:SnapshotLakeTable.merge_rows": "test-only; retires with "
    "test_lake_rename_merge::test_merge_zone_pruned_location_scan, "
    "::test_merge_null_fills_columns_the_batch_lacks, ::test_merge_boolean_partition_spelling, "
    "::test_merge_null_key_replay_safe and ::test_publish_expectations_gate",
}

# Past-cap queries that only tests run, each with the tier-1 tests it
# retires with (ROADMAP item 4). Entries only leave, like the worklist's.
TEST_ONLY_QUERIES = {
    "ab_conversion_chi2": "test_plans::test_chi2_and_psi_single_pass_broadcast_stats",
    "customer_rolling_spend": "test_temporal::test_customer_rolling_spend_brute_force",
    "doc_novelty_score": "test_r8_analytics::test_doc_novelty_unique_vs_shared_trigrams",
    "event_gaps": "test_plans::test_event_gaps_single_window_pass",
    "event_transition_matrix": "test_temporal::test_event_transition_matrix_rows_are_distributions",
    "events_profile": "test_r8_analytics::test_events_profile_python_reference",
    "media_shard_plan": "test_multimodal::test_media_shard_plan_matches_python_packing",
    "multitouch_attribution": "test_temporal::test_multitouch_credit_conservation",
    "order_dow_uniformity": "test_r8_analytics::test_order_dow_uniformity_hand_computed",
    "order_value_trimmed_mean": "test_r8_analytics::test_trimmed_mean_matches_sorted_list_definition",
    "part_pareto_frontier": "test_r8_analytics::test_pareto_frontier_bruteforce",
    "rolling_active_users": "test_r8_analytics::test_rolling_active_users_python_reference",
    "scrub_pii": "test_training_ops::test_scrub_pii_counts_and_redacts",
    "source_quality_rollup": "test_plans::test_source_rollup_single_scan",
    "tfidf_top_terms": "test_corpus::test_tfidf_top_terms_contract",
    "user_activity_spine": "test_temporal::test_user_activity_spine_contract",
    "user_decay_score": "test_temporal::test_user_decay_score_brute_force",
    "user_streaks": "test_plans::test_user_streaks_two_exchanges, "
    "test_temporal::test_user_streaks_brute_force",
    "user_tier_history": "test_plans::test_user_tier_history_two_exchanges, "
    "test_temporal::test_user_tier_history_scd2_invariants",
    "user_value_ewma": "test_r8_analytics::test_user_value_ewma_python_reference",
    "value_drift_psi": "test_plans::test_chi2_and_psi_single_pass_broadcast_stats, "
    "test_profiling_ops::test_value_drift_psi_contract",
    "window_filter": "test_plans::test_nano_window_filter_pushes_raw_range",
}


# Parameters with a default that no call outside tests sets, kept as
# options anyway; the key is "module:function(param)" (a method as
# "Class.method"), the value says why the option stays.
_FAKE_FS = "tests substitute a fake filesystem"
_GUARD = "tests lower the guard threshold to reach it at test scale"
_INVARIANT = "tests vary it to check that the result does not depend on it"
_SMALL = "tests use fewer buckets so a small input shares buckets"
ALLOWED_OPTIONS = {
    "pipelines.py:MartPublisher.__init__(fs)": _FAKE_FS,
    "sources/lake_snapshot.py:SnapshotLakeTable.__init__(fs)": _FAKE_FS,
    "operators/dedup.py:lsh_candidate_pairs(bucket_cap)": _GUARD,
    "operators/similarity.py:embedding_near_duplicates(bucket_cap)": _GUARD,
    "operators/similarity.py:semantic_dedup(pair_budget)": _GUARD,
    "operators/stats.py:ks_two_sample(bucket_width)": _INVARIANT,
    "operators/temporal.py:peak_concurrency(bucket_us)": _INVARIANT,
    "operators/temporal.py:range_join(bin_width_us)": _INVARIANT,
    "operators/sampling.py:token_budget_mix(n_buckets)": _INVARIANT,
    "operators/retrieval.py:build_postings_store(num_buckets)": _SMALL,
    "operators/retrieval.py:bm25_from_store(num_buckets)": _SMALL,
    "operators/text.py:winnow_store_bucketed(num_buckets)": _SMALL,
    "operators/graph.py:edge_store_append_batch(buckets)": _SMALL,
    "operators/stores.py:publish_store_version(fs)": _FAKE_FS,
    "operators/stores.py:store_live_path(fs)": _FAKE_FS,
    "operators/dedup.py:minhash_near_duplicates_collapsed(num_hashes)": "tests run a "
    "16-hash, 4-band signature at test scale",
    "operators/dedup.py:minhash_near_duplicates_collapsed(bands)": "tests run a "
    "16-hash, 4-band signature at test scale",
    "operators/graph.py:triangle_node_estimates(threshold)": "tests keep every wedge "
    "so the estimate equals the exact count",
    "operators/graph.py:triangle_node_estimates(inv_p2)": "tests keep every wedge "
    "so the estimate equals the exact count",
    "operators/similarity.py:recommended_bits(target_bucket)": "tests check the "
    "sizing rule against its SQL formula at other targets",
    "operators/similarity.py:recommended_bits(min_bits)": "tests check the "
    "sizing rule against its SQL formula without its clamp",
    "plans/ledger.py:default_cutoff(lag_minutes)": "deployment setting: the safety "
    "lag behind the source database's in-flight transactions",
    "pipelines.py:MartPublisher.__init__(retain)": "deployment setting: how many "
    "published versions in-flight readers may still hold",
    "pipelines.py:MartPublisher.__init__(grace_seconds)": "deployment setting: how long "
    "a crashed publisher's claim is honoured",
    "sources/lake_snapshot.py:SnapshotLakeTable.__init__(grace_seconds)": "deployment "
    "setting: how long a crashed publisher's claim is honoured",
    "operators/stores.py:publish_store_version(grace_seconds)": "deployment setting: "
    "how long a crashed publisher's claim is honoured",
    "operators/stores.py:publish_store_version(retain)": "deployment setting: how many "
    "published versions in-flight readers may still hold",
    "sources/lake_snapshot.py:SnapshotLakeTable._publish(expect_mid)": "a test publishes "
    "a change set computed against a stale snapshot to check the compare-and-swap",
    "sources/lake_snapshot.py:SnapshotLakeTable._publish(replace_rels)": "a test publishes "
    "a change set computed against a stale snapshot to check the compare-and-swap",
    "sources/lake_snapshot.py:SnapshotLakeTable.__init__(expectations)": "deployment "
    "setting: the data-quality rules a publish must pass",
    "pipelines.py:PipelineScheduler.__init__(schedule_interval)": "deployment setting: "
    "the cycle period",
    "pipelines.py:PipelineScheduler.__init__(catchup)": "deployment setting: whether "
    "missed cycles run after an outage",
    "pipelines.py:PipelineScheduler.__init__(retry_delay_seconds)": "deployment "
    "setting: the wait before a failed cycle is retried",
    "session.py:get_spark(shuffle_partitions)": "deployment setting: sized to the "
    "cluster's cores",
}


def _docstring_ids(tree) -> set[int]:
    """ids of the string constants that are docstrings or bare string
    statements (neither is code)."""
    out = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if isinstance(body, list):
            for stmt in body:
                if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
                    out.add(id(stmt.value))
    return out


def _query_name(node) -> str | None:
    """The registered name of a `@query("name", ...)` definition."""
    for d in getattr(node, "decorator_list", ()):
        if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query":
            return d.args[0].value
    return None


def _top_level_names(node) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _span(path, node):
    first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", ())])
    return (path, first, node.end_lineno)


def _definitions(tree):
    """(key, node) for every top-level definition except `@query` ones,
    and for every method of a top-level class, keyed "Class.method"."""
    for node in tree.body:
        if _query_name(node):
            continue
        for name in _top_level_names(node):
            yield name, node
        if isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield f"{node.name}.{m.name}", m


def _scan():
    """(defs, uses, queries): defs maps (module, key) to its (path,
    first, last) lines, for the definitions `_definitions` yields except
    dunder names; queries maps a registered query name to the same span
    of its function; uses lists (name, path, line) for every name that
    code (not a docstring) reads: a bare or dotted name, or a string
    constant."""
    defs, uses, queries = {}, [], {}
    for path in _referrers():
        tree = ast.parse(path.read_text())
        if path.is_relative_to(PKG):
            module = str(path.relative_to(PKG))
            for node in tree.body:
                if name := _query_name(node):
                    queries[name] = _span(path, node)
            for key, node in _definitions(tree):
                if not key.rpartition(".")[2].startswith("__"):
                    defs[(module, key)] = _span(path, node)
        docs = _docstring_ids(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                uses.append((node.id, path, node.lineno))
            elif isinstance(node, ast.Attribute):
                uses.append((node.attr, path, node.lineno))
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if id(node) not in docs and node.value.isidentifier():
                    uses.append((node.value, path, node.lineno))
    return defs, uses, queries


def _unrun_past_cap() -> tuple[set[str], set[str]]:
    """(past, unrun): the registered queries neither in the graded window
    nor headline, and those of them that no code under tools/,
    perfbench/ or bench.py runs or looks up: a name or attribute, a
    lookup key, a call argument, or an entry of a tuple or list. A
    comment, a docstring, a set entry (an allow-list) or a keyword
    string such as `match=` does not count."""
    from bigdatapipelinepysparksqlserver_spark.queries import _GRADED_PREFIX, REGISTRY

    past = {n for n, s in REGISTRY.items() if n not in _GRADED_PREFIX and not s.headline}
    runs = set()
    for path in [p for d in RUNNER_DIRS for p in d.rglob("*.py")] + [ROOT / "bench.py"]:
        tree = ast.parse(path.read_text())
        parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                runs.add(node.id)
            elif isinstance(node, ast.Attribute):
                runs.add(node.attr)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if isinstance(parent.get(node), (ast.Subscript, ast.Call, ast.Tuple, ast.List)):
                    runs.add(node.value)
    return past, past - runs


def _dead(defs, uses, roots=frozenset(), dead_spans=()):
    """Fixed point: a definition is dead when every use of its name (for
    a method, its own name without the class) lies inside its own body,
    inside another dead definition or inside one of `dead_spans`.
    `roots` are kept alive whatever uses them."""
    where: dict[str, list] = {}
    for name, path, line in uses:
        where.setdefault(name, []).append((path, line))
    dead = set()
    while True:
        spans = [defs[k] for k in dead] + list(dead_spans)
        grew = False
        for key, own in defs.items():
            if key in dead or key in roots:
                continue
            inside = spans + [own]
            if all(
                any(p == sp and a <= line <= b for sp, a, b in inside)
                for p, line in where.get(key[1].rpartition(".")[2], ())
            ):
                dead.add(key)
                grew = True
        if not grew:
            return dead


def _assert_clean(dead, undefined, stale, what="unreached"):
    """One failure that lists every finding: what the scan reports, and
    allow-list entries that name nothing or are no longer needed."""
    problems = [
        f"{label}:\n  " + "\n  ".join(items)
        for label, items in (
            (what, dead),
            ("allow-list entries that name nothing", undefined),
            ("allow-list entries the scan no longer reports", stale),
        )
        if items
    ]
    assert not problems, "\n".join(problems)


def _allowed_keys(defs, entry):
    module, _, name = entry.partition(":")
    return {k for k in defs if k[0] == module and (not name or k[1] == name)}


def test_every_definition_is_reached_outside_tests():
    """Every top-level package definition (public or private, except the
    `@query`-registered ones) is named by code outside its own body: in
    the package, tools/, perfbench/, bench.py or __spark_entry__.py, and
    not inside a body that is itself dead. The body of a past-cap query
    that nothing outside tests runs is dead unless the query is on
    `TEST_ONLY_QUERIES`. Tests do not count. Each allow-list entry must
    name something that exists and that the scan would report without
    it."""
    defs, uses, queries = _scan()
    _, unrun = _unrun_past_cap()
    dead_spans = [queries[n] for n in unrun - set(TEST_ONLY_QUERIES)]
    raw = _dead(defs, uses, dead_spans=dead_spans)
    allowed = {e: _allowed_keys(defs, e) for e in {**ALLOWED_DEFS, **TEST_ONLY_WORKLIST}}
    dead = _dead(defs, uses, frozenset().union(*allowed.values()), dead_spans)
    _assert_clean(
        dead=sorted(f"{m}:{defs[(m, n)][1]} {n}" for m, n in dead),
        undefined=sorted(e for e, keys in allowed.items() if not keys),
        stale=sorted(e for e, keys in allowed.items() if keys and not keys & raw),
    )


def test_past_cap_queries_are_run():
    """Every registered query past the graded window and off the headline
    list is run by code outside tests (see `_unrun_past_cap`), or is on
    `TEST_ONLY_QUERIES`, which it must still need."""
    past, unrun = _unrun_past_cap()
    allowed = set(TEST_ONLY_QUERIES)
    _assert_clean(
        dead=sorted(unrun - allowed),
        undefined=sorted(allowed - past),
        stale=sorted(allowed & past - unrun),
    )


def _options(trees: dict) -> dict:
    """Every parameter with a default of a function or method that
    `_definitions` yields from `trees` (module -> tree), as
    "module:key(param)" -> (def key, called name, param, position,
    default).
    The called name is the function's own, or its class's for
    `__init__`; position is the parameter's index among a call's
    positional arguments (after a bound `self`), None if keyword-only."""
    out = {}
    for module, tree in trees.items():
        for key, node in _definitions(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            cls, _, name = key.rpartition(".")
            called = cls if name == "__init__" else name
            static = any(getattr(d, "id", None) == "staticmethod" for d in node.decorator_list)
            bound = 1 if cls and not static else 0
            a = node.args
            pos = a.posonlyargs + a.args
            params = [(p, i - bound, d) for i, (p, d) in enumerate(
                zip(pos, [None] * (len(pos) - len(a.defaults)) + a.defaults)
            )]
            params += [(p, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
            for p, i, d in params:
                if d is not None:
                    out[f"{module}:{key}({p.arg})"] = (
                        (module, key), called, p.arg, i, ast.unparse(d)
                    )
    return out


def _walk(tree, skip=frozenset()):
    """`ast.walk`, without the subtrees whose node ids are in `skip`."""
    todo = [tree]
    while todo:
        node = todo.pop()
        if id(node) not in skip:
            yield node
            todo.extend(ast.iter_child_nodes(node))


def _calls(trees, skip=frozenset()) -> dict:
    """Called name -> [(positional arguments before any `*`, whether a
    `*` splat follows, keywords with None for a `**` splat)] over every
    call in `trees` outside the nodes whose ids are in `skip`. The
    called name is a bare name (the imported name for an `import ... as`
    alias) or the attribute of a dotted call; for `super().__init__(...)`
    it is each base of the enclosing class, and for `Base.__init__(...)`
    it is `Base`."""
    out: dict[str, list] = {}
    for tree in trees:
        aliases = {
            a.asname: a.name.rpartition(".")[2]
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
            if a.asname
        }
        bases = {}  # id of a node inside a class -> the class's base names
        for c in ast.walk(tree):
            if isinstance(c, ast.ClassDef):
                for n in ast.walk(c):
                    bases[id(n)] = [getattr(b, "id", getattr(b, "attr", None)) for b in c.bases]
        for node in _walk(tree, skip):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                names = [aliases.get(f.id, f.id)]
            elif not isinstance(f, ast.Attribute):
                continue
            elif f.attr != "__init__":
                names = [f.attr]
            elif isinstance(f.value, ast.Call) and getattr(f.value.func, "id", None) == "super":
                names = bases.get(id(node), [])
            else:  # Base.__init__(self, ...)
                names = [getattr(f.value, "id", getattr(f.value, "attr", None))]
            stars = [i for i, a in enumerate(node.args) if isinstance(a, ast.Starred)]
            npos = stars[0] if stars else len(node.args)
            for name in names:
                out.setdefault(name, []).append((npos, bool(stars), {k.arg for k in node.keywords}))
    return out


def _option_findings(trees, callers, allowed, exempt=frozenset(), skip=frozenset()):
    """(unset, undefined, stale) for the options scan: each option not
    on `allowed` that no call in `callers` sets, as
    "module:key(param=default)"; the `allowed` entries that name no
    option; and those some call sets. Options of a definition in
    `exempt`, or of a method whose class is, are skipped. Calls inside
    the definitions whose node ids are in `skip` set nothing."""
    options = _options(trees)
    calls = _calls(callers, skip)

    def is_set(called, param, position):
        return any(
            param in kws or None in kws or (position is not None and (position < npos or star))
            for npos, star, kws in calls.get(called, ())
        )

    unset = {
        o
        for o, ((module, key), called, param, position, _) in options.items()
        if (module, key) not in exempt
        and (module, key.partition(".")[0]) not in exempt
        and not is_set(called, param, position)
    }
    return (
        sorted(f"{o[:-1]}={options[o][4]})" for o in unset - set(allowed)),
        sorted(set(allowed) - set(options)),
        sorted(set(allowed) & set(options) - unset),
    )


def test_every_option_is_set_outside_tests():
    """Every parameter with a default, on a package function or method
    that is not `@query`-registered or on an allow-list, is set by some
    call outside tests (package, tools/, perfbench/, bench.py,
    __spark_entry__.py): by keyword, by position or through a `*`/`**`
    splat. Calls match by the function's name, or by the class's for
    `__init__`, so a name collision can only hide an option. A call
    inside a `TEST_ONLY_WORKLIST` definition is test-only code and sets
    nothing. An option only tests set stays only on `ALLOWED_OPTIONS`,
    which it must still need."""
    trees = {str(p.relative_to(PKG)): ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    keys = {(m, k) for m, tree in trees.items() for k, _ in _definitions(tree)}
    exempt = set().union(*(_allowed_keys(keys, e) for e in {**ALLOWED_DEFS, **TEST_ONLY_WORKLIST}))
    test_only = set().union(*(_allowed_keys(keys, e) for e in TEST_ONLY_WORKLIST))
    skip = {
        id(node) for m, tree in trees.items() for k, node in _definitions(tree) if (m, k) in test_only
    }
    callers = list(trees.values()) + [
        ast.parse(p.read_text()) for p in _referrers() if not p.is_relative_to(PKG)
    ]
    unset, undefined, stale = _option_findings(trees, callers, ALLOWED_OPTIONS, exempt, skip)
    _assert_clean(unset, undefined, stale, what="options no call outside tests sets")


def test_option_scan_on_literal_source():
    lib = ast.parse(
        "def f(a, k=1, *, w=2): pass\n"
        "def g(a, k=1, w=2): pass\n"
        "def h(a, k=1): pass\n"
        "class C:\n"
        "    def __init__(self, p=0, q=1, r=2): pass\n"
        "    def m(self, x=3): pass\n"
        "    @staticmethod\n"
        "    def s(y=4): pass\n"
    )
    caller = ast.parse(
        "f(0, 5)\ng(0, **kw)\nh(0)\nC(7, q=2)\nobj.m(4)\nC.s(*ys)\n"
        "def only_tests():\n    h(0, k=9)\n"
    )
    unset, undefined, stale = _option_findings(
        {"lib.py": lib}, [caller], ["lib.py:C.__init__(r)", "lib.py:f(k)", "lib.py:nope(z)"],
        skip={id(caller.body[-1])},
    )
    assert unset == ["lib.py:f(w=2)", "lib.py:h(k=1)"]
    assert undefined == ["lib.py:nope(z)"]
    assert stale == ["lib.py:f(k)"]


def _read_names(tree) -> set[str]:
    """Every name the module reads, including names inside string
    annotations such as ``"list[Callable[[], None]]"``."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            try:
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore")  # regex escapes in prose strings
                    names |= _read_names(ast.parse(node.value, mode="eval"))
            except SyntaxError:
                pass
    return names


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_from(path: Path, node: ast.ImportFrom) -> str:
    """The absolute module an `ImportFrom` in `path` imports from."""
    if not node.level:
        return node.module
    base = _module_name(path).split(".")
    if path.name != "__init__.py":
        base = base[:-1]
    base = base[: len(base) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


def _names_imported_through_packages() -> set[tuple[str, str]]:
    """(package, name) for every `from <package> import name` in code
    outside tests."""
    out = set()
    for path in _referrers():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                out.update((_imported_from(path, node), a.name) for a in node.names)
    return out


def test_no_unused_imports():
    """No module in the package, tests/ or tools/ imports a name it never
    uses; imports on a `noqa` line are skipped. In a package
    `__init__.py` a name also counts as used when code outside tests
    imports it through that package, a `noqa` does not skip it, and only
    `from . import <submodule>` (query registration) is exempt."""
    through = _names_imported_through_packages()
    unused = []
    for path in [p for d in (PKG, ROOT / "tests", ROOT / "tools") for p in sorted(d.rglob("*.py"))]:
        init = path.name == "__init__.py"
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        read = _read_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__":
                continue
            if init and isinstance(node, ast.ImportFrom) and node.level == 1 and not node.module:
                continue
            if not init and any("noqa" in line for line in lines[node.lineno - 1 : node.end_lineno]):
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in read and not (init and (_module_name(path), name) in through):
                    unused.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not unused, "unused imports:\n  " + "\n  ".join(unused)
