"""Reachability gate: every package definition and every registered
query has to be reached by something other than a test.

ROADMAP items 2 and 4: a definition or query that no graded or headline
query, pipeline or tool uses has to justify its place or go. Only code
outside `tests/` keeps anything alive: a test that runs a query, or a
package `__init__.py` that re-exports a name, does not count as a use. They read source with `ast` only (no git, no
Spark session), so comments and docstrings never count as a use. Each
test has an explicit allow-list; an entry that is undefined or that the
scan would no longer report fails the test, so the list cannot go stale.
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

# Top-level definitions kept although no code outside tests reaches
# them. A key is a package-relative module path (the whole module) or
# "module:name"; the value says why it stays.
ALLOWED_DEFS = {
    "sources/jdbc.py": "deployment I/O: the reference extracts SQL Server over JDBC (capability (a))",
    "sources/dialects.py": "deployment I/O: the SQL Server dialect and URL for that extract",
    "sources/formats.py": "deployment I/O: the file formats a deployment may land instead",
    "plans/ledger.py:JdbcRunLedger": "deployment I/O: the run ledger kept in the source database",
    "sources/fs.py:ObjectStoreSimFS": "a fake object store that tests substitute for the local filesystem",
    "corpus.py:build_corpus": "builds the test corpora",
    "operators/graph.py:triangle_counts": "the exact reference the triangle-estimate tests compare against",
    "operators/similarity.py:ivf_codebook_topk": "the IVF search the ANN store tests compare against",
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
    "operators/skew.py": "test-only; retires with test_skew_report_identifies_pathological_key, "
    "test_salted_join_and_agg and test_salted_agg_equals_direct",
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
    "streaming/cdc.py": "test-only; retires with 22 tests in test_streaming, "
    "test_lake_snapshot::test_streaming_sink_publishes_atomic_snapshots and "
    "test_store_compaction::test_compact_semantic_streaming_store",
    "streaming/metrics.py": "test-only; retires with "
    "test_streaming::test_streaming_health_listener_captures_progress",
    "operators/stores.py": "test-only; retires with 10 tests in test_store_compaction "
    "and 3 in test_pointer_protocol",
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


def _scan():
    """(defs, uses, queries): defs maps (module, name) to its (path,
    first, last) lines; queries maps a registered query name to the same
    span of its function; uses lists (name, path, line) for every name
    that code (not a docstring) reads: a bare or dotted name, or a
    string constant."""
    defs, uses, queries = {}, [], {}
    for path in [p for d in REFERRER_DIRS for p in sorted(d.rglob("*.py"))] + list(REFERRER_FILES):
        tree = ast.parse(path.read_text())
        if path.is_relative_to(PKG):
            module = str(path.relative_to(PKG))
            for node in tree.body:
                first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", ())])
                span = (path, first, node.end_lineno)
                if name := _query_name(node):
                    queries[name] = span
                    continue
                for name in _top_level_names(node):
                    if not name.startswith("__"):
                        defs[(module, name)] = span
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
    """Fixed point: a definition is dead when every use of its name lies
    inside its own body, inside another dead definition or inside one
    of `dead_spans`. `roots` are kept alive whatever uses them."""
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
                for p, line in where.get(key[1], ())
            ):
                dead.add(key)
                grew = True
        if not grew:
            return dead


def _assert_clean(dead, undefined, stale):
    """One failure that lists every finding: what the scan reports, and
    allow-list entries that name nothing or are no longer needed."""
    problems = [
        f"{label}:\n  " + "\n  ".join(items)
        for label, items in (
            ("unreached", dead),
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
    for path in [p for d in REFERRER_DIRS for p in d.rglob("*.py")] + list(REFERRER_FILES):
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
