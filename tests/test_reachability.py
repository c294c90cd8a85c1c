"""Reachability gate: every package definition and every registered
query has to be reached by something other than a test.

ROADMAP item 2's rule: a definition that no graded or headline query,
pipeline, sink or tool uses has to justify its place or go. These tests
keep that worklist closed. They read source with `ast` only (no git, no
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
# the tools, the benchmark and the two entry scripts. Tests do not.
REFERRER_DIRS = (PKG, ROOT / "tools", ROOT / "perfbench")
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
    "operators/stores.py": "the store compaction/delete/versioned-publish capability, kept or retired whole",
    "operators/retrieval.py:postings_store_append_batch": "the append half of the store capability",
    "operators/similarity.py:ivfpq_store_append_batch": "the append half of the store capability",
    "operators/graph.py:read_edge_store_batched": "the read side of the appended edge store",
    "streaming/cdc.py:foreach_batch_keyed_merge": "a streaming sink: keyed merge of CDC micro-batches",
    "operators/graph.py:triangle_counts": "the exact reference the triangle-estimate tests compare against",
    "operators/similarity.py:ivf_codebook_topk": "the IVF search the ANN store tests compare against",
}


def _worklist(module: str, names: str, tests: str) -> dict:
    return {f"{module}:{n}": f"test-only; retires with {tests}" for n in names.split()}


# Test-only definitions still waiting to be deleted together with the
# tier-1 tests that pin them (ROADMAP item 2). Entries only ever leave
# this list: delete the definition and its tests, then the entry.
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
    **_worklist(
        "sources/lake.py",
        "write_bloom_store point_lookup bloom_prune_audit analyze_table table_stats",
        "5 tests in test_lake",
    ),
}

# Past-cap queries that no code runs, kept as the only oracle check of an
# operator that a pipeline or sink uses.
ALLOWED_PAST_CAP = {
    "lake_merge_demo": "the only oracle check of merge_rows, which streaming/cdc.py's keyed-merge sink runs",
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


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _top_level_names(node) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _scan():
    """(defs, uses): defs maps (module, name) to its (path, first, last)
    lines; uses lists (name, path, line) for every name that code (not a
    docstring) reads: a bare or dotted name, or a string constant."""
    defs, uses = {}, []
    for path in [p for d in REFERRER_DIRS for p in sorted(d.rglob("*.py"))] + list(REFERRER_FILES):
        tree = ast.parse(path.read_text())
        if path.is_relative_to(PKG):
            module = str(path.relative_to(PKG))
            for node in tree.body:
                if _is_query(node):
                    continue  # registered queries: test_past_cap_queries_are_run
                first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", ())])
                for name in _top_level_names(node):
                    if not name.startswith("__"):
                        defs[(module, name)] = (path, first, node.end_lineno)
        docs = _docstring_ids(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and path.name == "__init__.py":
                # a package re-export is the package's public surface
                uses.extend((a.name, path, node.lineno) for a in node.names)
            elif isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                uses.append((node.id, path, node.lineno))
            elif isinstance(node, ast.Attribute):
                uses.append((node.attr, path, node.lineno))
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if id(node) not in docs and node.value.isidentifier():
                    uses.append((node.value, path, node.lineno))
    return defs, uses


def _dead(defs, uses, roots=frozenset()):
    """Fixed point: a definition is dead when every use of its name lies
    inside its own body or inside another dead definition. `roots` are
    kept alive whatever uses them."""
    where: dict[str, list] = {}
    for name, path, line in uses:
        where.setdefault(name, []).append((path, line))
    dead = set()
    while True:
        spans = [defs[k] for k in dead]
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
    not inside a body that is itself dead. Tests do not count. Each
    allow-list entry must name something that exists and that the scan
    would report without it."""
    defs, uses = _scan()
    raw = _dead(defs, uses)
    allowed = {e: _allowed_keys(defs, e) for e in {**ALLOWED_DEFS, **TEST_ONLY_WORKLIST}}
    dead = _dead(defs, uses, frozenset().union(*allowed.values()))
    _assert_clean(
        dead=sorted(f"{m}:{defs[(m, n)][1]} {n}" for m, n in dead),
        undefined=sorted(e for e, keys in allowed.items() if not keys),
        stale=sorted(e for e, keys in allowed.items() if keys and not keys & raw),
    )


def test_past_cap_queries_are_run():
    """Every registered query past the graded window and off the headline
    list is run or looked up by code under tests/, tools/, perfbench/ or
    bench.py: a name or attribute, a lookup key, a call argument, or an
    entry of a tuple or list. A comment, a docstring, a set entry (an
    allow-list) or a keyword string such as `match=` does not count."""
    from bigdatapipelinepysparksqlserver_spark.queries import _GRADED_PREFIX, REGISTRY

    past = {n for n, s in REGISTRY.items() if n not in _GRADED_PREFIX and not s.headline}
    files = [p for d in ("tests", "tools", "perfbench") for p in (ROOT / d).rglob("*.py")]
    runs = set()
    for path in files + [ROOT / "bench.py"]:
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
    unrun = past - runs
    _assert_clean(
        dead=sorted(unrun - set(ALLOWED_PAST_CAP)),
        undefined=sorted(set(ALLOWED_PAST_CAP) - past),
        stale=sorted(set(ALLOWED_PAST_CAP) & past - unrun),
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


def test_no_unused_imports():
    """No module in the package, tests/ or tools/ imports a name it never
    uses. Package `__init__.py` files (re-exports) and imports on a
    `noqa` line are skipped."""
    unused = []
    for path in [p for d in (PKG, ROOT / "tests", ROOT / "tools") for p in sorted(d.rglob("*.py"))]:
        if path.name == "__init__.py":
            continue
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        read = _read_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__":
                continue
            if any("noqa" in line for line in lines[node.lineno - 1 : node.end_lineno]):
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in read:
                    unused.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not unused, "unused imports:\n  " + "\n  ".join(unused)
