"""Every driver collect in the package is listed here with the bound that
makes it safe.

Driver memory must stay bounded at any corpus size: a collect/toPandas/
toArrow/toLocalIterator, or a pyarrow ``to_table``/``read_table`` read of an
index table into the driver, whose row count grows with the corpus or the
vocab would fail at scale long after the tests pass. Each call site is keyed by
(module, enclosing function, method) with its count; a new or moved site
fails this test until it is listed with its bound, and a listed site that
no longer exists fails it too, so the list stays the audit.
"""

import ast
import os
from collections import Counter

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "similarities_spark",
)

ACTIONS = {
    "collect", "toPandas", "toArrow", "toLocalIterator",
    "to_table", "read_table",
}

# (module, function, method) -> (count, bound)
AUDIT = {
    ("index/build.py", "_input_fingerprint", "collect"): (
        1, "one aggregate row (count, xor)"),
    ("index/build.py", "_dense_doc_ids", "collect"): (
        1, "one row per sort partition (at most defaultParallelism)"),
    ("index/build.py", "BM25IndexBuilder._collect_heavy", "toArrow"): (
        1, "salt list: terms with df >= salt_df_threshold, at most "
           "total_tokens / salt_df_threshold"),
    ("index/build.py", "BM25IndexBuilder._write_term_stats", "toArrow"): (
        1, "limit(_DRIVER_STATS_MAX_VOCAB + 1) rows"),
    ("index/build.py", "BM25IndexBuilder._write_term_stats", "collect"): (
        1, "one aggregate row past the cap (the key-ordered idf sum of a "
           "single task)"),
    ("index/build.py", "BM25IndexBuilder._build_blocks", "collect"): (
        2, "one metrics row per term bucket (num_term_buckets); one "
           "aggregate row (the token total of a fully resumed stage)"),
    ("query/engine.py", "BM25QueryEngine._lookup_stats", "to_table"): (
        2, "whole term_stats only when meta vocab_size <= "
           "_DRIVER_STATS_MAX_VOCAB; else one row per distinct query term"),
    ("query/engine.py", "BM25QueryEngine.search_df", "collect"): (
        1, "the caller's query rows (driver-adjacent by contract)"),
    ("query/engine.py", "BM25QueryEngine._read_blocks", "to_table"): (
        1, "pruned blocks of a batch the in-process gate admitted (its one "
           "caller is _search_in_process): at most fan_out_threshold "
           "candidate postings"),
    ("query/engine.py", "BM25QueryEngine.search_join_df", "collect"): (
        1, "one aggregate row (max and sum of per-query candidate postings)"),
}


def _sites():
    found = Counter()
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, "r", encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)

            def visit(node, scope, in_def):
                # a site belongs to its outermost def (with its class)
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, ast.ClassDef):
                        visit(child, f"{scope}{child.name}.", in_def)
                    elif isinstance(
                        child, (ast.FunctionDef, ast.AsyncFunctionDef)
                    ):
                        visit(child, scope if in_def else scope + child.name, True)
                    else:
                        if (
                            isinstance(child, ast.Call)
                            and isinstance(child.func, ast.Attribute)
                            and child.func.attr in ACTIONS
                        ):
                            found[(rel, scope, child.func.attr)] += 1
                        visit(child, scope, in_def)

            visit(tree, "", False)
    return found


def test_every_driver_collect_is_listed_with_its_bound():
    found = _sites()
    listed = {k: n for k, (n, _) in AUDIT.items()}
    unlisted = {k: n for k, n in found.items() if listed.get(k) != n}
    stale = {k: n for k, n in listed.items() if found.get(k) != n}
    assert not unlisted, f"collect sites without an audited bound: {unlisted}"
    assert not stale, f"audited collect sites that no longer exist: {stale}"
    assert all(bound for _, bound in AUDIT.values())
