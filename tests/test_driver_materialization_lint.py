"""Package-wide lint: every driver materialization site is pinned.

Round-2 verdict item #10: an AST walk over `jassv2_spark/` asserting that
no `.collect()` / `.toPandas()` / `.toLocalIterator()` touches postings-
or corpus-scale frames outside the documented exporter epilogues. A
purely syntactic check cannot size a frame, so the enforceable contract
is an exact PINNED SET: every (module, function, method) site below has
been reviewed and classified; any NEW site fails this test until it is
reviewed and added with a class. Classes:

- scalar:        O(1) or O(#partitions) rows (stats, min/max, counts)
- query-bounded: rows bounded by the query set / seed set (serve-side
                 metadata, never corpus-scale)
- vocab-bounded: rows bounded by a capped or tiny vocabulary/domain
                 (ln tables now go through lntable.capped_distinct)
- topk:          the final ≤ queries×k result the caller asked for
- epilogue:      single-stream exporters — toLocalIterator over a sorted
                 frame, one partition at a time, never a full collect
- cli:           terminal CLI output of an already-small result
"""

import ast
import os

import jassv2_spark

PKG_ROOT = os.path.dirname(jassv2_spark.__file__)

# (module file, enclosing function, method) -> scale class
ALLOWED = {
    ("ann.py", "ivf_centroids", "toPandas"): "vocab-bounded",  # k centroids
    ("ann.py", "pq_codebooks", "toPandas"): "vocab-bounded",  # m×k codewords
    ("bm25f.py", "bm25f_topk", "collect"): "query-bounded",
    ("build.py", "build_index_from_counts", "collect"): "vocab-bounded",
    ("build.py", "build_prequantized_index", "collect"): "scalar",
    ("ciff.py", "write_ciff", "toLocalIterator"): "epilogue",
    # gate-scale streaming fixtures: chunk files for a FINITE stream over
    # the sf tables (sf<=0.01 in the driver gate); never a serving path
    ("entry_queries.py", "_chunked_dir", "collect"): "gate-fixture",
    ("entry_queries.py", "_stream_dedup", "collect"): "gate-fixture",
    ("entry_queries.py", "_stream_sessions", "collect"): "gate-fixture",
    ("entry_queries.py", "_stream_tumbling", "collect"): "gate-fixture",
    # binary-format exporter epilogues (single sequential streams, the
    # sanctioned jass_v1 pattern); forward/compiled additionally buffer
    # driver-side exactly as the reference serialisers do — small-corpus
    # artifacts by the format's own nature (documented in export.py)
    ("export.py", "write_serialise_integers", "toLocalIterator"): "epilogue",
    ("export.py", "write_forward_index", "toLocalIterator"): "epilogue",
    ("export.py", "write_compiled_index_cpp", "toLocalIterator"): "epilogue",
    ("cli.py", "jass_anytime_main", "collect"): "cli",
    ("cli.py", "jass_curate_main", "collect"): "cli",
    ("cli.py", "jass_eval_main", "collect"): "cli",
    ("cluster.py", "kmeans_assign", "collect"): "vocab-bounded",  # k×dim
    ("compiled.py", "compile_index", "collect"): "epilogue",
    ("dedup.py", "connected_components", "collect"): "scalar",  # convergence flag
    ("docids.py", "assign_doc_ids", "collect"): "scalar",  # per-partition counts
    # limit(1): the ECOM19 matrix header line (the query-id row) only
    ("ecom19.py", "read_ecom19_matrix", "collect"): "scalar",
    ("export.py", "index_statistics", "collect"): "scalar",
    ("jass_v1.py", "write_jass_v1", "toLocalIterator"): "epilogue",
    ("lmdir.py", "lm_dirichlet_topk", "collect"): "query-bounded",
    ("lntable.py", "capped_distinct", "collect"): "vocab-bounded",  # hard cap
    ("ltr.py", "fit_linear", "collect"): "scalar",  # normal equations d×d
    ("ltr.py", "ltr_features", "collect"): "scalar",
    ("merge.py", "add_docs", "collect"): "scalar",
    ("mlt.py", "doc_keyterms", "collect"): "query-bounded",  # seed docs' terms
    ("mlt.py", "mlt_query_terms", "collect"): "query-bounded",
    ("mlt.py", "related_doc_pairs", "collect"): "query-bounded",
    ("percolate.py", "percolate", "collect"): "query-bounded",  # stored queries
    ("persist.py", "_write_stage", "collect"): "scalar",  # per-partition lineage
    ("phrase.py", "_bm25_pseudo_term_topk", "collect"): "scalar",
    ("qpp.py", "qpp_features", "collect"): "query-bounded",
    ("saat.py", "package_index", "toPandas"): "scalar",  # per-bucket stats
    # one scalar row: Σdf for the data-sized bucket count (round-5)
    ("saat.py", "package_index", "collect"): "scalar",
    ("search.py", "_pruned_segments", "collect"): "query-bounded",  # bucket ids
    ("search.py", "_auto_shards", "collect"): "scalar",  # shard estimate
    ("textstats.py", "heaps_profile", "collect"): "scalar",
    ("textstats.py", "zipf_slope", "collect"): "vocab-bounded",  # top_r ranks
    ("tiered.py", "search_tiered", "collect"): "scalar",
}

METHODS = ("collect", "toPandas", "toLocalIterator")


def _sites():
    found = {}
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            stack = []

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    fun = node.func
                    if isinstance(fun, ast.Attribute) and fun.attr in METHODS:
                        key = (fn, stack[-1] if stack else "<module>", fun.attr)
                        found.setdefault(key, []).append(node.lineno)
                    self.generic_visit(node)

            V().visit(tree)
    return found


def test_every_driver_materialization_site_is_pinned():
    found = _sites()
    new = sorted(set(found) - set(ALLOWED))
    assert not new, (
        "NEW driver-materialization sites — review each for corpus-scale "
        f"risk and pin it with a scale class: {new}"
    )


def test_pinned_sites_still_exist():
    """Stale allowlist entries hide regressions — prune removed sites."""
    found = _sites()
    gone = sorted(set(ALLOWED) - set(found))
    assert not gone, f"allowlisted sites no longer exist, remove them: {gone}"


def test_no_full_collect_in_exporters():
    """The two single-stream exporters must stream (toLocalIterator), not
    collect postings: a direct source assertion on the fixed functions."""
    import inspect

    from jassv2_spark.plans.jass_v1 import write_jass_v1
    from jassv2_spark.sources.ciff import write_ciff

    for fnc in (write_ciff, write_jass_v1):
        src = inspect.getsource(fnc)
        assert "toLocalIterator" in src, fnc.__name__
        assert ".collect()" not in src, fnc.__name__
