"""Driver-contract invariants: every queries() entry is either
oracle-checked or on the documented rows-only allowlist, the oracle
dict never carries dead keys, kgc builds driver-row relations one way
only, and every public kgc function has a non-test caller or a
documented reason to exist."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as E

# rows-only BY DESIGN — each needs a reason, not just an omission:
#   golden_pr / golden_pr_pdf — P/R gate scalars vs committed fixtures
#   jsonld_render            — nested JSON text; structural parity is
#                              pytest-gated (tests/test_golden.py)
#   segments_multispan       — synthetic multi-span corpus isn't
#                              SQL-derivable (the packing fold itself is
#                              oracle-checked via segments_interleaved)
#   pipeline_triples         — full-lineage twin of the oracle-checked
#                              pipeline_triples_sql projection
ROWS_ONLY = {
    "golden_pr",
    "golden_pr_pdf",
    "jsonld_render",
    "segments_multispan",
    "pipeline_triples",
}


def test_every_query_is_oracle_checked_or_allowlisted():
    qs = set(E.queries())
    oracles = set(E.oracle_sql())
    unchecked = qs - oracles
    assert unchecked == ROWS_ONLY, (
        f"new rows-only queries appeared (add an oracle or document here): "
        f"{sorted(unchecked - ROWS_ONLY)}; "
        f"stale allowlist entries: {sorted(ROWS_ONLY - unchecked)}"
    )


def test_no_dead_oracles():
    dead = set(E.oracle_sql()) - set(E.queries())
    assert not dead, f"oracle_sql keys without a queries() entry: {sorted(dead)}"


def test_rows_only_set_stays_small():
    # the correctness story is hash-checks; rows-only must stay the
    # justified exception, not a growth path
    assert len(ROWS_ONLY) <= 5


def test_only_local_frame_calls_create_dataframe():
    """kgc.session.local_frame is the one way kgc builds a relation from
    driver rows (an Arrow LocalTableScan): no other kgc code calls
    ``createDataFrame``, whose row-list form plans a Scan ExistingRDD."""

    def calls(tree):
        return [
            n for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
        ]

    n_calls, callers = 0, set()
    for path in sorted((Path(__file__).parents[1] / "kgc").glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        n_calls += len(calls(tree))
        callers |= {
            (path.name, fn.name) for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and calls(fn)
        }
    assert (n_calls, callers) == (1, {("session.py", "local_frame")}), callers


# public kgc functions that only tests call: a labelled twin a test
# compares against, or the subject of a test that must keep its name
TEST_ONLY = {
    "split_tokens_py": "T2 golden twin of tokenizer.split_tokens",
    "from_ntriples": "round-trip reference parser for triples.to_ntriples",
    "pdf_media_table": "test_pdf_images_to_media_strict_decode",
    "dup_line_fraction": "test_dup_line_fraction",
    "topk_bruteforce_pandas": "test_pandas_ann_matches_catalyst",
    "frame_sample": "test_media_pipeline",
    "media_quarantine": "test_media_pipeline and two strict-decode tests",
    "stream_documents": "test_stream_documents_matches_batch",
    "kg_diff_stats": "test_graph's two kg_diff tests",
    "release_vocab": "drops the schema.org memo in test_graph's vocab tests",
}

def _library_and_callers():
    """kgc/ modules (the fixture module golden.py aside), and every
    non-test source that may call them."""
    root = Path(__file__).parents[1]
    lib = [p for p in sorted((root / "kgc").glob("*.py")) if p.name != "golden.py"]
    sources = lib + [root / "__spark_entry__.py", root / "bench.py"]
    sources += sorted((root / "scripts").rglob("*.py"))
    sources += sorted((root / "kgbench").rglob("*.py"))
    return lib, sources


def test_no_test_only_library_surface():
    """Every public top-level function in kgc/ (the fixture module
    kgc/golden.py aside) is referenced from kgc/, __spark_entry__.py,
    bench.py, scripts/ or kgbench/, or is on TEST_ONLY with a reason —
    a second form that only tests call is dead weight, not a feature."""
    lib, sources = _library_and_callers()

    public = {
        fn.name: path.name
        for path in lib
        for fn in ast.parse(path.read_text(), str(path)).body
        if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_")
    }
    referenced = set()
    for path in sources:
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(n, ast.Name):
                referenced.add(n.id)
            elif isinstance(n, ast.Attribute):
                referenced.add(n.attr)
            elif isinstance(n, ast.alias):
                referenced.add(n.name.rsplit(".", 1)[-1])
    unreferenced = set(public) - referenced
    assert unreferenced == set(TEST_ONLY), (
        "test-only library functions (delete, or allowlist with a reason): "
        f"{sorted(f'{public[n]}:{n}' for n in unreferenced - set(TEST_ONLY))}; "
        f"stale allowlist entries: {sorted(set(TEST_ONLY) - unreferenced)}"
    )


# defaulted parameters that every non-test caller leaves at their default:
# kgbench/ passes them, they name a deployment path, or a test needs
# another value
DEFAULT_ONLY = {
    "pipeline.run(fuzzy=)": "kgbench/workloads.py passes fuzzy=True",
    "parsers.parse_documents(text_col=)": "kgbench/workloads.py passes it",
    "link.link_mentions(fuzzy=)": "kgbench passes it; two tests switch it off",
    "vocab.load_schemaorg(path=)": "schema.org dump location of a deployment",
    "vocab.load_schemaorg_members(path=)": "schema.org dump location of a deployment",
    "pipeline.run(seg_token_limit=)": "test_pipeline_quarantine_and_release",
    "pipeline.run(bucket_stages=)": "test_pipeline_bucketed_stages",
    "graph.transitive_closure(max_depth=)": "TestClosureDifferential draws it",
    "graph.transitive_closure(small_graph_threshold=)":
        "0 or 25 forces path doubling (TestClosureDifferential, "
        "test_transitive_closure_pair_bound_falls_back)",
    "link.link_mentions(threshold=)": "test_link_mentions_exact_precedence",
    "link.link_fuzzy(threshold=)": "link_mentions(threshold=) forwards to it",
    "media.decode_media(mode=)": "strict is the real decoder path TestMediaPoison pins",
    "mix.stratified_sample(salt=)": "a second salt draws a second sample",
    "mix.source_caps(cap=)": "test_source_caps_deterministic_and_capped",
    "simsearch.semantic_dedup(max_cell_factor=)":
        "test_semantic_dedup_cell_balance_guard trips and opts out of the guard",
    "simsearch.topk_lsh(planes=)": "test_lsh_ann_recall_vs_bruteforce",
    "simsearch.train_centroids(n_centroids=)": "planted-cluster tests size k-means",
    "streaming.stream_event_rollup(max_files_per_trigger=)":
        "1 splits a drain so the watermark advances",
    "streaming.stream_exact_dedup(watermark=)":
        "test_stream_dedup_within_watermark_requires_event_time",
    "streaming.stream_exact_dedup(event_time=)": "one feature with watermark=",
    "streaming.stream_incremental_neardup(threshold=)":
        "the three stream_incremental_neardup tests",
    "dedup.probe_band_index(threshold=)":
        "stream_incremental_neardup(threshold=) forwards to it",
    "textops.tfidf_top_terms(k=)": "test_tfidf_top_terms_discriminative",
    "triples.kg_diff(keys=)": "test_kg_diff_stats_custom_keys",
    "triples.render_jsonld_nested(indent=)":
        "indent=2 is the reference CLI's byte-exact file output",
}


def _callee(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def test_no_default_only_parameters():
    """Every defaulted parameter of a public top-level kgc function
    (kgc/golden.py and TEST_ONLY aside) is passed a value other than its
    default's source text by some call in kgc/, __spark_entry__.py,
    bench.py, scripts/ or kgbench/, or is on DEFAULT_ONLY with a reason:
    a parameter no caller sets is a constant.  A ``*``/``**`` call
    passes everything; a value naming a parameter of the enclosing kgc
    function stands for that parameter's own values (its default and
    whatever its callers pass)."""
    lib, sources = _library_and_callers()

    params, module = {}, {}  # fn -> {param: (positional index or None, default)}
    for path in lib:
        for fn in ast.parse(path.read_text(), str(path)).body:
            if (not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_")
                    or fn.name in TEST_ONLY):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            ps = {x.arg: (i, ast.unparse(d))
                  for i, (x, d) in enumerate(zip(pos[first:], a.defaults), first)}
            ps.update((x.arg, (None, ast.unparse(d)))
                      for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
            params[fn.name], module[fn.name] = ps, path.stem

    calls = []  # (call, enclosing public kgc function or None)
    for path in sources:
        for top in ast.parse(path.read_text(), str(path)).body:
            owner = getattr(top, "name", None) if path in lib else None
            calls += [(n, owner if owner in params else None)
                      for n in ast.walk(top) if isinstance(n, ast.Call)]

    values = {(fn, p): {d} for fn, ps in params.items() for p, (_, d) in ps.items()}
    changed = True
    while changed:
        changed = False
        for c, owner in calls:
            fn = _callee(c)
            for p, (index, _) in params.get(fn, {}).items():
                given = [k.value for k in c.keywords if k.arg == p]
                if index is not None and index < len(c.args):
                    given.append(c.args[index])
                texts = set()
                if (any(isinstance(a, ast.Starred) for a in c.args)
                        or any(k.arg is None for k in c.keywords)):
                    texts.add("*")
                for v in given:
                    if owner and isinstance(v, ast.Name) and v.id in params[owner]:
                        texts |= values[(owner, v.id)]
                    else:
                        texts.add(ast.unparse(v))
                if not texts <= values[(fn, p)]:
                    values[(fn, p)] |= texts
                    changed = True

    default_only = {
        f"{module[fn]}.{fn}({p}=)"
        for (fn, p), vs in values.items() if vs == {params[fn][p][1]}
    }
    assert default_only == set(DEFAULT_ONLY), (
        f"{len(values)} defaulted parameters, {len(default_only)} default-only; "
        "make these constants, or allowlist with a reason: "
        f"{sorted(default_only - set(DEFAULT_ONLY))}; "
        f"stale allowlist entries: {sorted(set(DEFAULT_ONLY) - default_only)}"
    )
