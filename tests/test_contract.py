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

def test_no_test_only_library_surface():
    """Every public top-level function in kgc/ (the fixture module
    kgc/golden.py aside) is referenced from kgc/, __spark_entry__.py,
    bench.py, scripts/ or kgbench/, or is on TEST_ONLY with a reason —
    a second form that only tests call is dead weight, not a feature."""
    root = Path(__file__).parents[1]
    lib = [p for p in sorted((root / "kgc").glob("*.py")) if p.name != "golden.py"]
    sources = lib + [root / "__spark_entry__.py", root / "bench.py"]
    sources += sorted((root / "scripts").rglob("*.py"))
    sources += sorted((root / "kgbench").rglob("*.py"))

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
