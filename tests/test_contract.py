"""Driver-contract invariants: every queries() entry is either
oracle-checked or on the documented rows-only allowlist, the oracle
dict never carries dead keys, and kgc builds driver-row relations one
way only."""

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
