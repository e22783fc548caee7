#!/usr/bin/env python
"""Dump physical plans for the headline queries into PLANS.md.

For each bench query: `.explain("formatted")` output plus a mechanical
audit — column-pruned scans (ReadSchema), pushed filters, broadcast vs
shuffle joins, WholeStageCodegen coverage, exchange count.  Run after
operator changes; the committed PLANS.md is the plan-review record.

Usage: python scripts/plans.py [--sf DIR] [--out PLANS.md]
"""

from __future__ import annotations

import argparse
import io
import re
import sys
from pathlib import Path

# this checkout's root, so a run from any copy dumps that copy's plans
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

HEADLINE = [
    "graph_suite",
    "pipeline_triples",
    "pipeline_interleaved",
    "link_fuzzy",
    "segments",
    "segments_interleaved",
    "mentions",
    "link_topk",
    "minhash_pairs",
    "simhash",
    "ngram_jaccard",
    "fingerprint",
    "langid",
    "quality",
    "ann_topk",
    "ann_ivf",
    "embed_neardup",
    "events_rollup",
    "revenue_by_nation",
    "top_parts",
    "user_journeys",
    "quarantine",
    "repetition",
    "corpus_mix",
    "stratified_sample",
    "decontaminate",
    "dedup_survivors",
    "embed_dedup_groups",
    # dedup_incremental: the registered name is now a 2-leg suite whose
    # stream leg drains at plan-build — review the batch probe plan
    "dedup_incremental_batch",
    "paragraph_dedup",
    "pii_suite",
    "lm_score",
    "corpus_curation",
    "dup_ngrams",
    "dup_ngrams_incremental",
    "source_caps",
    "semantic_dedup",
    "entity_cocitation",
    "entity_triangles",
    "subclass_closure",
    "validate_triples",
    # streaming_triples: the drain executes at plan-build; its post-sink
    # projection plan adds nothing — reviewed via the streaming tests
]


def _mode(df):
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")


def audit(plan: str) -> list[str]:
    notes = []
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    for s in scans:
        ncols = 0 if not s.strip() else s.count(",") + 1
        notes.append(f"scan reads {ncols} column(s)")
    # formatted mode prints each operator once in the tree ("+- Op (id)")
    # and once in the details ("(id) Op") — count tree lines only.
    nbhj = len(re.findall(r"[+:]- BroadcastHashJoin", plan))
    nsmj = len(re.findall(r"[+:]- SortMergeJoin", plan))
    nbnl = len(re.findall(r"[+:]- BroadcastNestedLoopJoin", plan))
    nex = len(re.findall(r"[+:]- Exchange \(", plan))
    nbex = len(re.findall(r"[+:]- BroadcastExchange", plan))
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    ncache = len(re.findall(r"[+:]- InMemoryTableScan", plan))
    notes.append(
        f"joins: {nbhj} broadcast-hash, {nsmj} sort-merge, {nbnl} bnlj; "
        f"{nex} shuffle exchange(s), {nbex} broadcast exchange(s); "
        f"{pushed} scan(s) with pushed filters"
    )
    if ncache:
        notes.append(
            f"{ncache} cached-table scan(s) — operator counts above "
            "include the cached relations' build plans (printed inside "
            "InMemoryRelation), each of which executes ONCE"
        )
    return notes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=str(ROOT / "PLANS.md"))
    args = ap.parse_args()

    import __spark_entry__ as em
    from kgc.session import get_spark

    spark = get_spark("plans")
    qs = em.queries()
    buf = io.StringIO()
    buf.write(
        "# PLANS — physical-plan review of the headline queries\n\n"
        f"Generated by `python scripts/plans.py --sf {args.sf}`.  "
        "Each section: mechanical audit line(s), then the Catalyst\n"
        "`explain('formatted')` output.  Reviewed for: column-pruned "
        "scans, filters pushed to parquet, broadcast on small sides,\n"
        "no unexpected exchanges, wide WholeStageCodegen spans.\n\n"
        "The BroadcastNestedLoopJoin Cross nodes that appear are the\n"
        "DOCUMENTED broadcast-side scalar joins (a 1-row corpus\n"
        "constant or existence flag cross-joined onto a fact table —\n"
        "e.g. shingle-count normalizers, uncorrelated EXISTS); their\n"
        "build side is a single broadcast row, so they are maps, not\n"
        "quadratic joins.  Their count is pinned across rounds (20);\n"
        "a NEW one appearing in a diff is the regression signal.\n"
    )
    for name in HEADLINE:
        # suite consolidation removed some standalone registry names;
        # their query functions remain — review those plans directly
        fn = qs.get(name) or getattr(em, f"q_{name}", None)
        if fn is None:
            continue
        df = fn(spark, args.sf)
        plan = df._jdf.queryExecution().explainString(_mode(df))
        buf.write(f"\n## {name}\n\n")
        for n in audit(plan):
            buf.write(f"- {n}\n")
        buf.write("\n```\n")
        buf.write(plan.strip()[:12000])
        buf.write("\n```\n")
        print(f"{name}: {'; '.join(audit(plan)[-1:])}", flush=True)
    with open(args.out, "w") as f:
        f.write(buf.getvalue())
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
