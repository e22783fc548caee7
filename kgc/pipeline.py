"""End-to-end KG-construction pipeline (the reference's convert() loop,
re-expressed as one staged Spark job — SURVEY §3 lifecycle).

    docs → spans (parse) → segments (pack) → mentions (dict scan)
         → linked (mentions ⨝ broadcast resolved dictionary: exact
           top-1 entity + canonical id, kgc.canon.resolve_dictionary)
         → triples (+ @context table) → metrics

Each stage optionally lands in a StageStore (parquet + manifest locally,
Iceberg on a cluster) so a rerun resumes (G8): a stage is reread when its
manifest fingerprint (documents, token limits and, from ``mentions`` on,
the dictionary hash) matches the current inputs, and recomputed
otherwise.

Run: ``python -m kgc.pipeline --sf /root/testdata/sf0.001``
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgc import canon, mentions, metrics, parsers, segment, triples, vocab
from kgc.checkpoint import StageStore
from kgc.functions import COMMON_TYPES
from kgc.synth import alias_dict_df


# ------------------------------------------------------------------- E2 ---
def classify_main_type(
    segments_df: DataFrame, linked: DataFrame
) -> DataFrame:
    """Deterministic E2 (determineMainType, converter.go:122-141):
    the segment's main type is the first type of the reference's
    commonTypes priority list (converter.go:147-156) that any linked
    entity in the segment carries; fallback 'Thing' exactly as the
    reference (converter.go:168).

    One groupBy on (doc_id, seg_id) collecting the distinct type set —
    map-side partial aggregation keeps the shuffle narrow.
    """
    votes = linked.groupBy("doc_id", "seg_id").agg(
        F.collect_set("entity_type").alias("_types")
    )
    pick = F.coalesce(
        *[
            F.when(F.array_contains(F.col("_types"), t), F.lit(t))
            for t in COMMON_TYPES
        ],
        F.lit("Thing"),
    )
    return (
        segments_df.join(votes, ["doc_id", "seg_id"], "left")
        .withColumn(
            "main_type",
            F.when(F.col("_types").isNotNull(), pick).otherwise(F.lit("Thing")),
        )
        .drop("_types")
    )


# -------------------------------------------------------- entity triples ---
def entity_triples(linked_canon: DataFrame) -> DataFrame:
    """Linked+canonicalized mentions → KG triples keyed by segment:
    ``seg:<doc>#<seg> --pred--> ent:<canonical_id>`` plus the entity's
    @type and name (kgc.triples.unfold_entities).  Output
    ``doc_id, seg_id, subj, pred, obj, obj_type``; the dedup shuffle
    (G7) runs downstream in triples.dedup_triples."""
    seg_subj = F.concat(
        F.lit("seg:"), F.col("doc_id").cast("string"), F.lit("#"),
        F.col("seg_id").cast("string"),
    )
    return triples.unfold_entities(
        linked_canon, seg_subj, "canonical_id",
        keys=(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("seg_id").cast("int").alias("seg_id"),
        ),
    )


# ----------------------------------------------------------- quarantine ---
def quarantine_table(
    docs: DataFrame,
    guarded_segs: DataFrame,
    token_limit: int,
) -> DataFrame:
    """C5/E6 — per-stage quarantine table (doc_id, seg_id, stage, reason).

    Relational form of the reference's error taxonomy
    (internal/jsonld/error.go:7-33): ConversionError(stage) → the
    ``stage`` column; TokenLimitError(limit, count) → reason
    'token_limit_exceeded' with the count in ``detail``.  At 10^12 docs
    a poison row must never kill the job — bad rows route HERE and the
    healthy flow continues (SURVEY C5).
    """
    if "parse_error" in docs.columns:
        # parse_documents(pdf_col=...) carries the real failure reason
        # (PdfUnsupportedError message etc.) out of the Arrow batch
        reason = F.when(
            F.col("parse_error").isNotNull(), F.lit("pdf_unsupported")
        ).otherwise(F.lit("empty_document"))
        detail = F.col("parse_error")
    else:
        reason = F.lit("empty_document")
        detail = F.lit(None).cast("string")
    q_parse = docs.filter(F.size("spans") == 0).select(
        "doc_id",
        F.lit(None).cast("int").alias("seg_id"),
        F.lit("parse").alias("stage"),
        reason.alias("reason"),
        detail.alias("detail"),
    )
    q_seg = guarded_segs.filter(~F.col("ok")).select(
        "doc_id",
        F.col("seg_id").cast("int").alias("seg_id"),
        F.lit("segment").alias("stage"),
        F.lit("token_limit_exceeded").alias("reason"),
        F.concat(
            F.lit("n_tokens="), F.col("n_tokens").cast("string"),
            F.lit(" limit="), F.lit(str(token_limit)),
        ).alias("detail"),
    )
    return q_parse.unionByName(q_seg)


def release(stages: dict[str, DataFrame]) -> None:
    """Unpersist every cache pinned by ``run`` (and by operators that
    attach their internal persists via ``_kgc_pinned``).  Call once the
    stage outputs are materialized — in a long-lived session the stage
    caches are otherwise a leak (VERDICT r1 'What's wrong' #4)."""
    seen = set()
    for df in stages.values():
        if not isinstance(df, DataFrame):
            continue
        for p in [df, *getattr(df, "_kgc_pinned", [])]:
            if id(p) in seen:
                continue
            seen.add(id(p))
            try:
                if p.storageLevel.useMemory or p.storageLevel.useDisk:
                    p.unpersist(blocking=True)
            except Exception:
                pass


# ------------------------------------------------------------- pipeline ---
def input_fingerprint(docs: DataFrame) -> str:
    """Cheap deterministic input identity for resume validation: row
    count + crc32-sum of doc_ids.  One narrow scan; only paid when a
    StageStore is attached (restart-time, not steady-state)."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.crc32(F.col("doc_id").cast("string"))), F.lit(0)).alias("c"),
    ).first()
    return f"{row['n']}:{row['c']}"


def run(
    spark: SparkSession,
    docs: DataFrame,
    alias_df: DataFrame | None = None,
    max_tokens: int = 200,
    store: StageStore | None = None,
    fuzzy: bool = True,
    seg_token_limit: int | None = None,
    bucket_stages: int | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline.  ``docs`` needs (doc_id, spans) or (doc_id, text).

    Linking and canonicalization are resolved once per dictionary on
    the driver (:func:`kgc.canon.resolve_dictionary`); the ``linked``
    stage is the scanned mentions joined with that broadcast table,
    carrying ``canonical_id``.  The scanner only emits dictionary keys,
    so every mention hits and no fuzzy (LSH) link is ever needed:
    ``fuzzy`` is accepted for existing callers and ignored
    (:func:`kgc.link.link_mentions` keeps the fuzzy path as a library
    operator).

    Returns every stage DataFrame; with a StageStore, stages already
    committed AND fingerprint-matching the current inputs are read back
    instead of recomputed (resume path — a changed input invalidates
    the stage rather than silently serving stale output; ADVICE r1).
    ``segments`` is keyed on the documents and the token limits; every
    later stage also on a hash of the dictionary.
    Segments violating the token guard (E6) and unparseable docs land
    in stages['quarantine'] instead of the healthy flow.  Call
    :func:`release` when done with the outputs to drop the stage
    caches.

    ``bucket_stages=N`` (needs a store) materializes every stage as a
    table bucketed+sorted on doc_id into N buckets: downstream doc_id
    joins between stages run with no shuffle exchange, the Iceberg bucket-partitioning posture
    (StageStore.write_bucketed).
    """
    # one driver-side collect of the dictionary; detect_mentions ships
    # the aliases back out as a real sc.broadcast (once per worker), and
    # the scan trie is built once per Python worker process
    # (kgc/mentions.py)
    resolved = canon.resolve_dictionary(
        alias_df if alias_df is not None else alias_dict_df(spark)
    )
    limit = seg_token_limit if seg_token_limit is not None else max_tokens

    parsed_here = "spans" not in docs.columns
    if parsed_here:
        src = "source" if "source" in docs.columns else None
        pdf = "payload" if "payload" in docs.columns else None
        docs = parsers.parse_documents(
            docs, text_col="text", source_col=src, pdf_col=pdf
        )
    keep = [F.col("doc_id").cast("string").alias("doc_id"), F.col("spans")]
    if "parse_error" in docs.columns:  # real parse-failure reason → quarantine
        keep.append(F.col("parse_error"))
    docs = docs.select(*keep)

    seg_fp = dict_fp = None
    if store is not None:
        seg_fp = f"{input_fingerprint(docs)};tokens={max_tokens}/{limit}"
        dict_fp = f"{seg_fp};dictionary={resolved.fingerprint}"
    pinned: list[DataFrame] = []
    if parsed_here and store is None:
        # the parse is a stage boundary too: segments and quarantine
        # both read it, and unpersisted each would rerun the parser UDFs
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(docs)

    def stage(name: str, make, fp: str | None):
        if store is not None:
            if store.is_valid(name, fp):
                if bucket_stages:
                    return store.read_bucketed(spark, name)
                return store.read(spark, name)
            store.invalidate(name)
            made = make()
            if bucket_stages and "doc_id" in made.columns:
                out = store.write_bucketed(
                    made, name, key="doc_id", buckets=bucket_stages,
                    extra={"fingerprint": fp},
                )
            else:
                out = store.write(made, name, extra={"fingerprint": fp})
            return out
        # No store: persist as the stage boundary.  Stage outputs are
        # consumed by several downstream branches (typing + triples);
        # the boundary both avoids recomputing the UDF stages per
        # branch and sidesteps Spark 4.1's self-union re-clone leaving
        # pandas UDFs un-extracted in JVM projects.  Pinned caches are
        # released by :func:`release` once consumers materialize.
        df = make().persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(df)
        return df

    segs_all = stage(
        "segments",
        lambda: segment.token_guard(
            segment.segment_documents(docs, max_tokens=max_tokens), limit
        ),
        seg_fp,
    )
    quar = quarantine_table(docs, segs_all, limit)
    segs = segs_all.filter(F.col("ok")).drop("ok")
    ment = stage(
        "mentions",
        lambda: mentions.detect_mentions(
            segs.select("doc_id", "seg_id", "seg_text"), resolved.aliases
        ),
        dict_fp,
    )
    linked = stage(
        "linked", lambda: canon.link_resolved(ment, resolved.table), dict_fp
    )
    typed_segs = classify_main_type(segs.select("doc_id", "seg_id"), linked)
    ents = entity_triples(linked)
    seg_types = typed_segs.select(
        "doc_id", "seg_id",
        F.concat(
            F.lit("seg:"), F.col("doc_id"), F.lit("#"), F.col("seg_id").cast("string")
        ).alias("subj"),
        F.lit("@type").alias("pred"),
        F.col("main_type").alias("obj"),
        F.lit("literal").alias("obj_type"),
    )
    trip = stage(
        "triples",
        lambda: triples.dedup_triples(ents.unionByName(seg_types)),
        dict_fp,
    )
    # per-document view for the JSON-LD sink: dedup scoped to the doc so
    # every rendered file is self-contained (an entity's @type/name node
    # appears in EACH doc that references it, like the reference's
    # per-document outputs) — the global `triples` table stays the
    # storage-efficient representation.
    doc_trip = ents.unionByName(seg_types).dropDuplicates(
        ["doc_id", "subj", "pred", "obj"]
    )
    types_df, props_df = vocab.builtin_vocab(spark)
    ctx = vocab.context_table(types_df, props_df)

    out = {
        "documents": docs,
        "segments": segs,
        "mentions": ment,
        "linked": linked,
        "triples": trip,
        "doc_triples": doc_trip,
        "context": ctx,
        "quarantine": quar,
    }
    # expose pinned caches on the dict consumer-side release
    out["segments"]._kgc_pinned = pinned  # type: ignore[attr-defined]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None, help="StageStore dir (enables resume)")
    ap.add_argument("--max-tokens", type=int, default=200)
    args = ap.parse_args()

    from kgc.session import get_spark
    from kgc.synth import testdata_alias_df

    spark = get_spark("kgc-pipeline")
    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    alias_df = testdata_alias_df(spark)
    store = StageStore(args.out) if args.out else None
    t0 = time.time()
    stages = run(
        spark, docs, alias_df=alias_df, store=store,
        max_tokens=args.max_tokens,
    )
    n_triples = stages["triples"].count()
    elapsed = time.time() - t0
    pred_counts = {
        r["pred"]: r["n_triples"]
        for r in metrics.triple_metrics(stages["triples"]).collect()
    }
    print(
        json.dumps(
            {
                "n_docs": stages["documents"].count(),
                "n_segments": stages["segments"].count(),
                "n_mentions": stages["mentions"].count(),
                "n_triples": n_triples,
                "triples_per_sec": n_triples / elapsed if elapsed else None,
                "elapsed_sec": round(elapsed, 2),
                "pred_counts": pred_counts,
            }
        )
    )


if __name__ == "__main__":
    main()
