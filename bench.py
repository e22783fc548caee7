#!/usr/bin/env python
"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "triples_per_sec": ..., "cpus": ...}

The primary BASELINE metric is triples/sec of the full KG pipeline;
per-query wall times cover the heavy operator families (dedup, simhash,
ANN, rollups).  scripts/scaling.py runs this at two parallelism levels
for the N-vs-4N scaling-efficiency number.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as em
    from kgbench.run import _proc_stat as read_stat
    from kgc.session import get_spark

    spark = get_spark(
        "kgc-bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    # warm the JVM + Arrow path so per-query times measure the operators
    spark.range(1000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    steal: dict[str, list[float]] = {}
    controls: list[dict] = []
    n_triples = 0

    def timed_pass(df) -> tuple[float, float]:
        """One noop-sink execution → (wall sec, co-tenant steal %)."""
        tot0, st0 = read_stat()
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        tot1, st1 = read_stat()
        pct = 100.0 * (st1 - st0) / max(tot1 - tot0, 1)
        return dt, round(pct, 2)

    # Fixed control job: a ~1-second-class pure-CPU md5 scan whose plan
    # never changes.  Its wall time, interleaved through the run, IS the
    # artifact's own noise floor — a slow query pass next to a slow
    # control pass (or a high steal %) is the neighbor, not the plan
    # (VERDICT r3 "What's wrong" #1: make the bench self-evidencing).
    from pyspark.sql import functions as F

    control_df = spark.range(0, 24_000_000, 1, numPartitions=cpus * 2).select(
        F.md5(F.col("id").cast("string")).alias("h")
    )
    # one untimed execution: absorb the one-time Janino codegen compile
    # so recorded control passes measure the window, not the warmup
    control_df.write.format("noop").mode("overwrite").save()

    def run_control(after: str) -> None:
        dt, pct = timed_pass(control_df)
        controls.append(
            {"after": after, "sec": round(dt, 3), "steal_pct": pct}
        )

    # N timed passes per query (default 4, SPARK_GRAFT_BENCH_PASSES), report the MIN.  This sandbox VM
    # sees multi-minute co-tenant windows where EVERYTHING runs 20-60x
    # slow (the fixed control job has been measured 0.5s → 30s inside
    # one, with near-zero /proc/stat steal — the neighbor is inside the
    # VM, not the hypervisor).  Three back-to-back passes of one query
    # can all land inside a single window (round-4 diagnosis of the
    # r3 pipeline_triples 1.87x "regression"), so passes are
    # interleaved ACROSS queries: pass A of every query, then pass B,
    # then pass C — each query is sampled at three well-separated
    # times and min-of-3 measures the plan, not the neighbor.  Every
    # pass + its steal share is recorded, with the control threaded
    # through, so the artifact shows WHICH passes were noisy.
    #
    # Plans are built ONCE and reused across passes: per-pass plan
    # rebuilds add 10-20s of Janino codegen compile (new expr IDs =
    # cache miss) that is one-time work at scale, not per-query cost
    # (same rule as scripts/scaling.py).  clearCache between passes
    # drops operator-internal persists so every pass re-executes the
    # full dataflow.  (Engine-side nondeterminism — the r1 JIT
    # code-cache thrash — is fixed separately: lanes-as-data operators
    # + 2g reserved code cache; see kgc/session.py.)
    #
    # Timed action = noop-sink write, NOT count(): count() lets
    # Catalyst prune every column a projection-only query computes
    # (langid "ran" in 0.07s while never evaluating the language
    # detector); the noop sink materializes every output column.
    jobs: list[tuple[str, object]] = []

    def run(name: str, fn) -> None:
        jobs.append((name, fn(spark, sf_dir)))

    run("pipeline_triples", em.q_pipeline_triples)
    run("pipeline_interleaved", em.q_pipeline_interleaved)
    run("segments", em.q_segments)
    run("mentions", em.q_mentions)
    run("link_topk", em.q_link_topk)
    run("minhash_pairs", em.q_minhash_pairs)
    run("simhash", em.q_simhash)
    run("ngram_jaccard", em.q_ngram_jaccard)
    run("fingerprint", em.q_fingerprint)
    run("langid", em.q_langid)
    run("quality", em.q_quality)
    # ann_ivf IS the benched ANN headline (VERDICT r2 'What's wrong'
    # #1): the scale path — corpus shuffled once onto k-means cells,
    # queries probe n_probe lists, nothing pairwise leaves a cell.
    # Brute force stays benched alongside as the documented in-bucket
    # primitive / recall oracle (pytest gates IVF recall@k ≥ 0.9 vs it:
    # tests/test_dataops.py).
    run("ann_ivf", em.q_ann_ivf)
    run("ann_topk", em.q_ann_topk)
    run("ann_lsh", em.q_ann_lsh)
    run("embed_neardup", em.q_embed_neardup)
    run("events_rollup", em.q_events_rollup)
    run("revenue_by_nation", em.q_revenue_by_nation)
    run("user_journeys", em.q_user_journeys)
    run("repetition", em.q_repetition)
    run("corpus_mix", em.q_corpus_mix)
    run("stratified_sample", em.q_stratified_sample)
    run("decontaminate", em.q_decontaminate)
    run("dedup_incremental", em.q_dedup_incremental_batch)
    run("paragraph_dedup", em.q_paragraph_dedup)
    run("pii_suite", em.q_pii_suite)
    run("lm_score", em.q_lm_score)
    run("corpus_curation", em.q_corpus_curation)
    run("dup_ngrams", em.q_dup_ngrams)
    run("dup_ngrams_incremental", em.q_dup_ngrams_incremental)
    run("source_caps", em.q_source_caps)
    # semantic_dedup: centroid training happens at plan-build (same
    # amortized-offline treatment as ann_ivf); the timed dataflow is
    # assignment + in-cell pair scan + verdict join.
    run("semantic_dedup", em.q_semantic_dedup)
    run("entity_cocitation", em.q_entity_cocitation)
    # subclass_closure is driver-iterative (the closure materializes
    # during plan build, like pagerank_entities) — excluded for the
    # same reason pagerank is.

    # --- SPARQL KG-consumer leg: the BGP query planner measured at KG
    # scale, decoupled from pipeline-construction cost.  The
    # deterministic synthetic KG (kgc.synth.synthetic_kg, 5.4M triples
    # with one hot entity) is staged to parquet ONCE at build time —
    # the warehouse copy a consumer actually queries.  The
    # timed dataflow is the 4-pattern chain+star SPARQL text: parse →
    # selectivity-ordered equi-joins (two broadcast dimension legs, two
    # fact legs, no cartesian) → DISTINCT.
    import tempfile

    from kgc.graph import sparql_query
    from kgc.synth import synthetic_kg

    kg_dir = tempfile.mkdtemp(prefix="kgc_bench_kg_")
    synthetic_kg(spark, 1).write.mode("overwrite").parquet(kg_dir)
    jobs.append((
        "sparql_kg",
        sparql_query(
            spark.read.parquet(kg_dir),
            """SELECT DISTINCT ?d ?p ?pl WHERE {
                 ?d mentions ?p . ?p "@type" Person .
                 ?d locations ?pl . ?pl "@type" Place }""",
        ),
    ))
    # group algebra at KG scale: a 2-branch UNION over the two fact
    # predicates (8M rows per branch pre-filter), a VALUES type probe
    # joined against the broadcast @type dimension, and MINUS removing
    # every doc that touches the hot entity (ent:1 rides ~10% of the
    # 4M mention edges — the anti join is the skew-relevant shape).
    jobs.append((
        "sparql_algebra",
        sparql_query(
            spark.read.parquet(kg_dir),
            """SELECT DISTINCT ?d ?p ?t WHERE {
                 { ?d mentions ?p } UNION { ?d locations ?p }
                 ?p "@type" ?t .
                 VALUES ?t { Person Place }
                 MINUS { ?d mentions ent:1 } }""",
        ),
    ))

    # r5-finale surface at KG scale: string-test + IN filters and an
    # IF/STRLEN bind over the same staged KG — all Catalyst built-ins
    # (zero UDFs), so this leg times the scalar/filter compilation
    # machinery inside whole-stage codegen.
    jobs.append((
        "sparql_scalar",
        sparql_query(
            spark.read.parquet(kg_dir),
            """SELECT DISTINCT ?e ?tag WHERE {
                 ?e "@type" ?t . ?e name ?n .
                 FILTER (?t IN ("Person", "Place") && CONTAINS(?n, "1"))
                 BIND (IF(STRLEN(?n) > 8, "long", "short") AS ?tag) }""",
        ),
    ))

    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "4"))
    run_control("start")
    for pass_i in range(n_passes):
        for i, (name, df) in enumerate(jobs):
            spark.catalog.clearCache()
            dt, pct = timed_pass(df)
            passes.setdefault(name, []).append(round(dt, 3))
            steal.setdefault(name, []).append(pct)
            if i % 6 == 5:
                run_control(f"p{pass_i}:{name}")
        run_control(f"end-of-pass-{pass_i}")
    timings.update({name: min(p) for name, p in passes.items()})
    for name, df in jobs:
        if name == "pipeline_triples":
            n_triples = df.count()

    # --- skewed-graph CC leg (VERDICT r3 task 8): the salting claim
    # gets a number.  connected_components is driver-iterative (eager
    # localCheckpoint per star round), so each pass times the FULL call
    # — graph build through final assignment — not a prebuilt plan.
    # The graph is a deterministic hot-hub power-law synthetic
    # (~850k edges): one mega-hub (node 0, 200k neighbors — the distribution
    # that melts an unsalted per-key min), 50 heavy-tail hubs with 4k
    # neighbors each, and a hash ring stitching the id space into a few
    # giant components (~850k edges).  small_graph_threshold=0 forces the distributed
    # star-contraction + salted-min path (kgc/canon.py:46-98).
    from kgc.canon import connected_components

    hub = spark.range(200_000).select(
        F.lit(0).cast("bigint").alias("src"), (F.col("id") + 1).alias("dst")
    )
    tails = spark.range(200_000).select(
        (F.pmod(F.xxhash64("id"), F.lit(50)) + 1).alias("src"),
        (F.col("id") + 250_000).alias("dst"),
    )
    ring = spark.range(450_000).select(
        (F.col("id") + 1).alias("src"),
        (F.pmod(F.xxhash64(F.col("id") + 7), F.lit(650_000)) + 1).alias("dst"),
    )
    cc_edges = hub.unionByName(tails).unionByName(ring)
    for _ in range(2):
        tot0, st0 = read_stat()
        t0 = time.time()
        cc = connected_components(cc_edges, small_graph_threshold=0)
        cc.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        tot1, st1 = read_stat()
        passes.setdefault("cc_skewed", []).append(round(dt, 3))
        steal.setdefault("cc_skewed", []).append(
            round(100.0 * (st1 - st0) / max(tot1 - tot0, 1), 2)
        )
    timings["cc_skewed"] = min(passes["cc_skewed"])
    # hybrid tail (local_finish_threshold): the same graph, but once an
    # iteration's contracted edge set fits the driver budget the tail
    # finishes with union-find — the production shape (bulk distributed
    # + salted, scheduler-bound confirmation iterations skipped).
    # Output equality vs the pure run is pytest-pinned.
    for _ in range(2):
        tot0, st0 = read_stat()
        t0 = time.time()
        cc = connected_components(
            cc_edges, small_graph_threshold=0, local_finish_threshold=1_000_000
        )
        cc.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        tot1, st1 = read_stat()
        passes.setdefault("cc_skewed_hybrid", []).append(round(dt, 3))
        steal.setdefault("cc_skewed_hybrid", []).append(
            round(100.0 * (st1 - st0) / max(tot1 - tot0, 1), 2)
        )
    timings["cc_skewed_hybrid"] = min(passes["cc_skewed_hybrid"])
    run_control("cc_skewed")

    total = round(sum(timings.values()), 3)
    ctl_secs = [c["sec"] for c in controls]
    out = {
        "metric": "kgc_headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "n_triples": n_triples,
        "triples_per_sec": round(n_triples / timings["pipeline_triples"], 2)
        if timings.get("pipeline_triples")
        else None,
        # self-evidence (VERDICT r3): every pass + its co-tenant steal
        # share, and a fixed control job's trace through the window.
        # control_spread >> 1 or steal spikes = hot window, not plans.
        "passes": passes,
        "pass_steal_pct": steal,
        "control": controls,
        "control_min": min(ctl_secs),
        "control_max": max(ctl_secs),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
