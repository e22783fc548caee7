#!/usr/bin/env python
"""Single-measurement KG-pipeline throughput job for the scaling
experiment: deterministic synthetic interleaved corpus (same input at
every parallelism level — seed-stable, generated in parallel from
spark.range) → kgc.pipeline.run on its spans (segments → mentions →
resolved-dictionary link → triples).  Prints one JSON line.

Used by scripts/scaling.py --mode synth; run standalone as
  SPARK_GRAFT_CPUS=8 python scripts/scale_job.py --n-docs 100000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=100_000)
    ap.add_argument("--max-tokens", type=int, default=60)
    ap.add_argument(
        "--n-parts", type=int, default=128,
        help="input partition count — a DATASET layout property, held "
        "identical across parallelism levels; 4×cores of the largest "
        "level by default (128 = 4 waves at 32 cores); finer grain "
        "(e.g. 256) reduces last-wave straggler quantization",
    )
    args = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from kgc import pipeline, synth
    from kgc.session import get_spark

    # IDENTICAL input layout at every parallelism level: partition count
    # and shuffle partitions are properties of the DATASET/job config,
    # not of the cluster size under test — varying them with cpus would
    # confound the scaling measurement (different Arrow batch sizes, GC
    # profiles).  128/64 are sized for the largest level (local[32]).
    N_PARTS = args.n_parts
    SHUFFLE_PARTS = 64
    spark = get_spark(
        "kgc-scale", master=f"local[{cpus}]", shuffle_partitions=SHUFFLE_PARTS
    )
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup

    # generate up front so timing measures the pipeline, not the synth
    docs = synth.generate_documents(spark, n_docs=args.n_docs, n_parts=N_PARTS)
    docs = docs.localCheckpoint(eager=True)

    # Build the job's DataFrame ONCE: plan analysis + codegen compile
    # are fixed per-job driver costs (seconds, independent of data
    # size) — on the 100 TB cluster run they are noise, so timing them
    # into every pass here would understate scaling.  Each timed pass
    # re-executes the full physical pipeline (scan → segment → pandas
    # UDF mentions → broadcast link → triples) end to end: run persists
    # its stages, so every pass starts from a cleared cache, as in
    # bench.py.
    triples = pipeline.run(spark, docs, max_tokens=args.max_tokens)["triples"]

    def one_pass() -> tuple[int, float]:
        spark.catalog.clearCache()
        t0 = time.time()
        n = triples.count()
        return n, time.time() - t0

    # warmup pass (python-worker spawn, JIT), then MIN of the measured
    # passes — this box is co-tenant-noisy (identical passes measured
    # 8.5-22.6s); the min is the standard least-interference estimator
    # and is what bench.py reports per query too.  Pass count is
    # overridable for the interleaved A/B/A/B protocol (scaling.py
    # --rounds), where cross-round mins replace within-leg repeats.
    n_passes = int(os.environ.get("SPARK_GRAFT_SCALE_PASSES", "3"))
    one_pass()
    runs = sorted([one_pass() for _ in range(n_passes)], key=lambda r: r[1])
    n_triples, elapsed = runs[0]
    out = {
        "cpus": cpus,
        "n_docs": args.n_docs,
        "n_triples": n_triples,
        "elapsed_sec": round(elapsed, 2),
        "triples_per_sec": round(n_triples / elapsed, 1),
        "docs_per_sec": round(args.n_docs / elapsed, 1),
        "all_runs_sec": [round(t, 2) for _, t in runs],
    }

    # Per-leg attribution controls (VERDICT r3 task 2): run INSIDE the
    # same pinned session so each scaling leg carries its own evidence.
    #   control_cpu — pure-ALU md5 chain over spark.range: zero memory
    #     traffic beyond codegen loops.  If ITS 8→32 efficiency is ~1,
    #     the window was quiet and the scheduler fans out cleanly; if
    #     the JOB then scales worse, the gap is the job's (shuffle,
    #     Python workers), not the machine's.
    #   control_bw — streaming sum over a localCheckpointed 150M-long
    #     column (~2.4 GB resident as UnsafeRows; sized to cache FULLY —
    #     at 400M the storage pool overflowed and partitions silently
    #     recomputed): trivially vectorized, so wall time is
    #     memory-bus-bound.  Its 8→32 efficiency measures the shared
    #     single-box bandwidth ceiling that a real 4×-executor cluster
    #     (per-node buses) does not have — the structural residual.
    if os.environ.get("SPARK_GRAFT_SCALE_CONTROLS") == "1":
        cpu_df = spark.range(0, 24_000_000, 1, numPartitions=N_PARTS).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )
        bw_df = spark.range(0, 150_000_000, 1, numPartitions=N_PARTS).select(
            F.col("id").alias("x")
        ).localCheckpoint(eager=True)

        def timed_min(df, agg, reps=2):
            df.agg(agg).collect()  # warmup (one-time codegen)
            best = None
            for _ in range(reps):
                t0 = time.time()
                df.agg(agg).collect()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 3)

        out["control_cpu_sec"] = timed_min(
            cpu_df, F.bit_xor(F.xxhash64("h")).alias("x")
        )
        out["control_bw_sec"] = timed_min(bw_df, F.sum("x").alias("s"))
        out["control_bw_gb"] = 2.4  # ~16 B/row × 150M resident UnsafeRows
        bw_df.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
