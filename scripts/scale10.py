#!/usr/bin/env python
"""10x scale point for the two headline queries (VERDICT r4 task #7):
run `pipeline_triples` and `minhash_pairs` on the sf0.1 corpus AND on a
staged sf1-equivalent corpus (10x the documents), same session, same
noop-sink min-of-N protocol as bench.py, and report the wall-time ratio
— a real scale-cliff detector (AQE coalesce behavior, band-join skew,
Arrow batch sizing) that local[32] can still afford.

Corpus construction (staged once to parquet; staging time excluded):

* pipeline replicas keep the TEXT UNCHANGED, doc_id offset by
  1M * replica — every stage of the pipeline is per-doc (segment →
  mention scan → link → canon → triples), so this is an exactly-10x
  workload with the same per-doc cost profile.
* minhash replicas SALT every inter-word gap with a replica token
  (`a b` -> `a r3 b`): every 3-gram shingle of a salted replica
  contains its salt token, so replicas of the same doc are NOT
  near-duplicates of each other or of the original — the corpus's
  near-dup pair structure replicates exactly 10x (pair output grows
  10x, not C(10,2) = 45x as identical copies would), which is the
  honest "bigger corpus, same dup density" scaling shape.

* the KG query layer gets its own pair (r5 finale): the bench's
  sparql_kg chain+star over the deterministic synthetic KG at 5.4M
  and 54M triples — pure join scaling, no Arrow stages.

Output: one JSON line {sf01: {...}, x10: {...}, ratio: {...}} plus a
.benchmarks artifact; the BASELINE.md row cites it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = 10


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))

    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from kgbench.run import _proc_stat as read_stat
    from kgc import pipeline
    from kgc.dedup import minhash_near_duplicates
    from kgc.session import get_spark

    spark = get_spark(
        "kgc-scale10", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    stage = tempfile.mkdtemp(prefix="kgc_scale10_")
    docs = em._docs(spark, sf_dir)
    rep = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("r")

    # pipeline corpus: text unchanged, ids offset
    (
        docs.select("*", rep)
        .select(
            (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
        .repartition(cpus)
        .write.parquet(f"{stage}/pipe10")
    )
    # minhash corpus: augmented (the bench's _aug_docs near-dup seeds),
    # then word-gap salted per replica (r0 keeps the original text)
    aug = em._aug_docs(spark, sf_dir)
    salt = F.concat(F.lit(" r"), F.col("r").cast("string"), F.lit(" "))
    (
        aug.select("doc_id", "text", rep)
        .select(
            (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
            F.when(F.col("r") == 0, F.col("text"))
            .otherwise(F.regexp_replace(F.col("text"), F.lit(" "), salt))
            .alias("text"),
        )
        .repartition(cpus)
        .write.parquet(f"{stage}/mh10")
    )

    def timed(df) -> tuple[float, float]:
        tot0, st0 = read_stat()
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        tot1, st1 = read_stat()
        return dt, round(100.0 * (st1 - st0) / max(tot1 - tot0, 1), 2)

    # plans built ONCE; clearCache between passes re-executes the full
    # dataflow (same protocol + rationale as bench.py)
    jobs: dict[str, object] = {}
    jobs["pipeline_sf01"] = pipeline.run(
        spark, docs, alias_df=em._alias_df(spark), max_tokens=200, fuzzy=False
    )["triples"]
    jobs["pipeline_x10"] = pipeline.run(
        spark,
        spark.read.parquet(f"{stage}/pipe10"),
        alias_df=em._alias_df(spark),
        max_tokens=200,
        fuzzy=False,
    )["triples"]
    jobs["minhash_sf01"] = minhash_near_duplicates(
        aug, k=16, bands=4, threshold=0.5
    )
    jobs["minhash_x10"] = minhash_near_duplicates(
        spark.read.parquet(f"{stage}/mh10"), k=16, bands=4, threshold=0.5
    )

    # KG query layer at 1x and 10x: the bench's sparql_kg 4-pattern
    # chain+star over kgc.synth.synthetic_kg, the bench's KG (5.4M ->
    # 54M triples; hot entity in ~10% of mention edges, type/name
    # dims).  The pipeline points cover
    # the Arrow stages; this point is pure join scaling.
    from kgc.graph import sparql_query
    from kgc.synth import synthetic_kg

    _KG_QUERY = """SELECT DISTINCT ?d ?p ?pl WHERE {
        ?d mentions ?p . ?p "@type" Person .
        ?d locations ?pl . ?pl "@type" Place }"""
    for scale in (1, 10):
        synthetic_kg(spark, scale).write.mode("overwrite").parquet(
            f"{stage}/kg{scale}"
        )
    jobs["sparqlkg_x1"] = sparql_query(
        spark.read.parquet(f"{stage}/kg1"), _KG_QUERY
    )
    jobs["sparqlkg_x10"] = sparql_query(
        spark.read.parquet(f"{stage}/kg10"), _KG_QUERY
    )

    rows = {name: df.count() for name, df in jobs.items()}

    passes: dict[str, list[float]] = {n: [] for n in jobs}
    steal: dict[str, list[float]] = {n: [] for n in jobs}
    for _ in range(n_passes):
        for name, df in jobs.items():
            spark.catalog.clearCache()
            dt, pct = timed(df)
            passes[name].append(round(dt, 3))
            steal[name].append(pct)

    best = {n: min(p) for n, p in passes.items()}
    out = {
        "metric": "kgc_scale10",
        "unit": "sec",
        "sf": sf_dir,
        "cpus": cpus,
        "replicas": REPLICAS,
        "rows": rows,
        "best": best,
        "ratio": {
            "pipeline": round(best["pipeline_x10"] / best["pipeline_sf01"], 2),
            "minhash": round(best["minhash_x10"] / best["minhash_sf01"], 2),
            "sparqlkg": round(best["sparqlkg_x10"] / best["sparqlkg_x1"], 2),
        },
        "passes": passes,
        "pass_steal_pct": steal,
    }
    print(json.dumps(out))
    shutil.rmtree(stage, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
