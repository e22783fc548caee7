"""Dedup / text-analysis / similarity-search operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgc import dedup, simsearch, textops


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# ----------------------------------------------------------------- dedup ---
_SHINGLE_EDGE_ROWS = [
    (9001, ""), (9002, "   "), (9003, "one"), (9004, "two words"),
    (9005, "a b c a b c a b c"), (9006, "Ünïcode wörds MIXED case"),
    (9007, "punct, only!!! ... ---"), (9008, None),
]


def test_shingle_udf_equals_catalyst_twin(spark, docs):
    """The ``sh`` field of make_shingle_band_udf (the Arrow scale path
    inside minhash_near_duplicates) must hold the EXACT arrays — values
    and first-occurrence order — of the Catalyst norm_tokens +
    shingles_from_tokens build the DuckDB oracle replays.  Edge rows:
    empty, blank, one token, Unicode, punctuation only, NULL."""
    from kgc.link import make_shingle_band_udf, shingles_from_tokens
    from kgc.textops import norm_tokens

    edge = spark.createDataFrame(_SHINGLE_EDGE_ROWS, "doc_id long, text string")
    d = docs.select("doc_id", "text").limit(300).unionByName(edge)
    cat = d.select(
        "doc_id", norm_tokens("text").alias("_t")
    ).select("doc_id", shingles_from_tokens(F.col("_t"), 3).alias("sh"))
    udf = d.select(
        "doc_id", make_shingle_band_udf(16, 4)(F.col("text")).alias("_mh")
    )
    a = {r["doc_id"]: r["sh"] for r in cat.collect()}
    b = {r["doc_id"]: r["_mh"]["sh"] for r in udf.collect()}
    assert a == b


def test_shingle_band_udf_equals_lsh_band_keys(spark, docs):
    """make_shingle_band_udf (the single-pass minhash path) must
    produce the exact (doc_id, band, key) set of the lanes-as-data
    lsh_band_keys derivation the DuckDB oracle replays — md5 inputs,
    lane order inside the band key, everything."""
    from kgc.link import (make_shingle_band_udf, lsh_band_keys,
                          shingles_from_tokens)
    from kgc.textops import norm_tokens

    edge = spark.createDataFrame(_SHINGLE_EDGE_ROWS, "doc_id long, text string")
    d = docs.select("doc_id", "text").limit(250).unionByName(edge)
    sh = d.select("doc_id", norm_tokens("text").alias("_t")).select(
        "doc_id", shingles_from_tokens(F.col("_t"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    ref = {(r["doc_id"], r["band"], r["key"])
           for r in lsh_band_keys(sh, "sh", ["doc_id"], k=16, bands=4).collect()}
    mh = d.select(
        "doc_id", make_shingle_band_udf(16, 4)(F.col("text")).alias("_mh")
    ).collect()
    got = {(r["doc_id"], b["band"], b["key"])
           for r in mh for b in r["_mh"]["bands"]}
    assert got == ref and len(ref) > 0


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "unique"), (4, "same")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.exact_duplicates(df).collect()}
    assert set(out) == {1, 2, 4}
    assert all(r["group_size"] == 3 for r in out.values())
    assert out[1]["is_canonical"] and not out[2]["is_canonical"]


def test_minhash_finds_near_dups_not_random(spark, docs):
    d = docs.select("doc_id", "text")
    mut = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    pairs = dedup.minhash_near_duplicates(
        d.unionByName(mut), k=32, bands=8, threshold=0.5
    ).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    expected = {(i, i + 10000) for i in range(10)}
    # LSH is probabilistic: with 8 bands of 4 rows a ~0.85-jaccard pair
    # is caught w.p. ≈ 1-(1-0.85^4)^8 ≈ 0.99 — require ≥8/10.
    assert len(found & expected) >= 8, found
    # The corpus is NOT duplicate-free — the sf testdata contains true
    # near-dups (e.g. docs 8/12 have 3-gram Jaccard 0.974; VERDICT r1
    # verified this in DuckDB).  So instead of asserting found ==
    # expected, assert every reported pair is a TRUE near-dup: its
    # exact shingle Jaccard (independent recomputation) >= threshold.
    cand = spark.createDataFrame(
        [(a, b) for a, b in found], "a long, b long"
    )
    verified = dedup.ngram_jaccard_pairs(d.unionByName(mut), cand).collect()
    assert len(verified) == len(found)
    for r in verified:
        assert r["jaccard"] >= 0.5, (r["a"], r["b"], r["jaccard"])


def test_minhash_pairs_plan_shape(spark):
    """Plan-shape regression pin for the minhash_pairs bench leg (the
    r4 single-pass Arrow path).  Two past regressions this must catch
    early (both were caught late, by the bench):

    * CollapseProject cloning the shingle+band UDF into THREE live
      ArrowEvalPython nodes when the persist at the struct boundary is
      lost (0.84 s → 4.2 s).  In a healthy plan every ArrowEvalPython
      occurrence is the SAME cached node reprinted inside an
      InMemoryRelation dump — identical expression ids, hence exactly
      one distinct line.  Clones get fresh attribute ids and show up
      as >1 distinct line.
    * The lanes-as-data min(string) SortAggregate the single-pass UDF
      removed (3.6 s of the 8 s query) — must stay gone.

    Also pins: band self-join stays an equi-join (no nested loop /
    cartesian)."""
    docs = spark.createDataFrame(
        [(i, ("alpha beta gamma delta epsilon zeta " * 3) + f"x{i % 3}")
         for i in range(30)],
        "doc_id long, text string",
    )
    out = dedup.minhash_near_duplicates(docs, k=16, bands=4, threshold=0.5)
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        arrow_nodes = {
            l[l.index("ArrowEvalPython"):]
            for l in plan.splitlines() if "ArrowEvalPython" in l
        }
        assert len(arrow_nodes) == 1, arrow_nodes
        assert "SortAggregate" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    finally:
        for d in getattr(out, "_kgc_pinned", []):
            d.unpersist()


def test_simhash_stability_and_sensitivity(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and AGAIN"),
            (3, "completely different content about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    h = {r["doc_id"]: r["h"] for r in dedup.with_simhash(df, out_col="h").collect()}
    ham12 = bin(h[1] ^ h[2]).count("1")
    ham13 = bin(h[1] ^ h[3]).count("1")
    assert h[1] == h[2]  # case-normalized tokens → identical
    assert ham13 > 10


def test_embedding_neardup_exact_copies(spark, emb):
    e = emb.select("vec_id", "embedding")
    aug = e.unionByName(
        e.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
        )
    )
    pairs = dedup.embedding_near_duplicates(aug).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert {(i, i + 9000) for i in range(5)} <= found


# --------------------------------------------------------------- textops ---
def test_langid_french_english(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is happy with the dog"),
            (2, "le chat est sur la table et il est content dans la maison"),
            (3, "der hund ist in dem haus und die katze ist auf dem tisch"),
            (4, "今日は良い天気ですね散歩に行きましょう"),
            (5, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["l"] for r in textops.with_language(df, out_col="l").collect()}
    assert out[1] == "en" and out[2] == "fr" and out[3] == "de"
    assert out[4] == "zh" and out[5] == "und"


def test_quality_orders_prose_above_soup(spark):
    df = spark.createDataFrame(
        [
            (1, "The committee published the report and it was discussed in the assembly for days."),
            (2, "x x x x x x x x x x"),
            (3, "!!! ??? ### $$$ %%%"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["score"] for r in textops.with_quality_features(df).collect()}
    assert out[1] > out[2] > out[3]


def test_fingerprint_stable_and_distinct(spark, docs):
    fp = textops.with_fingerprint(docs.select("doc_id", "text")).select("doc_id", "fp")
    n = fp.count()
    assert fp.select("fp").distinct().count() > n * 0.9
    fp2 = textops.with_fingerprint(docs.select("doc_id", "text")).select("doc_id", "fp")
    assert fp.exceptAll(fp2).count() == 0


# ------------------------------------------------------------- simsearch ---
def test_lsh_ann_recall_vs_bruteforce(spark):
    # Planted-neighbor corpus: on 500 RANDOM gaussians near-neighbors
    # are nearly orthogonal and hyperplane LSH legitimately has ~no
    # signal (round-1 flake — recall 0.1 on noise is expected, not a
    # bug).  LSH recall is only meaningful when true neighbors have
    # high cosine, so plant clusters: 10 centroids × 6 small-noise
    # members (cosine ≈ 0.99 within a cluster).
    import math
    import random

    rng = random.Random(42)
    dim = 64
    rows = []
    for c in range(10):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in base))
        base = [x / n for x in base]
        for m in range(6):
            v = [x + rng.gauss(0, 0.02) for x in base]
            rows.append((c * 100 + m, v))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = corpus.filter(F.col("vec_id") % 100 == 0)
    exact = simsearch.topk_bruteforce(q, corpus)
    approx = simsearch.topk_lsh(q, corpus, planes=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # cluster members are near-duplicates of the query: each of the 8
    # hyperplanes flips between query and member only if the plane
    # passes through the ~0.02-noise cone, so sketches collide or are
    # within hamming 1 with high probability.
    assert recall >= 0.6, recall


def test_pandas_ann_matches_catalyst(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = simsearch.topk_bruteforce(q, emb)
    corpus = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    pnd = simsearch.topk_bruteforce_pandas(q, corpus, k=5)
    e = sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in exact.collect())
    p = sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in pnd.collect())
    assert e == p


def test_blocked_ann_matches_catalyst(spark, emb):
    """Corpus-streaming variant (queries broadcast, corpus never
    collected): exact parity with the Catalyst brute force including
    cosine values, across multiple corpus partitions (partial top-k
    merge must be exact)."""
    q_rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 10).collect()
    ]
    blocked = simsearch.topk_blocked_pandas(q_rows, emb.repartition(7))
    exact = simsearch.topk_bruteforce(
        emb.filter(F.col("vec_id") < 10), emb
    )
    e = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in exact.collect()
    )
    b = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in blocked.collect()
    )
    assert e == b


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF (k-means cells, 4 probed lists): on a planted-cluster corpus
    the quantizer recovers the clusters, so probing the top cells finds
    essentially all true neighbors."""
    import math
    import random

    rng = random.Random(7)
    dim = 64
    rows = []
    for c in range(10):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in base))
        base = [x / n for x in base]
        for m in range(6):
            v = [x + rng.gauss(0, 0.02) for x in base]
            rows.append((c * 100 + m, v))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = corpus.filter(F.col("vec_id") % 100 == 0)
    cents = simsearch.train_centroids(corpus, n_centroids=10, iters=3)
    assert len(cents) == 10 and all(len(v) == dim for _, v in cents)
    exact = simsearch.topk_bruteforce(q, corpus)
    approx = simsearch.topk_ivf(q, corpus, cents)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # a cluster's members land in the same cell (intra-cluster cosine
    # ~0.99 vs ~0 across clusters); probing 4 cells out of 10 must
    # recover nearly every within-cluster neighbor
    assert recall >= 0.9, recall


# ------------------------------------------------------- PII / paragraphs ---
def test_pii_hits_and_redact(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org or call +33612345678"),
            (2, "server at 192.168.1.254 and 10.0.0.1 in the rack"),
            (3, "no pii here at all"),
            (4, "version 1.2.3.4.5 has dots"),  # 5 octets still hits 4
        ],
        "doc_id long, text string",
    )
    hits = {(r["doc_id"], r["kind"], r["hit"])
            for r in textops.pii_hits(df).collect()}
    assert (1, "email", "jo.doe+x@sub.example.org") in hits
    assert (1, "phone", "+33612345678") in hits
    assert (2, "ipv4", "192.168.1.254") in hits
    assert (2, "ipv4", "10.0.0.1") in hits
    assert not any(d == 3 for d, _, _ in hits)

    red = {r["doc_id"]: r["redacted"]
           for r in textops.pii_redact(df).collect()}
    assert red[1] == "mail me at <EMAIL> or call <PHONE>"
    assert red[2] == "server at <IPV4> and <IPV4> in the rack"
    assert red[3] == "no pii here at all"


def test_paragraph_dedup_removes_boilerplate_keeps_order(spark):
    boiler = "all rights reserved"
    rows = [
        (i, [f"doc {i} intro", boiler, f"doc {i} body", f"doc {i} outro"])
        for i in range(10)
    ] + [(99, [boiler])]  # a doc that is ONLY boilerplate
    df = spark.createDataFrame(rows, "doc_id long, paragraphs array<string>")
    out = {r["doc_id"]: r
           for r in dedup.paragraph_dedup(df, min_count=5).collect()}
    assert len(out) == 11
    assert out[0]["kept_text"] == "doc 0 intro\ndoc 0 body\ndoc 0 outro"
    assert out[0]["n_kept"] == 3 and out[0]["n_removed"] == 1
    assert out[99]["kept_text"] == "" and out[99]["n_kept"] == 0
    assert out[99]["n_removed"] == 1


def test_paragraph_dedup_below_threshold_keeps_everything(spark):
    rows = [(i, ["shared line", f"own {i}"]) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, paragraphs array<string>")
    out = dedup.paragraph_dedup(df, min_count=5).collect()
    assert all(r["n_removed"] == 0 for r in out)
    assert all(r["kept_text"].startswith("shared line\n") for r in out)


def test_bigram_lm_flags_outlier(spark):
    corpus = [(i, "the quick brown fox jumps over the lazy dog again")
              for i in range(8)]
    corpus.append((99, "zxq vvk wopq jjt qqz mmx"))  # out-of-distribution
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.bigram_lm_scores(df).collect()}
    assert len(out) == 9
    # every in-distribution doc scores identically and above the outlier
    scores = {out[i]["avg_logp"] for i in range(8)}
    assert len(scores) == 1
    assert out[99]["avg_logp"] < min(scores)
    assert out[99]["n_bigrams"] == 5
    # sum is exact micro-nat integer arithmetic
    assert out[99]["sum_logp_micro"] == sum(
        [out[99]["sum_logp_micro"] // 5] * 5) + out[99]["sum_logp_micro"] % 5


def test_bigram_lm_short_docs_omitted(spark):
    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two tokens")],
        "doc_id long, text string")
    out = {r["doc_id"] for r in textops.bigram_lm_scores(df).collect()}
    assert out == {3}


def test_corpus_curation_lineage_stages(spark):
    import __spark_entry__ as em

    out = em.q_corpus_curation(spark, "/root/testdata/sf0.001").collect()
    by_stage: dict[str, list] = {}
    for r in out:
        by_stage.setdefault(r["stage"], []).append(r)
    # every exit stage populated; planted dups all exit at 'dup'
    assert set(by_stage) == {"dup", "quality", "sampled_out", "kept"}
    assert {r["doc_id"] for r in by_stage["dup"]} == {
        100000 + i for i in range(25)}
    # dup rows never get signals; survivors always do
    assert all(r["lang"] is None and r["score"] is None
               for r in by_stage["dup"])
    assert all(r["score"] is not None and r["avg_logp"] is not None
               for s in ("quality", "sampled_out", "kept")
               for r in by_stage[s])
    # exactly one exit per doc
    assert len(out) == len({r["doc_id"] for r in out})
    # only English docs can be sampled out (others keep at rate 1.0)
    assert all(r["lang"] == "en" for r in by_stage["sampled_out"])
