"""Corpus-composition operators: mix statistics, stratified sampling,
decontamination, dedup survivors."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


PROSE_EN = (
    "the quick brown fox jumps over the lazy dog and then it runs to "
    "the forest for a rest in the shade of an old oak tree with friends"
)
PROSE_FR = (
    "le chat noir dort dans la maison pendant que les enfants jouent "
    "dans le jardin avec une balle rouge et un petit chien pour la journee"
)


def test_corpus_mix_shares_and_weights(spark):
    from kgc.mix import corpus_mix

    df = _docs(
        spark,
        [(i, PROSE_EN + f" extra {i}") for i in range(6)]
        + [(100 + i, PROSE_FR + f" encore {i}") for i in range(2)],
    )
    rows = {(r["lang"], r["q_bucket"]): r for r in corpus_mix(df).collect()}
    assert {k[0] for k in rows} == {"en", "fr"}
    # shares sum to 1 (6-decimal rounding)
    assert abs(sum(r["token_share"] for r in rows.values()) - 1.0) < 1e-4
    # en has 3x fr's token mass -> weight(en) < 1 < weight(fr),
    # and weight * lang_share == 1/n_langs for every language
    for r in rows.values():
        lang_share = sum(
            x["token_share"] for k, x in rows.items() if k[0] == r["lang"]
        )
        assert abs(r["lang_weight"] * lang_share - 0.5) < 1e-3
    en = next(r for k, r in rows.items() if k[0] == "en")
    fr = next(r for k, r in rows.items() if k[0] == "fr")
    assert en["lang_weight"] < 1.0 < fr["lang_weight"]
    # buckets in range, counts exact
    assert all(0 <= k[1] < 5 for k in rows)
    assert sum(r["n_docs"] for r in rows.values()) == 8


def test_stratified_sample_deterministic_and_rate(spark):
    from kgc.mix import stratified_sample

    df = _docs(
        spark,
        [(i, PROSE_EN + f" filler {i}") for i in range(400)]
        + [(1000 + i, PROSE_FR + f" encore {i}") for i in range(40)],
    )
    kept1 = stratified_sample(df, rates={"en": 0.25}).collect()
    kept2 = stratified_sample(df, rates={"en": 0.25}).collect()
    # bit-deterministic across runs
    assert sorted(r["doc_id"] for r in kept1) == sorted(r["doc_id"] for r in kept2)
    by_lang = {}
    for r in kept1:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # default rate 1.0: every non-en doc kept
    assert len(by_lang.get("fr", set())) == 40
    # en downsampled to ~25% (md5-uniform: binomial(400, .25), ±6 sigma)
    n_en = len(by_lang.get("en", set()))
    assert 48 <= n_en <= 152, n_en
    # a different salt draws a different (but same-law) sample
    kept3 = stratified_sample(df, rates={"en": 0.25}, salt="other").collect()
    assert sorted(r["doc_id"] for r in kept3) != sorted(r["doc_id"] for r in kept1)


def test_decontaminate_flags_ngram_overlap_only(spark):
    from kgc.dedup import decontaminate

    eval_df = _docs(spark, [(900, "alpha beta gamma delta epsilon zeta eta theta")])
    train = _docs(
        spark,
        [
            # contains the eval 8-gram verbatim inside unrelated text
            (1, "intro words alpha beta gamma delta epsilon zeta eta theta outro"),
            # shares vocabulary but no 8-gram run
            (2, "alpha beta gamma something delta epsilon zeta eta theta"),
            (3, "completely unrelated text about forests and rivers"),
        ],
    )
    out = {r["doc_id"]: r for r in decontaminate(train, eval_df, shingle_n=8).collect()}
    assert set(out) == {1}
    assert out[1]["n_eval_docs"] == 1
    assert out[1]["first_eval_id"] == 900
    assert out[1]["n_shared_shingles"] >= 1


def test_dedup_survivors_keep_min_id_per_cluster(spark):
    from kgc.dedup import dedup_survivors

    base = (
        "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    )
    df = _docs(
        spark,
        [
            (10, base),
            (20, base + " tail"),          # near-dup of 10
            (30, "a wholly different document about maritime navigation charts"),
        ],
    )
    out = {r["doc_id"]: r for r in dedup_survivors(df, k=16, bands=4, threshold=0.5).collect()}
    assert set(out) == {10, 20, 30}
    assert out[10]["kept"] and out[10]["group_id"] == 10
    assert not out[20]["kept"] and out[20]["group_id"] == 10
    assert out[30]["kept"] and out[30]["group_id"] is None
    assert out[10]["group_size"] == 2


def test_ngram_repetition_scores_loops_above_prose(spark):
    from kgc.textops import ngram_repetition

    df = _docs(
        spark,
        [
            (1, "spam ham " * 30),                      # one bigram dominates
            (2, PROSE_EN),                               # normal prose
            (3, "tiny"),                                 # shorter than gram width
        ],
    )
    out = {r["doc_id"]: r for r in ngram_repetition(df).collect()}
    assert out[1]["repetitive"] and not out[2]["repetitive"]
    assert out[1]["top_ngram_frac"] > 0.4 > out[2]["top_ngram_frac"]
    assert out[1]["dup_ngram_frac"] > 0.9
    assert out[3]["top_ngram_frac"] == 0.0 and out[3]["dup_ngram_frac"] == 0.0


def test_dup_line_fraction(spark):
    from kgc.textops import dup_line_fraction
    from pyspark.sql import functions as F

    df = _docs(
        spark,
        [
            (1, "header\nbody one\nheader\nbody two\nheader"),  # 3x 'header'
            (2, "a\nb\nc"),
            (3, ""),
        ],
    )
    out = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", dup_line_fraction("text").alias("f")).collect()
    }
    assert abs(out[1] - 0.4) < 1e-9   # 2 repeats of 5 non-blank lines
    assert out[2] == 0.0 and out[3] == 0.0


def test_embedding_dedup_groups_transitive(spark):
    from kgc.dedup import embedding_dedup_groups

    # 1 and 2 identical; 3 a copy of 1 -> one cluster {1,2,3}; 9 alone
    v = [0.1, 0.9, 0.3, 0.5]
    w = [0.9, -0.2, 0.4, -0.7]
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, list(v)), (9, w)], "vec_id bigint, embedding array<double>"
    )
    out = {r["vec_id"]: r for r in embedding_dedup_groups(df).collect()}
    assert set(out) == {1, 2, 3}
    assert all(r["group_id"] == 1 and r["group_size"] == 3 for r in out.values())


def test_staged_forms_match_column_forms(spark):
    """The staged text operators (with_language / with_fingerprint /
    with_quality_features) must stay bit-identical to their DuckDB
    twins, the "langid" / "fingerprint" / "quality" SQL that the driver's
    oracle suites hash-check at scale, on edge rows:
    empty text, one token, stopwords only, symbol soup."""
    import duckdb

    import __spark_entry__ as E
    from kgc.textops import with_fingerprint, with_language, with_quality_features

    rows = [
        (1, PROSE_EN),
        (2, PROSE_FR),
        (3, ""),
        (4, "word"),
        (5, "der die das und in den von zu mit sich"),
        (6, "!!! ??? ..." ),
    ]
    with duckdb.connect() as con:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        twin = {
            name: sorted(con.sql(sql).fetchall())
            for name, sql in E._text_qa_sql().items()
        }

    df = _docs(spark, rows)
    langs = with_language(df, out_col="lang_pred").select("doc_id", "lang_pred")
    assert sorted(map(tuple, langs.collect())) == twin["langid"]
    fps = with_fingerprint(df).select("doc_id", "fp")
    assert sorted(map(tuple, fps.collect())) == twin["fingerprint"]
    quality = with_quality_features(df).select(
        "doc_id",
        "score",
        F.col("n_tokens").cast("bigint"),
        F.round("punct_ratio", 6),
        F.round("uniq_token_ratio", 6),
        F.round("stopword_ratio_en", 6),
    )
    assert sorted(map(tuple, quality.collect())) == twin["quality"]


def test_incremental_dedup_probes_corpus_index(spark):
    from kgc.dedup import build_band_index, probe_band_index

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    corpus = _docs(
        spark,
        [(1, base), (2, "totally different content about glaciers and moraines")],
    )
    new_batch = _docs(
        spark,
        [
            (100, base + " trailing"),   # near-dup of corpus doc 1
            (101, "fresh unique text with no counterpart in the corpus at all"),
        ],
    )
    index = build_band_index(corpus)
    out = probe_band_index(new_batch, index, threshold=0.5).collect()
    assert [(r["new_id"], r["corpus_id"]) for r in out] == [(100, 1)]
    assert out[0]["jaccard"] >= 0.5


def test_duplicated_ngram_stats_cross_doc_only(spark):
    from kgc.dedup import duplicated_ngram_stats

    docs = spark.createDataFrame(
        [
            # 1 & 2 share the first five tokens (one 5-gram)
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon omega"),
            # 3 repeats ITS OWN gram twice — within-doc repetition is
            # NOT cross-document duplication
            (3, "one two three four five one two three four five"),
            (4, "short text"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in duplicated_ngram_stats(docs).collect()}
    assert got[1]["n_toks"] == 6 and got[1]["n_grams"] == 2
    assert got[1]["n_dup_grams"] == 1 and got[1]["covered_toks"] == 5
    assert got[2]["n_dup_grams"] == 1 and got[2]["covered_toks"] == 5
    assert got[3]["n_dup_grams"] == 0 and got[3]["covered_toks"] == 0
    assert got[4]["n_grams"] == 0 and got[4]["covered_toks"] == 0


def test_source_caps_deterministic_and_capped(spark):
    from pyspark.sql import functions as F
    from kgc.mix import source_caps

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    kept = source_caps(docs, cap=10)
    rows = kept.collect()
    per = {}
    for r in rows:
        per.setdefault(r["source"], []).append((r["rk"], r["doc_id"]))
    assert set(per) == {"s0", "s1", "s2"}
    assert all(len(v) == 10 for v in per.values())
    assert all(1 <= rk <= 10 for v in per.values() for rk, _ in v)
    # deterministic: second run picks the same ids
    again = {(r["doc_id"], r["rk"]) for r in source_caps(docs, cap=10).collect()}
    assert again == {(r["doc_id"], r["rk"]) for r in rows}


def test_semantic_dedup_drops_copies_keeps_min_id(spark):
    from kgc.simsearch import semantic_dedup, train_centroids

    # 4 well-separated base vectors + exact copies of ids 0 and 1
    base = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (100, [1.0, 0.0, 0.0, 0.0]),
        (101, [0.0, 1.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(base, "vec_id int, embedding array<float>")
    cents = train_centroids(corpus, n_centroids=4, iters=2)
    got = {r["vec_id"]: r["kept"] for r in semantic_dedup(corpus, cents).collect()}
    assert got == {0: True, 1: True, 2: True, 3: True, 100: False, 101: False}


def test_semantic_dedup_cell_balance_guard(spark):
    """The 'grow n_centroids ∝ corpus' contract must fail loudly
    (VERDICT r3 #7): a degenerate all-identical corpus collapses every
    vector into one k-means cell, and the in-cell pair scan would go
    quadratic — semantic_dedup raises instead."""
    import pytest

    from kgc.simsearch import semantic_dedup, train_centroids

    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(200)],
        "vec_id int, embedding array<float>",
    )
    cents = train_centroids(corpus, n_centroids=8, iters=1)
    with pytest.raises(ValueError, match="largest k-means cell"):
        semantic_dedup(corpus, cents, max_cell_factor=4.0)
    # opt-out still runs (and keeps exactly the min id)
    got = {r["vec_id"]: r["kept"]
           for r in semantic_dedup(corpus, cents,
                                   max_cell_factor=None).collect()}
    assert got[0] is True and sum(got.values()) == 1


def test_incremental_duplicated_ngrams_probes_corpus_only(spark):
    from kgc.dedup import incremental_duplicated_ngrams

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [
            # shares the corpus's first 5-gram → duplicated
            (100, "alpha beta gamma delta epsilon NEW"),
            # within-BATCH repeat of a novel gram — must NOT count
            (101, "q w e r t y"),
            (102, "q w e r t y"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r.asDict()
           for r in incremental_duplicated_ngrams(batch, corpus).collect()}
    assert got[100]["n_dup_grams"] == 1 and got[100]["covered_toks"] == 5
    assert got[101]["n_dup_grams"] == 0 and got[102]["n_dup_grams"] == 0
    assert set(got) == {100, 101, 102}
