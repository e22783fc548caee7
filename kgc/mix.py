"""Training-corpus composition operators — mix statistics and
deterministic stratified sampling.

A 100 TB pretraining corpus is never consumed as-is: the pipeline ends
with "what is in the corpus, per language × quality stratum?" (to pick
mixing weights) and "emit a deterministically sampled subset at those
weights".  Both stages here are shuffle-light by construction:

* :func:`corpus_mix` is one map-side-combinable groupBy on a
  low-cardinality key (languages × quality buckets — dozens of groups
  at any corpus size), so the wide exchange carries only partial
  aggregates.  The share/weight normalisation joins happen on the
  post-agg table (≤ dozens of rows, always broadcast).
* :func:`stratified_sample` is a narrow projection + broadcast
  threshold lookup + filter — no wide shuffle, no RNG state:
  membership is a per-row md5 threshold test, so the sample is
  reproducible across retries, resumes and cluster sizes (the property
  Spark's `df.sample` does NOT give you under task re-execution).

All hashing is md5-hex so each operator has a bit-identical ANSI-SQL
twin for the DuckDB oracle (see __spark_entry__.oracle_sql).

Reference scope note: chrlesur/json-ld-converter has no corpus-level
stage (it converts one document per CLI run); these operators are the
training-data-pipeline extensions the graft brief asks for, built on
the same textops primitives as langid/quality (kgc/textops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgc.session import local_frame
from kgc.textops import with_language


def corpus_mix(df: DataFrame) -> DataFrame:
    """Corpus composition per (lang, q_bucket): doc/token counts, the
    stratum's share of all tokens, and the upsampling weight that would
    equalise token mass across languages.

    (lang, q_bucket, n_docs, n_tokens, token_share, lang_weight) —
    ``lang_weight`` = (total_tokens / n_langs) / lang_tokens, i.e. the
    factor to multiply a language's sampling rate by for a uniform
    language mix; >1 means upsample, <1 downsample.

    One partial-aggregated shuffle on (lang, q_bucket); the totals are
    a 1-row aggregate and a per-lang aggregate over the already-tiny
    cell table, joined back broadcast.  The cell table is persisted —
    it feeds three consumers (output, per-lang totals, grand total) and
    without the pin each one would re-run the full corpus scan +
    language/quality scoring (measured 2.6s → 0.3s at sf0.1); it is
    at most |langs|×|buckets| rows at any corpus size.
    """
    from kgc.textops import with_quality_features

    feats = with_quality_features(with_language(df.select("text"))).select(
        "lang",
        F.least(F.floor(F.col("score") * 5), F.lit(4))
        .cast("int")
        .alias("q_bucket"),
        F.col("n_tokens").cast("bigint").alias("n_toks"),
    )
    cell = feats.groupBy("lang", "q_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    ).persist()
    tot = cell.agg(
        F.sum("n_tokens").alias("tot_toks"),
        F.countDistinct("lang").alias("n_langs"),
    )
    lang_tot = cell.groupBy("lang").agg(F.sum("n_tokens").alias("lang_toks"))
    out = (
        cell.join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "q_bucket",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("tot_toks").cast("double"), 6
            ).alias("token_share"),
            F.round(
                (F.col("tot_toks").cast("double") / F.col("n_langs").cast("double"))
                / F.col("lang_toks").cast("double"),
                6,
            ).alias("lang_weight"),
        )
    )
    out._kgc_pinned = [cell]  # released by kgc.pipeline.release
    return out


def _hex_threshold(rate: float) -> str:
    """8-hex-digit keep threshold for ``sample_key < threshold``.

    md5-hex prefixes are uniform over [0, 16^8) and lowercase-hex
    ordering equals numeric ordering, so a plain string compare is the
    sampler.  rate >= 1 returns 'g', which is lexically above every
    hex digit — keep everything without a special case in the plan.
    """
    if rate >= 1.0:
        return "g"
    return format(max(int(rate * 16**8), 0), "08x")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float] | None = None,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic per-language sampling: keep a row iff the first 8
    hex chars of md5(doc_id || '|' || salt) fall below the language's
    rate threshold.

    (doc_id, lang, sample_key) for kept rows.  No wide shuffle, no RNG
    — the same doc_id keeps/drops identically on every run, executor
    count, retry, and engine (the DuckDB oracle replays the identical
    md5 compare), which is what corpus reproducibility requires at
    10^12 docs.  Changing ``salt`` draws an independent sample.

    The per-language threshold rides a BROADCAST dim table rather than
    an inlined CASE: filtering on ``sample_key < CASE lang ...`` lets
    predicate pushdown substitute the whole with_language expression
    tree (its staged ratio projections collapsed) into the Filter (the tokenizer regex lands ~40× in one
    non-codegen condition — measured 2.5s vs langid's 0.2s at sf0.1);
    with the join, the compare references attributes from both sides,
    cannot be pushed below it, and language detection runs exactly once
    per row as the join key.
    """
    rates = {} if rates is None else rates
    keyed = with_language(
        df.select("doc_id", F.col("text").alias("_text")),
        "_text",
    ).select(
        "doc_id",
        "lang",
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|" + salt))), 1, 8
        ).alias("sample_key"),
    )
    rates_df = local_frame(
        df.sparkSession,
        [(lg, _hex_threshold(r)) for lg, r in sorted(rates.items())],
        "lang string, thr string",
    )
    return (
        keyed.join(F.broadcast(rates_df), "lang", "left")
        .filter(
            F.col("sample_key")
            < F.coalesce(F.col("thr"), F.lit(_hex_threshold(1.0)))
        )
        .select("doc_id", "lang", "sample_key")
    )


def source_caps(docs: DataFrame, cap: int = 20) -> DataFrame:
    """Per-source document cap — the per-domain balancing step of
    web-corpus curation (FineWeb / Dolma keep at most K pages per
    registered domain so mega-sites cannot dominate the training mix).
    Keeps at most ``cap`` docs per source, selected by md5-of-id rank:
    deterministic across retries and resumes (unlike df.sample), and
    uniform within each source (the hash is the shuffle).

    Output: kept rows only — (doc_id, source, rk), rk ∈ [1, cap].

    Scale shape: rank ≤ cap over a partitionBy(source) window compiles
    to WindowGroupLimit (Spark ≥ 3.5): each map task pre-filters its
    local top-``cap`` per source BEFORE the exchange, so a mega-source
    ships at most cap × n_partitions rows, not its full row count —
    the skew a plain window would concentrate on one reducer is capped
    at the source.
    """
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= cap)
    )
