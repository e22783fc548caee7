"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's own operators (SURVEY §2), a 100 TB corpus
pipeline needs per-document text QA: language ID, quality scoring,
token counting, fingerprinting.  All pure Catalyst — whole-stage
codegen, no Python, and every operator has an ANSI-SQL twin for the
DuckDB oracle (md5-based hashing so both engines agree bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists (top function words). Enough signal
# for the heuristic; the POINT is the operator shape (broadcast set
# membership over token arrays), not lexicon quality.
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "for", "on",
           "with", "as", "was", "at", "by", "an", "be", "this", "are", "or"],
    "fr": ["le", "la", "les", "de", "des", "du", "et", "en", "un", "une",
           "dans", "que", "qui", "pour", "sur", "est", "au", "aux", "ce", "pas"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "sich",
           "des", "auf", "ist", "im", "dem", "nicht", "ein", "eine", "als", "auch"],
    "es": ["el", "la", "los", "las", "de", "del", "y", "en", "un", "una",
           "que", "por", "con", "para", "es", "al", "se", "no", "su", "lo"],
}


def norm_tokens(col: Column | str) -> Column:
    """Lowercased word-char token array (matching normalization) — the
    one Catalyst alias/token normalizer (kgc.link._norm_alias joins it
    into an alias key)."""
    # (?U): Java regex defaults \w to ASCII; the pandas-UDF scanner
    # (kgc.mentions) tokenizes with Python re.UNICODE.  Without the
    # flag, non-ASCII surfaces ('Müller') normalize differently on the
    # two paths and exact links silently drop (ADVICE r1).
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(r"(?U)[^\W_]+"), 0)


def token_count_ws(col: Column | str) -> Column:
    """T1 whitespace token count (tokenizer.go:8-10 semantics).

    Runs of non-whitespace (= Go strings.Fields count): Spark's trim
    strips only ASCII spaces, so the old split(trim(x)) form kept a
    phantom '' token on trailing '\\n'/'\\t'.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.size(F.regexp_extract_all(c, F.lit(r"(?U)\S+"), 0)), F.lit(0)
    ).cast("int")


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish subword proxy count: letter runs + digit runs + each
    non-space symbol run counted separately (the GPT-2 pre-tokenizer
    shape, simplified to an RE2-compatible class so DuckDB agrees)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-zÀ-ÿ0-9\s]"), 0)
    ).cast("int")


def stopword_ratio(col: Column | str, lang: str) -> Column:
    """Fraction of tokens in the language's stopword set."""
    toks = norm_tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def detect_language(col: Column | str) -> Column:
    """Heuristic language ID: argmax of stopword-hit ratio over the four
    Latin-script lexicons; CJK-dominant text → 'zh'; no signal → 'und'.

    One narrow projection; at 100 TB this is exactly the map-side
    filter you want before routing documents to per-language stages.
    """
    c = F.col(col) if isinstance(col, str) else col
    cjk = F.size(F.regexp_extract_all(c, F.lit(r"[\x{4e00}-\x{9fff}]"), 0))
    total_chars = F.length(c)
    scores = [(lang, stopword_ratio(c, lang)) for lang in STOPWORDS]
    best = F.greatest(*[s for _, s in scores])
    pick = F.coalesce(
        *[F.when((s == best) & (s > 0), F.lit(lang)) for lang, s in scores],
        F.lit("und"),
    )
    return F.when(
        (total_chars > 0) & (cjk.cast("double") / total_chars.cast("double") > 0.3),
        F.lit("zh"),
    ).otherwise(pick)


def with_language(df, text_col: str = "text", out_col: str = "lang"):
    """Staged language ID: ``df`` plus an ``out_col`` column, same
    result as ``detect_language(text_col)`` inline.

    Use THIS on hot paths.  The single-Column form builds one
    expression tree that re-inlines the tokenizer per lexicon
    reference; higher-order functions keep the projection out of
    whole-stage codegen, and the interpreted evaluator has no
    common-subexpression elimination, so the regex tokenizer runs
    ~20× per row (measured 3.2s vs 0.4s at sf0.1/local[32]).  Here
    tokens and each lexicon ratio are materialised as ATTRIBUTES of
    intermediate projections — each referenced multiple times
    downstream, which is exactly the condition under which Catalyst's
    CollapseProject leaves the stages alone — so the tokenizer runs
    once per row and each ratio once per row, at any scale.
    """
    c = F.col(text_col)
    t = df.withColumn("_lid_toks", norm_tokens(c))
    n = F.size(F.col("_lid_toks"))

    def ratio(lang: str) -> Column:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(F.col("_lid_toks"), lambda x: F.array_contains(sw, x)))
        return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(
            F.lit(0.0)
        )

    r = t.select("*", *[ratio(lg).alias(f"_lid_r_{lg}") for lg in STOPWORDS])
    rcols = {lg: F.col(f"_lid_r_{lg}") for lg in STOPWORDS}
    best = F.greatest(*rcols.values())
    pick = F.coalesce(
        *[F.when((rc == best) & (rc > 0), F.lit(lg)) for lg, rc in rcols.items()],
        F.lit("und"),
    )
    cjk = F.size(F.regexp_extract_all(c, F.lit(r"[\x{4e00}-\x{9fff}]"), 0))
    total_chars = F.length(c)
    lang = F.when(
        (total_chars > 0) & (cjk.cast("double") / total_chars.cast("double") > 0.3),
        F.lit("zh"),
    ).otherwise(pick)
    return r.withColumn(out_col, lang).drop(
        "_lid_toks", *[f"_lid_r_{lg}" for lg in STOPWORDS]
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring feature family (length / punct / stopword /
    repetition ratios) — compose into filters per corpus policy."""
    c = F.col(col) if isinstance(col, str) else col
    toks = norm_tokens(c)
    n_toks = F.size(toks)
    n_chars = F.length(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_upper = F.size(F.regexp_extract_all(c, F.lit(r"[A-Z]"), 0))
    uniq_ratio = F.when(
        n_toks > 0,
        F.size(F.array_distinct(toks)).cast("double") / n_toks.cast("double"),
    ).otherwise(F.lit(0.0))
    mean_tok_len = F.when(
        n_toks > 0,
        F.aggregate(toks, F.lit(0).cast("double"), lambda a, t: a + F.length(t))
        / n_toks.cast("double"),
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("int"),
        "n_tokens": n_toks.cast("int"),
        "punct_ratio": F.when(
            n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
        ).otherwise(F.lit(0.0)),
        "upper_ratio": F.when(
            n_chars > 0, n_upper.cast("double") / n_chars.cast("double")
        ).otherwise(F.lit(0.0)),
        "uniq_token_ratio": uniq_ratio,
        "mean_token_len": mean_tok_len,
        "stopword_ratio_en": stopword_ratio(c, "en"),
    }


def with_quality_features(df, text_col: str = "text"):
    """Staged :func:`quality_features` + :func:`quality_score`: ``df``
    plus RAW feature columns (n_chars, n_tokens, punct_ratio,
    upper_ratio, uniq_token_ratio, mean_token_len, stopword_ratio_en —
    unrounded; round at the output edge) and ``score`` (rounded 6, the
    same blend as quality_score).

    Use THIS on hot paths: the Column forms re-inline the tokenizer
    regex per feature reference (~8× per row) under interpreted HOF
    eval; here tokens ride once as an attribute, then the score reads
    the feature ATTRIBUTES.
    """
    c = F.col(text_col)
    t = df.withColumn("_q_toks", norm_tokens(c))
    toks = F.col("_q_toks")
    n_toks = F.size(toks)
    n_chars = F.length(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_upper = F.size(F.regexp_extract_all(c, F.lit(r"[A-Z]"), 0))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    sw_hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    r = t.select(
        "*",
        n_chars.cast("int").alias("n_chars"),
        n_toks.cast("int").alias("n_tokens"),
        F.when(n_chars > 0, n_punct.cast("double") / n_chars.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("punct_ratio"),
        F.when(n_chars > 0, n_upper.cast("double") / n_chars.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("upper_ratio"),
        F.when(
            n_toks > 0,
            F.size(F.array_distinct(toks)).cast("double") / n_toks.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("uniq_token_ratio"),
        F.when(
            n_toks > 0,
            F.aggregate(toks, F.lit(0).cast("double"), lambda a, x: a + F.length(x))
            / n_toks.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_token_len"),
        F.when(n_toks > 0, sw_hits.cast("double") / n_toks.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("stopword_ratio_en"),
    )
    raw = (
        F.lit(0.25)
        * F.least(F.col("n_tokens").cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0)))
        + F.lit(0.25) * F.col("uniq_token_ratio")
        + F.lit(0.25) * F.least(F.col("stopword_ratio_en") * 4, F.lit(1.0))
    )
    return r.withColumn("score", F.round(raw, 6)).drop("_q_toks")


def quality_score(col: Column | str) -> Column:
    """Scalar [0,1] quality score: well-formed prose scores high, word
    soup / symbol soup scores low.  Deterministic linear blend, rounded
    to 6 decimals so the DuckDB twin matches bit-for-bit."""
    f = quality_features(col)
    raw = (
        F.lit(0.25) * F.least(f["n_tokens"].cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(f["punct_ratio"] * 5, F.lit(1.0)))
        + F.lit(0.25) * f["uniq_token_ratio"]
        + F.lit(0.25) * F.least(f["stopword_ratio_en"] * 4, F.lit(1.0))
    )
    return F.round(raw, 6)


def fingerprint(col: Column | str, shingle_n: int = 3, k: int = 4) -> Column:
    """Document fingerprint: bottom-k sketch over token-shingle md5s.

    Sort the md5 hashes of all word n-gram shingles, concatenate the k
    smallest — a compact, containment-stable document signature
    (winnowing-family; bottom-k sketch of the shingle set).  Identical
    text → identical fingerprint; engine-portable via md5.
    """
    from kgc.link import token_shingles

    hashes = F.array_sort(
        F.transform(token_shingles(col, shingle_n), lambda s: F.md5(s))
    )
    return F.array_join(F.slice(hashes, 1, k), "")


def with_fingerprint(
    df,
    text_col: str = "text",
    out_col: str = "fp",
    shingle_n: int = 3,
    k: int = 4,
):
    """Staged :func:`fingerprint`: ``df`` plus an ``out_col`` column.

    Use THIS on hot paths: the single-Column form inlines the tokenizer
    into the shingle transform, whose gram lambda slices its input once
    per gram — interpreted (HOFs are not codegen-able) and without
    common-subexpression elimination that re-runs the regex O(n_tokens)
    times per row (measured 4.8s vs 0.25s at sf0.1/local[32]).  Tokens
    and shingles are materialised as attributes of intermediate
    projections instead (the shingles_from_tokens contract).
    """
    from kgc.link import shingles_from_tokens

    t = df.withColumn("_fp_toks", norm_tokens(text_col))
    s = t.withColumn("_fp_sh", shingles_from_tokens(F.col("_fp_toks"), shingle_n))
    hashes = F.array_sort(F.transform(F.col("_fp_sh"), lambda x: F.md5(x)))
    return s.withColumn(out_col, F.array_join(F.slice(hashes, 1, k), "")).drop(
        "_fp_toks", "_fp_sh"
    )


# -------------------------------------------------------- repetition ------
def dup_line_fraction(col: Column | str) -> Column:
    """Fraction of non-blank lines that are repeats of an earlier line
    (Gopher-style boilerplate signal; 0.0 for single-line docs)."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, "\n"), lambda l: F.length(F.trim(l)) > 0)
    n = F.size(lines)
    return F.when(
        n > 0,
        F.round(
            (n - F.size(F.array_distinct(lines))).cast("double") / n.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))


def _full_grams(toks: Column, w: int) -> Column:
    """All *full-width* word ``w``-grams, with multiplicity (unlike the
    dedup shingles, repetition scoring needs occurrence counts, and a
    doc shorter than ``w`` tokens has no gram at all)."""
    n = F.size(toks)
    return F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.array_join(F.slice(toks, i, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_repetition(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_w: int = 2,
    dup_w: int = 3,
    top_frac_max: float = 0.2,
    dup_frac_max: float = 0.3,
):
    """Gopher-style repetition filter signals per doc:

    (doc_id, top_ngram_frac, dup_ngram_frac, repetitive) where
    top_ngram_frac = occurrences of the most frequent ``top_w``-gram /
    total ``top_w``-grams, dup_ngram_frac = fraction of ``dup_w``-gram
    occurrences that belong to a gram seen more than once, and
    ``repetitive`` flags docs over either threshold (Rae et al. 2021,
    "Scaling Language Models" §A1.1 uses the same family of signals;
    thresholds are corpus policy).

    Scale shape: ONE tokenize pass emits both gram widths tagged with
    a width column, so the 100 TB text scan happens once (not once per
    width); counting is explode → groupBy(doc, w, gram) →
    groupBy(doc) — both shuffles on uniform keys and both map-side
    combinable, never a per-row O(|grams|²) distinct-count loop, so a
    pathological 10 MB doc costs O(tokens) not O(tokens²).  Docs
    shorter than the gram width land at 0.0 via the left join back to
    the corpus (one broadcast of the tiny per-doc metric table — or a
    doc_id shuffle when the corpus-sized metric table can't broadcast;
    either way the heavy text column doesn't ride it).
    """
    if top_w == dup_w:
        raise ValueError("top_w and dup_w must differ (width tags the gram rows)")
    toks = df.select(
        F.col(id_col).alias("doc_id"), norm_tokens(text_col).alias("_toks")
    )

    def tagged(w: int) -> Column:
        return F.transform(
            _full_grams(F.col("_toks"), w),
            lambda g: F.struct(F.lit(w).alias("w"), g.alias("g")),
        )

    grams = toks.select(
        "doc_id",
        F.explode(F.concat(tagged(top_w), tagged(dup_w))).alias("x"),
    ).select("doc_id", F.col("x.w").alias("w"), F.col("x.g").alias("g"))
    counts = grams.groupBy("doc_id", "w", "g").agg(F.count(F.lit(1)).alias("c"))
    is_top = F.col("w") == top_w
    is_dup = F.col("w") == dup_w
    per_doc = counts.groupBy("doc_id").agg(
        F.round(
            F.max(F.when(is_top, F.col("c"))).cast("double")
            / F.sum(F.when(is_top, F.col("c"))).cast("double"),
            6,
        ).alias("top_ngram_frac"),
        F.round(
            F.sum(F.when(is_dup & (F.col("c") > 1), F.col("c"))).cast("double")
            / F.sum(F.when(is_dup, F.col("c"))).cast("double"),
            6,
        ).alias("dup_ngram_frac"),
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_ngram_frac", F.lit(0.0)).alias("top_ngram_frac"),
            F.coalesce("dup_ngram_frac", F.lit(0.0)).alias("dup_ngram_frac"),
        )
        .withColumn(
            "repetitive",
            (F.col("top_ngram_frac") > top_frac_max)
            | (F.col("dup_ngram_frac") > dup_frac_max),
        )
    )


# ------------------------------------------------------------- tf-idf -----
def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
):
    """Per-document top-k TF-IDF terms: (doc_id, term, tf, df, tfidf, rk).

    tfidf = tf · ln((N+1)/(df+1)), rounded to 6 places BEFORE ranking so
    the ordering is identical across engines (a raw-double sort key
    could flip ranks on a last-ulp ln() difference between libms; the
    DuckDB oracle replays the same rounded expression).  Tie-break:
    term ASC.

    Scale shape: tf is one map-side-combined groupBy on (doc, term);
    df re-aggregates the (already small) tf table on term; the corpus
    size N rides in as a broadcast 1-row cross join (no driver
    collect); the top-k window shuffles on doc_id — the same key as
    tf, so AQE coalesces the exchanges.  No UDFs anywhere.
    """
    from pyspark.sql import Window

    d = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    tf = (
        d.select("doc_id", F.explode(norm_tokens("_text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfx, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "tfidf",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------- PII -----
#: extraction patterns restricted to the Java-regex ∩ RE2 common subset
#: so the DuckDB oracle replays them verbatim (same \b, \d, {m,n}
#: semantics in both engines — no lookaround, no backreferences)
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{9,14}\b",
}


def _tag_kind(kind: str):
    # closure-bind OUTSIDE the HOF lambda: `lambda h, k=kind: ...` would
    # become a 2-arg pyspark lambda with an unresolved Column default
    return lambda h: F.struct(F.lit(kind).alias("kind"), h.alias("hit"))


def pii_hits(df, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, kind, hit) — one row per PII match in the document.

    Single pass over the text: all patterns are extracted in ONE
    projection (array-of-structs per kind, flattened, exploded), so a
    100 TB scan reads each byte once — not once per pattern.  Pure
    Catalyst: regexp_extract_all + explode, whole-stage codegen, no
    Python.  Docs with no matches vanish via the inner explode.
    """
    per_kind = [
        F.transform(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), 0),
            _tag_kind(kind),
        )
        for kind, pat in PII_PATTERNS.items()
    ]
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.flatten(F.array(*per_kind))).alias("m"),
    ).select("doc_id", F.col("m.kind").alias("kind"), F.col("m.hit").alias("hit"))


def pii_redact(df, text_col: str = "text", out_col: str = "redacted"):
    """Replace every PII match with its <KIND> placeholder — the
    masking pass a training-data pipeline runs before tokenization.
    Chained regexp_replace in PII_PATTERNS order (email → ipv4 →
    phone); one projection, codegen'd, zero shuffles."""
    c = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"<{kind.upper()}>")
    return df.withColumn(out_col, c)


# --------------------------------------------------------- bigram LM -----
def bigram_lm_scores(df, text_col: str = "text", id_col: str = "doc_id"):
    """CCNet-style LM quality signal: an add-one-smoothed bigram
    language model trained on the corpus itself, then every document
    scored by its average bigram log-probability — low scores flag
    outlier/garbage text relative to the corpus distribution.

    Output: (doc_id, n_bigrams, sum_logp_micro, avg_logp).  Log-probs
    ride as MICRO-NATS (round(ln·1e6) → bigint) so the per-doc SUM is
    integer-associative — bit-identical across partitionings and
    engines (the float-SUM ordering hazard; same trick as the
    integer-cents revenue rollups).  avg_logp = sum/1e6/n rounded to 6
    places (exact-integer→double divisions, deterministic).

    Scale shape: two map-side-combined groupBys build the model (gram
    counts, then context counts aggregated FROM the gram table — the
    raw token stream is never re-shuffled); the vocabulary size rides
    as a broadcast 1-row cross join.  Scoring joins the doc-bigram
    stream to the model on the gram key — shuffle join; natural-
    language bigrams are Zipf-skewed ('of the'), which AQE skew-join
    splits, and a sampled-training + broadcast-model variant is the
    cheaper path when the model must stay small.  Docs with < 2 tokens
    have no bigram and are omitted.
    """
    d = df.select(
        F.col(id_col).alias("doc_id"), norm_tokens(text_col).alias("_toks")
    )
    bg = d.select("doc_id", F.explode(_full_grams(F.col("_toks"), 2)).alias("g"))
    c12 = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c12"))
    w1 = F.split(F.col("g"), " ").getItem(0)
    c1 = (
        c12.select(w1.alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    vocab = d.select(F.explode("_toks").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    model = (
        c12.withColumn("w1", w1)
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "g",
            F.round(
                F.log(
                    (F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))
                )
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("logp_micro"),
        )
    )
    return (
        bg.join(model, "g")  # inner — every doc gram exists in the model
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("logp_micro").alias("sum_logp_micro"),
        )
        .withColumn(
            "avg_logp",
            F.round(F.col("sum_logp_micro") / 1e6 / F.col("n_bigrams"), 6),
        )
    )
