"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Training-corpus dedup is the single most shuffle-heavy stage of a
100 TB pipeline; every operator here is built so the wide exchange
happens on a *uniform* key (md5 group keys, LSH band hashes, simhash
bands) — no skew by construction — and the candidate set is blocked
BEFORE any pairwise verification, so the quadratic step only ever runs
inside tiny buckets.

All hashing is md5-based so each operator has a bit-identical ANSI-SQL
twin for the DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgc.link import jaccard, lsh_band_keys


# ------------------------------------------------------------- exact ------
def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: (doc_id, dup_group, group_size,
    is_canonical).  Canonical = min doc_id per group (deterministic).

    One shuffle on md5(text) — uniformly distributed.  Only groups with
    >1 member survive; at corpus scale add a pre-aggregation count
    filter so singleton groups never leave the map side (done here via
    the window-free two-pass groupBy, which Spark partial-aggregates).
    """
    h = df.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("dup_group")
    )
    groups = h.groupBy("dup_group").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("canonical_id")
    ).filter(F.col("group_size") > 1)
    return h.join(groups, "dup_group").select(
        "doc_id",
        "dup_group",
        "group_size",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


# ----------------------------------------------------------- minhash ------
def minhash_near_duplicates(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: (a, b, jaccard) with a < b.

    shingle + minhash banding in one Arrow-batched per-doc UDF pass
    (kgc.link.make_shingle_band_udf, r4 — bit-identical to the
    kgc.link.lsh_band_keys lanes-as-data derivation the oracle
    replays, minus its explode/shuffle/SortAggregate) → band self-join
    on (band, key) → exact-Jaccard verify.  dropDuplicates on the pair
    collapses multi-band collisions before the (cheap) verification.
    """
    from pyspark import StorageLevel

    # Shingles AND band keys in one Arrow-batched per-doc pass
    # (kgc/link.make_shingle_band_udf — r4): the Catalyst HOF shingle
    # build is interpreted (4.6 s of 8 s at sf0.1) and the lanes-as-data
    # band build pays a SortAggregate over the |shingles|·k explode
    # because min(string) has no mutable HashAggregate buffer (3.6 s).
    # Folding both into the UDF closure removes the explode, the
    # shuffle, and the sort; values are bit-identical (twin
    # pytest-pinned) and the DuckDB oracle replay is untouched.  The
    # combined table is persisted: it feeds the band explode AND the
    # pairwise verification join twice (persist is REQUIRED for
    # multi-consumption of pandas-UDF outputs — Spark 4.1 re-clones the
    # subtree on dedup otherwise), and the band explode reads the
    # CACHED column, so InferFiltersFromGenerate cannot re-inline the
    # UDF into a JVM predicate.
    from kgc.link import make_shingle_band_udf

    # Fan the text table out to full parallelism BEFORE the UDF: a
    # small-SF parquet scan yields 1-2 input splits, which would pin
    # the Arrow stage (the query's entire CPU cost) to 1-2 cores — the
    # UDF ran 2.5x SLOWER than the Catalyst build until this line.  The
    # shuffle moves only (id, raw text) once; at 100 TB the scan
    # already has thousands of splits and Spark's AQE would coalesce,
    # not split, so this is a small-input correction, not a scale cost.
    nparts = df.sparkSession.sparkContext.defaultParallelism
    # The persist sits at the STRUCT boundary, before any field
    # extraction: CollapseProject inlines `_mh.sh` / `_mh.bands` /
    # filter references into separate copies of the UDF expression
    # (measured: THREE ArrowEvalPython nodes, 0.84 s → 4.2 s), so field
    # access must read a materialized cache, not the live expression.
    mh = (
        df.repartition(nparts, F.col("doc_id"))
        .select(
            "doc_id",
            make_shingle_band_udf(k, bands)(F.col("text")).alias("_mh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sh = (
        mh.select("doc_id", F.col("_mh.sh").alias("sh"))
        .filter(F.size("sh") > 0)
    )
    # band table: |docs| × bands tiny rows of (id, band, md5-hex),
    # consumed TWICE (x and y sides of the self-join); empty-shingle
    # docs have empty band arrays, so the explode drops them — no
    # separate filter needed on this side
    banded = (
        mh.select("doc_id", F.explode("_mh.bands").alias("_b"))
        .select("doc_id", F.col("_b.band").alias("band"), F.col("_b.key").alias("key"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    # verify candidates with exact Jaccard — shingles re-join from cache
    sh_a = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    out = (
        pairs.join(sh_a, "a")
        .join(sh_b, "b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    out._kgc_pinned = [mh, banded]  # released by kgc.pipeline.release
    return out


def ngram_jaccard_pairs(df: DataFrame, candidate_pairs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for given candidate (a, b) pairs — the
    verification primitive, usable after any blocking scheme.

    Tokens are staged as an attribute before the gram transform (the
    shingles_from_tokens contract): inlining the tokenizer re-runs the
    regex once per gram under interpreted HOF eval — measured 5.4s →
    0.6s at sf0.1 from this two-step split alone."""
    from kgc.link import shingles_from_tokens
    from kgc.textops import norm_tokens

    sh = df.select("doc_id", norm_tokens("text").alias("_toks")).select(
        "doc_id", shingles_from_tokens(F.col("_toks"), 3).alias("sh")
    )
    return (
        candidate_pairs.join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "sh_b"), "b")
        .select(
            "a", "b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
        )
    )


# ----------------------------------------------------------- simhash ------
def _tok_hash60(tok: Column) -> Column:
    """First 15 hex chars of md5 → 60-bit non-negative bigint.

    15 (not 16) hex chars so the value fits signed int64 in BOTH Spark
    and DuckDB without overflow — engine-portable bit arithmetic.
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


def _pow2_60() -> Column:
    """array<bigint> literal [1, 2, 4, ..., 2^59] — constant-folded to a
    single Literal by Catalyst; used to express 1<<b with a column bit
    index (pyspark's shiftleft only takes a Python-int bit count)."""
    return F.array(*[F.lit(1 << i).cast("bigint") for i in range(60)])


def with_simhash(df: DataFrame, out_col: str = "simhash") -> DataFrame:
    """DataFrame-level simhash — the scale path.

    Round-2 rewrite: tokens are exploded, hashed once each (one md5
    call site), crossed with bit index 0..59 as DATA, and the per-bit
    majority tally is a groupBy aggregate — partial-aggregated map-side,
    so the only wide exchanges carry |docs|·60 tiny rows on uniform
    keys.  Generated code is O(1) in the 60 bits (round 1 unrolled them
    into one giant projection; see VERDICT r1 "Performance").  Values
    are bit-identical to round 1 / the DuckDB oracle.

    ``doc_id`` must uniquely identify rows (the tallies join back on
    it); rows with zero tokens get simhash 0 via the left join.
    """
    from kgc.textops import norm_tokens

    toks = df.select("doc_id", norm_tokens("text").alias("_toks"))
    hashed = toks.select("doc_id", F.explode("_toks").alias("_tok")).select(
        "doc_id", _tok_hash60(F.col("_tok")).alias("_h")
    )
    bits = hashed.select(
        "doc_id", "_h", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("_bit")
    )
    tallies = bits.groupBy("doc_id", "_bit").agg(
        F.sum(
            F.when(F.bit_get(F.col("_h"), F.col("_bit")) == 1, 1).otherwise(-1)
        ).alias("_t")
    )
    sim = tallies.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("_t") > 0,
                F.element_at(_pow2_60(), (F.col("_bit") + 1).cast("int")),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("_simhash")
    )
    return (
        df.join(sim, ["doc_id"], "left")
        .withColumn(out_col, F.coalesce(F.col("_simhash"), F.lit(0).cast("bigint")))
        .drop("_simhash")
    )


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: (a, b, hamming ≤ max_hamming).

    Blocking: split the 60-bit hash into ``bands`` equal bands; by
    pigeonhole any pair within hamming ≤ bands-1 shares ≥1 exact band →
    equi-join per band, then verify true hamming with bit_count(xor).

    The pigeonhole bound is a PRECONDITION: recall is only complete
    when ``max_hamming <= bands - 1`` (enforced below — round 1 ran
    max_hamming=6 with bands=4 and silently missed 4-6-bit pairs
    spread across all bands; ADVICE r1).
    """
    from pyspark import StorageLevel

    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands >= {max_hamming + 1} "
            f"(pigeonhole: only pairs with hamming <= bands-1 are guaranteed "
            f"to share a band); got bands={bands}"
        )
    width = 60 // bands
    # persisted: the banded self-join reads this twice
    sh = (
        with_simhash(
            df.select("doc_id", "text"),
            out_col="h",
        )
        .select("doc_id", "h")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # bands as data: explode the band index, one shiftright call site
    banded = (
        sh.select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        )
        .withColumn(
            "key",
            F.expr(f"shiftright(h, band * {width}) & {(1 << width) - 1}"),
        )
    )
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.h").alias("ha"),
            F.col("y.h").alias("hb"),
        )
        .dropDuplicates(["a", "b"])
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    out = pairs.select("a", "b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
    out._kgc_pinned = [sh]  # released by kgc.pipeline.release
    return out


# --------------------------------------------------------- embeddings ----
def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, computed in
    double with left-to-right summation (engine-portable order)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_near_duplicates(df: DataFrame) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH + cosine verify.

    Signature bit i = sign(v · h_i) with hyperplane components h_i[j] ∈
    {−1,+1} derived from md5(i|j) — deterministic, engine-portable, no
    stored model.  Pairs sharing the full 16-bit sketch are candidates
    (for near-DUPLICATES the sketch collides with very high
    probability); verified with exact cosine ≥ 0.95.
    """
    from pyspark import StorageLevel

    sig = hyperplane_signature(F.col("embedding"))
    # persist: both sides of the self-join read s — without the
    # materialization each side recomputes the signature scan.
    s = df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"), sig.alias("sig")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = (
        s.alias("x")
        .join(s.alias("y"), "sig")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.round(cosine(F.col("x.v"), F.col("y.v")), 6).alias("cosine"),
        )
    )
    out = pairs.filter(F.col("cosine") >= 0.95)
    out._kgc_pinned = [s]  # released by kgc.pipeline.release
    return out


def _plane_sign(i: int, j: int) -> float:
    """Hyperplane component h_i[j] ∈ {−1,+1} from md5(i|j).

    Same formula the DuckDB oracle evaluates in SQL — but since it is
    data-independent, Spark gets it as a plan-time LITERAL (hashlib md5
    == engine md5), so the scan runs zero md5 calls."""
    import hashlib

    return 1.0 if hashlib.md5(f"{i}|{j}".encode()).hexdigest()[0] < "8" else -1.0


def hyperplane_signature(vec: Column, planes: int = 16) -> Column:
    """Random-hyperplane sketch as a bigint: bit i = 1 iff v·h_i > 0.

    The 64 plane components must cover the vector length (extra literals
    are ignored by zip_with's null-padding → 0 contribution).

    Planes ride as DATA: the sign matrix is a nested array literal
    (constant-folded by Catalyst into one Literal — zero per-row
    construction cost) and the plane loop is a transform over
    sequence(0, planes-1) with a single dot-product call site, so the
    expression is O(1) in ``planes`` (round 1 unrolled 16 dot products
    × 64 literals each — part of the JIT code-cache footprint)."""
    mat = F.array(
        *[
            F.array(*[F.lit(_plane_sign(i, j)) for j in range(64)])
            for i in range(planes)
        ]
    )
    pow2 = F.array(*[F.lit(1 << i).cast("bigint") for i in range(planes)])
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(planes - 1)),
            lambda i: F.when(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.element_at(mat, (i + F.lit(1)).cast("int")),
                        lambda x, h: F.coalesce(x.cast("double") * h, F.lit(0.0)),
                    ),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
                > 0,
                F.element_at(pow2, (i + F.lit(1)).cast("int")),
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )


# ------------------------------------------------------ near-dup groups ---
def near_duplicate_groups(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup CLUSTERS: (doc_id, group_id, group_size) over the
    transitive closure of minhash-LSH pairs.

    Pairwise near-dup output is not directly actionable for corpus
    dedup — keep/drop decisions need the equivalence classes (A~B,
    B~C ⇒ {A,B,C} even when A,C never collide in a band).  Pairs come
    from :func:`minhash_near_duplicates`; the closure is
    kgc.canon.connected_components (large/small-star, salted — the
    same 10^12-scale machinery as entity canonicalization, G5/G6).
    group_id = min doc_id of the component, so the canonical survivor
    of each cluster is deterministic.  Only docs that belong to some
    pair appear; singletons are by definition not duplicates.
    """
    pairs = minhash_near_duplicates(df, k=k, bands=bands, threshold=threshold)
    return _pair_groups(pairs, "doc_id")


def _staged_shingles(d: DataFrame, out_id: str) -> DataFrame:
    from pyspark import StorageLevel

    from kgc.link import shingles_from_tokens
    from kgc.textops import norm_tokens

    return (
        d.select(F.col("doc_id").alias(out_id), norm_tokens("text").alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(out_id, shingles_from_tokens(F.col("_toks"), 3).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def build_band_index(corpus_df: DataFrame) -> tuple:
    """The corpus LSH INDEX: (sh_corpus, banded_corpus), both persisted
    — the ingest-time (incremental) half of near-dup detection.

    At 10^12 docs you never re-self-join the whole corpus per ingest.
    Build once per corpus snapshot, probe many times
    (:func:`probe_band_index`) — per-ingest batches and streaming
    micro-batches never recompute or re-shuffle the corpus side.  In
    production both tables are materialized parquet, bucketed by
    (band, key) / corpus_id; here persist() stands in.  Caller releases
    via kgc.pipeline.release (or unpersist) when the ingest ends.
    """
    from pyspark import StorageLevel

    sh_corpus = _staged_shingles(corpus_df, "corpus_id")
    banded_corpus = lsh_band_keys(sh_corpus, "sh", ["corpus_id"], 16, 4).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return sh_corpus, banded_corpus


def probe_band_index(
    new_df: DataFrame,
    index: tuple,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe a :func:`build_band_index` corpus index with a batch of NEW
    docs → (new_id, corpus_id, jaccard) near-dup pairs, with the index
    build's 3-word shingles and 16 lanes in 4 bands.  The new side is small relative to
    the corpus in the normal ingest case, so AQE broadcasts it and the
    index is never shuffled.  Same hash family and banding as
    :func:`minhash_near_duplicates` (md5-replayable in the DuckDB
    oracle); candidates are verified with exact shingle Jaccard like the
    batch operator."""
    sh_corpus, banded_corpus = index
    sh_new = _staged_shingles(new_df, "new_id")
    banded_new = lsh_band_keys(sh_new, "sh", ["new_id"], 16, 4)
    pairs = (
        banded_new.join(banded_corpus, ["band", "key"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    out = (
        pairs.join(sh_new.withColumnRenamed("sh", "sh_n"), "new_id")
        .join(sh_corpus.withColumnRenamed("sh", "sh_c"), "corpus_id")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_n"), F.col("sh_c")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )
    out._kgc_pinned = [sh_new]  # released by kgc.pipeline.release
    return out


def _pair_groups(pairs: DataFrame, id_name: str) -> DataFrame:
    """(id, group_id, group_size) equivalence classes over an (a, b)
    pair table: kgc.canon.connected_components (large/small-star,
    salted — the same 10^12-scale machinery as entity canonicalization,
    G5/G6); group_id = min member id, so the canonical survivor is
    deterministic."""
    from kgc.canon import connected_components

    cc = connected_components(pairs, src="a", dst="b")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    out = cc.join(sizes, "component").select(
        F.col("node").alias(id_name),
        F.col("component").alias("group_id"),
        F.col("group_size").cast("bigint").alias("group_size"),
    )
    out._kgc_pinned = list(getattr(pairs, "_kgc_pinned", []))
    return out


def embedding_dedup_groups(df: DataFrame) -> DataFrame:
    """Semantic near-dup CLUSTERS: (vec_id, group_id, group_size) over
    the transitive closure of embedding-cosine near-dup pairs — the
    embedding-space twin of :func:`near_duplicate_groups` (textual
    minhash), for dedup that must catch paraphrases sharing no
    shingles.  Pairs come from :func:`embedding_near_duplicates`
    (hyperplane-LSH blocked, cosine-verified)."""
    return _pair_groups(embedding_near_duplicates(df), "vec_id")


def dedup_survivors(df: DataFrame, **minhash_kwargs) -> DataFrame:
    """The deduplicated corpus decision table: every input doc with a
    keep/drop verdict — kept iff it is in no near-dup cluster, or is
    its cluster's canonical (min-id) member.

    (doc_id, kept, group_id, group_size); group columns are NULL for
    singletons.  This is the row-level output corpus dedup actually
    materialises (the downstream writer filters ``kept``); clusters
    come from :func:`near_duplicate_groups` with the same kwargs.

    The cluster table is a small fraction of the corpus (only docs
    that collided in some LSH band), so the join back is
    AQE-broadcastable in the common case; worst case it is one
    shuffle on doc_id — uniform by construction.
    """
    groups = near_duplicate_groups(df, **minhash_kwargs)
    out = (
        df.select("doc_id")
        .join(groups, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("group_id").isNull() | (F.col("group_id") == F.col("doc_id"))
            ).alias("kept"),
            "group_id",
            "group_size",
        )
    )
    out._kgc_pinned = list(getattr(groups, "_kgc_pinned", []))
    return out


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    shingle_n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: training docs that share at least one
    word ``shingle_n``-gram with any evaluation document.

    (doc_id, n_shared_shingles, n_eval_docs, first_eval_id) — one row
    per contaminated training doc; drop these (or their matched spans)
    before training so eval benchmarks stay uncontaminated.  The
    n-gram-overlap criterion is the standard published recipe (GPT-3
    appendix C uses 13-grams; default 8 here because short docs never
    contain a 13-gram).

    Scale shape: the eval side is a benchmark suite — megabytes, not
    terabytes — so its exploded shingle table is broadcast and the
    100 TB training side never shuffles for the join; the only wide
    exchange is the final groupBy on doc_id (uniform key).  Shingles
    ride as md5 hex (32 bytes) rather than raw n-gram text.
    """
    from kgc.link import shingles_from_tokens
    from kgc.textops import norm_tokens

    def exploded(d: DataFrame, out_id: str) -> DataFrame:
        # two-step projection per shingles_from_tokens' contract: the
        # gram lambda slices its input once per gram, so the tokenizer
        # must be a materialised attribute, not an inlined expression
        toks = d.select(
            F.col("doc_id").alias(out_id), norm_tokens("text").alias("_toks")
        )
        return toks.select(
            out_id,
            F.explode(shingles_from_tokens(F.col("_toks"), shingle_n)).alias("_s"),
        ).select(out_id, F.md5("_s").alias("sh_hash"))

    hits = exploded(train, "doc_id").join(
        F.broadcast(exploded(eval_df, "eval_id")), "sh_hash"
    )
    return hits.groupBy("doc_id").agg(
        F.countDistinct("sh_hash").alias("n_shared_shingles"),
        F.countDistinct("eval_id").alias("n_eval_docs"),
        F.min("eval_id").alias("first_eval_id"),
    )


def paragraph_dedup(docs: DataFrame, min_count: int = 30) -> DataFrame:
    """CCNet-style paragraph-level dedup: drop every paragraph whose
    exact text occurs in ≥ ``min_count`` documents corpus-wide (shared
    boilerplate — headers, footers, cookie banners), keep the rest in
    original order.

    Input: (doc_id, paragraphs array<string>).  Output one row per doc:
    (doc_id, kept_text, n_kept, n_removed) — kept_text is the surviving
    paragraphs rejoined with newlines (empty string if everything was
    boilerplate).  Docs whose paragraph array is EMPTY are omitted
    (nothing to dedup — filter them out upstream with the quality
    gates).

    Scale shape: ONE wide shuffle — the corpus-wide count groupBy on
    md5(paragraph) (map-side combined, md5-uniform key, no skew by
    construction).  The boilerplate dimension (count ≥ min_count) is
    tiny by definition — a paragraph must repeat across ≥ min_count
    docs to qualify — so removal is a BROADCAST left join carrying a
    boilerplate flag: the 100 TB side never reshuffles for it, and the
    kept/removed counts fold into the SAME reassembly groupBy
    (collect_list skips the null'd boilerplate rows), so the corpus is
    scanned once per consumer — no separate totals pass, no second
    join.  Reassembly orders partition-locally via array_sort over
    (pos, para) structs; no window.
    """
    p = docs.select(
        "doc_id", F.posexplode("paragraphs").alias("pos", "para")
    ).withColumn("ph", F.md5("para"))
    boiler = (
        p.groupBy("ph")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("ph", F.lit(True).alias("_boiler"))
    )
    flagged = p.join(F.broadcast(boiler), "ph", "left")
    kept_struct = F.when(F.col("_boiler").isNull(), F.struct("pos", "para"))
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("kept_text"),
        F.sum(F.when(F.col("_boiler").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("_boiler").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
    )


def duplicated_ngram_stats(docs: DataFrame) -> DataFrame:
    """Exact-substring duplication signal at fixed width 5 — the
    cross-document n-gram criterion of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499),
    where a token span occurring verbatim in ≥ 2 distinct documents is
    training-set duplication (the suffix-array criterion approximated
    by a fixed gram width, the standard Spark-shaped variant).

    Output one row per doc:
      (doc_id, n_toks, n_grams, n_dup_grams, covered_toks)
    where n_dup_grams counts this doc's 5-grams that also occur in at
    least one OTHER document, and covered_toks counts the distinct
    token positions covered by such grams (the span a masking pass
    would redact; covered_toks/n_toks is the doc's duplication
    fraction).  Docs with fewer than 5 tokens have zero grams.

    Scale shape: grams carry (doc_id, pos, md5(gram)) only — never the
    text; the corpus-wide gram frequency is one map-side-combined
    groupBy on the md5-uniform hash (no skew by construction), and the
    dup verdict returns via a same-key shuffle join (the dup-gram set
    is NOT broadcast-small at 100 TB — common boilerplate n-grams are
    a large dimension).  Coverage dedups positions with one more
    groupBy on doc_id.  Three bounded shuffles total, all on uniform
    keys.
    """
    base, grams = _gram_tables(docs, 5)
    grams = grams.persist()  # consumed twice: frequency agg + dup join
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("gh")
    )
    out = _dup_stats(base, grams.join(dup, "gh"), 5)
    out._kgc_pinned = [grams]  # released by kgc.pipeline.release
    return out


def _gram_tables(docs, n: int):
    """(base, grams) — the staged token→gram build shared by the batch
    and incremental exact-substring operators.  base = (doc_id, n_toks,
    grams array<struct<pos,gh>>); grams = the exploded (doc_id, pos,
    gh) rows, NOT persisted (callers pin when multi-consumed)."""
    from kgc.textops import norm_tokens

    toks = docs.select("doc_id", norm_tokens("text").alias("toks"))
    # staged projection: materialize the token array once before the
    # HOF gram build (interpreted eval has no CSE; see BASELINE.md)
    base = toks.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_toks"),
        F.when(
            F.size("toks") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda j: F.struct(
                    j.alias("pos"),
                    F.md5(
                        F.array_join(F.slice("toks", j + 1, n), " ")
                    ).alias("gh"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<pos:int,gh:string>>"))
        .alias("grams"),
    )
    # explode_outer, NOT explode: InferFiltersFromGenerate would bolt a
    # size(...)>0 && isnotnull(...) filter under a plain explode with
    # the ENTIRE gram-build expression (tokenizer included) re-inlined
    # into both conjuncts — 3× interpreted evaluation per row (18.4 s →
    # 2.4 s at sf0.1; same hazard class as kgc/segment.py)
    grams = (
        base.select("doc_id", F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull())
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    )
    return base, grams


def _dup_stats(base, dup_grams, n: int):
    """Fold the duplicated-gram rows into the per-doc output table.

    One combined aggregation: each dup gram row is unique per
    (doc_id, pos), so after exploding its covered token range,
    n_dup_grams = distinct pos and covered_toks = distinct idx;
    n_grams is analytic (max(n_toks − n + 1, 0)) — no extra pass."""
    stats = (
        dup_grams.select(
            "doc_id", "pos",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(
            F.count_distinct("pos").cast("bigint").alias("n_dup_grams"),
            F.count_distinct("idx").cast("bigint").alias("covered_toks"),
        )
    )
    totals = base.select(
        "doc_id", "n_toks",
        F.greatest(F.col("n_toks") - (n - 1), F.lit(0))
        .cast("bigint").alias("n_grams"),
    )
    return totals.join(stats, "doc_id", "left").select(
        "doc_id", "n_toks", "n_grams",
        F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
        F.coalesce("covered_toks", F.lit(0)).cast("bigint").alias("covered_toks"),
    )


def incremental_duplicated_ngrams(new_batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Ingest-time exact-substring check: per NEW document, how much of
    it already exists verbatim (width-5 grams) anywhere in the
    EXISTING corpus — the incremental twin of
    :func:`duplicated_ngram_stats`, same output schema.

    Scale posture mirrors :func:`build_band_index`: the corpus
    side reduces to its distinct gram-hash INDEX (one aggregation that
    in production is a materialized table maintained across ingests —
    the corpus is never re-self-joined), and each new batch probes it
    with one shuffle join on the md5-uniform hash.  Within-batch
    duplication is deliberately NOT counted here (run the batch
    operator for that); a gram counts as duplicated only if the CORPUS
    already has it."""
    base_new, grams_new = _gram_tables(new_batch, 5)
    _, grams_corpus = _gram_tables(corpus, 5)
    index = grams_corpus.select("gh").distinct()
    return _dup_stats(base_new, grams_new.join(index, "gh"), 5)
