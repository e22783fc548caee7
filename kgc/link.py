"""G3/G4 — minhash-LSH blocking + entity-link scoring.

The reference resolves entity identity implicitly through the LLM's
running AnalysisContext (internal/llm/interface.go:7-11,
internal/jsonld/converter.go:57).  Our engine makes it explicit and
distributed:

* exact path (G4): mentions ⨝ broadcast alias dictionary on the
  normalized surface form; score = prior weight boosted by match
  specificity; top-1 per mention via a window.
* fuzzy path (G3): mentions with no exact hit are blocked against the
  dictionary by minhash-LSH over character 3-gram shingles, candidate
  pairs verified with exact Jaccard, then scored like the exact path.

Everything is Catalyst expressions — the minhash signature is an
``array_min`` over md5 hashes (lexicographic min of uniform hex strings
is a valid minhash), so the same computation is expressible in ANSI SQL
for the DuckDB oracle.  md5 (not xxhash64) precisely so both engines
produce identical values.

Scale notes: the alias dictionary is the small side everywhere
(broadcast — no shuffle); the only wide exchange is the window top-1,
partitioned by mention key.  LSH band join keys are md5 strings —
uniformly distributed, no skew by construction.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgc.textops import norm_tokens


# ------------------------------------------------------------- shingles ---
def char_shingles(col: Column | str) -> Column:
    """Distinct character 3-grams of lower(col), as an array<string>.

    Pure Catalyst: transform over a sequence of start offsets.  Strings
    shorter than 3 yield the whole string as a single shingle.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    ln = F.length(c)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(ln - 2, F.lit(1))),
        lambda i: c.substr(i, F.lit(3)),
    )
    return F.array_distinct(F.when(ln > 0, grams).otherwise(F.array().cast("array<string>")))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-TOKENIZED array.

    Pass an attribute (column from a previous projection), not an
    inline tokenizer expression — the gram lambda slices `toks` once
    per gram, so an inlined regexp tokenizer would re-run O(n_tokens)
    times per row."""
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(
        F.when(k > 0, grams).otherwise(F.array().cast("array<string>"))
    )


MINHASH_DOC_TYPE = T.StructType(
    [
        T.StructField("sh", T.ArrayType(T.StringType())),
        T.StructField(
            "bands",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("band", T.IntegerType()),
                        T.StructField("key", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def make_shingle_band_udf(k: int = 32, bands: int = 8):
    """Arrow-batched twin of shingles + :func:`lsh_band_keys` in ONE
    per-doc pass: text → (sh, [(band, key)]).

    Why: the lanes-as-data band build explodes |shingles|·k rows
    through a min(string) aggregation, and Spark's HashAggregate only
    takes fixed-size mutable buffers — min over strings falls back to
    SortAggregate, a full sort of the exploded table on BOTH sides of
    the exchange (3.6 s of minhash_pairs' 5.4 s at sf0.1 once the
    shingles were built in Python).  Here the per-lane minima fold
    inside the Arrow batch — no explode, no shuffle, no sort; the only
    wide op left in the band table build is the final explode of
    bands-per-doc (consumed from a persisted cache, so the
    InferFiltersFromGenerate hazard does not apply).

    Values are BIT-IDENTICAL to :func:`lsh_band_keys` and the DuckDB
    oracle SQL (``__spark_entry__._sql_minhash_sig``).  ``sh``
    equals ``norm_tokens`` + :func:`shingles_from_tokens`: Python's
    ``[^\\W_]+``/lower() tokenization is the Catalyst
    ``(?U)[^\\W_]+``/lower() class, and ``dict.fromkeys`` reproduces
    array_distinct's first-occurrence order.  hashlib.md5 over UTF-8 ==
    Spark md5(concat(lane, '|', shingle)) == DuckDB md5(lane || '|' ||
    shingle); Python min over lowercase hex strings is the same
    lexicographic order; band key = md5('|'.join(lane minima in lane
    order)) = md5(concat_ws('|', lanes-in-band)).  Twin equality of
    both fields is pytest-pinned (tests/test_dataops.py), and the
    oracle SQL is untouched.
    """
    import hashlib
    import re as _re

    rows = k // bands
    tok = _re.compile(r"[^\W_]+", _re.UNICODE)
    lane_prefixes = [f"{i}|".encode() for i in range(k)]
    md5 = hashlib.md5

    @F.pandas_udf(MINHASH_DOC_TYPE)
    def f(texts: pd.Series) -> pd.DataFrame:
        shs, bnds = [], []
        for t in texts:
            toks = tok.findall((t or "").lower())
            if not toks:
                shs.append([])
                bnds.append([])
                continue
            m = len(toks) - 2
            if m < 1:
                m = 1
            sh = list(dict.fromkeys(
                " ".join(toks[i : i + 3]) for i in range(m)
            ))
            enc = [s.encode("utf-8") for s in sh]
            mins = [
                min(md5(p + e).hexdigest() for e in enc)
                for p in lane_prefixes
            ]
            shs.append(sh)
            bnds.append([
                {
                    "band": b,
                    "key": md5(
                        "|".join(mins[b * rows : (b + 1) * rows]).encode()
                    ).hexdigest(),
                }
                for b in range(bands)
            ])
        return pd.DataFrame({"sh": shs, "bands": bnds})

    return f


# -------------------------------------------------------------- minhash ---
def lsh_band_keys(
    df: DataFrame,
    shingle_col: str,
    id_cols: list[str] | tuple[str, ...],
    k: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id_cols..., band, key) LSH band keys via explode + aggregate —
    the scale path for minhash banding.

    Lanes ride as DATA: explode the shingle array, cross with
    sequence(0, k-1), and take groupBy(min) per (id, lane).  Hash
    values are bit-identical to the DuckDB oracle SQL
    (``__spark_entry__._sql_minhash_sig``: md5(lane || '|' || shingle),
    band key = md5(concat_ws('|', lanes-in-band))).  Plan properties at
    scale:

    * generated code is O(1) in k — one tiny md5 expression; no JIT
      code-cache pressure (the round-1 scale killer).
    * the (id, lane) min is partial-aggregated map-side, so the only
      wide exchange carries |docs|·k tiny rows on a uniform key.
    * rows with empty shingle arrays simply produce no band keys
      (explode drops them) — same "no candidates" outcome as before.
    """
    rows = k // bands
    ids = list(id_cols)
    lanes = df.select(*ids, F.explode(F.col(shingle_col)).alias("_s")).select(
        *ids, "_s", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_lane")
    )
    minh = lanes.groupBy(*ids, "_lane").agg(
        F.min(
            F.md5(F.concat(F.col("_lane").cast("string"), F.lit("|"), F.col("_s")))
        ).alias("_mh")
    )
    return (
        minh.withColumn("_band", F.floor(F.col("_lane") / rows).cast("int"))
        .groupBy(*ids, "_band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("_lane").alias("l"), F.col("_mh").alias("m")
                                )
                            )
                        ),
                        lambda x: x["m"],
                    ),
                )
            ).alias("key")
        )
        .select(*ids, F.col("_band").alias("band"), "key")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays (verification step)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


# ---------------------------------------------------------- exact link ----
def _norm_alias(colname: str) -> Column:
    """Normalized alias key: the norm_tokens run joined by spaces."""
    return F.array_join(norm_tokens(colname), " ")


def exact_score() -> Column:
    """weight * (1 + 0.1*(n_toks-1)) — longer surface forms are more
    specific."""
    return F.col("weight") * (F.lit(1.0) + F.lit(0.1) * (F.col("n_toks") - 1))


def link_exact(
    mentions: DataFrame,
    alias_df: DataFrame,
    mention_key: tuple[str, ...] = ("doc_id", "seg_id", "tok_begin"),
) -> DataFrame:
    """G4 exact path: broadcast join + window top-1 per mention.

    Score = :func:`exact_score`.  Deterministic tie-break on entity_id.
    """
    adf = alias_df.select(
        _norm_alias("alias").alias("alias"), "entity_id", "entity_type", "weight"
    ).dropDuplicates(["alias", "entity_id"])
    j = mentions.join(F.broadcast(adf), "alias").withColumn("score", exact_score())
    w = Window.partitionBy(*[F.col(c) for c in mention_key]).orderBy(
        F.col("score").desc(), F.col("entity_id").asc()
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# ---------------------------------------------------------- fuzzy link ----
def link_fuzzy(
    unmatched: DataFrame,
    alias_df: DataFrame,
    threshold: float = 0.5,
    mention_key: tuple[str, ...] = ("doc_id", "seg_id", "tok_begin"),
) -> DataFrame:
    """G3: LSH-block unmatched surfaces against the dictionary, verify
    with exact char-3gram Jaccard ≥ threshold, score = weight * jaccard.

    The dictionary side is tiny → its banded form is broadcast; the
    mention side computes band keys via :func:`lsh_band_keys` (lanes as
    data — O(1) codegen, map-side-combined min; round-2 rewrite of the
    round-1 k-wide unrolled projection that thrashed the JIT code
    cache).  32 lanes in 8 bands of 4 rows.
    """
    m_base = unmatched.withColumn("_sh", char_shingles("surface"))
    mb = lsh_band_keys(
        m_base.select(*mention_key, "_sh"), "_sh", mention_key, 32, 8
    ).select(*mention_key, F.col("band").alias("_band"), F.col("key").alias("_key"))
    # join band keys back onto the full mention rows (mention_key is the
    # unique mention identity — same key the top-1 window partitions on)
    m = m_base.join(mb, list(mention_key))

    a_base = alias_df.withColumn("_sh_a", char_shingles("alias"))
    ab = lsh_band_keys(
        a_base.select("alias", "_sh_a").dropDuplicates(["alias"]),
        "_sh_a", ["alias"], 32, 8,
    ).select("alias", F.col("band").alias("_band"), F.col("key").alias("_key"))
    a = (
        a_base.join(ab, "alias")
        .select(
            F.col("alias").alias("cand_alias"),
            "entity_id",
            "entity_type",
            "weight",
            "_sh_a",
            "_band",
            "_key",
        )
    )

    cand = (
        m.join(F.broadcast(a), ["_band", "_key"])
        .drop("_band", "_key")
        .dropDuplicates([*mention_key, "entity_id"])
    )
    cand = cand.withColumn("jaccard", jaccard(F.col("_sh"), F.col("_sh_a"))).filter(
        F.col("jaccard") >= threshold
    )
    cand = cand.withColumn("score", F.col("weight") * F.col("jaccard")).drop(
        "_sh", "_sh_a"
    )
    w = Window.partitionBy(*[F.col(c) for c in mention_key]).orderBy(
        F.col("score").desc(), F.col("entity_id").asc()
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


def link_mentions(
    mentions: DataFrame,
    alias_df: DataFrame,
    fuzzy: bool = True,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact first; fuzzy only for mentions with no exact hit.

    The fuzzy (LSH) branch is planned only when some mention misses the
    dictionary: one ``limit(1)`` probe over the misses decides.  The
    probe reads the persisted mention table, so it materializes the
    upstream parse → segment → scan chain once, up front — work moved,
    not added.  Mentions found by the dictionary scan (kgc.mentions)
    always hit, and then the result is the exact branch alone, with no
    band keys, group-bys or union.  ``pipeline.run`` links scanned
    mentions without this operator (kgc.canon.resolve_dictionary).

    Returns (doc_id, seg_id, alias, surface, tok_begin, n_toks,
    entity_id, entity_type, score, method).
    """
    cols = [
        "doc_id", "seg_id", "alias", "surface", "tok_begin", "n_toks",
        "entity_id", "entity_type", "score",
    ]
    # Persist: the mention set feeds BOTH the exact join and the anti-join
    # miss detection — without a materialization boundary the upstream
    # (parse→segment→scan UDFs) would recompute per branch, and Spark
    # 4.1's plan-deduplication re-clones the subtree leaving the pandas
    # UDF un-extracted inside a JVM Project (codegen failure).
    from pyspark import StorageLevel

    mentions = mentions.persist(StorageLevel.MEMORY_AND_DISK)
    exact = link_exact(mentions, alias_df).select(*cols).withColumn(
        "method", F.lit("exact")
    )
    exact._kgc_pinned = [mentions]  # released by kgc.pipeline.release
    if not fuzzy:
        return exact
    missed = mentions.join(
        F.broadcast(
            alias_df.select(_norm_alias("alias").alias("alias")).dropDuplicates()
        ),
        "alias",
        "left_anti",
    )
    if missed.isEmpty():
        return exact
    fz = link_fuzzy(missed, alias_df, threshold=threshold).select(*cols).withColumn(
        "method", F.lit("fuzzy")
    )
    out = exact.unionByName(fz)
    out._kgc_pinned = [mentions]  # released by kgc.pipeline.release
    return out
