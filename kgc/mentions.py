"""G2 — batched dictionary mention detection (Arrow-vectorized).

The reference surfaces entities by prompting an LLM per segment
(enrichContentWithLLM, internal/jsonld/converter.go:108-120; property
extraction 171-375).  Our deterministic stand-in scans token windows of
each segment against a broadcast alias dictionary — the north-star's
"batched mention detection against a broadcast alias dictionary".

Two implementations, same semantics:

* ``detect_mentions`` — the scale path.  An Arrow-batched pandas UDF
  whose closure carries only a ``sc.broadcast`` handle to the alias
  list; the token trie is built lazily once per Python worker process
  (the SURVEY §1.3 "broadcast alias dictionary", now as code: the
  dictionary serializes once per worker, not once per task batch).
  Leftmost-longest non-overlapping greedy scan, O(tokens) per segment.
  Narrow map — no shuffle, no explode of token n-grams, no per-row
  Python.

* ``detect_mentions_ngram`` — the pure-Catalyst twin used for the DuckDB
  oracle: tokenize → posexplode → build n-grams with array slices →
  broadcast equi-join on the normalized alias.  Same matches (modulo the
  non-overlap rule, which the ngram variant does not apply — it emits
  every occurrence; documented, and the oracle SQL mirrors that).

Normalization (both sides, and in the dictionary builder): lowercase +
tokens = maximal runs of word characters excluding '_' (``[^\\W_]+``).
This is the *matching* normalization, deliberately simpler than the
reference tokenizer parity semantics in kgc.tokenizer (T2) which remain
fixture-exact for segmentation.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgc.link import _norm_alias
from kgc.textops import norm_tokens

_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

MENTION_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("alias", T.StringType()),      # normalized dict key
            T.StructField("surface", T.StringType()),    # text as it appeared
            T.StructField("begin", T.IntegerType()),     # char offset in seg_text
            T.StructField("end", T.IntegerType()),       # char offset (exclusive)
            T.StructField("tok_begin", T.IntegerType()),
            T.StructField("n_toks", T.IntegerType()),
        ]
    )
)


def norm_tokens_py(text: str) -> list[str]:
    return [m.group(0).lower() for m in _TOKEN_RE.finditer(text or "")]


def build_alias_index(aliases: list[str]) -> tuple[dict[tuple[str, ...], str], int]:
    """alias surface forms → {token-tuple: normalized alias string}."""
    index: dict[tuple[str, ...], str] = {}
    max_n = 1
    for a in aliases:
        toks = tuple(norm_tokens_py(a))
        if not toks:
            continue
        index[toks] = " ".join(toks)
        max_n = max(max_n, len(toks))
    return index, max_n


def scan_text_py(
    text: str, index: dict[tuple[str, ...], str], max_n: int
) -> list[dict]:
    """Leftmost-longest non-overlapping dictionary scan (golden twin)."""
    if not text:
        return []
    toks = [(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]
    low = [t[0].lower() for t in toks]
    out: list[dict] = []
    i = 0
    n = len(toks)
    while i < n:
        hit = None
        for ln in range(min(max_n, n - i), 0, -1):
            key = tuple(low[i : i + ln])
            alias = index.get(key)
            if alias is not None:
                hit = (alias, ln)
                break
        if hit is None:
            i += 1
            continue
        alias, ln = hit
        begin, end = toks[i][1], toks[i + ln - 1][2]
        out.append(
            {
                "alias": alias,
                "surface": text[begin:end],
                "begin": begin,
                "end": end,
                "tok_begin": i,
                "n_toks": ln,
            }
        )
        i += ln
    return out


def build_alias_trie(aliases: list[str]) -> list:
    """Token-level trie over the alias dictionary.

    Node = ``[accept, children]`` where ``accept`` is the normalized
    alias string if a dictionary key ends here (else None) and
    ``children`` maps next-token → child node.  Precompiled once in the
    UDF closure; the scan walks it incrementally instead of hashing a
    fresh token-tuple per candidate length (the round-3 verdict's
    "hottest Python loop on the 100 TB KG path").
    """
    root: list = [None, {}]
    for a in aliases:
        toks = tuple(norm_tokens_py(a))
        if not toks:
            continue
        node = root
        for t in toks:
            node = node[1].setdefault(t, [None, {}])
        node[0] = " ".join(toks)
    return root


def scan_text_trie(text: str, root: list) -> list[dict]:
    """Leftmost-longest non-overlapping scan via a precompiled trie.

    Semantically identical to :func:`scan_text_py` (pinned by
    tests/test_mentions twin equivalence): the longest dictionary key
    starting at token i is the deepest accepting node on the trie walk
    from i, and a position whose token is not a root child can never
    start a match — one dict miss replaces max_n tuple constructions.
    """
    if not text:
        return []
    finditer = _TOKEN_RE.finditer
    toks = [(m.group(0), m.start(), m.end()) for m in finditer(text)]
    low = [t[0].lower() for t in toks]
    out: list[dict] = []
    i = 0
    n = len(toks)
    root_children = root[1]
    while i < n:
        node = root_children.get(low[i])
        if node is None:
            i += 1
            continue
        best_alias = node[0]
        best_ln = 1
        j = i + 1
        while j < n:
            node = node[1].get(low[j])
            if node is None:
                break
            j += 1
            if node[0] is not None:
                best_alias = node[0]
                best_ln = j - i
        if best_alias is None:
            i += 1
            continue
        begin, end = toks[i][1], toks[i + best_ln - 1][2]
        out.append(
            {
                "alias": best_alias,
                "surface": text[begin:end],
                "begin": begin,
                "end": end,
                "tok_begin": i,
                "n_toks": best_ln,
            }
        )
        i += best_ln
    return out


# Per-process trie cache for the broadcast scanner, keyed by broadcast
# id: on a 1000-executor cluster the alias list ships ONCE per worker
# (torrent-style broadcast), and each Python worker process builds the
# trie ONCE instead of deserializing a prebuilt trie with every task
# batch.  Bounded — a long-lived worker that sees many distinct
# dictionaries drops the oldest entries rather than growing forever.
_TRIE_CACHE: dict = {}
_TRIE_CACHE_MAX = 4


def _trie_for(bc) -> list:
    # worker-side Broadcast is keyed by its spill path (unique per
    # broadcast per worker); driver-side (local testing) by identity
    key = getattr(bc, "_path", None) or id(bc)
    root = _TRIE_CACHE.get(key)
    if root is None:
        root = build_alias_trie(bc.value)
        while len(_TRIE_CACHE) >= _TRIE_CACHE_MAX:
            _TRIE_CACHE.pop(next(iter(_TRIE_CACHE)))
        _TRIE_CACHE[key] = root
    return root


def make_mention_udf(aliases: list[str], spark=None):
    """Arrow-batched scanner.  The alias dictionary ships as a REAL
    ``sc.broadcast`` (not closure capture): the UDF closure carries only
    the broadcast handle, so a million-alias dictionary serializes once
    per worker instead of riding every task batch, and the trie is built
    lazily once per Python worker process (_trie_for cache).  Falls back
    to closure capture only when no SparkSession is active (plain-Python
    unit tests of the scan kernel)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        root = build_alias_trie(aliases)

        @F.pandas_udf(MENTION_TYPE)
        def scan(texts: pd.Series) -> pd.Series:
            return texts.map(lambda t: scan_text_trie(t, root))

        return scan

    bc = spark.sparkContext.broadcast(list(aliases))

    @F.pandas_udf(MENTION_TYPE)
    def scan(texts: pd.Series) -> pd.Series:
        root = _trie_for(bc)
        return texts.map(lambda t: scan_text_trie(t, root))

    return scan


def detect_mentions(
    df: DataFrame,
    aliases: list[str],
    text_col: str = "seg_text",
    explode: bool = True,
) -> DataFrame:
    """segments → mentions. Narrow map; exploded form keeps lineage cols."""
    udf = make_mention_udf(aliases)
    out = df.withColumn("mentions", udf(F.col(text_col)))
    if not explode:
        return out
    keep = [c for c in df.columns if c != text_col]
    # explode_outer + filter: keep the pandas UDF out of JVM predicates
    # (InferFiltersFromGenerate pitfall — see kgc/segment.py).
    return (
        out.select(*keep, F.explode_outer("mentions").alias("m"))
        .filter(F.col("m").isNotNull())
        .select(
            *keep,
            F.col("m.alias").alias("alias"),
            F.col("m.surface").alias("surface"),
            F.col("m.begin").alias("begin"),
            F.col("m.end").alias("end"),
            F.col("m.tok_begin").alias("tok_begin"),
            F.col("m.n_toks").alias("n_toks"),
        )
    )


# --------------------------------------------------- pure-Catalyst twin ---
def detect_mentions_ngram(
    df: DataFrame,
    alias_df: DataFrame,
    text_col: str = "seg_text",
    id_cols: tuple[str, ...] = ("doc_id", "seg_id"),
    max_n: int = 4,
) -> DataFrame:
    """Pure-DataFrame mention detection (oracle-checkable variant).

    tokens → posexplode → n-grams (array_join of slice) → broadcast
    equi-join against the normalized alias dictionary.  Emits EVERY
    occurrence (no non-overlap rule).  The n-gram explode multiplies
    rows by max_n — acceptable for the oracle path; the UDF scanner is
    the 100 TB path.
    """
    toks = norm_tokens(text_col)
    t = df.select(*id_cols, toks.alias("toks"))
    t = t.select(
        *id_cols,
        F.col("toks"),
        F.posexplode_outer(F.col("toks")).alias("pos", "tok"),
    ).filter(F.col("tok").isNotNull())
    grams = t.select(
        *id_cols,
        F.col("pos"),
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(max_n)),
                    lambda n: F.when(
                        F.size("toks") - F.col("pos") >= n,
                        F.struct(
                            F.array_join(
                                F.slice(F.col("toks"), F.col("pos") + 1, n), " "
                            ).alias("gram"),
                            n.cast("int").alias("n_toks"),
                        ),
                    ),
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("g"),
    ).select(*id_cols, "pos", F.col("g.gram").alias("gram"), F.col("g.n_toks").alias("n_toks"))
    adf = alias_df.select(
        _norm_alias("alias").alias("gram"),
        F.col("entity_id"),
        F.col("entity_type"),
        F.col("weight"),
    ).dropDuplicates(["gram", "entity_id"])
    return grams.join(F.broadcast(adf), "gram").select(
        *id_cols,
        F.col("gram").alias("alias"),
        F.col("pos").alias("tok_begin"),
        "n_toks",
        "entity_id",
        "entity_type",
        "weight",
    )
