"""Segment packing (S1/S2) — greedy token-budget packer, reference parity.

Semantics replicated exactly from internal/segmentation/segmenter.go:27-104:

* Walk spans in array order.  Token cost of a span = whitespace word count
  (tokenizer.go:8-10).
* A span with cost > max_tokens is carved into word-greedy chunks of
  max_tokens words each (splitLargeElement, segmenter.go:77-104); the
  chunks are appended IMMEDIATELY — the open pack buffer is NOT flushed
  first, so chunk segments can appear *before* the buffer they interleave
  with (segmenter.go:35-38).  Chunk text carries a trailing space per word
  (segmenter.go:90-91) and metadata type = the span kind (segmenter.go:97).
  Content advance is by *byte length* of the built chunk then TrimSpace
  (segmenter.go:100) — replicated on UTF-8 bytes.
* Otherwise, if buffer_tokens + cost > max_tokens: flush the buffer (if
  non-empty) and start a fresh one with this span (segmenter.go:39-50).
* Every packed span contributes its text + '\\n' (segmenter.go:48-49).
* After each span, if buffer_tokens >= max_tokens the buffer flushes
  (segmenter.go:57-64).
* A trailing non-empty buffer flushes at the end (segmenter.go:67-72).

Spark-side this is a per-row sequential fold over a (small) span array —
an Arrow-batched pandas UDF; parallelism is across document rows, which is
where the 100 TB scale lives.  No shuffle: segmentation is a narrow map.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgc.tokenizer import count_tokens_py

from pyspark.sql import types as T

SEG_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("seg_id", T.IntegerType()),
            T.StructField("span_ids", T.ArrayType(T.IntegerType())),
            T.StructField("seg_text", T.StringType()),
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("meta_type", T.StringType()),
        ]
    )
)

DEFAULT_MAX_TOKENS = 4000  # docs/build/expressionbesoin.md:19


def split_large_element_py(text: str, kind: str, max_tokens: int) -> list[dict]:
    """Golden twin of splitLargeElement (segmenter.go:77-104).

    CountTokens(word) == 1 for every word from strings.Fields, so each
    chunk is exactly max_tokens words (except the last).  The advance is
    content[len(chunk):] on BYTES, then TrimSpace.
    """
    chunks: list[dict] = []
    content = text.encode("utf-8", "surrogateescape")
    while len(content) > 0:
        s = content.decode("utf-8", "surrogateescape")
        words = s.split()
        take = words[:max_tokens]
        chunk = "".join(w + " " for w in take)
        chunks.append({"text": chunk, "meta_type": kind, "n_tokens": len(take)})
        content = content[len(chunk.encode("utf-8", "surrogateescape")):]
        content = content.decode("utf-8", "surrogateescape").strip().encode(
            "utf-8", "surrogateescape"
        )
        if not take:  # pathological: content with no fields (whitespace-only)
            break
    return chunks


def segment_document_py(
    spans: list[dict], max_tokens: int = DEFAULT_MAX_TOKENS
) -> list[dict]:
    """Golden twin of SegmentDocument (segmenter.go:27-75).

    spans: [{kind,text,media_ref,offset}] in order.  Media spans (text
    null) cost 0 tokens and contribute '\\n' like empty text elements —
    the interleaved generalization keeps them in the span_ids lineage.
    Returns [{seg_id, span_ids, seg_text, n_tokens, meta_type}].
    """
    segments: list[dict] = []
    buf_parts: list[str] = []
    buf_ids: list[int] = []
    buf_tokens = 0

    def flush() -> None:
        nonlocal buf_tokens
        if buf_parts:
            segments.append(
                {
                    "seg_id": len(segments),
                    "span_ids": list(buf_ids),
                    "seg_text": "".join(buf_parts),
                    "n_tokens": buf_tokens,
                    "meta_type": None,
                }
            )
            buf_parts.clear()
            buf_ids.clear()
            buf_tokens = 0

    for span in spans:
        text = span.get("text") or ""
        off = span.get("offset", 0)
        cost = count_tokens_py(text)

        if cost > max_tokens:
            # segmenter.go:35-38 — chunks appended, buffer NOT flushed.
            for ch in split_large_element_py(text, span.get("kind"), max_tokens):
                segments.append(
                    {
                        "seg_id": len(segments),
                        "span_ids": [off],
                        "seg_text": ch["text"],
                        "n_tokens": ch["n_tokens"],
                        "meta_type": ch["meta_type"],
                    }
                )
        elif buf_tokens + cost > max_tokens:
            flush()
            buf_parts.append(text + "\n")
            buf_ids.append(off)
            buf_tokens += cost
        else:
            buf_parts.append(text + "\n")
            buf_ids.append(off)
            buf_tokens += cost

        if buf_tokens >= max_tokens:
            flush()

    flush()
    return segments


def make_segment_udf(max_tokens: int = DEFAULT_MAX_TOKENS):
    """Arrow-batched pandas UDF: spans array → segments array."""

    @F.pandas_udf(SEG_TYPE)
    def pack_spans(spans: pd.Series) -> pd.Series:
        return spans.map(
            lambda sp: segment_document_py(list(sp) if sp is not None else [], max_tokens)
        )

    return pack_spans


def segment_documents(df: DataFrame, max_tokens: int = DEFAULT_MAX_TOKENS) -> DataFrame:
    """documents(doc_id, spans) → segments(doc_id, seg_id, seg_text, ...).

    Narrow transformation (no shuffle): one Arrow batch per task.  Each
    segment row carries n_segs so downstream stages never need a
    groupBy to recover 'segment {index}/{total}' metadata
    (converter.go:527-531).
    """
    udf = make_segment_udf(max_tokens)
    out = df.withColumn("segments", udf(F.col("spans")))
    out = out.withColumn("n_segs", F.size("segments"))
    # explode_outer, not explode: InferFiltersFromGenerate would inline the
    # pandas UDF into a JVM-side `size(pack_spans(..)) > 0` predicate, which
    # can neither codegen nor interpret Python.  outer + post-filter keeps
    # the UDF in its own ArrowEvalPython stage.
    out = out.select(
        *[c for c in df.columns if c not in ("segments",)],
        "n_segs",
        F.explode_outer("segments").alias("seg"),
    ).filter(F.col("seg").isNotNull()).select(
        *[c for c in df.columns if c not in ("segments",)],
        "n_segs",
        F.col("seg.seg_id").alias("seg_id"),
        F.col("seg.span_ids").alias("span_ids"),
        F.col("seg.seg_text").alias("seg_text"),
        F.col("seg.n_tokens").alias("n_tokens"),
        F.col("seg.meta_type").alias("meta_type"),
    )
    return out


def token_guard(df: DataFrame, max_tokens: int) -> DataFrame:
    """E6 token-limit guard (converter.go:487-503) as a routing column.

    Violations are quarantined (ok=false) instead of failing the job —
    at 10^12 docs a poison row must never kill the stage.
    """
    from kgc.tokenizer import count_tokens

    return df.withColumn("ok", count_tokens(F.col("seg_text")) <= F.lit(max_tokens))
