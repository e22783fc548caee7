"""Tokenizer semantics (reference parity: pkg/tokenizer/tokenizer.go:8-16).

Two operations, each with (a) a pure-Python golden implementation used in
tests and inside pandas-UDF folds, and (b) a Catalyst column expression
(JVM-side, whole-stage-codegen'd) used in the hot path.

* count_tokens  — len(strings.Fields(text)): number of maximal runs of
  non-whitespace (Unicode White_Space), i.e. whitespace word count.
* split_tokens  — strings.FieldsFunc(text, IsSpace||IsPunct): split on
  Unicode whitespace OR Unicode category-P punctuation.  NOTE: Go
  unicode.IsPunct is general category P only — it EXCLUDES symbol
  characters like ``$ + < = > ^ ` | ~`` (category S), unlike Java's
  POSIX ``\\p{Punct}``.  The Catalyst expression therefore uses the
  Unicode category class ``\\p{P}`` with the (?U) flag, not
  ``\\p{Punct}``.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# Go: unicode.IsSpace(r) || unicode.IsPunct(r)  → Unicode \s or category P.
_WS_PUNCT_RE = r"(?U)[\s\p{P}]+"


# ---------------------------------------------------------------- python ---
def count_tokens_py(text: str | None) -> int:
    """Golden twin of CountTokens (tokenizer.go:8-10)."""
    if not text:
        return 0
    return len(text.split())


def split_tokens_py(text: str | None) -> list[str]:
    """Golden twin of SplitIntoTokens (tokenizer.go:12-16)."""
    if not text:
        return []
    out: list[str] = []
    cur: list[str] = []
    for ch in text:
        if ch.isspace() or unicodedata.category(ch).startswith("P"):
            if cur:
                out.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


# -------------------------------------------------------------- catalyst ---
def count_tokens(col: Column | str) -> Column:
    """Whitespace token count as a pure Catalyst expression (T1).

    Counts runs of non-whitespace — exactly Go strings.Fields
    semantics.  (The earlier split(trim(x), ws) form over-counted by
    one on trailing '\\n'/'\\t': Spark's trim strips only ASCII
    spaces, so the split kept a phantom '' element.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.size(F.regexp_extract_all(c, F.lit(r"(?U)\S+"), 0)), F.lit(0)
    ).cast("int")


def split_tokens(col: Column | str) -> Column:
    """Token array per SplitIntoTokens semantics (T2), Catalyst-only.

    FieldsFunc drops empty fields, so filter '' after the regex split
    (leading/trailing separators produce empty strings).
    """
    c = F.col(col) if isinstance(col, str) else col
    arr = F.split(F.coalesce(c, F.lit("")), _WS_PUNCT_RE)
    return F.filter(arr, lambda x: x != F.lit(""))
