"""T3-T7 scalar projections — pure Catalyst, whole-stage-codegen'd.

Each mirrors one reference helper (file:line cited per function); none
needs Python at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def is_valid_date(col: Column | str) -> Column:
    """T3 isValidDate (converter.go:377-380): strict yyyy-MM-dd parse."""
    c = _c(col)
    return (
        c.isNotNull()
        & c.rlike(r"^\d{4}-\d{2}-\d{2}$")
        & F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).isNotNull()
    )


def clean_json_response(col: Column | str) -> Column:
    """T4 (llm/openai.go:127-136): strip ```json fences + trim."""
    c = _c(col)
    c = F.regexp_replace(c, r"^\s*```(?:json)?\s*", "")
    c = F.regexp_replace(c, r"\s*```\s*$", "")
    return F.trim(c)


# The reference's commonTypes priority list (converter.go:147): T5 takes
# the first one the text contains, E2 (kgc.pipeline.classify_main_type)
# the first one a segment's linked entities carry.
COMMON_TYPES = ["Article", "Person", "Event", "Organization", "Place", "CreativeWork", "Thing"]


def extract_schema_org_type(col: Column | str) -> Column:
    """T5 extractSchemaOrgType (converter.go:143-169): first common type
    contained in the text (priority order), else the first Capitalized
    word, else 'Thing'."""
    c = _c(col)
    first_cap = F.regexp_extract(c, r"(?:^|\s)([A-Z]\S*)", 1)
    return F.coalesce(
        *[F.when(c.contains(t), F.lit(t)) for t in COMMON_TYPES],
        F.when(first_cap != "", first_cap),
        F.lit("Thing"),
    )


def format_map_to_string(col: Column | str) -> Column:
    """T6 FormatMapToString (llm/utils.go:8-14): 'k: v' joined by ', '.

    NOTE: Go map iteration order is random; the reference's output is
    therefore nondeterministic.  We fix it by sorting keys — a superset
    guarantee (deterministic AND stable across runs).
    """
    c = _c(col)
    entries = F.array_sort(F.map_entries(c))
    return F.array_join(
        F.transform(entries, lambda e: F.concat(e["key"], F.lit(": "), e["value"])),
        ", ",
    )


def join_keywords(col: Column | str) -> Column:
    """T7/E3e (converter.go:340-351): drop empties, join ', '."""
    c = _c(col)
    return F.array_join(F.filter(c, lambda k: k != ""), ", ")
