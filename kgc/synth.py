"""Deterministic synthetic interleaved corpus (input_hint shape).

Generates the pipeline's input table
    (doc_id string, spans array<struct<kind,text,media_ref,offset:int>>)
entirely with Catalyst expressions from ``spark.range`` — no driver-side
data, no Python in the loop, fully deterministic in (seed, n_docs).  The
same generator therefore scales from the 200-doc pytest corpus to a
10^12-row cluster run (spark.range is an embarrassingly parallel source).

Determinism device: every random choice is ``xxhash64(seed, doc, i, j)``
mod a literal vocabulary — stable across partitionings and cluster sizes.

The corpus deliberately exercises the reference's edge semantics:
  * short text-only docs (2-20 spans)
  * long docs with single spans exceeding the token budget (S2 path)
  * interleaved media spans (kind 'image'/'audio', text null,
    media_ref populated)
  * empty-text spans, punctuation-heavy spans (tokenizer classes)
  * embedded entity aliases incl. one deliberately HOT entity
    ("cour de cassation") appearing in ~1/3 of docs → skew-salting tests
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgc.session import local_frame

WORDS = [
    "jurisprudence", "loi", "droit", "cour", "juge", "arret", "principe",
    "regle", "texte", "article", "question", "application", "decision",
    "justice", "retroactivite", "securite", "juridique", "evolution",
    "france", "paris", "table", "value", "scan", "merge", "batch", "row",
]

# alias → (entity_id, entity_type, weight); multi-word surface forms
# exercise the token-window scan.  "cour de cassation" is the hot key.
ALIASES = [
    ("cour de cassation", "E1", "Organization", 1.0),
    ("cassation", "E1", "Organization", 0.6),
    ("la haute juridiction", "E1", "Organization", 0.5),
    ("marie curie", "E2", "Person", 1.0),
    ("curie", "E2", "Person", 0.5),
    ("conseil d etat", "E3", "Organization", 1.0),
    ("paris", "E4", "Place", 0.9),
    ("lutece", "E4", "Place", 0.4),
    ("france", "E5", "Place", 1.0),
    ("code civil", "E6", "CreativeWork", 0.9),
]


def _h(*cols):
    return F.xxhash64(*cols)


def generate_documents(
    spark: SparkSession,
    n_docs: int = 200,
    seed: int = 42,
    n_parts: int | None = None,
) -> DataFrame:
    """Build the interleaved documents table, deterministically."""
    seed_c = F.lit(seed)
    df = spark.range(0, n_docs, 1, n_parts or spark.sparkContext.defaultParallelism)
    doc = F.col("id")

    words_arr = F.array(*[F.lit(w) for w in WORDS])
    alias_arr = F.array(*[F.lit(a) for a, *_ in ALIASES])
    hot = F.lit(ALIASES[0][0])

    # Span count: mostly 2-20; every 13th doc is "long" (24-40 spans).
    n_spans = F.when(
        doc % 13 == 0, (F.pmod(_h(seed_c, doc, F.lit("n")), F.lit(17)) + 24)
    ).otherwise(F.pmod(_h(seed_c, doc, F.lit("n")), F.lit(19)) + 2)

    def word_at(i, j):
        return F.element_at(
            words_arr, (F.pmod(_h(seed_c, doc, i, j), F.lit(len(WORDS))) + 1).cast("int")
        )

    def sentence(i, n_words):
        # n_words words joined by spaces; a '.' suffix exercises \p{P}.
        return F.concat(
            F.array_join(
                F.transform(F.sequence(F.lit(1), n_words), lambda j: word_at(i, j)), " "
            ),
            F.lit("."),
        )

    def span_struct(i):
        r = F.pmod(_h(seed_c, doc, i, F.lit("k")), F.lit(100))
        is_media = r < 10  # ~10% media spans
        is_empty = (r >= 10) & (r < 13)
        is_big = (r >= 13) & (r < 16) & (doc % 13 == 0)  # oversized (S2)
        # sentence length: 5-14 words normally, 120 when oversized
        n_words = F.when(
            is_big, F.lit(120)
        ).otherwise(F.pmod(_h(seed_c, doc, i, F.lit("w")), F.lit(10)) + 5)
        base = sentence(i, n_words)
        # inject an alias into ~25% of text spans; hot alias in 1/3 of docs
        inject = F.pmod(_h(seed_c, doc, i, F.lit("a")), F.lit(100))
        alias = F.when(
            (doc % 3 == 0) & (inject < 20), hot
        ).otherwise(
            F.element_at(
                alias_arr,
                (F.pmod(_h(seed_c, doc, i, F.lit("ai")), F.lit(len(ALIASES))) + 1).cast(
                    "int"
                ),
            )
        )
        text = F.when(is_empty, F.lit("")).otherwise(
            F.when(inject < 25, F.concat(base, F.lit(" "), alias, F.lit(" ."))).otherwise(
                base
            )
        )
        kind = F.when(
            is_media,
            F.when(r < 5, F.lit("image")).otherwise(F.lit("audio")),
        ).when(
            F.pmod(_h(seed_c, doc, i, F.lit("hk")), F.lit(10)) == 0, F.lit("heading")
        ).otherwise(F.lit("paragraph"))
        return F.struct(
            kind.alias("kind"),
            F.when(is_media, F.lit(None).cast("string")).otherwise(text).alias("text"),
            F.when(
                is_media,
                F.concat(F.lit("blob://"), doc.cast("string"), F.lit("/"), i.cast("string")),
            )
            .otherwise(F.lit(None).cast("string"))
            .alias("media_ref"),
            (i - 1).cast("int").alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(1), n_spans), span_struct)
    out = df.select(
        F.concat(F.lit("doc-"), F.lpad(doc.cast("string"), 8, "0")).alias("doc_id"),
        spans.alias("spans"),
    )
    # Exchange barrier: downstream pandas UDFs (segment.pack_spans) must see
    # `spans` as a plain attribute, not this lambda-bearing transform(sequence..)
    # expression — Spark 4.1.2's Python-UDF extraction intermittently strands
    # the UDF inside a plain Project when re-planning an equivalent
    # UDF-over-lambda query in the same session (ExprId-dependent; see
    # tests/test_link_canon.py::test_entity_triples_on_uncached_expression_lineage).
    # Hash on doc_id: deterministic, unique key, no skew; synth-only cost.
    return out.repartition(n_parts or spark.sparkContext.defaultParallelism, "doc_id")


def synthetic_kg(spark: SparkSession, scale: int) -> DataFrame:
    """Deterministic query-side KG (subj, pred, obj) of 5.4M triples ×
    ``scale``: 4M doc-mentions-entity edges with one HOT entity
    (``ent:1``) in ~10% of them, 1M doc-locations edges, and @type /
    name dimensions over 200k entities (Person / Place /
    Organization).  Pure Catalyst over ``spark.range``; the join and
    skew workload of the SPARQL bench legs and their 10× point."""
    n_ent = 200_000 * scale

    def ent(c):
        return F.concat(F.lit("ent:"), c.cast("string"))

    mentions_t = spark.range(4_000_000 * scale).select(
        F.concat(
            F.lit("doc:"),
            F.pmod(F.xxhash64("id"), F.lit(1_000_000 * scale)).cast("string"),
        ).alias("subj"),
        F.lit("mentions").alias("pred"),
        ent(
            F.when(F.pmod(F.col("id"), F.lit(10)) == 0, F.lit(1))
            .otherwise(F.pmod(F.xxhash64(F.col("id") + 3), F.lit(n_ent)))
        ).alias("obj"),
    )
    locations_t = spark.range(1_000_000 * scale).select(
        F.concat(F.lit("doc:"), F.col("id").cast("string")).alias("subj"),
        F.lit("locations").alias("pred"),
        ent(F.pmod(F.xxhash64(F.col("id") + 11), F.lit(n_ent))).alias("obj"),
    )
    ents_r = spark.range(n_ent)
    types_t = ents_r.select(
        ent(F.col("id")).alias("subj"),
        F.lit("@type").alias("pred"),
        F.when(F.pmod(F.col("id"), F.lit(3)) == 0, F.lit("Person"))
        .when(F.pmod(F.col("id"), F.lit(3)) == 1, F.lit("Place"))
        .otherwise(F.lit("Organization"))
        .alias("obj"),
    )
    names_t = ents_r.select(
        ent(F.col("id")).alias("subj"),
        F.lit("name").alias("pred"),
        F.concat(F.lit("entity "), F.col("id").cast("string")).alias("obj"),
    )
    return (
        mentions_t.unionByName(locations_t)
        .unionByName(types_t)
        .unionByName(names_t)
    )


_ALIAS_DDL = "alias string, entity_id string, entity_type string, weight double"


def alias_dict_df(spark: SparkSession) -> DataFrame:
    """The broadcast alias dictionary (FIXTURES.md §2 shape)."""
    return local_frame(spark, ALIASES, _ALIAS_DDL)


# Alias dictionary tuned to the driver's testdata vocabulary
# (/root/testdata documents are English query-engine word soup).
# 'query' maps to two entity ids → exercises canonicalization merge;
# 'scan' maps to two ids with different priors → exercises top-1.
TESTDATA_ALIASES = [
    ("customer", "E01", "Person", 0.9),
    ("table scan", "E02", "Event", 0.9),
    ("scan", "E03", "Thing", 0.4),
    ("scan", "E11", "Event", 0.2),
    ("hash join", "E04", "Event", 0.9),
    ("join", "E05", "Thing", 0.4),
    ("window", "E06", "Place", 0.6),
    ("stream", "E07", "Place", 0.5),
    ("spark", "E08", "Organization", 1.0),
    ("data", "E09", "CreativeWork", 0.7),
    ("sort", "E10", "Thing", 0.3),
    ("query", "E12", "Thing", 0.5),
    ("query", "E13", "Thing", 0.4),
]


def testdata_alias_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, TESTDATA_ALIASES, _ALIAS_DDL)
