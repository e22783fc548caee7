"""Triple materialization — the relational form of the JSON-LD @graph.

E3a-h normalization (reference: internal/jsonld/converter.go:250-369)
re-expressed as ONE Catalyst projection: each segment row builds an
array<struct<subj,pred,obj,obj_type>> of all its triples, exploded once.
No unions, no re-scans, no Python — a single narrow whole-stage-codegen
pass, which is the shape you want at 10^12 rows.

Blank-node ids are path-deterministic (`seg:{doc}#{seg}/{pred}/{i}`) and
match kgc.golden.flatten_node exactly, so P/R evaluation is a plain join.

Normalization rules mirrored:
  * mentions/locations → Person/Place nodes; description only if non-empty
    (converter.go:252-289)
  * events → Event nodes; participants passthrough list; date→startDate if
    non-empty, NOT validated (converter.go:290-314)
  * timeline → ItemList→ListItem(position=i+1)→Event; emitted even when
    the raw list is empty (converter.go:315-339)
  * keywords → drop empties, join ', ' (converter.go:340-351)
  * datePublished → only if isValidDate (converter.go:352-355, 377-380)
  * author → Person node (converter.go:356-362)
  * default → strings kept if non-empty; structured values flattened
    generically (converter.go:363-369)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgc.functions import is_valid_date

# Raw (pre-normalization) per-segment property payload — what the
# reference's extractProperties parses out of the LLM response.
PROPS_SCHEMA = T.StructType(
    [
        T.StructField("abstract", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("genre", T.StringType()),
        T.StructField("keywords", T.ArrayType(T.StringType())),
        T.StructField(
            "mentions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("description", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "locations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("description", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "events",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("description", T.StringType()),
                        T.StructField("date", T.StringType()),
                        T.StructField("participants", T.ArrayType(T.StringType())),
                    ]
                )
            ),
        ),
        T.StructField(
            "timeline",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("description", T.StringType()),
                        T.StructField("date", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "mainEntity",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("description", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "isPartOf",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("type", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "citation",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("author", T.StringType()),
                        T.StructField("text", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("author", T.StringType()),
        T.StructField("datePublished", T.StringType()),
    ]
)

TRIPLE_STRUCT = (
    "struct<subj:string,pred:string,obj:string,obj_type:string>"
)

_S = F.lit


def _triple(subj: Column, pred, obj: Column, obj_type="literal") -> Column:
    p = pred if isinstance(pred, Column) else _S(pred)
    t = obj_type if isinstance(obj_type, Column) else _S(obj_type)
    return F.struct(
        subj.alias("subj"), p.alias("pred"), obj.alias("obj"), t.alias("obj_type")
    )


def _opt(cond: Column, *triples: Column) -> Column:
    """Array of triples gated on a condition (empty array otherwise)."""
    return F.when(cond, F.array(*triples)).otherwise(
        F.array().cast(f"array<{TRIPLE_STRUCT}>")
    )


def _nonempty(c: Column) -> Column:
    return c.isNotNull() & (c != "")


def props_to_triples(df: DataFrame) -> DataFrame:
    """segments(doc_id, seg_id, main_type, props:PROPS_SCHEMA)
       → triples(doc_id, seg_id, subj, pred, obj, obj_type)."""
    doc = F.col("doc_id")
    seg = F.col("seg_id").cast("int")
    P = F.col("props")
    subj = F.concat(_S("seg:"), doc, _S("#"), seg.cast("string"))
    empty = F.array().cast(f"array<{TRIPLE_STRUCT}>")

    def lit_prop(pred: str, col: Column, typed: Column | None = None) -> Column:
        return _opt(
            _nonempty(col),
            _triple(subj, pred, col, typed if typed is not None else _S("literal")),
        )

    def person_place(pred: str, type_name: str) -> Column:
        """E3a/E3b: array<{name,description}> → typed blank nodes."""
        arr = F.coalesce(P[pred], F.array().cast(PROPS_SCHEMA[pred].dataType))
        return F.coalesce(
            F.flatten(
                F.transform(arr, lambda m, i: _mention_triples(subj, pred, type_name, m, i))
            ),
            empty,
        )

    def _mention_triples(s: Column, pred: str, type_name: str, m: Column, i: Column) -> Column:
        b = F.concat(s, _S("/"), _S(pred), _S("/"), i.cast("string"))
        base = F.array(
            _triple(s, pred, b, "node"),
            _triple(b, "@type", _S(type_name)),
        )
        base = F.concat(
            base,
            F.when(_nonempty(m["name"]), F.array(_triple(b, "name", m["name"]))).otherwise(empty),
            F.when(
                _nonempty(m["description"]),
                F.array(_triple(b, "description", m["description"])),
            ).otherwise(empty),
        )
        return base

    def events_triples() -> Column:
        arr = F.coalesce(P["events"], F.array().cast(PROPS_SCHEMA["events"].dataType))
        def one(e: Column, i: Column) -> Column:
            b = F.concat(subj, _S("/events/"), i.cast("string"))
            parts = F.array(
                _triple(subj, "events", b, "node"),
                _triple(b, "@type", _S("Event")),
            )
            parts = F.concat(
                parts,
                F.when(_nonempty(e["name"]), F.array(_triple(b, "name", e["name"]))).otherwise(empty),
                F.when(
                    _nonempty(e["description"]),
                    F.array(_triple(b, "description", e["description"])),
                ).otherwise(empty),
                F.coalesce(
                    F.transform(
                        e["participants"], lambda pp: _triple(b, "participants", pp)
                    ),
                    empty,
                ),
                F.when(
                    _nonempty(e["date"]),
                    F.array(
                        _triple(
                            b,
                            "startDate",
                            e["date"],
                            F.when(is_valid_date(e["date"]), _S("date")).otherwise(_S("literal")),
                        )
                    ),
                ).otherwise(empty),
            )
            return parts
        return F.coalesce(F.flatten(F.transform(arr, one)), empty)

    def timeline_triples() -> Column:
        # converter.go:315-339 — ItemList emitted whenever the raw key is
        # present, even with zero items.
        arr = P["timeline"]
        b0 = F.concat(subj, _S("/timeline"))
        def one(e: Column, i: Column) -> Column:
            bl = F.concat(b0, _S("/itemListElement/"), i.cast("string"))
            bi = F.concat(bl, _S("/item"))
            parts = F.array(
                _triple(b0, "itemListElement", bl, "node"),
                _triple(bl, "@type", _S("ListItem")),
                _triple(bl, "position", (i + 1).cast("string")),
                _triple(bl, "item", bi, "node"),
                _triple(bi, "@type", _S("Event")),
            )
            parts = F.concat(
                parts,
                F.when(_nonempty(e["name"]), F.array(_triple(bi, "name", e["name"]))).otherwise(empty),
                F.when(
                    _nonempty(e["description"]),
                    F.array(_triple(bi, "description", e["description"])),
                ).otherwise(empty),
                F.when(
                    _nonempty(e["date"]),
                    F.array(
                        _triple(
                            bi,
                            "startDate",
                            e["date"],
                            F.when(is_valid_date(e["date"]), _S("date")).otherwise(_S("literal")),
                        )
                    ),
                ).otherwise(empty),
            )
            return parts
        return F.when(
            arr.isNotNull(),
            F.concat(
                F.array(
                    _triple(subj, "timeline", b0, "node"),
                    _triple(b0, "@type", _S("ItemList")),
                ),
                F.flatten(F.transform(arr, one)),
            ),
        ).otherwise(empty)

    def struct_prop(pred: str, fields: list[str]) -> Column:
        """E3h passthrough for object values (mainEntity, isPartOf)."""
        o = P[pred]
        b = F.concat(subj, _S("/"), _S(pred))
        parts = F.array(_triple(subj, pred, b, "node"))
        for f_name in fields:
            parts = F.concat(
                parts,
                F.when(
                    _nonempty(o[f_name]), F.array(_triple(b, f_name, o[f_name]))
                ).otherwise(empty),
            )
        return F.when(o.isNotNull(), parts).otherwise(empty)

    def citation_triples() -> Column:
        arr = F.coalesce(P["citation"], F.array().cast(PROPS_SCHEMA["citation"].dataType))
        def one(c: Column, i: Column) -> Column:
            b = F.concat(subj, _S("/citation/"), i.cast("string"))
            parts = F.array(_triple(subj, "citation", b, "node"))
            for f_name in ("author", "text"):
                parts = F.concat(
                    parts,
                    F.when(
                        _nonempty(c[f_name]), F.array(_triple(b, f_name, c[f_name]))
                    ).otherwise(empty),
                )
            return parts
        return F.coalesce(F.flatten(F.transform(arr, one)), empty)

    # keywords: filter '' then join ', ' (converter.go:340-351)
    kws = F.filter(
        F.coalesce(P["keywords"], F.array().cast("array<string>")), lambda k: k != ""
    )
    keywords_t = _opt(
        F.size(kws) > 0, _triple(subj, "keywords", F.array_join(kws, ", "))
    )

    author_b = F.concat(subj, _S("/author"))
    author_t = _opt(
        _nonempty(P["author"]),
        _triple(subj, "author", author_b, "node"),
        _triple(author_b, "@type", _S("Person")),
        _triple(author_b, "name", P["author"]),
    )

    all_triples = F.concat(
        _opt(F.col("main_type").isNotNull(), _triple(subj, "@type", F.col("main_type"))),
        lit_prop("abstract", P["abstract"]),
        lit_prop("description", P["description"]),
        lit_prop("genre", P["genre"]),
        keywords_t,
        person_place("mentions", "Person"),
        person_place("locations", "Place"),
        events_triples(),
        timeline_triples(),
        struct_prop("mainEntity", ["name", "description"]),
        struct_prop("isPartOf", ["name", "type"]),
        citation_triples(),
        author_t,
        lit_prop(
            "datePublished",
            F.when(is_valid_date(P["datePublished"]), P["datePublished"]),
            _S("date"),
        ),
    )

    out = df.select(doc.alias("doc_id"), seg.alias("seg_id"), all_triples.alias("_t"))
    out = (
        out.select("doc_id", "seg_id", F.explode_outer("_t").alias("t"))
        .filter(F.col("t").isNotNull())
        .select(
            "doc_id",
            "seg_id",
            F.col("t.subj").alias("subj"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
            F.col("t.obj_type").alias("obj_type"),
        )
    )
    return out


def dedup_triples(df: DataFrame) -> DataFrame:
    """G7: global (subj,pred,obj) dedup — the one wide shuffle of the
    emit stage; AQE coalesces the post-shuffle partitions.

    A triple asserted by several rows keeps the least of their other
    columns (min over a struct, in column order), not an arbitrary one
    as ``dropDuplicates`` would: the output does not depend on how the
    input is partitioned.  Same plan shape as ``dropDuplicates``: one
    exchange between a partial and a final SortAggregate."""
    key = ["subj", "pred", "obj"]
    rest = [c for c in df.columns if c not in key]
    first = df.groupBy(*key).agg(F.min(F.struct(*rest)).alias("_first"))
    return first.select(
        *[c if c in key else F.col(f"_first.{c}").alias(c) for c in df.columns]
    )


def parse_props_json(df: DataFrame) -> DataFrame:
    """Extraction-store JSON → typed props struct (permissive)."""
    return df.withColumn("props", F.from_json(F.col("props_json"), PROPS_SCHEMA))


# ------------------------------------------------------------- rendering ---
# Predicates whose values are ALWAYS arrays in the reference's emitted
# JSON-LD even when single-element (converter.go emission shape).  The
# triple table stores scalar-list elements as repeated (s, p, item)
# triples, so arity must be restored at render time.
_ALWAYS_LIST_PREDS = {"participants"}

# Predicates coerced to integers on render — exactly the terms the
# @context table types as xsd:integer (kgc.vocab.context_table:
# range endswith /Integer).  flatten/props_to_triples store all
# literals as strings; the @context datatype recovers the JSON number.
_INT_PREDS = {"position"}


def render_jsonld_nested(
    triples: DataFrame, indent: int | None = None, include_ids: bool = False
) -> DataFrame:
    """A2 nested render — the inverse of kgc.golden.flatten_node.

    ``indent=2`` reproduces the reference CLI's file output byte-for-
    byte (json.MarshalIndent(combined, "", "  "), cmd/cli/main.go:211-
    217; verified byte-equal against the committed
    analyzed_transcription.txt.jsonld fixture).  Caveat, documented:
    scalar LISTS render sorted because the triple table stores repeated
    (s,p,o) rows with no order — jean1.pdf.jsonld keeps its
    'participants' arrays in original LLM order, so that fixture
    compares canonical-form-equal (arrays order-normalized on both
    sides), not byte-equal.

    (doc_id, jsonld) where jsonld is the reference CLI's combined
    output shape (cmd/cli/main.go:205-217): {"@context":
    "https://schema.org", "@graph": [<typed node per segment>]}, each
    node rebuilt from its triples:

    * blank nodes ('subj/pred' and 'subj/pred/i') fold back into nested
      objects / arrays-of-objects at their recorded positions;
    * node-typed objects that are NOT path-blank (e.g. 'ent:…' edges
      from the entity pipeline) render as {"@id": …} references and
      their own triples become additional @graph nodes;
    * keys sort alphabetically ('@context' < '@type' < letters), the
      order Go's json.Marshal gives map keys — byte-comparable with the
      committed fixtures;
    * repeated scalar triples regroup into arrays (order not stored in
      the triple table → rendered sorted; _ALWAYS_LIST_PREDS keeps
      single-element arrays as arrays);
    * _INT_PREDS literals become JSON numbers per the @context
      datatype.

    ``include_ids=True`` stamps every root node with its subject as
    "@id" (the reference CLI's shape omits it, so the default stays
    byte-comparable with the committed fixtures).  With ids the render
    is losslessly invertible for every engine-produced triple table:
    ``from_jsonld`` recovers the exact (subj, pred, obj, obj_type)
    set — render → parse round trips the KG bit-for-bit
    (pytest-pinned).  Scope of the claim: path-blank LIST subjects
    (``s/p/i``) must have contiguous indices from 0 — the shape this
    engine emits.  A hand-built table with gaps (s/p/0 and s/p/2,
    no s/p/1) re-enumerates on parse (s/p/2 comes back as s/p/1)
    because the render collapses list order and nested path blanks
    carry no "@id".

    Grouped per document (applyInPandas): assembly is pure local work
    after one shuffle on doc_id — the same exchange A1 already pays.
    """
    import json as _json
    from collections import defaultdict

    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("jsonld", T.StringType()),
        ]
    )

    def _build(children: dict, subj: str) -> dict:
        node: dict = {}
        lists: dict = {}
        scalars: dict = {}
        for p, o, t in children.get(subj, []):
            if t == "node":
                single = f"{subj}/{p}"
                if o == single:
                    node[p] = _build(children, o)
                elif o.startswith(single + "/"):
                    idx = int(o[len(single) + 1 :])
                    lists.setdefault(p, {})[idx] = _build(children, o)
                else:
                    scalars.setdefault(p, []).append({"@id": o})
            else:
                v: object = o
                if p in _INT_PREDS:
                    try:
                        v = int(o)
                    except ValueError:
                        pass
                scalars.setdefault(p, []).append(v)
        for p, d in lists.items():
            node[p] = [d[i] for i in sorted(d)]
        for p, vals in scalars.items():
            if len(vals) == 1 and p not in _ALWAYS_LIST_PREDS:
                node[p] = vals[0]
            else:
                # ensure_ascii=False: sort non-ASCII scalars in raw
                # codepoint order (escaped \uXXXX form sorts 'é' wrong)
                node[p] = sorted(
                    vals, key=lambda v: _json.dumps(v, ensure_ascii=False))
        return dict(sorted(node.items()))

    def _assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = pdf["doc_id"].iloc[0]
        nodes = []
        for seg_id in sorted(pdf["seg_id"].unique()):
            g = pdf[pdf["seg_id"] == seg_id]
            children = defaultdict(list)
            refd = set()
            for r in g.itertuples(index=False):
                children[r.subj].append((r.pred, r.obj, r.obj_type))
                # only PATH-BLANK children are consumed by nesting;
                # plain node references ({"@id": …}, e.g. ent: edges)
                # leave the target as its own @graph node
                if r.obj_type == "node" and r.obj.startswith(f"{r.subj}/{r.pred}"):
                    refd.add(r.obj)
            roots = sorted(s for s in children if s not in refd)
            for root in roots:
                node = {"@context": "https://schema.org", **_build(children, root)}
                if include_ids:
                    node["@id"] = root
                nodes.append(dict(sorted(node.items())))
        doc = {"@context": "https://schema.org", "@graph": nodes}
        return pd.DataFrame(
            {"doc_id": [doc_id], "jsonld": [_json.dumps(
                doc, ensure_ascii=False, sort_keys=True, indent=indent)]}
        )

    return triples.groupBy("doc_id").applyInPandas(_assemble, out_schema)


# E3 emission predicate per linked entity type (converter.go:252-339);
# any other type is emitted under 'about'.
ENTITY_PREDICATES = {"Person": "mentions", "Place": "locations", "Event": "events"}


def unfold_entities(
    linked: DataFrame, subj: Column, entity_col: str,
    keys: tuple[Column, ...] = (),
) -> DataFrame:
    """E3 unfold of a linked-entity table (entity_type, alias and the
    entity id in ``entity_col``): per row, ``subj --pred--> ent:<id>``
    under ENTITY_PREDICATES, plus the entity's ``@type`` and ``name``
    literals.  Output ``*keys, subj, pred, obj, obj_type``, where
    ``keys`` are leading columns carried onto every triple (the
    pipeline's doc/segment ids, a quad table's graph).  No dedup:
    callers with RDF set semantics add their own.

    The three triples per row are emitted as a single
    array(struct)->explode projection, NOT a 3-way self-union: a union
    plans the upstream lineage (mention scan, link join) once PER LEG
    (3× the scan/UDF work when the input isn't cached), and Spark's
    DeduplicateRelations re-ids each leg, which in 4.1.2 can strand the
    pack_spans pandas UDF inside a plain Project (unevaluable) when the
    spans column is itself a lambda-bearing expression (e.g.
    kgc.synth's transform(sequence..)).  One leg → one scan, no
    relation dedup, no hazard."""
    ent = F.concat(F.lit("ent:"), F.col(entity_col))
    pred = F.coalesce(
        *[
            F.when(F.col("entity_type") == t, F.lit(p))
            for t, p in ENTITY_PREDICATES.items()
        ],
        F.lit("about"),
    )
    trips = F.array(
        _triple(subj, pred, ent, "node"),
        _triple(ent, "@type", F.col("entity_type")),
        _triple(ent, "name", F.col("alias")),
    )
    out = linked.select(*keys, F.explode(trips).alias("_t"))
    return out.select(*out.columns[:-1], "_t.*")


def quads_from_linked(linked: DataFrame) -> DataFrame:
    """Provenance quad unfold of a linked-mention table: the
    unfold_entities triples of each doc→entity link, each carrying its
    ASSERTING document as ``graph`` — real named-graph provenance
    (every triple a linked mention produces is asserted BY one
    document; the name quad is the alias asserted in THAT doc).  The
    input shape is the entity-link output (doc_id, entity_id,
    entity_type, alias); output (graph, subj, pred, obj), deduplicated
    per RDF dataset semantics.  Feed to kgc.graph.sparql_query with
    ``graph_col="graph"`` for GRAPH-clause queries ("which document
    asserted this?")."""
    g = F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
    return (
        unfold_entities(linked, g, "entity_id", keys=(g.alias("graph"),))
        .drop("obj_type")
        .dropDuplicates()
    )


def kg_diff(
    old: DataFrame,
    new: DataFrame,
    keys: tuple[str, ...] = ("subj", "pred", "obj"),
) -> DataFrame:
    """KG snapshot diff: (change ∈ added|removed, *keys) — every triple
    present in exactly one of two KG snapshots.  The per-run QA gate a
    production pipeline puts between two Iceberg snapshots ("what did
    today's extractor change, and is the drift expected?"), pairing
    with validate_triples and the per-partition lineage metrics.

    Scale shape: two left_anti hash joins on the same key set — both
    sides shuffle once on (subj, pred, obj) and the exchanges are
    symmetric; no driver-side set materialization.  RDF set semantics
    (each side deduped on the keys first)."""
    ks = list(keys)
    o = old.select(*ks).dropDuplicates(ks)
    n = new.select(*ks).dropDuplicates(ks)
    added = n.join(o, on=ks, how="left_anti").select(
        F.lit("added").alias("change"), *ks
    )
    removed = o.join(n, on=ks, how="left_anti").select(
        F.lit("removed").alias("change"), *ks
    )
    return added.unionByName(removed)


def kg_diff_stats(
    diff: DataFrame, keys: tuple[str, ...] = ("subj", "pred", "obj")
) -> DataFrame:
    """Per-(change, pred) drift counts over a kg_diff output — the
    one-glance table an on-call reads: a spike of removed 'name'
    triples is a broken upstream stage, not corpus drift.

    ``keys`` must be the same tuple the diff was produced with
    (kg_diff's default shown): the breakdown column is the second key
    and the distinct-count column the first, so a diff over custom
    keys aggregates on ITS columns instead of failing on absent
    subj/pred ones."""
    if len(keys) < 2:
        raise ValueError("kg_diff_stats needs >= 2 diff keys")
    first, second = keys[0], keys[1]
    distinct_col = "n_subjects" if first == "subj" else f"n_{first}s"
    return diff.groupBy("change", second).agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.count_distinct(F.col(first)).alias(distinct_col),
    )


def flatten_jsonld_node(doc_id: str, seg_id: int, node: dict) -> list:
    """One JSON-LD @graph node → [(subj, pred, obj, obj_type)].  The
    kgc.golden.flatten_node rules (bit-identical on @id-free nodes —
    hypothesis-pinned in tests/test_properties.py) plus "@id" handling:
    node @id → subject, {"@id"}-only dicts → node-reference triples,
    dicts with @id + props nest under that id instead of a path blank.
    Pure Python — the per-row kernel of from_jsonld's Arrow batches."""
    from kgc.golden import _DATE_PREDS, seg_subject
    from kgc.golden import is_valid_date as is_valid_date_py

    rows: list = []

    def ref_or_blank(s, p, o, blank_id):
        keys = set(o) - {"@context"}
        if keys == {"@id"}:
            rows.append((s, p, o["@id"], "node"))
            return
        b = o.get("@id") or blank_id
        rows.append((s, p, b, "node"))
        for k, v in o.items():
            if k in ("@context", "@id"):
                continue
            emit(b, k, v)

    def emit(s, p, o):
        if isinstance(o, bool):
            rows.append((s, p, "true" if o else "false", "literal"))
        elif isinstance(o, (int, float)):
            o = int(o) if isinstance(o, float) and o.is_integer() else o
            rows.append((s, p, str(o), "literal"))
        elif isinstance(o, str):
            if o == "":
                return
            t = "date" if p in _DATE_PREDS and is_valid_date_py(o) else "literal"
            rows.append((s, p, o, t))
        elif isinstance(o, dict):
            ref_or_blank(s, p, o, f"{s}/{p}")
        elif isinstance(o, list):
            for i, item in enumerate(o):
                if isinstance(item, dict):
                    ref_or_blank(s, p, item, f"{s}/{p}/{i}")
                else:
                    emit(s, p, item)

    subj = node.get("@id") or seg_subject(doc_id, seg_id)
    for k, v in node.items():
        if k in ("@context", "@id"):
            continue
        emit(subj, k, v)
    return rows


def from_jsonld(docs: DataFrame) -> DataFrame:
    """JSON-LD ingestion — the inverse of render_jsonld_nested, and the
    migration source for a reference user's EXISTING corpus: the Go CLI
    emitted one `{"@context": "https://schema.org", "@graph": [...]}`
    file per document (cmd/cli/main.go:205-217), and this parses a
    DataFrame of those strings straight into the engine's (doc_id,
    seg_id, subj, pred, obj, obj_type) triple table.

    Per-node flattening follows the kgc.golden.flatten_node rules
    (path-deterministic blank nodes `subj/pred[/i]`, empty strings
    dropped per converter.go:363-369, date-typed objects for valid
    _DATE_PREDS values, bools/numbers stringified) plus JSON-LD "@id"
    handling the fixtures don't need but round-tripping does:

      * a node's "@id" becomes its subject (else `seg:{doc}#{seg}`);
      * `{"@id": x}`-only objects become (s, p, x, 'node') reference
        triples — the shape render_jsonld_nested emits for entity
        edges;
      * a dict WITH "@id" and other keys nests under that id instead
        of a path blank.

    Parity with the trusted driver-side loader is pytest-pinned on the
    reference's own committed fixtures (from_jsonld == kgc.golden.
    load_golden_triples, exact), and render(include_ids=True) →
    from_jsonld round trips engine-produced triple tables bit-for-bit
    (path-blank list subjects with contiguous indices — see the
    render_jsonld_nested docstring for the exact scope).

    Scale shape: mapInPandas — documents parse independently, no
    shuffle, Arrow-batched; a malformed JSON document yields no rows
    (callers audit drops with an anti-join on doc_id, the same posture
    as the parser quarantine)."""
    import json as _json

    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("seg_id", T.IntegerType()),
            T.StructField("subj", T.StringType()),
            T.StructField("pred", T.StringType()),
            T.StructField("obj", T.StringType()),
            T.StructField("obj_type", T.StringType()),
        ]
    )
    cols = ["doc_id", "seg_id", "subj", "pred", "obj", "obj_type"]
    _flatten = flatten_jsonld_node

    def _parse(batches):
        for pdf in batches:
            rows = []
            for did, txt in zip(pdf["doc_id"], pdf["jsonld"]):
                try:
                    data = _json.loads(txt)
                except (ValueError, TypeError):
                    continue
                if isinstance(data, dict) and "@graph" in data:
                    graph = data["@graph"]
                elif isinstance(data, dict):
                    graph = [data]
                elif isinstance(data, list):
                    graph = data
                else:
                    continue
                for seg_id, node in enumerate(graph):
                    if isinstance(node, dict):
                        for s, p, o, t in _flatten(did, seg_id, node):
                            rows.append((did, seg_id, s, p, o, t))
            yield pd.DataFrame(rows, columns=cols)

    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "jsonld"
    ).mapInPandas(_parse, out_schema)


def validate_triples(
    triples: DataFrame,
    types_df: DataFrame,
    props_df: DataFrame,
) -> DataFrame:
    """KG QA: RDFS-style DOMAIN validation of emitted triples against
    the schema.org vocabulary — does the predicate's domainIncludes
    admit the subject's type (directly or through subClassOf*)?  A
    triple store runs exactly this check at load time; at corpus scale
    it is the per-partition lineage metric that catches a drifting
    extractor (a sudden spike of 'invalid' is a broken upstream stage,
    per-stage quarantine's statistical twin).

    Input: a triple table (subj, pred, obj, obj_type) where '@type'
    rows give subject types (labels); plus the types/properties
    dimensions from kgc.vocab.load_schemaorg.  Output one row per
    distinct (subj, pred != '@type'):

      verdict ∈ {'valid',            -- a domain admits the type (or the
                                     -- property declares no domain)
                 'invalid',          -- typed subject, domains exist,
                                     -- none admits it
                 'unknown_pred',     -- predicate not in the vocabulary
                                     -- (emission-vocabulary extras)
                 'unknown_subject_type'}  -- subject carries no @type

    Scale shape: the vocabulary (props + reflexive ancestor closure)
    is a broadcast dimension; the subject-type table is derived from
    the triples themselves (one filter + distinct) and joins back on
    subj — a co-partitioned shuffle on the same key the triple table
    is already hashed by.  EXISTS semantics fold into one groupBy with
    bool_or flags; no per-row Python anywhere.
    """
    from kgc.vocab import type_ancestors

    typing = (
        triples.filter(F.col("pred") == "@type")
        .select("subj", F.lower(F.col("obj")).alias("_tl"))
        .distinct()
    )
    tdim = F.broadcast(
        types_df.select(F.lower(F.col("label")).alias("_tl"), "type_id")
    )
    subj_type = typing.join(tdim, "_tl").select(
        "subj", F.col("type_id").alias("_stype")
    )
    pdim = F.broadcast(
        props_df.select(
            F.lower(F.col("label")).alias("_pl"), "prop_id", "domains"
        )
    )
    anc = F.broadcast(type_ancestors(types_df))
    pt = (
        triples.filter(F.col("pred") != "@type")
        .select("subj", "pred", F.lower(F.col("pred")).alias("_pl"))
        .distinct()
    )
    j = (
        pt.join(pdim, "_pl", "left")
        .join(subj_type, "subj", "left")
        .select(
            "subj", "pred", "prop_id", "_stype",
            F.explode_outer("domains").alias("_dom"),
        )
    )
    m = j.join(
        anc,
        (j._stype == anc.type_id) & (j._dom == anc.ancestor_id),
        "left",
    )
    flags = m.groupBy("subj", "pred").agg(
        F.max(F.col("prop_id").isNotNull()).alias("_has_prop"),
        F.max(F.col("_stype").isNotNull()).alias("_has_type"),
        F.max(F.col("ancestor_id").isNotNull()).alias("_dom_ok"),
        F.max(F.col("prop_id").isNotNull() & F.col("_dom").isNull()).alias("_no_dom"),
    )
    verdict = (
        F.when(~F.col("_has_prop"), F.lit("unknown_pred"))
        .when(~F.col("_has_type"), F.lit("unknown_subject_type"))
        .when(F.col("_dom_ok") | F.col("_no_dom"), F.lit("valid"))
        .otherwise(F.lit("invalid"))
    )
    return flags.select("subj", "pred", verdict.alias("verdict"))


# ------------------------------------------------- N-Triples interchange ---
# W3C N-Triples (RFC-style line format, https://www.w3.org/TR/n-triples/)
# as the KG interchange surface: the reference emits JSON-LD files
# (cmd/cli/main.go:211-217); any JSON-LD 1.1 document has an equivalent
# RDF triple serialization, and N-Triples is the canonical line-oriented
# one — splittable, greppable, and the usual bulk-load format for triple
# stores.  Both directions are pure Catalyst projections (no UDFs): at
# 10^12 docs the export is a narrow whole-stage-codegen pass over the
# triple table and the parse is a per-line regex, both embarrassingly
# parallel with zero shuffles.

_RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_NT_NODE_NS = "kgc:"
_NT_PRED_NS = "https://schema.org/"


def _nt_escape(c: Column) -> Column:
    """STRING_LITERAL_QUOTE escaping (n-triples grammar [9]): backslash
    first (it introduces every other escape), then quote, LF, CR, TAB.
    Plain replace() chain — stays inside whole-stage codegen."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    return F.replace(c, F.lit("\t"), F.lit("\\t"))


def _nt_unescape(c: Column) -> Column:
    """Exact inverse of _nt_escape without a scanner: split on the
    escaped-backslash pair first (so '\\t' = backslash+t is never
    mistaken for a TAB escape), unescape the single-char escapes inside
    each piece, then rejoin the pieces with a literal backslash."""
    piece = lambda x: F.replace(
        F.replace(
            F.replace(F.replace(x, F.lit('\\"'), F.lit('"')),
                      F.lit("\\n"), F.lit("\n")),
            F.lit("\\r"), F.lit("\r"),
        ),
        F.lit("\\t"), F.lit("\t"),
    )
    return F.array_join(F.transform(F.split(c, r"\\\\", -1), piece), "\\")


def to_ntriples(triples: DataFrame) -> DataFrame:
    """Serialize (subj, pred, obj, obj_type) → one N-Triples line per
    row, column ``nt``.  Mapping (documented, deterministic):

      * subjects are always nodes → ``<{_NT_NODE_NS}{subj}>``
      * pred ``@type`` → the rdf:type IRI; every other predicate is a
        schema.org term → ``<{_NT_PRED_NS}{pred}>``
      * obj_type 'node' → ``<{_NT_NODE_NS}{obj}>``; otherwise a quoted
        STRING_LITERAL_QUOTE with grammar-exact escaping.

    ``df.write.text(path)`` on the result is the bulk sink (one .nt
    shard per partition — the splittable load format triple stores
    expect).  Round-trips bit-exactly through from_ntriples (pytest)."""
    subj = F.concat(F.lit("<" + _NT_NODE_NS), F.col("subj"), F.lit(">"))
    pred = F.when(
        F.col("pred") == "@type", F.lit("<" + _RDF_TYPE_IRI + ">")
    ).otherwise(F.concat(F.lit("<" + _NT_PRED_NS), F.col("pred"), F.lit(">")))
    obj = F.when(
        F.col("obj_type") == "node",
        F.concat(F.lit("<" + _NT_NODE_NS), F.col("obj"), F.lit(">")),
    ).otherwise(F.concat(F.lit('"'), _nt_escape(F.col("obj")), F.lit('"')))
    return triples.select(
        F.concat_ws(" ", subj, pred, obj, F.lit(".")).alias("nt")
    )


def from_ntriples(
    lines: DataFrame,
    col: str = "nt",
    node_ns: str = _NT_NODE_NS,
    pred_ns: str = _NT_PRED_NS,
) -> DataFrame:
    """Parse N-Triples lines (as produced by to_ntriples) back to the
    canonical (subj, pred, obj, obj_type) table.  Pure regexp_extract
    per line — no shuffle, no UDF; malformed lines (no grammar match)
    are dropped, comment/blank lines ignored per spec."""
    ln = F.trim(F.col(col))
    # [7] IRIREF subject, [6] predicate IRI, then object = IRIREF |
    # STRING_LITERAL_QUOTE; object pattern is greedy-safe because the
    # literal form escapes every interior quote.
    pat = r'^<([^>]*)> <([^>]*)> (?:<([^>]*)>|"((?:[^"\\]|\\.)*)") \.$'
    p = lines.select(
        F.regexp_extract(ln, pat, 1).alias("_s"),
        F.regexp_extract(ln, pat, 2).alias("_p"),
        F.regexp_extract(ln, pat, 3).alias("_on"),
        F.regexp_extract(ln, pat, 4).alias("_ol"),
        ln.rlike(pat).alias("_ok"),
    ).filter(F.col("_ok"))
    subj = F.regexp_replace(F.col("_s"), "^" + node_ns, "")
    pred = F.when(F.col("_p") == _RDF_TYPE_IRI, F.lit("@type")).otherwise(
        F.regexp_replace(F.col("_p"), "^" + pred_ns, "")
    )
    is_node = F.col("_on") != ""
    obj = F.when(is_node, F.regexp_replace(F.col("_on"), "^" + node_ns, "")
                 ).otherwise(_nt_unescape(F.col("_ol")))
    obj_type = F.when(is_node, F.lit("node")).otherwise(F.lit("literal"))
    return p.select(
        subj.alias("subj"), pred.alias("pred"),
        obj.alias("obj"), obj_type.alias("obj_type"),
    )
