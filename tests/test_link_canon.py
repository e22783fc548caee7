"""Mention detection (G2), linking (G3/G4), canonicalization (G5),
and the end-to-end pipeline on the synthetic corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgc import canon, link, mentions, pipeline, segment, synth
from kgc.mentions import build_alias_index, scan_text_py


# ------------------------------------------------------------- G2 scan ---
def test_scan_leftmost_longest():
    index, max_n = build_alias_index(["cour de cassation", "cassation", "paris"])
    hits = scan_text_py(
        "La Cour de cassation siège à Paris, pas la cassation locale.", index, max_n
    )
    assert [h["alias"] for h in hits] == [
        "cour de cassation",
        "paris",
        "cassation",
    ]
    # longest match consumed all three tokens — no nested 'cassation' hit
    first = hits[0]
    assert first["surface"] == "Cour de cassation"
    assert first["n_toks"] == 3


def test_scan_offsets_punctuation():
    index, max_n = build_alias_index(["code civil"])
    text = "Voir: le CODE CIVIL (art. 2)."
    (h,) = scan_text_py(text, index, max_n)
    assert text[h["begin"] : h["end"]] == "CODE CIVIL"


def test_trie_scan_equals_naive_scan():
    """scan_text_trie (the UDF's precompiled-automaton path, r4) must be
    hit-for-hit identical to scan_text_py (the golden twin) — including
    offsets, surfaces, and the leftmost-longest non-overlap rule."""
    from kgc.mentions import build_alias_trie, scan_text_trie
    from kgc import synth

    aliases = [a for a, *_ in synth.ALIASES] + [
        "cour", "cour de", "cour de cassation", "de cassation",
        "a b c d e", "a b", "b c d",
    ]
    index, max_n = build_alias_index(aliases)
    root = build_alias_trie(aliases)
    texts = [
        "",
        "nothing matches here at all",
        "La Cour de cassation siège à Paris, pas la cassation locale.",
        "cour de cassation cour de cour",
        "a b c d e a b c d a b b c d",
        "a b c d",            # prefix of a 5-gram key, accepts at 2 and stops
        "Cour de CASSATION!",  # case + trailing punct
        "word cour",           # match at end of text
        "cour",                # single-token text, single-token alias
        "de de de cour de de", # partial walks that never accept
    ]
    try:
        from hypothesis import given, settings, strategies as st

        vocab = ["cour", "de", "cassation", "a", "b", "c", "d", "e",
                 "paris", "x", "la"]

        @settings(max_examples=200, deadline=None)
        @given(st.lists(st.sampled_from(vocab), max_size=30))
        def prop(words):
            t = " ".join(words)
            assert scan_text_trie(t, root) == scan_text_py(t, index, max_n)

        prop()
    except ImportError:
        pass
    for t in texts:
        assert scan_text_trie(t, root) == scan_text_py(t, index, max_n), t


def test_detect_mentions_spark_matches_python(spark):
    docs = synth.generate_documents(spark, n_docs=40)
    segs = (
        docs.select(
            "doc_id", F.posexplode("spans").alias("seg_id", "s")
        )
        .select("doc_id", "seg_id", F.col("s.text").alias("seg_text"))
        .filter(F.col("seg_text").isNotNull())
    )
    aliases = [a for a, *_ in synth.ALIASES]
    got = mentions.detect_mentions(segs, aliases).orderBy(
        "doc_id", "seg_id", "tok_begin"
    )
    rows = got.collect()
    assert len(rows) > 0
    # spot-check against the golden python scanner
    index, max_n = build_alias_index(aliases)
    seg_rows = segs.orderBy("doc_id", "seg_id").collect()
    expected = 0
    for r in seg_rows:
        expected += len(scan_text_py(r["seg_text"], index, max_n))
    assert len(rows) == expected


def test_ngram_variant_superset_of_scanner(spark):
    """The ngram join emits every occurrence; the scanner's non-overlap
    rule only removes nested/overlapping hits → scanner ⊆ ngram."""
    docs = synth.generate_documents(spark, n_docs=30)
    segs = (
        docs.select("doc_id", F.posexplode("spans").alias("seg_id", "s"))
        .select("doc_id", "seg_id", F.col("s.text").alias("seg_text"))
        .filter(F.col("seg_text").isNotNull())
    )
    aliases = [a for a, *_ in synth.ALIASES]
    adf = synth.alias_dict_df(spark)
    scan_hits = (
        mentions.detect_mentions(segs, aliases)
        .select("doc_id", "seg_id", "alias", "tok_begin")
        .distinct()
    )
    ngram_hits = (
        mentions.detect_mentions_ngram(segs, adf)
        .select("doc_id", "seg_id", "alias", "tok_begin")
        .distinct()
    )
    missing = scan_hits.join(
        ngram_hits, ["doc_id", "seg_id", "alias", "tok_begin"], "left_anti"
    )
    assert missing.count() == 0


# ------------------------------------------------------------ G4 exact ---
def test_link_exact_top1(spark):
    ment = spark.createDataFrame(
        [
            ("d1", 0, "paris", "Paris", 0, 1),
            ("d1", 0, "cassation", "cassation", 3, 1),
        ],
        "doc_id string, seg_id int, alias string, surface string, tok_begin int, n_toks int",
    )
    adf = spark.createDataFrame(
        [
            ("paris", "E4", "Place", 0.9),
            ("paris", "E9", "Person", 0.2),  # ambiguous alias, lower prior
            ("cassation", "E1", "Organization", 0.6),
        ],
        "alias string, entity_id string, entity_type string, weight double",
    )
    out = link.link_exact(ment, adf).orderBy("tok_begin").collect()
    assert len(out) == 2  # top-1 per mention
    assert out[0]["entity_id"] == "E4"  # higher weight wins
    assert out[1]["entity_id"] == "E1"


# ------------------------------------------------------------ G3 fuzzy ---
def test_link_fuzzy_typo(spark):
    ment = spark.createDataFrame(
        [("d1", 0, "cour de casation", "Cour de casation", 0, 3)],
        "doc_id string, seg_id int, alias string, surface string, tok_begin int, n_toks int",
    )
    adf = spark.createDataFrame(
        [("cour de cassation", "E1", "Organization", 1.0)],
        "alias string, entity_id string, entity_type string, weight double",
    )
    out = link.link_fuzzy(ment, adf, threshold=0.4).collect()
    assert len(out) == 1
    assert out[0]["entity_id"] == "E1"
    assert out[0]["jaccard"] > 0.5


def test_link_mentions_exact_precedence(spark):
    ment = spark.createDataFrame(
        [("d1", 0, "paris", "Paris", 0, 1), ("d1", 1, "pariss", "Pariss", 0, 1)],
        "doc_id string, seg_id int, alias string, surface string, tok_begin int, n_toks int",
    )
    adf = spark.createDataFrame(
        [("paris", "E4", "Place", 0.9)],
        "alias string, entity_id string, entity_type string, weight double",
    )
    out = {(r["seg_id"], r["method"]): r["entity_id"] for r in
           link.link_mentions(ment, adf, threshold=0.4).collect()}
    assert out[(0, "exact")] == "E4"
    assert out[(1, "fuzzy")] == "E4"
    # every mention a dictionary alias (as the pipeline's own scan
    # guarantees): link_exact's rows alone, no LSH branch planned
    hits = ment.filter(F.col("alias") == "paris")
    only = link.link_mentions(hits, adf, fuzzy=True)
    plan = only._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan and "_lane" not in plan
    exact = link.link_exact(hits, adf).select(*only.columns[:-1])
    assert sorted(only.collect()) == sorted(
        exact.withColumn("method", F.lit("exact")).collect()
    )


# ----------------------------------------------------------- G5 compcc ---
@pytest.mark.parametrize("threshold", [0, canon.SMALL_GRAPH_THRESHOLD],
                         ids=["distributed", "fastpath"])
@pytest.mark.parametrize(
    "edges,expected",
    [
        # chain 1-2-3-4-5
        ([(i, i + 1) for i in range(1, 5)], {i: 1 for i in range(1, 6)}),
        # star around 10 + separate pair
        ([(10, i) for i in range(11, 16)] + [(100, 101)],
         {**{i: 10 for i in [10, 11, 12, 13, 14, 15]}, 100: 100, 101: 100}),
        # two triangles bridged
        ([(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
         {i: 1 for i in range(1, 7)}),
    ],
)
def test_connected_components(spark, edges, expected, threshold):
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in canon.connected_components(
            e, max_iter=10, small_graph_threshold=threshold
        ).collect()
    }
    assert got == expected


def test_connected_components_string_ids_and_hot_hub(spark):
    # hot hub: 'a' connected to 200 nodes (skew path), plus chain c1-c2
    # — forced through the DISTRIBUTED star-contraction path.
    edges = [("a", f"n{i:03d}") for i in range(200)] + [("c1", "c2")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in canon.connected_components(e, small_graph_threshold=0).collect()
    }
    assert got["a"] == "a"  # 'a' < 'n***'
    assert all(got[f"n{i:03d}"] == "a" for i in range(200))
    assert got["c1"] == "c1" and got["c2"] == "c1"


def test_canonicalize_entities_merges_shared_alias(spark):
    linked = spark.createDataFrame(
        [("d1", 0, "x", "X", 0, 1, "E9", "Place", 1.0, "exact")],
        "doc_id string, seg_id int, alias string, surface string, tok_begin int,"
        " n_toks int, entity_id string, entity_type string, score double, method string",
    )
    adf = spark.createDataFrame(
        [("lutece", "E4", "Place", 0.4), ("Lutece", "E9", "Place", 0.5),
         ("paris", "E4", "Place", 0.9)],
        "alias string, entity_id string, entity_type string, weight double",
    )
    out = canon.canonicalize_entities(linked, adf).collect()
    # E9 shares surface 'lutece' with E4 → canonical is min(E4, E9) = E4
    assert out[0]["canonical_id"] == "E4"


def test_bucketed_stage_join_is_shuffle_free(spark, tmp_path):
    """Two stages written bucketed+sorted on the same key / bucket
    count must join with ZERO shuffle exchanges and zero sorts (the
    co-location is paid once at write time) — the r4 Iceberg
    bucket-partitioning stand-in.  The plain-parquet control join of
    the same data shows the exchanges the bucketing removes."""
    from kgc.checkpoint import StageStore

    store = StageStore(tmp_path / "stages")
    a = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("x")
    )
    b = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("y")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ta = store.write_bucketed(a, "stage_a", key="doc_id", buckets=8)
        tb = store.write_bucketed(b, "stage_b", key="doc_id", buckets=8)
        joined = ta.join(tb, "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 5000
        # control: same data from plain parquet shuffles both sides
        pa = store.write(a, "plain_a")
        pb = store.write(b, "plain_b")
        ctl = pa.join(pb, "doc_id")
        ctl_plan = ctl._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in ctl_plan
        # re-read through the catalog keeps the bucket spec
        again = store.read_bucketed(spark, "stage_a").join(
            store.read_bucketed(spark, "stage_b"), "doc_id"
        )
        assert "Exchange" not in again._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {store._table_name('stage_a')}")
        spark.sql(f"DROP TABLE IF EXISTS {store._table_name('stage_b')}")


def test_pipeline_bucketed_stages(spark, tmp_path):
    """pipeline.run(bucket_stages=N): same triples as the plain store,
    resume served from the catalog, and a doc_id join between two
    bucketed stages plans with no shuffle exchange."""
    from kgc.checkpoint import StageStore

    docs = synth.generate_documents(spark, n_docs=50)
    plain = pipeline.run(spark, docs, max_tokens=50,
                         store=StageStore(tmp_path / "p"))
    store = StageStore(tmp_path / "b")
    bucketed = pipeline.run(spark, docs, max_tokens=50, store=store,
                            bucket_stages=8)
    t1 = plain["triples"].select("subj", "pred", "obj").sort("subj", "pred", "obj")
    t2 = bucketed["triples"].select("subj", "pred", "obj").sort("subj", "pred", "obj")
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0
    # resume: valid stages come back through the catalog
    again = pipeline.run(spark, docs, max_tokens=50, store=store,
                         bucket_stages=8)
    assert again["triples"].count() == bucketed["triples"].count()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = again["segments"].join(
            again["triples"].select("doc_id", "subj"), "doc_id"
        )
        assert "Exchange" not in j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    pipeline.release(plain)
    pipeline.release(bucketed)
    pipeline.release(again)


# ------------------------------------------------------------- pipeline ---
def test_pipeline_end_to_end(spark, tmp_path):
    from kgc.checkpoint import StageStore

    docs = synth.generate_documents(spark, n_docs=60)
    store = StageStore(tmp_path / "stages")
    stages = pipeline.run(spark, docs, max_tokens=50, store=store)
    trips = stages["triples"]
    n = trips.count()
    assert n > 0
    # schema + dedup invariants
    assert trips.columns == ["doc_id", "seg_id", "subj", "pred", "obj", "obj_type"]
    assert trips.select("subj", "pred", "obj").distinct().count() == n
    # every segment got a @type triple
    n_segs = stages["segments"].count()
    assert trips.filter((F.col("pred") == "@type") & F.col("subj").startswith("seg:")).count() == n_segs
    # resume: rerun with same store → identical triple set, no recompute
    stages2 = pipeline.run(spark, docs, max_tokens=50, store=store)
    assert stages2["triples"].exceptAll(trips).count() == 0
    assert trips.exceptAll(stages2["triples"]).count() == 0


def test_pipeline_determinism(spark):
    docs = synth.generate_documents(spark, n_docs=40, n_parts=4)
    t1 = pipeline.run(spark, docs, max_tokens=50)["triples"]
    docs2 = synth.generate_documents(spark, n_docs=40, n_parts=7)
    t2 = pipeline.run(spark, docs2, max_tokens=50)["triples"]
    assert t1.exceptAll(t2).count() == 0
    assert t2.exceptAll(t1).count() == 0


def test_entity_triples_on_uncached_expression_lineage(spark):
    """Regression: entity_triples over a fully lazy synth lineage (spans
    built by transform(sequence..) — a lambda-bearing expression, no
    persist/checkpoint anywhere).  The round-2 union-leg form made
    DeduplicateRelations re-id the legs and strand the pack_spans
    pandas UDF inside a plain Project → runtime INTERNAL_ERROR under
    Spark 4.1.2.  The explode form must evaluate, and emit exactly 3
    triples per linked mention; quads_from_linked (the same unfold)
    one quad per distinct (graph, subj, pred, obj)."""
    from kgc.triples import ENTITY_PREDICATES, quads_from_linked

    docs = synth.generate_documents(spark, n_docs=200, n_parts=4)
    segs = segment.segment_documents(docs, max_tokens=60)
    aliases = [a for a, *_ in synth.ALIASES]
    men = mentions.detect_mentions(segs, aliases)
    linked = link.link_exact(men, synth.alias_dict_df(spark)).withColumn(
        "canonical_id", F.col("entity_id")
    )
    n_linked = linked.count()
    assert pipeline.entity_triples(linked).count() == 3 * n_linked
    want = set()
    for r in linked.select("doc_id", "entity_id", "entity_type", "alias").collect():
        g, ent = f"doc:{r.doc_id}", f"ent:{r.entity_id}"
        pred = ENTITY_PREDICATES.get(r.entity_type, "about")
        want |= {(g, g, pred, ent), (g, ent, "@type", r.entity_type),
                 (g, ent, "name", r.alias)}
    got = [tuple(r) for r in quads_from_linked(linked).collect()]
    assert len(got) == len(want) and set(got) == want


def _python_evals(plan, caches=()):
    """(node text, ids of the enclosing cache RDDs, innermost last) for
    every ArrowEvalPython node of a physical plan, cached subplans
    included."""
    name = plan.nodeName()
    out = [(plan.simpleString(100), caches)] if name == "ArrowEvalPython" else []
    if name == "InMemoryTableScan":
        rel = plan.relation()
        rdd = rel.cacheBuilder().cachedColumnBuffers().id()
        out += _python_evals(rel.cachedPlan(), (*caches, rdd))
    kids = plan.children()
    for i in range(kids.size()):
        out += _python_evals(kids.apply(i), caches)
    return out


def test_pipeline_quarantine_and_release(spark):
    """C5/E6: token-guard violations and unparseable docs route to the
    quarantine table; the parse runs once, as a cached stage that the
    segments and the quarantine table share; release() drops every
    pinned stage cache."""
    rows = [
        ("good", "good.md", "# Title\n\nalpha beta gamma"),
        ("empty", "empty.txt", ""),
        # a 30-token single span with seg_token_limit=8 below forces a
        # token_limit_exceeded quarantine row (packer max_tokens=20
        # keeps the segment at 20 > 8)
        ("toolong", "toolong.txt", " ".join(f"w{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    jsc = spark.sparkContext._jsc.sc()
    pinned_before = jsc.getPersistentRDDs().size()
    stages = pipeline.run(spark, docs, max_tokens=20, seg_token_limit=8)
    quar = {(r["doc_id"], r["stage"], r["reason"]) for r in stages["quarantine"].collect()}
    assert ("empty", "parse", "empty_document") in quar
    assert any(d == "toolong" and s == "segment" and r == "token_limit_exceeded"
               for d, s, r in quar)
    # quarantined segments are excluded from the healthy flow
    assert stages["segments"].filter(F.col("doc_id") == "toolong").count() == 0
    # the good doc flows through
    assert stages["segments"].filter(F.col("doc_id") == "good").count() > 0

    # one parse: the markdown/html parser UDF sits only under the cached
    # documents, both in that stage and wherever the quarantine reads it
    def parser_caches(df):
        plan = df._jdf.queryExecution().executedPlan()
        return [c for text, c in _python_evals(plan)
                if "markup_to_spans" in text]

    assert stages["documents"].storageLevel.useMemory
    (own,) = parser_caches(stages["documents"])
    assert len(own) == 1
    in_quar = parser_caches(stages["quarantine"])
    assert in_quar and all(c and c[-1] == own[0] for c in in_quar)

    # unpersist discipline: release() drops every cache the run pinned
    # (compare against the pre-run count — session fixtures cache too)
    stages["triples"].count()
    assert jsc.getPersistentRDDs().size() > pinned_before
    pipeline.release(stages)
    assert jsc.getPersistentRDDs().size() <= pinned_before


def test_pipeline_resume_invalidates_on_input_change(spark, tmp_path):
    """G8 + ADVICE r1: a committed stage is only served on resume when
    the input fingerprint matches; changed input recomputes."""
    from kgc.checkpoint import StageStore

    docs1 = synth.generate_documents(spark, n_docs=20)
    store = StageStore(tmp_path / "st")
    t1 = pipeline.run(spark, docs1, max_tokens=50, store=store)["triples"]
    n1 = t1.count()
    fp1 = store.manifest("segments")["fingerprint"]

    # same input → same fingerprint, stage served from the store
    t1b = pipeline.run(spark, docs1, max_tokens=50, store=store)["triples"]
    assert store.manifest("segments")["fingerprint"] == fp1
    assert t1b.exceptAll(t1).count() == 0

    # different input → fingerprint mismatch, stage recomputed
    docs2 = synth.generate_documents(spark, n_docs=35)
    t2 = pipeline.run(spark, docs2, max_tokens=50, store=store)["triples"]
    assert store.manifest("segments")["fingerprint"] != fp1
    assert t2.count() != n1


def _spo(df):
    return sorted(tuple(r) for r in df.select("subj", "pred", "obj").collect())


def test_pipeline_resume_invalidates_on_dictionary_change(spark, tmp_path):
    """Same documents, a smaller dictionary: every stage from mentions
    on is keyed on the dictionary too, so the resume recomputes them
    and equals a fresh run (instead of serving the old triples)."""
    from kgc.checkpoint import StageStore

    docs = synth.generate_documents(spark, n_docs=40)
    store = StageStore(tmp_path / "st")
    first = _spo(pipeline.run(spark, docs, max_tokens=50, store=store)["triples"])
    smaller = synth.alias_dict_df(spark).filter(
        ~F.col("alias").isin("paris", "france")
    )
    resumed = pipeline.run(spark, docs, alias_df=smaller, max_tokens=50, store=store)
    fresh = pipeline.run(spark, docs, alias_df=smaller, max_tokens=50)
    assert _spo(resumed["triples"]) == _spo(fresh["triples"])
    assert _spo(resumed["triples"]) != first
    pipeline.release(fresh)


def test_pipeline_resume_invalidates_on_token_limit_change(spark, tmp_path):
    """Same documents, a smaller max_tokens: the segments stage is keyed
    on the token limits, so the resume re-segments and equals a fresh
    run."""
    from kgc.checkpoint import StageStore

    docs = synth.generate_documents(spark, n_docs=40)
    store = StageStore(tmp_path / "st")
    pipeline.run(spark, docs, max_tokens=50, store=store)
    resumed = pipeline.run(spark, docs, max_tokens=20, store=store)
    fresh = pipeline.run(spark, docs, max_tokens=20)
    segs = lambda st: sorted(
        tuple(r) for r in st["segments"].select("doc_id", "seg_id", "seg_text").collect()
    )
    assert segs(resumed) == segs(fresh)
    assert _spo(resumed["triples"]) == _spo(fresh["triples"])
    pipeline.release(fresh)


def test_resolve_dictionary_drops_punctuation_only_aliases(spark):
    """'!!!' and '???' both normalize to the empty key.  The scanner
    never emits it, so it resolves no mention and must not merge X1 and
    X2 into one component."""
    adf = spark.createDataFrame(
        [("!!!", "X1", "Thing", 1.0), ("???", "X2", "Thing", 1.0),
         ("x two", "X2", "Thing", 1.0)],
        "alias string, entity_id string, entity_type string, weight double",
    )
    got = [tuple(r) for r in canon.resolve_dictionary(adf).table.collect()]
    assert got == [("x two", "X2", "Thing", 1.0, "X2")]


def _leaf_frame(df, columns):
    """The leaf relation of ``df``'s analyzed plan whose columns are
    ``columns``, as a DataFrame of its own."""
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if list(leaf.schema().fieldNames()) == columns:
            dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
            return DataFrame(dataset.ofRows(spark._jsparkSession, leaf), spark)
    raise AssertionError(f"no leaf with columns {columns}")


def test_driver_built_frames_are_local_scans(spark):
    """Every relation kgc builds from driver rows is an Arrow table
    (kgc.session.local_frame): its plan reads a LocalTableScan, not a
    Scan ExistingRDD whose every read runs a Python-worker job, and it
    has the rows and schema of a row-list frame of the same data.  An
    empty dictionary and an all-NULL weight column keep the DDL schema."""
    from kgc import mix, simsearch, vocab
    from kgc.session import local_frame

    ddl = "alias string, entity_id string, entity_type string, weight double"
    adf = spark.createDataFrame(
        [("Ada", "E2", "Person", None), ("Ada", "E1", "Person", None),
         ("Ada L", "E2", "Person", None)],
        ddl,
    )
    resolved = canon.resolve_dictionary(adf).table
    cc = canon.connected_components(
        spark.createDataFrame([("b", "a"), ("b", "c")], "src string, dst string")
    )
    ns = vocab.SCHEMA_NS
    type_rows = [(ns + l, l, c, (ns + s) if s else None) for l, c, s in vocab._TYPES]
    parent = {r[0]: r[3] for r in type_rows}
    ancestor_rows = []
    for t in parent:
        a = t
        while a is not None:
            ancestor_rows.append((t, a))
            a = parent[a]
    types, props = vocab.builtin_vocab(spark)
    docs = local_frame(
        spark, [("d1", "the cat sat on the mat"), ("d2", "le chat est sur le tapis")],
        "doc_id string, text string",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.5, 0.25])]
    built = [
        (synth.alias_dict_df(spark), synth.ALIASES, ddl),
        (synth.testdata_alias_df(spark), synth.TESTDATA_ALIASES, ddl),
        (types, type_rows,
         "type_id string, label string, comment string, subclass_of string"),
        (props,
         [(ns + l, l, c, ns + d, ns + r, [ns + d]) for l, c, d, r in vocab._PROPERTIES],
         "prop_id string, label string, comment string, domain string, "
         "range string, domains array<string>"),
        (vocab.type_ancestors(types), ancestor_rows, "type_id string, ancestor_id string"),
        (simsearch._centroid_frame(spark, cents), cents, "cid int, centroid array<double>"),
        (_leaf_frame(mix.stratified_sample(docs, rates={"en": 0.5, "fr": 0.25}),
                     ["lang", "thr"]),
         [("en", mix._hex_threshold(0.5)), ("fr", mix._hex_threshold(0.25))],
         "lang string, thr string"),
    ]
    for df, rows, rows_ddl in built:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
        want = spark.createDataFrame(rows, rows_ddl)
        assert df.schema == want.schema
        assert sorted(map(repr, df.collect())) == sorted(map(repr, want.collect()))
    for df in (resolved, cc):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert len(ancestor_rows) == 21
    assert sorted(tuple(r) for r in resolved.collect()) == [
        ("ada", "E1", "Person", None, "E1"), ("ada l", "E2", "Person", None, "E1"),
    ]
    assert sorted(tuple(r) for r in cc.collect()) == [("a", "a"), ("b", "a"), ("c", "a")]
    empty = canon.resolve_dictionary(spark.createDataFrame([], ddl)).table
    assert empty.collect() == []
    assert empty.schema.simpleString() == (
        "struct<alias:string,entity_id:string,entity_type:string,"
        "weight:double,canonical_id:string>"
    )


def _plan_nodes(plan, caches=1):
    """Physical node names, descending into the first ``caches`` levels
    of cached subplans (a stage's own cache, not its inputs')."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan(), caches)
    if name == "InMemoryTableScan":
        if not caches:
            return [name]
        return [name, *_plan_nodes(plan.relation().cachedPlan(), caches - 1)]
    out = [name]
    kids = plan.children()
    for i in range(kids.size()):
        out += _plan_nodes(kids.apply(i), caches)
    return out


def test_pipeline_run_submits_one_job_and_links_by_lookup(spark):
    """pipeline.run with no store and the default dictionary runs no
    Spark job itself (the dictionary is a local frame, so its collect
    reads the driver-side table) and plans the linked stage as one
    broadcast join over the mentions: no window, no union, no shuffle."""
    import uuid

    docs = synth.generate_documents(spark, n_docs=20)
    sc = spark.sparkContext
    group = f"pipeline-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pipeline.run")
    try:
        stages = pipeline.run(spark, docs, max_tokens=50)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    nodes = _plan_nodes(stages["linked"]._jdf.queryExecution().executedPlan())
    assert "BroadcastHashJoin" in nodes, nodes
    assert not {"Window", "Union", "Exchange"} & set(nodes), nodes
    assert "canonical" not in stages
    pipeline.release(stages)


def test_exact_link_non_ascii_alias(spark):
    """ADVICE r1: the pandas-UDF scanner (Python re.UNICODE) and the
    Catalyst dictionary normalization ((?U) Java regex) must agree on
    non-ASCII surfaces — 'Müller' / 'café' keys have to equi-join."""
    from kgc.mentions import detect_mentions

    segs = spark.createDataFrame(
        [("d1", 0, "Herr Müller besucht das café gern")],
        "doc_id string, seg_id int, seg_text string",
    )
    adf = spark.createDataFrame(
        [("Müller", "E_M", "Person", 1.0), ("Café", "E_C", "Place", 0.9)],
        "alias string, entity_id string, entity_type string, weight double",
    )
    ment = detect_mentions(segs, ["Müller", "Café"])
    linked = link.link_mentions(ment, adf, fuzzy=False)
    got = {(r["alias"], r["entity_id"]) for r in linked.collect()}
    assert ("müller", "E_M") in got or ("muller", "E_M") in got, got
    assert ("café", "E_C") in got or ("cafe", "E_C") in got, got


def test_incremental_components_equals_full_recompute(spark):
    """Folding a new edge batch into an existing assignment must equal
    CC over the union — including a bridge that merges two old
    components into one (label drops to the global min)."""
    from kgc.canon import connected_components, incremental_components

    old = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint")
    new = spark.createDataFrame([(3, 10), (20, 21)], "src bigint, dst bigint")

    full = connected_components(old.unionByName(new), max_iter=8)
    assign = connected_components(old, max_iter=8)
    incr = incremental_components(assign, new, max_iter=8)

    as_map = lambda df: {r["node"]: r["component"] for r in df.collect()}
    got = as_map(incr)
    assert got == as_map(full)
    # the bridge merged {1,2,3} and {10,11} under the global min 1
    assert got[11] == 1 and got[20] == 20 and got[21] == 20
    # distributed path agrees with the union-find shortcut
    incr_dist = incremental_components(
        assign, new, max_iter=8, small_graph_threshold=0
    )
    assert as_map(incr_dist) == got


def test_cc_local_finish_equals_pure_distributed(spark):
    """The r4 hybrid tail (local_finish_threshold) must produce the
    exact assignment of both the pure-distributed star contraction and
    the driver union-find, on a graph with a hot hub + chains + random
    merges (mid-contraction hand-off, not a trivial first-round
    finish)."""
    import random

    from kgc.canon import connected_components

    rng = random.Random(11)
    edges = [(0, i) for i in range(1, 300)]                  # hub
    edges += [(i, i + 1) for i in range(1000, 1200)]          # chain
    edges += [(rng.randrange(2000, 2600), rng.randrange(2000, 2600))
              for _ in range(400)]                            # random blob
    e = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "src bigint, dst bigint"
    )

    def as_map(df):
        return {r["node"]: r["component"] for r in df.collect()}

    pure = as_map(connected_components(e, max_iter=30,
                                       small_graph_threshold=0))
    hybrid = as_map(connected_components(e, max_iter=30,
                                         small_graph_threshold=0,
                                         local_finish_threshold=10_000))
    local = as_map(connected_components(e))   # driver union-find path
    assert pure == hybrid == local


def test_incremental_components_preserves_singletons(spark):
    """A prior (n, n) singleton assignment row must survive the fold:
    its star edge is a self-loop that connected_components drops, so
    incremental_components has to union it back (ADVICE r3)."""
    from kgc.canon import incremental_components

    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (42, 42)], "node bigint, component bigint"
    )
    new = spark.createDataFrame([(2, 3)], "src bigint, dst bigint")
    got = {r["node"]: r["component"]
           for r in incremental_components(assign, new, max_iter=8).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 42: 42}
    # singleton later bridged: merged label wins over the prior one
    new2 = spark.createDataFrame([(42, 1)], "src bigint, dst bigint")
    got2 = {r["node"]: r["component"]
            for r in incremental_components(assign, new2, max_iter=8).collect()}
    assert got2[42] == 1 and got2[2] == 1


def test_mention_udf_ships_broadcast_not_closure(spark):
    """The alias dictionary must ride a real sc.broadcast — the UDF
    closure carries only the Broadcast handle, never the alias list or
    a prebuilt trie (r4 verdict: closure capture re-serializes the
    dictionary per task batch at cluster scale)."""
    from pyspark.broadcast import Broadcast

    from kgc.mentions import detect_mentions, make_mention_udf

    udf = make_mention_udf(["Ada Lovelace", "Paris"])
    cells = [c.cell_contents for c in (udf.func.__closure__ or ())]
    assert any(isinstance(v, Broadcast) for v in cells)
    assert not any(isinstance(v, (list, dict)) for v in cells)

    segs = spark.createDataFrame(
        [("d1", 0, "Ada Lovelace went to Paris.")],
        "doc_id string, seg_id int, seg_text string",
    )
    rows = detect_mentions(segs, ["Ada Lovelace", "Paris"]).orderBy(
        "begin"
    ).collect()
    assert [(r["alias"], r["surface"]) for r in rows] == [
        ("ada lovelace", "Ada Lovelace"), ("paris", "Paris"),
    ]
