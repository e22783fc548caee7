"""G5/G6 — entity canonicalization via connected components.

The reference keeps entity identity consistent only through the LLM's
sequential AnalysisContext (internal/jsonld/converter.go:57,
internal/llm/utils.go:43-63); at 10^12 documents that chain cannot
exist.  We canonicalize explicitly: build an undirected graph whose
nodes are entity ids / co-referring aliases, and contract each connected
component to its minimum node id ("canonical id").

Algorithm: alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) — O(log^2 n) rounds, each round two groupBy-min + join stages:

  large-star: for every node u, connect all strictly-larger neighbors to
              m(u) = min(N(u) ∪ {u})
  small-star: orient edges (larger→smaller); connect all smaller
              neighbors and u itself to m(u)

Scale mechanics (the genuinely distributed-systems part):
  * two-phase salted min-aggregation: groupBy(u, salt) partial min →
    groupBy(u) final min.  Spark's partial aggregation does this
    implicitly for min(); the explicit salt column additionally bounds
    the per-task key width when a hot hub ("France") owns 10^8 edges —
    G6's "salting for aggregation-side skew" (AQE only splits join
    skew).
  * the edges⨝node-min join is skew-split by AQE
    (spark.sql.adaptive.skewJoin, on in kgc.session).
  * per-iteration localCheckpoint() truncates lineage — without it the
    plan doubles every round and the driver OOMs compiling it.
  * convergence via (count, xor-of-hashes) checksum — two cheap
    aggregates, no exceptAll shuffle.

On a cluster the per-iteration materialization would be an Iceberg
snapshot write (resume = restart from last round's table, G8);
locally localCheckpoint stands in.

``kgc.pipeline.run`` runs no Spark connected components: its alias
graph is the dictionary's, broadcast-sized, so :func:`resolve_dictionary` closes it
on the driver together with the exact-link top-1, and the pipeline
links each mention with one broadcast lookup (:func:`link_resolved`).
"""

from __future__ import annotations

import hashlib
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgc.link import _norm_alias, exact_score
from kgc.mentions import norm_tokens_py
from kgc.session import local_frame

DEFAULT_SALT = 16


def _salted_min(edges: DataFrame, salt: int) -> DataFrame:
    """min(v) per u with explicit two-phase salting: (u, salt)→min, u→min."""
    partial = (
        edges.withColumn("_salt", F.pmod(F.xxhash64("v"), F.lit(salt)))
        .groupBy("u", "_salt")
        .agg(F.min("v").alias("_pm"))
    )
    return partial.groupBy("u").agg(F.min("_pm").alias("m"))


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: order-independent AND overflow-free under ANSI
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame, salt: int) -> DataFrame:
    e2 = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).filter(
        F.col("u") != F.col("v")
    )
    mins = _salted_min(e2, salt)
    m = F.least(F.col("m"), F.col("u"))
    return (
        e2.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame, salt: int) -> DataFrame:
    # orient larger → smaller
    e2 = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    mins = _salted_min(e2, salt)  # min neighbor, always ≤ u
    withm = e2.join(mins, "u")
    a = withm.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    b = mins.filter(F.col("u") != F.col("m")).select(
        F.col("u"), F.col("m").alias("v")
    )
    return a.union(b).distinct()


SMALL_GRAPH_THRESHOLD = 100_000


def collect_if_small(df: DataFrame, threshold: int) -> list | None:
    """``df``'s rows when it has at most ``threshold`` of them, else None.

    One ``limit(threshold + 1).collect()`` probe: a relation that fits
    the driver comes back whole from the job that measured it, so the
    caller finishes it in Python instead of paying an iterative
    algorithm's fixed per-round Spark overhead.  ``threshold <= 0``
    probes nothing (the caller's distributed path is forced)."""
    if threshold <= 0:
        return None
    rows = df.limit(threshold + 1).collect()
    return rows if len(rows) <= threshold else None


def _union_find_local(edge_rows, node_rows):
    """Driver-side union-find for broadcast-sized graphs."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(n, find(n)) for n in node_rows]


def _components_local(e: DataFrame, rows) -> DataFrame:
    """(node, component) of the (u, v) edge ``rows`` collected from
    ``e``, closed by the driver union-find and shipped back as one
    local frame typed like ``e``'s endpoints."""
    edge_rows = [(r["u"], r["v"]) for r in rows]
    nodes = sorted({x for uv in edge_rows for x in uv})
    out_type = e.schema["u"].dataType.simpleString()
    return local_frame(
        e.sparkSession,
        _union_find_local(edge_rows, nodes),
        f"node {out_type}, component {out_type}",
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    small_graph_threshold: int = SMALL_GRAPH_THRESHOLD,
    local_finish_threshold: int | None = None,
) -> DataFrame:
    """Edge list → (node, component) with component = min node id.

    Accepts string or numeric node ids (comparison order = Spark
    ordering of the column type).  Includes every endpoint; callers add
    isolated nodes by unioning (node, node) self-pairs beforehand if
    needed.

    Graphs under ``small_graph_threshold`` edges short-circuit to a
    driver-side union-find: an iterative star-contraction on a
    broadcast-sized graph pays ~10 Spark jobs of fixed overhead for
    work a single collect does in milliseconds.  The distributed path
    (pass ``small_graph_threshold=0``) is the 10^12-scale algorithm;
    tests exercise both and assert identical output.

    ``local_finish_threshold`` (r4) enables the HYBRID tail: star
    contraction shrinks the edge set geometrically, so the last 2-3
    iterations move a near-star forest through ~8 fixed-overhead
    shuffles each just to confirm convergence.  When an iteration's
    contracted edge count (already computed for the convergence
    checksum — no extra job) drops to the threshold, the remainder is
    collected and finished with the driver union-find; output is
    IDENTICAL (pytest-pinned vs the pure-distributed run).  This is the
    same amortization posture as the incremental dedup probe: the bulk
    stays distributed and salted, the scheduler-bound tail does not.
    On a 10^12-edge cluster run, size it to driver memory (a star
    forest row is two longs — 10M edges ≈ 160 MB).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    head = collect_if_small(e, small_graph_threshold)
    if head is not None:
        return _components_local(e, head)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    nodes = nodes.localCheckpoint(eager=True)

    prev = mapping = None
    for _ in range(max_iter):
        e = _large_star(e, DEFAULT_SALT)
        e = _small_star(e, DEFAULT_SALT)
        e = e.localCheckpoint(eager=True)
        cs = _checksum(e)
        if prev is not None and cs == prev:
            break
        prev = cs
        if local_finish_threshold and cs[0] <= local_finish_threshold:
            # hybrid tail: the contracted set fits the driver budget —
            # finish with union-find instead of burning 2-3 more
            # fixed-overhead iterations confirming convergence
            mapping = _components_local(e, e.collect())
            break

    # post small-star the edge set is (node → component-min) for every
    # non-root node; roots map to themselves.  The driver tail's mapping
    # covers the remaining edges' endpoints only, so it takes the same
    # join.
    if mapping is None:
        mapping = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(mapping, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
        .distinct()
    )


def incremental_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    **kwargs,
) -> DataFrame:
    """Fold a NEW edge batch into an EXISTING (node, component)
    assignment — the ingest-time path of entity canonicalization.

    The existing assignment IS a spanning star forest of the historical
    graph (every node → its component's min id), so running
    :func:`connected_components` over (star edges ∪ new edges) yields
    exactly the assignment a full recompute over ALL historical edges
    would — components merge when a new edge bridges them, labels stay
    the min node id — while the shuffled input is O(|nodes| + |new
    batch|) rows instead of O(|historical edges|).  At 10^12-triple
    scale the historical edge set is never re-read: the assignment
    table (itself the previous call's output) is the only state carried
    between ingests.  kwargs forward to connected_components
    (max_iter, small_graph_threshold, ...).
    """
    star = assignments.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    merged = connected_components(
        star.unionByName(new_edges.select("src", "dst")), **kwargs
    )
    # Singleton preservation: a prior (n, n) assignment row is a self
    # edge, which connected_components drops (u != v) — without this
    # join an isolated node would vanish from the folded assignment and
    # "exactly equals a full recompute" would not hold for it.
    prior = assignments.select("node", F.col("component").alias("_prior"))
    return (
        prior.join(merged, "node", "full")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("_prior")).alias("component"),
        )
    )


def canonicalize_entities(linked: DataFrame, alias_df: DataFrame) -> DataFrame:
    """linked mentions → add canonical_id per entity_id.

    Edges: (1) dictionary structure — aliases sharing an entity_id are
    one entity by construction; (2) cross-document co-mention evidence —
    entity ids co-occurring in the same segment are NOT merged (that
    would be wrong); instead we merge entity ids that share a normalized
    alias surface (same surface claimed by two dictionary entries).
    The component min becomes canonical_id.
    """
    a = alias_df.select(_norm_alias("alias").alias("alias"), "entity_id").distinct()
    # entity ids sharing a surface form → edge
    shared = (
        a.alias("x")
        .join(a.alias("y"), "alias")
        .select(F.col("x.entity_id").alias("src"), F.col("y.entity_id").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )
    comps = connected_components(
        shared.union(
            a.select(F.col("entity_id").alias("src"), F.col("entity_id").alias("dst"))
        ),
    )
    return linked.join(
        F.broadcast(comps.withColumnRenamed("node", "entity_id")), "entity_id", "left"
    ).withColumn("canonical_id", F.coalesce(F.col("component"), F.col("entity_id"))).drop(
        "component"
    )


# ------------------------------------------------- resolved dictionary ---
class ResolvedDictionary(NamedTuple):
    table: DataFrame  # alias, entity_id, entity_type, weight, canonical_id
    aliases: list[str]  # raw alias surfaces, for the mention scanner
    fingerprint: str  # content hash of the dictionary rows


def resolve_dictionary(alias_df: DataFrame) -> ResolvedDictionary:
    """G4 + G5 resolved once, on the driver: one row per normalized
    alias key with its exact-link winner and that winner's canonical id.

    Both are pure functions of the dictionary.  The mention scanner
    emits whole dictionary keys only, so a key fixes its token count n
    and :func:`kgc.link.link_exact`'s top-1 per mention is top-1 per
    key: the highest ``weight * (1 + 0.1*(n-1))`` (the same float
    expression), ties to the lowest entity_id (then entity_type and
    weight, where the window left duplicate (key, entity_id) rows
    arbitrary).  canonical_id is the component minimum over entity ids
    that share a key — :func:`canonicalize_entities`' graph, closed by
    the driver union-find.

    The key is ``" ".join(norm_tokens_py(alias))``, the accept string of
    :func:`kgc.mentions.build_alias_trie`, so every scanned mention
    joins by construction.  Empty keys (punctuation-only aliases) are
    dropped: the scanner never emits one, and sharing one must not
    merge entities.  Rows with a null entity_id are dropped too.

    One collect; driver memory is O(dictionary), which the scanner pays
    anyway since it broadcasts every alias.  Returns the resolved table
    (built on the driver, broadcast-sized), the raw alias list for the
    scanner and a content hash of the dictionary for stage fingerprints.
    """
    rows = [
        tuple(r)
        for r in alias_df.select("alias", "entity_id", "entity_type", "weight").collect()
    ]
    fingerprint = hashlib.sha1(
        "\n".join(sorted(map(repr, rows))).encode()
    ).hexdigest()
    best: dict = {}
    ids_by_key: dict = {}
    for alias, eid, etype, w in rows:
        toks = norm_tokens_py(alias)
        if not toks or eid is None:
            continue
        key = " ".join(toks)
        score = None if w is None else w * (1.0 + 0.1 * (len(toks) - 1))
        # Spark's score DESC puts NULL last
        rank = (score is None, -(score or 0.0), eid, etype or "", w or 0.0)
        if key not in best or rank < best[key][0]:
            best[key] = (rank, eid, etype, w)
        ids_by_key.setdefault(key, set()).add(eid)
    edges = [(min(ids), e) for ids in ids_by_key.values() for e in ids]
    nodes = sorted({e for ids in ids_by_key.values() for e in ids})
    canonical = dict(_union_find_local(edges, nodes))
    types = {f.name: f.dataType.simpleString() for f in alias_df.schema.fields}
    table = local_frame(
        alias_df.sparkSession,
        [(k, e, t, w, canonical[e]) for k, (_, e, t, w) in sorted(best.items())],
        f"alias string, entity_id {types['entity_id']}, "
        f"entity_type {types['entity_type']}, weight {types['weight']}, "
        f"canonical_id {types['entity_id']}",
    )
    aliases = sorted({r[0] for r in rows if r[0] is not None})
    return ResolvedDictionary(table, aliases, fingerprint)


def link_resolved(mentions: DataFrame, resolved: DataFrame) -> DataFrame:
    """Scanned mentions ⨝ broadcast(:func:`resolve_dictionary` table):
    the exact link and canonicalization as one narrow map — no window,
    no shuffle.  Output is ``link_mentions(fuzzy=False)`` +
    ``canonicalize_entities``' columns: (doc_id, seg_id, alias, surface,
    tok_begin, n_toks, entity_id, entity_type, score, method,
    canonical_id)."""
    return mentions.join(F.broadcast(resolved), "alias").select(
        "doc_id", "seg_id", "alias", "surface", "tok_begin", "n_toks",
        "entity_id", "entity_type", exact_score().alias("score"),
        F.lit("exact").alias("method"), "canonical_id",
    )
