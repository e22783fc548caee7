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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgc.link import _norm_alias

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


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    salt: int = DEFAULT_SALT,
    checkpoint: bool = True,
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
    if small_graph_threshold > 0:
        head = e.limit(small_graph_threshold + 1).collect()
        if len(head) <= small_graph_threshold:
            edge_rows = [(r["u"], r["v"]) for r in head]
            nodes = sorted({x for uv in edge_rows for x in uv})
            mapping = _union_find_local(edge_rows, nodes)
            schema_src = edges.select(F.col(src).alias("node")).schema
            out_type = schema_src["node"].dataType.simpleString()
            return edges.sparkSession.createDataFrame(
                mapping, f"node {out_type}, component {out_type}"
            )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    if checkpoint:
        nodes = nodes.localCheckpoint(eager=True)

    prev = None
    for _ in range(max_iter):
        e = _large_star(e, salt)
        e = _small_star(e, salt)
        if checkpoint:
            e = e.localCheckpoint(eager=True)
        cs = _checksum(e)
        if prev is not None and cs == prev:
            break
        prev = cs
        if local_finish_threshold and cs[0] <= local_finish_threshold:
            # hybrid tail: the contracted set fits the driver budget —
            # finish with union-find instead of burning 2-3 more
            # fixed-overhead iterations confirming convergence
            edge_rows = [(r["u"], r["v"]) for r in e.collect()]
            node_rows = sorted({x for uv in edge_rows for x in uv})
            mapping = _union_find_local(edge_rows, node_rows)
            spark = edges.sparkSession
            out_type = nodes.schema["node"].dataType.simpleString()
            m = spark.createDataFrame(
                mapping, f"node {out_type}, component {out_type}"
            )
            return (
                nodes.join(m, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("component"), F.col("node")).alias(
                        "component"
                    ),
                )
                .distinct()
            )

    # post small-star the edge set is (node → component-min) for every
    # non-root node; roots map to themselves.
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
    src: str = "src",
    dst: str = "dst",
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
    (max_iter, salt, small_graph_threshold, ...).
    """
    star = assignments.select(
        F.col("node").alias(src), F.col("component").alias(dst)
    )
    merged = connected_components(
        star.unionByName(new_edges.select(src, dst)), src=src, dst=dst, **kwargs
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


def canonicalize_entities(
    linked: DataFrame,
    alias_df: DataFrame,
    salt: int = DEFAULT_SALT,
) -> DataFrame:
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
        salt=salt,
    )
    return linked.join(
        F.broadcast(comps.withColumnRenamed("node", "entity_id")), "entity_id", "left"
    ).withColumn("canonical_id", F.coalesce(F.col("component"), F.col("entity_id"))).drop(
        "component"
    )
