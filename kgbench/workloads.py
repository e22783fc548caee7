"""The benchmark workloads.  Each is a closed loop with one client.

Every workload first sets up its inputs (``Run.setup``), then times one
cold operation in the fresh session and repeats the warm operation until
``--seconds`` have passed (at least once).  With ``--trace 1`` it then
runs the same work once more, split into layer calls inside
:class:`ledger.Ledger` spans, and checks that the traced output equals
the untraced one.

* ``build`` — raw text/Markdown/HTML documents through ``pipeline.run``;
  outputs go to the noop sink.  The cold build commits every stage to a
  fresh ``StageStore`` (the checkpoint write path) and the warm builds
  run with no store.  Untraced runs end with a rerun that resumes from
  the store (the read path).  Traced runs instead write and read the
  traced stages through ``StageStore``, then make one
  ``connected_components`` call with default arguments on a hub-skewed
  graph big enough for its distributed, salted path (the pipeline's own
  canonicalization takes the small-graph union-find shortcut).
* ``query`` — five SPARQL shapes, round robin, over a staged KG.  The
  operation is one round of the mix (the first round is the cold one);
  per-query latencies are kept as well.  A round sums five queries, so
  it is steadier run to run than any one query and moves with every
  shape, where the per-query median ignores the two slowest.
"""

from __future__ import annotations

import inspect
import os
import shutil
import time
import traceback
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import functions as F

import checks
import inputs

MAX_TOKENS = 200
SETUP_REPEATS = 3
BUILD_OUTPUTS = ("triples", "context", "quarantine")
STORE_STAGES = ("segments", "mentions", "linked", "canonical", "triples")

QUERIES = {
    "bgp": """SELECT DISTINCT ?d ?p ?pl WHERE {
                ?d mentions ?p . ?p "@type" Person .
                ?d locations ?pl . ?pl "@type" Place }""",
    "algebra": """SELECT DISTINCT ?d ?p ?t WHERE {
                { ?d mentions ?p } UNION { ?d locations ?p }
                ?p "@type" ?t .
                VALUES ?t { Person Place }
                MINUS { ?d mentions ent:1 } }""",
    "scalar": """SELECT DISTINCT ?e ?tag WHERE {
                ?e "@type" ?t . ?e name ?n .
                FILTER (?t IN ("Person", "Place") && CONTAINS(?n, "1"))
                BIND (IF(STRLEN(?n) > 8, "long", "short") AS ?tag) }""",
    "path": """SELECT DISTINCT ?d ?c WHERE { ?d mentions/a/subClassOf+ ?c }""",
    "agg": """SELECT ?t (COUNT(DISTINCT ?d) AS ?nd) WHERE {
                ?d mentions ?e . ?e "@type" ?t }
              GROUP BY ?t HAVING (?nd > 10)""",
}
AGGREGATE_SHAPES = {"agg"}


class Run:
    """Timings, failures and trace of one benchmark run."""

    def __init__(self, spark, seed: int, seconds: float, work: Path, ledger=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.ledger = ledger
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.errors: list[str] = []
        self.info: dict = {}
        self.layers: dict[str, float] = {}

    # ---------------------------------------------------------- plumbing ---
    def setup(self, stage) -> str:
        """Stage the inputs SETUP_REPEATS times, each into a fresh
        directory; keeps the last copy and returns its path."""
        times = []
        for i in range(SETUP_REPEATS):
            if i:
                shutil.rmtree(path)
            path = str(self.work / f"input-{i}")
            t0 = time.perf_counter()
            stage(path)
            times.append(time.perf_counter() - t0)
        self.info["stage_s"] = times
        return path

    def new_op(self) -> int:
        self.attempted += 1
        return self.attempted - 1

    def timed(self, name: str, fn):
        """Time one operation; returns (op id, result or None on failure)."""
        op = self.new_op()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.fail(op, f"{name} raised:\n{traceback.format_exc()}")
            return op, None
        self.samples.setdefault(name, []).append(time.perf_counter() - t0)
        return op, out

    def fail(self, op: int, msg: str) -> None:
        self.failed_ops.add(op)
        self.errors.append(msg)

    def expect(self, op: int, what: str, got, want) -> None:
        if got != want:
            self.fail(op, f"{what}: got {got}, expected {want}")

    def warm_loop(self, step) -> None:
        """Call ``step()`` until the run's seconds are used, at least once."""
        end = time.perf_counter() + self.seconds
        while True:
            step()
            if time.perf_counter() >= end:
                return

    def layer(self, name: str, span: dict, **extra) -> None:
        d = span["delta"]
        self.layers.update({
            f"{name}.wall_s": span["end"] - span["start"],
            f"{name}.task_s": d["task_s"],
            f"{name}.jvm_cpu_s": d["jvm_cpu_s"],
            f"{name}.jvm_cpu_share": d["jvm_cpu_share"],
            f"{name}.shuffle_bytes": d["shuffle_bytes"],
            f"{name}.spill_bytes": d["spill_bytes"],
            f"{name}.stages": d["stages"],
            f"{name}.rows_out": span["counts"].get("rows_out", 0),
        })
        self.layers.update({f"{name}.{k}": v for k, v in extra.items()})


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# ---------------------------------------------------------------- build ---
def build(run: Run) -> None:
    from kgc import pipeline
    from kgc.checkpoint import StageStore
    from kgc.synth import ALIASES

    spark = run.spark
    raw_docs: list[dict] = []

    def stage(path):
        raw_docs[:] = inputs.stage_documents(spark, run.seed, path)

    raw = spark.read.parquet(run.setup(stage))
    wanted = set(checks.sample_doc_ids(raw_docs, run.seed))
    sample = [d for d in raw_docs if d["doc_id"] in wanted]
    run.info["n_docs"] = len(raw_docs)
    reference: list[tuple[int, int]] = []

    def one_build(store=None):
        spark.catalog.clearCache()
        st = pipeline.run(spark, raw, store=store, fuzzy=True, max_tokens=MAX_TOKENS)
        for k in BUILD_OUTPUTS:
            _noop(st[k])
        return st

    def verify(op, st, sample_check=False):
        """Checksum the triples (from the stage cache) and release it."""
        if st is None:
            return None
        try:
            cs = checks.spark_checksum(st["triples"].select("subj", "pred", "obj"))
            if not reference:
                reference.append(cs)
            run.expect(op, "triples checksum", cs, reference[0])
            if sample_check:
                for msg in checks.check_build_sample(st, sample, ALIASES, MAX_TOKENS):
                    run.fail(op, f"python-twin replay: {msg}")
            return cs
        except Exception:
            run.fail(op, f"check raised:\n{traceback.format_exc()}")
            return None
        finally:
            pipeline.release(st)

    # a user's first run of a resumable pipeline: fresh session, fresh store
    store = StageStore(run.work / "store")
    verify(*run.timed("cold", lambda: one_build(store)), sample_check=True)
    run.warm_loop(lambda: verify(*run.timed("warm", one_build)))
    if reference:
        run.info["distinct_triples"] = reference[0][0]
    if run.ledger is None:
        verify(*run.timed("resume", lambda: one_build(store)))
    else:
        _traced_build(run, raw, reference[0] if reference else None)
        _skewed_cc(run)


def _traced_build(run: Run, raw, want) -> None:
    """pipeline.run's composition, one layer per span, then the store."""
    from kgc import canon, link, mentions, parsers, pipeline, segment, triples, vocab
    from kgc.checkpoint import StageStore
    from kgc.synth import alias_dict_df

    spark, L = run.spark, run.ledger
    spark.catalog.clearCache()
    alias_df = alias_dict_df(spark)
    pinned = []

    def keep(df, span):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.extend([df, *getattr(df, "_kgc_pinned", [])])
        span["counts"]["rows_out"] = df.count()
        return df

    op = run.new_op()
    try:
        t0 = time.perf_counter()
        with L.span("build"):
            with L.span("parsers") as sp_parse:
                parsed = parsers.parse_documents(raw, text_col="text", source_col="source")
                docs = keep(
                    parsed.select(F.col("doc_id").cast("string").alias("doc_id"), "spans"),
                    sp_parse,
                )
            with L.span("segment") as sp_seg:
                segs_all = keep(
                    segment.token_guard(
                        segment.segment_documents(docs, max_tokens=MAX_TOKENS), MAX_TOKENS
                    ),
                    sp_seg,
                )
            segs = segs_all.filter(F.col("ok")).drop("ok")
            with L.span("mentions") as sp_ment:
                aliases = [r["alias"] for r in alias_df.select("alias").distinct().collect()]
                ment = keep(
                    mentions.detect_mentions(segs.select("doc_id", "seg_id", "seg_text"), aliases),
                    sp_ment,
                )
            with L.span("link") as sp_link:
                linked = keep(link.link_mentions(ment, alias_df, fuzzy=True), sp_link)
            with L.span("canon", summaries=True) as sp_canon:
                canonical = keep(canon.canonicalize_entities(linked, alias_df), sp_canon)
            with L.span("triples") as sp_trip:
                typed = pipeline.classify_main_type(segs.select("doc_id", "seg_id"), canonical)
                seg_types = typed.select(
                    "doc_id", "seg_id",
                    F.concat(
                        F.lit("seg:"), F.col("doc_id"), F.lit("#"),
                        F.col("seg_id").cast("string"),
                    ).alias("subj"),
                    F.lit("@type").alias("pred"),
                    F.col("main_type").alias("obj"),
                    F.lit("literal").alias("obj_type"),
                )
                unfolded = pipeline.entity_triples(canonical).unionByName(seg_types)
                trip = keep(triples.dedup_triples(unfolded), sp_trip)
            with L.span("emit"):
                _noop(pipeline.quarantine_table(docs, segs_all, MAX_TOKENS))
                _noop(vocab.context_table(*vocab.builtin_vocab(spark)))
        run.samples.setdefault("traced", []).append(time.perf_counter() - t0)

        cs = checks.spark_checksum(trip.select("subj", "pred", "obj"))
        run.expect(op, "traced triples checksum", cs, want)
        n_unfolded = unfolded.count()
        run.layer("parsers", sp_parse)
        run.layer("segment", sp_seg)
        run.layer("mentions", sp_ment)
        run.layer(
            "link", sp_link,
            linked_per_mention=sp_link["counts"]["rows_out"] / max(sp_ment["counts"]["rows_out"], 1),
        )
        run.layer("canon", sp_canon, **_canon_extra(sp_canon))
        run.layer(
            "triples", sp_trip,
            dedup_ratio=sp_trip["counts"]["rows_out"] / max(n_unfolded, 1),
        )

        store = StageStore(run.work / "traced-store")
        fp = pipeline.input_fingerprint(docs)
        outputs = dict(zip(STORE_STAGES, (segs_all, ment, linked, canonical, trip)))
        with L.span("checkpoint.write") as sp_w:
            for name, df in outputs.items():
                store.write(df, name, extra={"fingerprint": fp})
        with L.span("checkpoint.read") as sp_r:
            hits = 0
            for name in STORE_STAGES:
                if store.is_valid(name, fp):
                    hits += 1
                    _noop(store.read(spark, name))
        resumed = checks.spark_checksum(store.read(spark, "triples").select("subj", "pred", "obj"))
        run.expect(op, "resumed triples checksum", resumed, cs)
        run.layers.update({
            "checkpoint.write_s": sp_w["end"] - sp_w["start"],
            "checkpoint.read_s": sp_r["end"] - sp_r["start"],
            "checkpoint.bytes_written": _dir_bytes(store.root),
            "checkpoint.hits": hits,
            "checkpoint.requested": len(STORE_STAGES),
        })
        # against the last untraced build, the one closest in JIT warmth.
        # The traced build persists the parsed documents, which
        # pipeline.run does not, so the difference can come out negative.
        run.layers["trace_overhead_s"] = run.samples["traced"][0] - run.samples["warm"][-1]
    except Exception:
        run.fail(op, f"traced build raised:\n{traceback.format_exc()}")
    finally:
        for df in pinned:
            df.unpersist()


# ------------------------------------------------------------------ canon ---
def _canon_extra(span: dict) -> dict:
    """Iterations = calls of canon._checksum, the convergence test.

    One call can run several jobs (AQE runs the shuffle first), all named
    after the same call site and submitted back to back, so a run of
    consecutive jobs from a line of ``_checksum`` counts once.
    """
    from kgc import canon

    src, start = inspect.getsourcelines(canon._checksum)
    sites = {f"{os.path.join('kgc', 'canon.py')}:{n}" for n in range(start, start + len(src))}
    iterations, prev = 0, False
    for j in span["jobs"]:
        hit = j["name"].startswith("collect at ") and any(j["name"].endswith(s) for s in sites)
        iterations += hit and not prev
        prev = hit
    d = span["delta"]
    return {"iterations": iterations, "jobs": d["jobs"], "max_task_s": d["max_task_s"]}


def _skewed_cc(run: Run) -> None:
    """One traced connected_components call, default arguments, on the hub graph."""
    from kgc.canon import connected_components

    path = str(run.work / "edges")
    edges = run.spark.read.parquet(inputs.stage_hub_graph(run.seed, path))

    def one():
        run.spark.catalog.clearCache()
        return checks.spark_checksum(connected_components(edges))

    with run.ledger.span("canon.skewed", summaries=True) as sp:
        op, cs = run.timed("cc", one)
    if cs is not None:
        sp["counts"]["rows_out"] = cs[0]
        run.layer("canon.skewed", sp, **_canon_extra(sp))
        want = checks.union_find_expected(path)
        run.info["cc_nodes"] = want[0]
        run.expect(op, "connected_components checksum vs union-find", cs, want)


# ------------------------------------------------------------------ query ---
def query(run: Run) -> None:
    from kgc.graph import parse_sparql, sparql_aggregate, sparql_query

    spark = run.spark
    path = run.setup(lambda p: inputs.stage_kg(run.seed, p))
    kg = spark.read.parquet(path)
    results: list[tuple[int, str, tuple[int, int]]] = []

    def plan(shape):
        fn = sparql_aggregate if shape in AGGREGATE_SHAPES else sparql_query
        return fn(kg, QUERIES[shape])

    def round_(name):
        """One pass over the mix; the round time is the operation."""
        t0 = time.perf_counter()
        for shape in QUERIES:
            op, cs = run.timed(f"{name}_query", lambda: checks.spark_checksum(plan(shape)))
            if cs is not None:
                results.append((op, shape, cs))
        run.samples.setdefault(name, []).append(time.perf_counter() - t0)

    # the first round runs every shape once in the fresh session
    round_("cold")
    run.warm_loop(lambda: round_("warm"))

    if run.ledger is not None:
        L = run.ledger
        with L.span("graph.parse") as sp:
            for shape, text in QUERIES.items():
                if shape not in AGGREGATE_SHAPES:
                    parse_sparql(text)
        run.layers["graph.parse_s"] = sp["end"] - sp["start"]
        t0 = time.perf_counter()
        for shape in QUERIES:
            op = run.new_op()
            try:
                with L.span(f"graph.{shape}.plan") as sp_plan:
                    df = plan(shape)
                with L.span(f"graph.{shape}.exec") as sp_exec:
                    cs = checks.spark_checksum(df)
            except Exception:
                run.fail(op, f"traced {shape} raised:\n{traceback.format_exc()}")
                continue
            results.append((op, shape, cs))
            run.layers.update({
                f"graph.{shape}.plan_s": sp_plan["end"] - sp_plan["start"],
                f"graph.{shape}.exec_s": sp_exec["end"] - sp_exec["start"],
                f"graph.{shape}.rows_out": cs[0],
                f"graph.{shape}.shuffle_bytes": sp_plan["delta"]["shuffle_bytes"]
                + sp_exec["delta"]["shuffle_bytes"],
                f"graph.{shape}.stages": sp_plan["delta"]["stages"] + sp_exec["delta"]["stages"],
            })
        run.layers["trace_overhead_s"] = time.perf_counter() - t0 - run.samples["warm"][-1]

    want = checks.duckdb_expected(path)
    run.info["rows"] = {k: v[0] for k, v in want.items()}
    for op, shape, cs in results:
        run.expect(op, f"{shape} checksum vs DuckDB twin", cs, want[shape])


WORKLOADS = {"build": build, "query": query}
