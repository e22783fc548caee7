"""Structured Streaming surface — incremental ingest for the KG pipeline.

The reference is strictly batch (one CLI process per file,
cmd/cli/main.go:132-228); the streaming capability is a gap operator for
the 10^12-doc corpus: new document files land continuously and the
narrow stages (parse → segment → mention scan) are stateless maps, so
they run unchanged on a streaming DataFrame — the SAME pandas UDFs and
Catalyst expressions as batch (operator unification).  Wide stages
(linking top-1, canonicalization) stay in the batch layer, fed by the
streaming stage's sink (classic lambda-free kappa split: streaming does
the narrow 99% of the work incrementally).

Components:
* ``stream_documents``  — file-source stream of documents → segments +
  mentions, identical semantics to the batch stages.
* ``stream_event_rollup`` — watermarked sliding-window aggregation over
  the events table (late data bounded by the watermark).
* ``sessionize_events`` — custom stateful operator
  (applyInPandasWithState): gap-based sessionization per user, the
  canonical "operator Spark lacks" implemented with explicit state.
* ``run_available_now`` — test/ops helper: drain the stream with the
  availableNow trigger into a memory sink.
* ``stream_entity_link`` — streaming twin of the batch mention→link
  path; min_by aggregation replaces the top-1 window.
* ``stream_incremental_neardup`` — foreachBatch ingest-time near-dup:
  micro-batches probe the prebuilt static corpus LSH band index with
  an idempotent batch-partitioned sink.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.utils import AnalysisException

from kgc.session import local_frame

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(
    spark: SparkSession,
    path: str,
    aliases: list[str],
    max_tokens: int = 200,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream → segments + exploded mentions.

    Narrow-only (no shuffle): every micro-batch is embarrassingly
    parallel, so throughput scales with executors exactly like batch.
    """
    from kgc.mentions import detect_mentions
    from kgc.parsers import text_to_spans
    from kgc.segment import segment_documents

    src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    docs = src.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        text_to_spans("text").alias("spans"),
    )
    segs = segment_documents(docs, max_tokens=max_tokens)
    return detect_mentions(
        segs.select("doc_id", "seg_id", "seg_text"), aliases
    )


def stream_event_rollup(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked windowed aggregation (the streaming twin of the batch
    events_rollup query): 1-hour tumbling windows under a 2-hour
    watermark.  Late events beyond the watermark are dropped
    deterministically; state size is bounded by watermark horizon ×
    event-type cardinality.  max_files_per_trigger splits a finite drain
    into multiple micro-batches so the watermark actually advances
    between them (late-data tests)."""
    rd = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        rd = rd.option("maxFilesPerTrigger", max_files_per_trigger)
    src = rd.parquet(path)
    w = F.window(F.col("ts"), "1 hour", "1 hour")
    return (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.col("event_type"), w.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("value_cents"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n",
            "value_cents",
        )
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _sessionize_fn(gap_ms: int):
    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(last_ms, unit="ms")],
                    "n_events": [n],
                }
            )
            return
        ts = []
        for pdf in pdfs:
            ts.extend(pdf["ts"].astype("int64") // 1_000_000)
        ts.sort()
        if state.exists:
            start_ms, last_ms, n = state.get
        else:
            start_ms, last_ms, n = ts[0], ts[0], 0
        out = []
        for t in ts:
            if t - last_ms > gap_ms:
                out.append((start_ms, last_ms, n))
                start_ms, n = t, 0
            last_ms = t
            n += 1
        state.update((start_ms, last_ms, n))
        state.setTimeoutDuration(gap_ms)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "session_start": [pd.Timestamp(s, unit="ms") for s, _, _ in out],
                    "session_end": [pd.Timestamp(e, unit="ms") for _, e, _ in out],
                    "n_events": [c for _, _, c in out],
                }
            )

    return fn


def sessionize_events(
    spark: SparkSession, path: str, gap: str = "30 minutes"
) -> DataFrame:
    """Gap-based sessionization — custom stateful streaming operator via
    applyInPandasWithState (G-gap sessions close when no event arrives
    within `gap`; state per user, evicted on processing-time timeout)."""
    gap_ms = _parse_duration_ms(gap)
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    return (
        src.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_ms),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def _parse_duration_ms(s: str) -> int:
    n, unit = s.split()
    mult = {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
    }[unit]
    return int(n) * mult


def stream_exact_dedup(
    src: DataFrame,
    key_cols: list[str],
    event_time: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Stateful streaming dedup: emit the first row per key, drop the
    rest — the incremental twin of kgc.dedup.exact_duplicates' group
    detection (here the *keep* side: a continuously deduped feed).

    With ``event_time``/``watermark`` set, uses
    dropDuplicatesWithinWatermark so the key state is EVICTED once the
    watermark passes — mandatory at 10^12-doc scale, where unbounded
    dropDuplicates state would grow with the full corpus key set.
    Without a watermark (finite drains, tests) plain dropDuplicates
    keeps exact global semantics.

    Note on determinism: *which* row survives per key is
    batch/partition-order dependent; downstream consumers (and the
    driver oracle) should rely only on the key columns, or feed
    key-only projections.
    """
    if watermark is not None:
        if event_time is None:
            raise ValueError("watermark requires event_time")
        return src.withWatermark(event_time, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return src.dropDuplicates(key_cols)


def run_available_now(
    df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a streaming DF into a memory sink with availableNow.

    Use output_mode='complete' for windowed aggregations in tests —
    append-mode only flushes windows older than the watermark, which on
    a finite drain withholds the trailing windows."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # Drain then stop explicitly.  awaitTermination(timeout) alone
    # burned the FULL timeout for stateful queries, and
    # processAllAvailable() never returns for them —
    # applyInPandasWithState with a processing-time timeout keeps the
    # query active (and "data available") waiting for state timeouts,
    # so availableNow never self-terminates (the r1 test suite spent
    # 300s in test_sessionize_events on exactly this).  Poll the query
    # status instead: once no trigger is active and no new data is
    # available, every input batch is committed.
    import time

    deadline = time.time() + 300
    stable = 0
    while q.isActive and time.time() < deadline:
        st = q.status
        # Drained = ≥1 batch committed (lastProgress set) and no input
        # left, seen for a few consecutive polls.  We can't rely on
        # self-termination: applyInPandasWithState with a
        # processing-time timeout keeps an availableNow query active
        # forever, spinning "no new data but cleaning up state"
        # batches (each a state-timeout check that emits nothing) —
        # round 1's test suite burned the full 300s timeout on this.
        # isTriggerActive deliberately NOT consulted: the cleanup
        # trigger is near-always active on such queries.
        if q.lastProgress is not None and not st["isDataAvailable"]:
            stable += 1
            if stable >= 3:
                break
        else:
            stable = 0
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def stream_entity_link(docs: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Streaming twin of the batch mention→link path
    (kgc.mentions.detect_mentions_ngram + kgc.link.link_exact): the
    n-gram scan and the broadcast dictionary join are stateless and run
    unchanged, and the top-1-per-mention WINDOW (unsupported in
    streaming) becomes the equivalent min_by aggregation over
    struct(-score, entity_id) — highest score wins, ties break on the
    smallest entity_id, exactly the batch window's (score DESC,
    entity_id ASC) order.  One streaming aggregation → drain with
    output_mode='complete'.

    This is the incremental-ingest shape of the north star: new
    documents stream in, mentions are linked against the broadcast
    alias dictionary micro-batch by micro-batch, and the KG grows with
    exactly-once sink semantics; on a finite availableNow drain the
    result must equal the batch link table bit-exactly (the driver
    checks it against the SAME DuckDB oracle as entity_triples).
    """
    from kgc.link import exact_score
    from kgc.mentions import detect_mentions_ngram

    m = detect_mentions_ngram(docs, alias_df, id_cols=("doc_id",), max_n=2)
    scored = m.withColumn("score", exact_score())
    pick = scored.groupBy("doc_id", "tok_begin", "n_toks").agg(
        F.min_by(
            F.struct("alias", "entity_id", "entity_type", "score"),
            F.struct((-F.col("score")).alias("neg"), F.col("entity_id")),
        ).alias("top")
    )
    return pick.select("doc_id", "tok_begin", "n_toks", "top.*")


def stream_incremental_neardup(
    new_docs: DataFrame,
    corpus_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming ingest-time near-dup: micro-batches of NEW documents
    probe the prebuilt static corpus LSH band index
    (kgc.dedup.build_band_index / probe_band_index) — the streaming twin
    of one batch probe, hash-identical to it on a finite drain (the
    driver checks it against the SAME DuckDB oracle).

    Shape: ``foreachBatch`` — the probe is a multi-join (band equi-join
    + exact-Jaccard verify over two persisted sides) that the streaming
    planner can't run natively, and foreachBatch is the canonical Spark
    pattern for stream-static logic of that weight: every micro-batch
    is a plain batch DataFrame, the full Catalyst probe plan runs on
    it, and the corpus index stays resident across batches (built ONCE
    outside the stream — at 10^12 docs it's a materialized bucketed
    table maintained across ingests, never recomputed per batch).

    Exactly-once: the sink is parquet partitioned by ``ingest_batch``
    with dynamic partition overwrite — a replayed micro-batch (restart
    between sink write and checkpoint commit) overwrites its OWN
    partition instead of appending duplicates, the same idempotence
    contract as kgc.checkpoint.
    """
    from kgc.dedup import build_band_index, probe_band_index

    spark = new_docs.sparkSession
    index = build_band_index(corpus_df)

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = probe_band_index(batch_df, index, threshold=threshold)
        (
            out.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(out_dir)
        )
        for df in out._kgc_pinned:  # per-batch shingle pin
            df.unpersist()

    q = (
        new_docs.writeStream.foreachBatch(probe_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    for df in index:
        df.unpersist()
    try:
        return spark.read.parquet(out_dir).select("new_id", "corpus_id", "jaccard")
    except AnalysisException:
        # zero micro-batches fired (empty source): no parquet exists to
        # infer a schema from — return the empty frame explicitly.
        return local_frame(spark, [], "new_id bigint, corpus_id bigint, jaccard double")
