"""Structured Streaming stages + multimodal media plumbing."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from kgc import media, streaming, synth


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    # Spark's streaming file source requires a DIRECTORY; the testdata
    # tables are single parquet files — stage a copy (same pattern as
    # test_sessionize_events, which always passed for this reason).
    d = tmp_path_factory.mktemp("events_stream_src")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


@pytest.fixture(scope="module")
def documents_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("docs_stream_src")
    shutil.copy(f"{sf_dir}/documents.parquet", d / "part-0.parquet")
    return str(d)


def test_stream_event_rollup_matches_batch(spark, events_dir):
    roll = streaming.stream_event_rollup(spark, events_dir)
    got = streaming.run_available_now(roll, "rollup_test", output_mode="complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("win.start").alias("win_start"), "n")
    )
    g = {(r["event_type"], r["win_start"], r["n"]) for r in got.collect()}
    b = {(r["event_type"], r["win_start"], r["n"]) for r in batch.collect()}
    assert g == b


def test_watermark_drops_late_events(spark, tmp_path):
    """Multi-batch drain: the watermark must ADVANCE between micro-batches
    and drop an event that arrives 5 hours behind it (append mode), while
    finalized windows are emitted exactly once with the on-time counts."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "late_src"
    d.mkdir()

    def write(name: str, rows, mtime: float) -> None:
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        # micros, not pandas-default nanos — Spark reads timestamp(us)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), d / name)
        os.utime(d / name, (mtime, mtime))

    now = _time.time()
    # batch 0: one event per hour 00..10 → watermark after it = 10:15 - 2h
    write(
        "a.parquet",
        [
            (i, f"2026-01-01 {h:02d}:15:00", 1, "click", 1.0, "{}")
            for i, h in enumerate(range(0, 11))
        ],
        now - 100,  # FileStreamSource orders by mod time: a, b, c
    )
    # batch 1: on-time filler — windows ≤ 08:15 are finalized/EVICTED at
    # the end of this batch (the watermark computed from batch 0 takes
    # effect here; eviction happens at batch end, so a late row arriving
    # IN this batch would still merge — the drop needs the next batch)
    write(
        "b.parquet",
        [(101, "2026-01-01 09:30:00", 1, "click", 1.0, "{}")],
        now - 70,
    )
    # batch 2: a LATE event at 03:30 (5h behind the 08:15 watermark,
    # state evicted → dropped) and an on-time 09:45 (window open,
    # withheld by append mode at end of drain)
    write(
        "c.parquet",
        [
            (100, "2026-01-01 03:30:00", 1, "click", 1.0, "{}"),
            (102, "2026-01-01 09:45:00", 1, "click", 1.0, "{}"),
        ],
        now - 40,
    )
    roll = streaming.stream_event_rollup(
        spark, str(d), max_files_per_trigger=1
    )
    got = streaming.run_available_now(roll, "late_drop_test", output_mode="append")
    rows = {(r["win_start"].hour, r["n"]) for r in got.collect()}
    # finalized windows = end <= final watermark (08:15) → hours 00..07,
    # one event each; the late 03:30 arrival must NOT bump hour 3 to 2
    assert rows == {(h, 1) for h in range(0, 8)}, rows


def test_stream_documents_matches_batch(spark, sf_dir, documents_dir, tmp_path):
    from kgc.mentions import detect_mentions
    from kgc.parsers import text_to_spans
    from kgc.segment import segment_documents
    from __spark_entry__ import ALIAS_ROWS

    aliases = [a for a, *_ in ALIAS_ROWS]
    stream = streaming.stream_documents(
        spark, documents_dir, aliases, max_tokens=64
    )
    got = streaming.run_available_now(stream, "docs_stream_test")
    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        text_to_spans("text").alias("spans"),
    )
    batch = detect_mentions(
        segment_documents(batch_docs, max_tokens=64).select(
            "doc_id", "seg_id", "seg_text"
        ),
        aliases,
    )
    cols = ["doc_id", "seg_id", "alias", "tok_begin"]
    assert got.select(cols).exceptAll(batch.select(cols)).count() == 0
    assert batch.select(cols).exceptAll(got.select(cols)).count() == 0


def test_sessionize_events(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # user 1: two sessions separated by a 2-hour gap; the second session
    # stays OPEN at end-of-stream (timeout never fires under availableNow)
    for i in range(3):
        rows.append((i, base + dt.timedelta(minutes=5 * i), 1, "click", 1.0, "{}"))
    for i in range(2):
        rows.append((10 + i, base + dt.timedelta(hours=3, minutes=i), 1, "click", 1.0, "{}"))
    src = tmp_path / "events_session"
    spark.createDataFrame(rows, streaming.EVENTS_SCHEMA).write.parquet(str(src))
    sess = streaming.sessionize_events(spark, str(src), gap="30 minutes")
    got = streaming.run_available_now(sess, "sess_test").collect()
    closed = [(r["n_events"], r["session_start"], r["session_end"]) for r in got]
    assert len(closed) == 1
    n, s, e = closed[0]
    assert n == 3 and s == base and e == base + dt.timedelta(minutes=10)


def test_stream_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Streaming G8: a parquet sink + checkpointLocation gives
    exactly-once file processing across query RESTARTS — the second
    drain picks up only the file that landed after the first, never
    reprocessing the first one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(f"{sf_dir}/documents.parquet", src / "a.parquet")

    def drain():
        stream = (
            spark.readStream.schema(streaming.DOCS_SCHEMA)
            .parquet(str(src))
            .select("doc_id", "n_chars")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    drain()
    n_a = spark.read.parquet(out).count()
    base = pq.read_table(src / "a.parquet").to_pandas()
    shifted = base.assign(doc_id=base["doc_id"] + 1_000_000)
    pq.write_table(pa.Table.from_pandas(shifted, preserve_index=False), src / "b.parquet")
    drain()  # restart from the same checkpoint
    got = spark.read.parquet(out)
    assert got.count() == 2 * n_a  # a processed once, b once
    assert got.filter(F.col("doc_id") >= 1_000_000).count() == n_a
    # no duplicates of the first file's rows
    assert got.select("doc_id").distinct().count() == 2 * n_a


def test_media_pipeline(spark):
    docs = synth.generate_documents(spark, n_docs=60)
    m = media.media_table_from_spans(docs)
    rows = m.collect()
    assert len(rows) > 0
    assert all(r["kind"] in ("image", "audio") for r in rows)
    feats = media.decode_media(m, mode="fake")
    f = feats.collect()
    assert all(len(r["features"]) == media.FEATURE_DIM for r in f)
    # determinism
    f2 = media.decode_media(m, mode="fake")
    assert feats.exceptAll(f2).count() == 0
    # strict mode over the synthetic md5-string payloads: nothing is a
    # real WAV/PNG, so every row must route to quarantine (not crash)
    clean, bad = media.media_quarantine(media.decode_media(m, mode="strict"))
    assert clean.count() == 0
    assert bad.count() == len(rows)
    assert all("unrecognized" in r["error"] for r in bad.collect())
    # frame sampling fans out 1:N
    frames = media.frame_sample(m.limit(5), n_frames=3)
    assert frames.count() == 15
    # triples
    t = media.media_triples(feats)
    assert t.filter(F.col("pred") == "@type").count() == len(rows)


def _wav_bytes(freq=440.0, rate=8000, n=2000, amp=0.5, channels=1, width=2):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 2:
            frames = b"".join(
                struct.pack(
                    "<h", int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))
                ) * channels
                for i in range(n)
            )
        else:
            frames = bytes([128] * channels) * n
        w.writeframes(frames)
    return buf.getvalue()


def _png_bytes(w_, h_, pixel_bytes, color_type=2):
    import struct
    import zlib

    bpp = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]

    def chunk(t, data):
        return (
            struct.pack(">I", len(data)) + t + data
            + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w_, h_, 8, color_type, 0, 0, 0)
    raw = b"".join(
        bytes([0]) + bytes(pixel_bytes[y * w_ * bpp : (y + 1) * w_ * bpp])
        for y in range(h_)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decoders_pure_python():
    """Stdlib decoders (r4, VERDICT task 6): WAV params + PCM features,
    PNG dims + defiltered pixel stats, filter types 1-4, magic dispatch."""
    import struct
    import zlib

    from kgc.media import (MediaDecodeError, decode_payload_py,
                           decode_png_py, decode_wav_py)

    d = decode_wav_py(_wav_bytes())
    assert (d["sample_rate"], d["n_frames"], d["duration"]) == (8000, 2000, 0.25)
    assert 0.49 < d["features"][2] <= 0.51        # peak ≈ amplitude
    assert 0.33 < d["features"][1] < 0.37         # rms ≈ amp/√2
    d8 = decode_wav_py(_wav_bytes(rate=4000, n=100, channels=2, width=1))
    assert (d8["sample_rate"], d8["n_frames"]) == (4000, 100)

    px = list(range(36))
    d2 = decode_png_py(_png_bytes(4, 3, px))
    assert (d2["width"], d2["height"]) == (4, 3)
    assert abs(d2["features"][3] - sum(px) / 36 / 255) < 1e-5

    # every filter type decodes (2x2 gray: None, Sub / Up, Paeth)
    def chunk(t, data):
        return (struct.pack(">I", len(data)) + t + data
                + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    raw = bytes([1, 7, 2]) + bytes([4, 10, 0])    # [7,9] then Paeth row
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    d3 = decode_png_py(png)
    # row1 Sub: [7, 9]; row2 Paeth: px0 pr=b(7)→17, px1 pr=a(17)→17
    assert abs(d3["features"][3] - (7 + 9 + 17 + 17) / 4 / 255) < 1e-5

    # header-grade JPEG/GIF: REAL dimensions, features None
    from kgc.media import decode_gif_header_py, decode_jpeg_header_py

    jpg = (b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
           + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 3, 4, 1)
           + b"\x01\x11\x00" + b"\xff\xd9")
    dj = decode_jpeg_header_py(jpg)
    assert (dj["width"], dj["height"], dj["features"]) == (4, 3, None)
    assert decode_payload_py(jpg)["width"] == 4
    gif = b"GIF89a" + struct.pack("<HH", 7, 5) + b"\x00\x00\x00\x3b"
    dg = decode_gif_header_py(gif)
    assert (dg["width"], dg["height"], dg["features"]) == (7, 5, None)
    assert decode_payload_py(gif)["height"] == 5

    for bad, msg in [
        (b"\xff\xd8\xffrest", "JPEG"),
        (b"GIF89a\x07", "GIF"),
        (b"ID3abc", "MP3"),
        (b"xxxxftypmp42", "MP4"),
        (b"garbage", "unrecognized"),
        (b"RIFFxxxxWAVEtrunc", "bad WAV"),
    ]:
        with pytest.raises(MediaDecodeError, match=msg):
            decode_payload_py(bad)


def test_mp3_mp4_header_decode():
    """Header-grade MP3 (ID3 skip + frame-sync sample rate + CBR
    duration) and MP4 (mvhd duration + first video tkhd dims)."""
    import struct

    from kgc.media import (MediaDecodeError, decode_mp3_header_py,
                           decode_mp4_header_py, decode_payload_py)

    # 10-byte ID3v2 (size 0) + MPEG1 Layer III 128 kbps 44.1 kHz frame
    # header + filler to exactly 1.0 s of CBR payload
    mp3 = (b"ID3\x04\x00\x00\x00\x00\x00\x00"
           + b"\xff\xfb\x90\x00" + bytes(15996))
    d = decode_mp3_header_py(mp3)
    assert (d["sample_rate"], d["duration"], d["features"]) == (44100, 1.0, None)
    assert decode_payload_py(mp3)["sample_rate"] == 44100
    # raw-sync MPEG2 variant (22.05 kHz): version bits 10, sr idx 0
    raw = b"\xff\xf3\x90\x00" + bytes(60)
    assert decode_payload_py(raw)["sample_rate"] == 22050

    ftyp = struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x00\x00"
    mvhd = (struct.pack(">I", 28) + b"mvhd" + b"\x00\x00\x00\x00"
            + bytes(8) + struct.pack(">II", 1000, 2500))
    tkhd = (struct.pack(">I", 92) + b"tkhd" + bytes(76)
            + struct.pack(">II", 640 << 16, 360 << 16))
    trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = (struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov"
            + mvhd + trak)
    d = decode_mp4_header_py(ftyp + moov)
    assert d["duration"] == 2.5 and (d["width"], d["height"]) == (640, 360)
    assert decode_payload_py(ftyp + moov)["duration"] == 2.5
    with pytest.raises(MediaDecodeError, match="moov-after-mdat"):
        decode_mp4_header_py(ftyp)  # streaming layout: no moov here
    with pytest.raises(MediaDecodeError, match="frame sync"):
        decode_mp3_header_py(b"ID3\x04\x00\x00\x00\x00\x00\x00" + bytes(64))


def test_strict_decode_spark(spark):
    """Strict mode through the mapInPandas stage: real WAV + PNG decode
    per row, poison payload quarantined, audio triples emitted."""
    rows = [
        ("m:wav", "audio", _wav_bytes(), None),
        ("m:png", "image", _png_bytes(4, 3, list(range(36))), None),
        ("m:jpg", "image", b"\xff\xd8\xff\xe0JFIF-ish", None),
    ]
    df = spark.createDataFrame(rows, media.MEDIA_SCHEMA)
    feats = media.decode_media(df, mode="strict")
    clean, bad = media.media_quarantine(feats)
    by_ref = {r["media_ref"]: r for r in clean.collect()}
    assert set(by_ref) == {"m:wav", "m:png"}
    assert by_ref["m:wav"]["sample_rate"] == 8000
    assert by_ref["m:wav"]["duration"] == 0.25
    assert by_ref["m:wav"]["width"] is None
    assert (by_ref["m:png"]["width"], by_ref["m:png"]["height"]) == (4, 3)
    assert by_ref["m:png"]["sample_rate"] is None
    (q,) = bad.collect()
    assert q["media_ref"] == "m:jpg" and "JPEG" in q["error"]
    # triples: audio rows get sampleRate/duration, image rows get dims
    t = media.media_triples(clean)
    preds = {(r["subj"], r["pred"]): r["obj"] for r in t.collect()}
    assert preds[("media:m:wav", "sampleRate")] == "8000"
    assert preds[("media:m:wav", "duration")] == "0.25"
    assert preds[("media:m:png", "width")] == "4"
    assert ("media:m:png", "sampleRate") not in preds


def test_pdf_images_to_media_strict_decode(spark):
    """PDF-embedded image XObjects → media table → REAL strict decode:
    the Flate raw RGB bitmap is PNG-wrapped and decodes (dims +
    features from the actual samples); the DCTDecode payload is a
    ready JPEG and quarantines naming pillow (VERDICT r3 missing #4,
    connected to the media pipeline)."""
    import sys

    sys.path.insert(0, "tests")
    from test_parsers import _image_pdf

    df = spark.createDataFrame(
        [("docA", _image_pdf()), ("docB", b"not a pdf at all")],
        "doc_id string, pdf binary",
    )
    m = media.pdf_media_table(df)
    rows = {r["media_ref"]: r for r in m.collect()}
    # non-PDF yields no rows (poison isolation), PDF yields its 2 images
    assert set(rows) == {"docA#p0/Im1", "docA#p0/Im2"}
    assert rows["docA#p0/Im1"]["meta"]["codec"] == "raw"
    assert rows["docA#p0/Im2"]["meta"]["codec"] == "DCTDecode"
    clean, bad = media.media_quarantine(media.decode_media(m, mode="strict"))
    (ok,) = clean.collect()
    assert ok["media_ref"] == "docA#p0/Im1"
    assert (ok["width"], ok["height"]) == (4, 3)
    # mean over the 36 deterministic sample bytes
    assert abs(ok["features"][3] - sum(range(36)) / 36 / 255) < 1e-5
    (q,) = bad.collect()
    assert q["media_ref"] == "docA#p0/Im2" and "JPEG" in q["error"]


def test_stream_exact_dedup_first_per_key(spark, events_dir):
    from pyspark.sql import functions as F

    from kgc.streaming import EVENTS_SCHEMA, run_available_now, stream_exact_dedup

    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(events_dir))
    got = run_available_now(
        stream_exact_dedup(src.select(F.md5("props").alias("k")), ["k"]),
        "t_stream_dedup",
    )
    batch = (
        spark.read.parquet(str(events_dir))
        .select(F.md5("props").alias("k"))
        .distinct()
    )
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in batch.collect()
    )


def test_stream_dedup_within_watermark_requires_event_time():
    import pytest

    from kgc.streaming import stream_exact_dedup

    with pytest.raises(ValueError):
        stream_exact_dedup(None, ["k"], watermark="10 minutes")


def test_streaming_triples_equal_batch(spark, sf_dir):
    """The streaming link path (min_by argmax in place of the batch
    window top-1) must construct the batch KG bit-exactly on a finite
    availableNow drain."""
    import __spark_entry__ as E

    got = E.q_streaming_triples(spark, sf_dir)
    want = E.q_entity_triples(spark, sf_dir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_incremental_neardup_equals_batch(spark, tmp_path):
    """The foreachBatch corpus-index probe, drained over 3 micro-batches,
    must equal the one-shot batch probe row-for-row — including a
    near-dup pair split across different micro-batches."""
    from kgc.dedup import build_band_index, probe_band_index

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over lazy dog number {i} "
              "with some shared trailing boilerplate text") for i in range(8)],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, f"the quick brown fox jumps over lazy dog number {i} "
                   "with some shared trailing boilerplate text appended")
         for i in range(6)],
        "doc_id bigint, text string",
    )
    src_dir = tmp_path / "neardup_src"
    new.repartition(3).write.parquet(str(src_dir))

    expected = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in probe_band_index(new, build_band_index(corpus),
                                  threshold=0.3).collect()
    )
    assert expected, "fixture must produce near-dup pairs"

    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    got = streaming.stream_incremental_neardup(
        src, corpus, str(tmp_path / "neardup_out"),
        str(tmp_path / "neardup_ckpt"), threshold=0.3,
    )
    assert sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"]) for r in got.collect()
    ) == expected


def test_stream_incremental_neardup_empty_source(spark, tmp_path):
    """Zero micro-batches (empty source dir) must return an empty
    (new_id, corpus_id, jaccard) frame, not raise on schema inference
    over a nonexistent output (ADVICE r3)."""
    corpus = spark.createDataFrame(
        [(1, "some corpus text here")], "doc_id bigint, text string"
    )
    src_dir = tmp_path / "empty_src"
    src_dir.mkdir()
    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(str(src_dir))
    )
    got = streaming.stream_incremental_neardup(
        src, corpus, str(tmp_path / "empty_out"),
        str(tmp_path / "empty_ckpt"), threshold=0.3,
    )
    assert got.columns == ["new_id", "corpus_id", "jaccard"]
    assert got.count() == 0


def test_stream_incremental_neardup_restart_resume(spark, tmp_path):
    """A second drain with the SAME checkpoint/out dirs after new files
    land must process ONLY the new files (checkpoint skip) and leave no
    duplicate pairs (batch-partitioned idempotent sink)."""
    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(10))) for i in range(4)],
        "doc_id bigint, text string",
    )
    src_dir = tmp_path / "src"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def batch_df(ids):
        return spark.createDataFrame(
            [(100 + i, " ".join(f"w{i}x{j}" for j in range(10)) + " more")
             for i in ids],
            "doc_id bigint, text string",
        )

    def drain():
        src = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src_dir))
        )
        return streaming.stream_incremental_neardup(
            src, corpus, out, ckpt, threshold=0.3,
        )

    batch_df([0, 1]).coalesce(1).write.mode("append").parquet(str(src_dir))
    first = {(r["new_id"], r["corpus_id"]) for r in drain().collect()}
    assert first == {(100, 0), (101, 1)}

    batch_df([2, 3]).coalesce(1).write.mode("append").parquet(str(src_dir))
    second = [(r["new_id"], r["corpus_id"]) for r in drain().collect()]
    assert sorted(second) == [(100, 0), (101, 1), (102, 2), (103, 3)]
    assert len(second) == len(set(second))  # no replay duplicates


def test_gif_full_decode():
    """Full GIF decode: LZW frame decode through the palette, shared
    PNG-style features, frame count + GCE-delay duration, interlace."""
    import struct

    from kgc.media import MediaDecodeError, decode_gif_py, decode_payload_py

    def gif(frames: list[bytes], w=2, h=2, gce_delay=None) -> bytes:
        # 2-entry global palette: color0 black, color1 white
        head = (b"GIF89a" + struct.pack("<HH", w, h) + b"\x80\x00\x00"
                + b"\x00\x00\x00" + b"\xff\xff\xff")
        body = b""
        for f in frames:
            if gce_delay is not None:
                body += (b"\x21\xf9\x04\x00"
                         + struct.pack("<H", gce_delay) + b"\x00\x00")
            body += f
        return head + body + b"\x3b"

    def frame(data: bytes, w=2, h=2, ipacked=0) -> bytes:
        return (b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
                + bytes([ipacked, 2, len(data)]) + data + b"\x00")

    # pixels [1,0,0,1], mcs=2: codes (4,1,0,0,1,5) LSB-packed = 0c 10 05
    d = decode_gif_py(gif([frame(b"\x0c\x10\x05")]))
    assert (d["width"], d["height"], d["n_frames"]) == (2, 2, 1)
    # idx [1,0,0,1] -> white/black/black/white: every mean 0.5, std 0.5,
    # min 0, max 1, |h-grad| = 3 transitions of 255 over 9 deltas = 2/3
    assert d["features"] == [0.5, 0.5, 0.5, 0.5, 0.5, 0.0, 1.0, 0.666667]
    assert d["duration"] is None
    assert decode_payload_py(gif([frame(b"\x0c\x10\x05")]))["features"] is not None

    # two frames with 0.5 s GCE delays: n_frames 2, duration 1.0 s
    d2 = decode_gif_py(gif([frame(b"\x0c\x10\x05")] * 2, gce_delay=50))
    assert (d2["n_frames"], d2["duration"]) == (2, 1.0)

    # interlace: 1x4 column [0,1,0,1] stored in pass order rows
    # [0,2,1,3] = [0,0,1,1] (codes 4,0,0,1,1,5 = 04 12 05) must decode
    # identically to the sequential [0,1,0,1] stream (4,0,1,0,1,5 =
    # 44 10 05)
    seq = decode_gif_py(gif([frame(b"\x44\x10\x05", w=1, h=4)], w=1, h=4))
    il = decode_gif_py(
        gif([frame(b"\x04\x12\x05", w=1, h=4, ipacked=0x40)], w=1, h=4)
    )
    assert il["features"] == seq["features"]

    # truncated LZW stream: fewer pixels than the frame needs -> loud
    with pytest.raises(MediaDecodeError, match="shortfall"):
        decode_gif_py(gif([frame(b"\x0c")]))
