"""Multimodal columns — opaque binary payloads + typed metadata.

The interleaved corpus (input_hint) carries media spans as
``media_ref`` pointers.  This module supplies the Spark-side plumbing a
100 TB multimodal pipeline needs: a typed media table, Arrow-batched
decode / feature-extract / frame-sample operators, and the join back to
document spans.

Decode modes:
  * mode='fake'   — deterministic md5-derived features (real schema,
    real batching, real partitioning; values are a stable fake)
  * mode='strict' — REAL stdlib decode for WAV (RIFF/PCM via ``wave``),
    PNG (chunk parse + zlib inflate + per-scanline defilter, same
    from-scratch spirit as kgc/pdf.py), GIF (block walk + LZW frame
    decode + palette-mapped pixels, frame count and animation
    duration), and header-grade JPEG (real dimensions, no pixel
    inflate).  Formats that genuinely need third-party codecs (JPEG
    pixels, MP3, MP4, …) set a per-item ``error`` instead of crashing
    the stage — ``media_quarantine`` splits them off, mirroring the
    document pipeline's poison routing (C5).

Everything around decode — schema, mapInPandas batch shape,
partition-by-media-kind routing, span join — is identical in both
modes and tested.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgc.pdf import PdfUnsupportedError, extract_images, png_defilter

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),        # image | audio | video
        T.StructField("payload", T.BinaryType()),     # opaque encoded bytes
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        # strict-mode extras — null in fake mode and for images, so the
        # fake-mode oracle queries (q_media_triples) are unaffected
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)


class MediaDecodeError(ValueError):
    """Payload is not decodable with the stdlib decoders (corrupt, or a
    format that needs a third-party codec).  Routed to quarantine by
    ``media_quarantine``, never raised out of the Spark stage."""


# ------------------------------------------------------ stdlib decoders ---
def decode_wav_py(payload: bytes) -> dict:
    """RIFF/WAVE PCM decode via the stdlib ``wave`` module.

    Returns sample_rate / n_frames / duration plus an 8-dim feature
    vector over the (first-channel, 16- or 8-bit) PCM samples:
    [mean_abs, rms, peak, zero_cross_rate, e_q1..e_q4] where e_qi is
    the RMS of the i-th time quarter — all normalized to [0, 1].
    """
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n_ch = w.getnchannels()
            width = w.getsampwidth()
            rate = w.getframerate()
            n_frames = w.getnframes()
            raw = w.readframes(n_frames)
    except (wave.Error, EOFError, struct.error) as e:
        raise MediaDecodeError(f"bad WAV: {e}") from e
    if width == 2:
        samples = struct.unpack(f"<{len(raw) // 2}h", raw)[::n_ch]
        scale = 32768.0
    elif width == 1:  # unsigned 8-bit
        samples = [b - 128 for b in raw[::n_ch]]
        scale = 128.0
    else:
        raise MediaDecodeError(f"unsupported WAV sample width {width}")
    n = len(samples)
    if n == 0:
        feats = [0.0] * FEATURE_DIM
    else:
        mean_abs = sum(abs(s) for s in samples) / n / scale
        rms = (sum(s * s for s in samples) / n) ** 0.5 / scale
        peak = max(abs(s) for s in samples) / scale
        zc = sum(
            1 for a, b in zip(samples, samples[1:]) if (a >= 0) != (b >= 0)
        ) / max(n - 1, 1)
        qs = []
        for i in range(4):
            seg = samples[i * n // 4 : (i + 1) * n // 4] or [0]
            qs.append((sum(s * s for s in seg) / len(seg)) ** 0.5 / scale)
        feats = [mean_abs, rms, peak, zc, *qs]
    return {
        "features": [round(f, 6) for f in feats],
        "width": None,
        "height": None,
        "sample_rate": rate,
        "n_frames": n_frames,
        "duration": round(n_frames / rate, 6) if rate else 0.0,
    }


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel


def decode_png_py(payload: bytes) -> dict:
    """From-scratch PNG decode: chunk walk → IHDR dims → zlib-inflated,
    defiltered 8-bit pixels (gray/RGB/gray+A/RGBA).

    Features: [mean_c0, mean_c1, mean_c2, mean_all, std_all, min, max,
    mean |horizontal gradient|], all scaled to [0, 1].
    """
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise MediaDecodeError("PNG: bad signature")
    pos = 8
    width = height = None
    bit_depth = color_type = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if interlace:
                raise MediaDecodeError("PNG: Adam7 interlace unsupported")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise MediaDecodeError("PNG: missing IHDR")
    if bit_depth != 8 or color_type not in _PNG_CHANNELS:
        raise MediaDecodeError(
            f"PNG: unsupported depth/color {bit_depth}/{color_type}"
        )
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise MediaDecodeError(f"PNG: bad IDAT: {e}") from e
    bpp = _PNG_CHANNELS[color_type]
    try:
        px = png_defilter(raw, width * bpp, bpp, rows=height)
    except PdfUnsupportedError as e:
        raise MediaDecodeError(f"PNG: {e}") from e
    return {
        "features": _pixel_features(px, bpp),
        "width": width,
        "height": height,
        "sample_rate": None,
        "n_frames": None,
        "duration": None,
    }


def _pixel_features(px, bpp: int) -> list[float]:
    """Shared 8-dim image feature vector over a flat pixel buffer:
    [mean_c0, mean_c1, mean_c2, mean_all, std_all, min, max,
    mean |horizontal gradient|], all scaled to [0, 1].  Identical
    numbers for PNG and GIF so downstream similarity ops see one
    feature space per modality."""
    n = len(px)
    means = []
    for c in range(3):
        ch = px[c % bpp :: bpp]
        means.append(sum(ch) / len(ch) / 255.0 if ch else 0.0)
    mean_all = sum(px) / n / 255.0 if n else 0.0
    var = sum((b / 255.0 - mean_all) ** 2 for b in px) / n if n else 0.0
    grad = (
        sum(abs(px[i] - px[i - bpp]) for i in range(bpp, n)) / max(n - bpp, 1) / 255.0
    )
    feats = [
        *means, mean_all, var ** 0.5,
        (min(px) / 255.0) if n else 0.0,
        (max(px) / 255.0) if n else 0.0,
        grad,
    ]
    return [round(f, 6) for f in feats]


def decode_jpeg_header_py(payload: bytes) -> dict:
    """Header-grade JPEG decode: walk the marker stream to the SOFn
    frame header and return the REAL (width, height).  Pixel decode
    needs a DCT codec (pillow on the cluster image) so ``features``
    stays None — but dimensions are what the curation ops actually
    gate on (min-resolution filters, aspect-ratio caps), and a
    dimension read that never inflates pixels is also the cheap first
    pass a 100 TB image manifest scan wants."""
    if payload[:3] != b"\xff\xd8\xff":
        raise MediaDecodeError("JPEG: bad signature")
    pos, n = 2, len(payload)
    while pos + 1 < n:
        if payload[pos] != 0xFF:
            raise MediaDecodeError("JPEG: marker desync")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:  # standalone
            pos += 2
            continue
        if pos + 4 > n:
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if seglen < 2:
            raise MediaDecodeError("JPEG: bad segment length")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > n:
                break
            h, w = struct.unpack(">HH", payload[pos + 5 : pos + 9])
            return {
                "features": None, "width": int(w), "height": int(h),
                "sample_rate": None, "n_frames": None, "duration": None,
            }
        if marker == 0xDA:  # scan data before any SOF: malformed
            break
        pos += 2 + seglen
    raise MediaDecodeError("JPEG: no SOF frame header (truncated?)")


def decode_gif_header_py(payload: bytes) -> dict:
    """Header-grade GIF decode: logical-screen-descriptor dimensions
    (GIF87a/89a) only — kept as the cheap manifest-scan primitive
    (dimension gates without touching frame data); ``decode_gif_py``
    is the full pixel decoder."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise MediaDecodeError("GIF: bad signature")
    if len(payload) < 10:
        raise MediaDecodeError("GIF: truncated screen descriptor")
    w, h = struct.unpack("<HH", payload[6:10])
    return {
        "features": None, "width": int(w), "height": int(h),
        "sample_rate": None, "n_frames": None, "duration": None,
    }


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytearray:
    """GIF-variant LZW: codes packed LSB-first in a byte stream, clear
    code 2^mcs resets the table, code width grows to a 12-bit cap."""
    if not 2 <= min_code_size <= 11:
        raise MediaDecodeError(f"GIF: bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    def fresh() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], min_code_size + 1

    dic, code_size = fresh()
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                dic, code_size = fresh()
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                if code >= clear:
                    raise MediaDecodeError("GIF: LZW starts on a nonliteral")
                entry = dic[code]
            elif code < len(dic):
                entry = dic[code]
            elif code == len(dic):  # the KwKwK case
                entry = prev + prev[:1]
            else:
                raise MediaDecodeError("GIF: LZW code beyond table")
            out += entry
            if prev is not None:
                dic.append(prev + entry[:1])
                if len(dic) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
    return out  # missing end code: tolerated (common in the wild)


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif_py(payload: bytes) -> dict:
    """Full GIF decode (87a/89a): block walk → LZW-decoded first frame
    → palette-mapped RGB pixels → the shared 8-dim image features.
    Also counts image descriptors (``n_frames``) and sums GIF89a
    graphic-control delays (``duration`` in seconds) across the whole
    stream, so animated GIFs read like the short videos they are.
    Interlaced frames are de-interlaced (the four GIF passes); a frame
    with no color table falls back to treating indices as gray values
    (malformed per spec, decoded anyway rather than quarantined).
    A dimensions-only read should use decode_gif_header_py."""
    head = decode_gif_header_py(payload)
    if len(payload) < 13:
        raise MediaDecodeError("GIF: truncated header")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    n_frames = 0
    total_delay = 0
    first = None  # (lzw bytes, mcs, fw, fh, table, interlace)
    try:
        while pos < len(payload):
            b = payload[pos]
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label + sub-blocks
                label = payload[pos + 1]
                pos += 2
                if label == 0xF9 and payload[pos] >= 4:
                    (total_delay_inc,) = struct.unpack(
                        "<H", payload[pos + 2 : pos + 4]
                    )
                    total_delay += total_delay_inc
                while True:
                    sz = payload[pos]
                    pos += 1
                    if sz == 0:
                        break
                    pos += sz
            elif b == 0x2C:  # image descriptor
                _, _, fw, fh = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
                ipacked = payload[pos + 9]
                pos += 10
                table = gct
                if ipacked & 0x80:
                    n = 2 << (ipacked & 7)
                    table = payload[pos : pos + 3 * n]
                    pos += 3 * n
                mcs = payload[pos]
                pos += 1
                data = bytearray()
                while True:
                    sz = payload[pos]
                    pos += 1
                    if sz == 0:
                        break
                    data += payload[pos : pos + sz]
                    pos += sz
                n_frames += 1
                if first is None:
                    first = (bytes(data), mcs, fw, fh, table, bool(ipacked & 0x40))
            else:
                raise MediaDecodeError(f"GIF: unknown block 0x{b:02x}")
    except (IndexError, struct.error) as e:
        raise MediaDecodeError(f"GIF: truncated block stream: {e}") from e
    feats = None
    if first is not None:
        data, mcs, fw, fh, table, interlace = first
        idx = _gif_lzw_decode(data, mcs)
        if len(idx) < fw * fh:
            raise MediaDecodeError(
                f"GIF: frame pixel shortfall ({len(idx)} < {fw * fh})"
            )
        idx = idx[: fw * fh]
        if interlace and fh > 0:
            rows = [idx[r * fw : (r + 1) * fw] for r in range(fh)]
            order = [
                r for start, step in _GIF_INTERLACE
                for r in range(start, fh, step)
            ]
            deint = [b""] * fh
            for src_i, dst_r in enumerate(order):
                deint[dst_r] = rows[src_i]
            idx = bytearray(b"".join(bytes(r) for r in deint))
        px = bytearray(3 * len(idx))
        if table is not None:
            tn = len(table) // 3
            for i, v in enumerate(idx):
                if v >= tn:
                    v = 0  # out-of-palette index: spec-silent, render bg
                px[3 * i : 3 * i + 3] = table[3 * v : 3 * v + 3]
        else:  # no palette anywhere: indices as gray (documented)
            for i, v in enumerate(idx):
                px[3 * i] = px[3 * i + 1] = px[3 * i + 2] = v
        feats = _pixel_features(px, 3)
    return {
        "features": feats,
        "width": head["width"],
        "height": head["height"],
        "sample_rate": None,
        "n_frames": n_frames if n_frames else None,
        "duration": round(total_delay / 100.0, 6) if total_delay else None,
    }


_MP3_SR = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
           0: (11025, 12000, 8000)}  # version bits → sample rates
_MP3_BR_V1 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_BR_V2 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)


def decode_mp3_header_py(payload: bytes) -> dict:
    """Header-grade MP3 decode: skip an ID3v2 tag, scan to the first
    MPEG audio frame sync, read sample rate + bitrate from the frame
    header, and estimate duration from the remaining byte count at
    that bitrate (exact for CBR, the common podcast/speech-corpus
    case; VBR is a documented approximation).  No frame decode —
    ``features`` stays None (same posture as JPEG/GIF)."""
    p = payload or b""
    pos = 0
    if p[:3] == b"ID3":
        if len(p) < 10:
            raise MediaDecodeError("MP3: truncated ID3v2 header")
        pos = 10 + (
            ((p[6] & 0x7F) << 21) | ((p[7] & 0x7F) << 14)
            | ((p[8] & 0x7F) << 7) | (p[9] & 0x7F)
        )
    scan_end = min(len(p) - 3, pos + 65536)
    while pos < scan_end:
        if p[pos] == 0xFF and (p[pos + 1] & 0xE0) == 0xE0:
            b1, b2 = p[pos + 1], p[pos + 2]
            version = (b1 >> 3) & 0x3  # 3=MPEG1 2=MPEG2 0=MPEG2.5
            layer = (b1 >> 1) & 0x3    # 1 = Layer III
            br_idx = (b2 >> 4) & 0xF
            sr_idx = (b2 >> 2) & 0x3
            if version != 1 and layer == 1 and 0 < br_idx < 15 and sr_idx != 3:
                sr = _MP3_SR[version][sr_idx]
                kbps = (_MP3_BR_V1 if version == 3 else _MP3_BR_V2)[br_idx]
                dur = (len(p) - pos) * 8.0 / (kbps * 1000.0)
                return {
                    "features": None, "width": None, "height": None,
                    "sample_rate": sr, "n_frames": None,
                    "duration": round(dur, 3),
                }
        pos += 1
    raise MediaDecodeError("MP3: no Layer III frame sync found")


def _mp4_boxes(buf: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", buf[pos : pos + 4])
        typ = buf[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                return
            (size,) = struct.unpack(">Q", buf[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr:
            return
        yield typ, pos + hdr, min(pos + size, end)
        pos += size


def decode_mp4_header_py(payload: bytes) -> dict:
    """Header-grade MP4/ISO-BMFF decode: box walk to moov/mvhd for
    (timescale, duration) and the first video trak's tkhd for the
    16.16-fixed presentation (width, height).  Requires the moov box in
    the payload (faststart layout; a moov-after-mdat stream tail is
    quarantined with a layout-specific error).  Frame decode needs a
    codec — ``features`` stays None."""
    p = payload or b""
    if p[4:8] != b"ftyp":
        raise MediaDecodeError("MP4: no ftyp box")
    dur = None
    width = height = None
    for typ, s, e in _mp4_boxes(p, 0, len(p)):
        if typ != b"moov":
            continue
        for t2, s2, e2 in _mp4_boxes(p, s, e):
            if t2 == b"mvhd" and s2 < e2:
                ver = p[s2]
                if ver == 1 and s2 + 32 <= e2:
                    (ts,) = struct.unpack(">I", p[s2 + 20 : s2 + 24])
                    (d,) = struct.unpack(">Q", p[s2 + 24 : s2 + 32])
                elif ver == 0 and s2 + 20 <= e2:
                    ts, d = struct.unpack(">II", p[s2 + 12 : s2 + 20])
                else:
                    raise MediaDecodeError("MP4: truncated mvhd")
                if ts:
                    dur = round(d / ts, 3)
            elif t2 == b"trak" and width is None:
                for t3, s3, e3 in _mp4_boxes(p, s2, e2):
                    if t3 != b"tkhd" or s3 >= e3:
                        continue
                    off = s3 + (88 if p[s3] == 1 else 76)
                    if off + 8 <= e3:
                        w, h = struct.unpack(">II", p[off : off + 8])
                        if w and h:  # audio traks carry 0x0
                            width, height = w >> 16, h >> 16
    if dur is None:
        raise MediaDecodeError(
            "MP4: no mvhd box in payload (moov-after-mdat layout?)"
        )
    return {
        "features": None, "width": width, "height": height,
        "sample_rate": None, "n_frames": None, "duration": dur,
    }


# what decoders raise on damaged bytes (a TypeError is a bug: it stays loud)
_DATA_ERRORS = (struct.error, wave.Error, zlib.error, EOFError, ValueError,
                RuntimeError, LookupError, ArithmeticError)


def decode_payload_py(payload: bytes) -> dict:
    """Magic-byte dispatch to the stdlib decoders.

    WAV, PNG, and GIF decode fully (params + pixels/samples +
    features); JPEG (dimensions) and MP3/MP4 (sample rate, duration,
    video dims) decode to header grade — real metadata, features None,
    sample/frame decode needs a codec.  Remaining third-party-codec
    formats are recognized and named in the error so quarantine rows
    say exactly which cluster-image dependency would handle them (the
    round-3 strict mode raised NotImplementedError here for
    everything).  Any decoder failure on damaged bytes leaves as a
    ``MediaDecodeError`` naming the format: a quarantine row, never a
    failed task."""
    p = payload or b""
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        fmt, decode = "PNG", decode_png_py
    elif p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        fmt, decode = "WAV", decode_wav_py
    elif p[:3] == b"\xff\xd8\xff":
        fmt, decode = "JPEG", decode_jpeg_header_py
    elif p[:6] in (b"GIF87a", b"GIF89a"):
        fmt, decode = "GIF", decode_gif_py
    elif p[:3] == b"ID3" or p[:2] in (b"\xff\xfb", b"\xff\xf3", b"\xff\xf2"):
        fmt, decode = "MP3", decode_mp3_header_py
    elif p[4:8] == b"ftyp":
        fmt, decode = "MP4", decode_mp4_header_py
    else:
        raise MediaDecodeError("unrecognized media payload")
    try:
        return decode(p)
    except MediaDecodeError:
        raise
    except _DATA_ERRORS as e:
        raise MediaDecodeError(f"{fmt}: {type(e).__name__}: {e}") from e


def media_table_from_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → media rows, one per media span.

    Payload is a deterministic fake derived from the ref (the corpus's
    real payloads live behind the media_ref pointer in object storage;
    at cluster scale this projection is a scan of the media manifest,
    not a byte fetch — bytes are only pulled inside the decode stage)."""
    m = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.media_ref").isNotNull())
        .select(
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.kind").alias("kind"),
        )
        .dropDuplicates(["media_ref"])
    )
    return m.select(
        "media_ref",
        "kind",
        F.encode(F.md5(F.col("media_ref")), "utf-8").alias("payload"),
        F.create_map(F.lit("src"), F.col("media_ref")).alias("meta"),
    )


_PNG_COLOR_OF = {("DeviceGray", 1): 0, ("DeviceRGB", 3): 2}


def raw_samples_to_png(
    payload: bytes, width: int, height: int, color_space: str | None,
    bits: int,
) -> bytes | None:
    """Wrap fully-decoded PDF image samples into a PNG the stdlib
    strict decoder reads, when losslessly possible (8-bit DeviceGray /
    DeviceRGB with exactly width×height×ch bytes); None otherwise."""
    ch = {"DeviceGray": 1, "DeviceRGB": 3}.get(color_space or "")
    if ch is None or bits != 8 or width <= 0 or height <= 0:
        return None
    if len(payload) != width * height * ch:
        return None
    color_type = _PNG_COLOR_OF[(color_space, ch)]

    def chunk(t: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + t + data
            + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * ch
    raw = b"".join(
        b"\x00" + payload[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def pdf_image_media_rows_py(doc_id: str, pdf_bytes: bytes) -> list[dict]:
    """One PDF → media rows for its embedded image XObjects.

    codec='raw' 8-bit gray/RGB samples are PNG-wrapped (losslessly) so
    ``decode_media(mode='strict')`` really decodes them; DCTDecode
    payloads are carried as the ready JPEG bytes they are (strict mode
    quarantines them naming pillow — same routing as any other JPEG);
    other codecs/shapes carry their bytes and quarantine as
    unrecognized.  Ref: the reference's parser is text-only
    (internal/parser/pdf.go:16-58) — this closes the image side."""
    try:
        images = extract_images(pdf_bytes)
    except Exception:
        return []
    rows = []
    for im in images:
        payload = im["payload"]
        if im["codec"] == "raw":
            png = raw_samples_to_png(
                payload, im["width"], im["height"], im["color_space"], im["bits"]
            )
            if png is not None:
                payload = png
        rows.append(
            {
                "media_ref": f"{doc_id}#p{im['page']}/{im['name']}",
                "kind": "image",
                "payload": payload,
                "meta": {
                    "src": str(doc_id),
                    "page": str(im["page"]),
                    "codec": im["codec"],
                    "pdf_width": str(im["width"]),
                    "pdf_height": str(im["height"]),
                },
            }
        )
    return rows


def pdf_media_table(
    df: DataFrame, id_col: str = "doc_id", pdf_col: str = "pdf"
) -> DataFrame:
    """(doc_id, pdf binary) → media rows (MEDIA_SCHEMA), one per
    embedded image XObject — an Arrow-batched 1:N mapInPandas stage,
    the same shape as frame_sample.  Feeds decode_media directly."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in MEDIA_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, blob in zip(pdf[id_col], pdf[pdf_col]):
                rows.extend(pdf_image_media_rows_py(doc_id, bytes(blob or b"")))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, MEDIA_SCHEMA)


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic 8-dim feature vector from the payload bytes."""
    h = hashlib.md5(payload or b"").digest()
    return [round(b / 255.0, 6) for b in h[:FEATURE_DIM]]


def decode_media(df: DataFrame, mode: str = "fake") -> DataFrame:
    """Decode + feature-extract as an Arrow-batched mapInPandas stage.

    mode='strict' runs the REAL stdlib decoders (WAV via ``wave``, PNG
    via zlib+defilter); a payload they can't handle yields a row whose
    ``error`` names the missing codec — filter with
    :func:`media_quarantine` — so one poison payload never kills the
    stage (same posture as the document pipeline's C5 routing)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nulls = {"sample_rate": None, "n_frames": None, "duration": None}
        for pdf in batches:
            if mode == "strict":
                rows = []
                for ref, kind, payload in zip(
                    pdf["media_ref"], pdf["kind"], pdf["payload"]
                ):
                    try:
                        d = decode_payload_py(payload)
                        rows.append(
                            {"media_ref": ref, "kind": kind, **d, "error": None}
                        )
                    except MediaDecodeError as e:
                        rows.append(
                            {
                                "media_ref": ref, "kind": kind,
                                "features": None, "width": None,
                                "height": None, **nulls, "error": str(e),
                            }
                        )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in FEATURES_SCHEMA.fields]
                )
                continue
            feats = pdf["payload"].map(_fake_features)
            # fake decode also yields fake dimensions (stable per ref)
            dims = pdf["payload"].map(
                lambda p: (
                    64 + (p[0] if len(p) else 0) % 64,
                    64 + (p[-1] if len(p) else 0) % 64,
                )
            )
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "features": feats,
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "sample_rate": None,
                    "n_frames": None,
                    "duration": None,
                    "error": None,
                }
            )

    return df.mapInPandas(run, FEATURES_SCHEMA)


def media_quarantine(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows, quarantined rows) — split on the decode error column."""
    return (
        features.filter(F.col("error").isNull()),
        features.filter(F.col("error").isNotNull()).select(
            "media_ref", "kind", "error"
        ),
    )


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_features", T.ArrayType(T.FloatType())),
    ]
)


def frame_sample(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for video payloads: emit n_frames feature rows per
    media item (1:N mapInPandas — the real sampler would seek/decode
    keyframes; the fake derives per-frame features from payload+idx)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_ref": [], "frame_idx": [], "frame_features": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                for i in range(n_frames):
                    rows["media_ref"].append(ref)
                    rows["frame_idx"].append(i)
                    rows["frame_features"].append(
                        _fake_features((payload or b"") + bytes([i]))
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, FRAMES_SCHEMA)


def media_triples(features: DataFrame) -> DataFrame:
    """Media features → KG triples: (media:<ref>, @type/kind/dims, and —
    strict-mode audio — sampleRate/duration).  Null-valued attributes
    emit no triple, so image rows carry no audio predicates and vice
    versa (and fake mode, where the audio fields are always null, emits
    exactly the round-2 set — the q_media_triples oracle is unchanged)."""
    subj = F.concat(F.lit("media:"), F.col("media_ref"))
    rows = [
        features.select(
            subj.alias("subj"), F.lit("@type").alias("pred"),
            F.initcap(F.col("kind")).alias("obj"), F.lit("literal").alias("obj_type"),
        ),
    ]
    attr_cols = ["width", "height"]
    if "sample_rate" in features.columns:
        attr_cols += ["sample_rate", "duration"]
    pred_names = {"sample_rate": "sampleRate"}
    for c in attr_cols:
        rows.append(
            features.filter(F.col(c).isNotNull()).select(
                subj.alias("subj"),
                F.lit(pred_names.get(c, c)).alias("pred"),
                F.col(c).cast("string").alias("obj"),
                F.lit("literal").alias("obj_type"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
