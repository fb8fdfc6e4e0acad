"""Multimodal column plumbing: opaque binary payloads with typed metadata.

Convention: a multimodal asset is a row with

- ``payload``   binary        — the raw bytes (image/audio/video/file)
- ``media_type`` string       — MIME-ish tag ("image/png", "audio/wav", ...)
- ``meta``      struct        — typed metadata (byte_len, sha256, ...)

The Spark-side plumbing (schemas, partition-friendly batch shapes,
Arrow-batched UDF signatures) is real and tested. Image metadata decode
is REAL for PNG/GIF/BMP/JPEG payloads (stdlib container-header parsing
returns the actual encoded width/height/format; Pillow extends coverage
when importable), with a loud NotImplementedError gate for payloads no
available decoder recognizes. Video frame extraction still needs ffmpeg
and stays honestly stubbed behind ``fake=True``; a deterministic fake
decoder remains available for the SQL-oracled plumbing queries.

Scale notes: payload work uses mapInPandas (per-partition Arrow batch
iterator) so bytes never round-trip through Python row-at-a-time; binary
metadata (length, hash) stays JVM-side as native expressions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("media_type", StringType(), True),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("byte_len", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("format", StringType(), True),
    ]
)


def attach_binary_metadata(df: DataFrame) -> DataFrame:
    """JVM-side metadata for a binary column: byte length + sha256 hex.

    Native expressions — no Python; at 100 TB this is the cheap first
    pass that dedups payloads (group on sha256) before any decoding.
    """
    return df.withColumn("byte_len", F.length("payload").cast("long")).withColumn(
        "sha256", F.sha2(F.col("payload"), 256)
    )


def texts_as_assets(df: DataFrame) -> DataFrame:
    """Adapt a text table into the asset convention (for plumbing tests)."""
    return df.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """Deterministic fake decoder: dims derived from payload bytes."""
    if not payload:
        return 0, 0, "empty"
    w = 1 + payload[0] % 64
    h = 1 + payload[-1] % 64
    fmt = "fake-rgb" if len(payload) % 2 == 0 else "fake-gray"
    return w, h, fmt


def _sniff_image(payload: bytes) -> tuple[int, int, str] | None:
    """REAL image metadata decode, stdlib-only: parse the container
    header of genuine PNG/GIF/BMP/JPEG payloads for (width, height,
    format). Returns None for unrecognized bytes. This is not a fake —
    the dimensions come from the actual encoded image."""
    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        # IHDR is mandatory-first: width/height at offsets 16/20 (BE)
        if payload[12:16] == b"IHDR":
            return (
                int.from_bytes(payload[16:20], "big"),
                int.from_bytes(payload[20:24], "big"),
                "png",
            )
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        return (
            int.from_bytes(payload[6:8], "little"),
            int.from_bytes(payload[8:10], "little"),
            "gif",
        )
    if len(payload) >= 26 and payload[:2] == b"BM":
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        return abs(w), abs(h), "bmp"
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOFn frame header
        i = 2
        sof = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
               0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
        while i + 1 < len(payload):
            if payload[i] != 0xFF:
                return None
            # legal fill: any number of 0xFF pad bytes precede the marker
            j = i + 1
            while j < len(payload) and payload[j] == 0xFF:
                j += 1
            if j >= len(payload):
                return None
            marker = payload[j]
            if marker in sof:
                if j + 9 > len(payload):
                    return None
                return (
                    int.from_bytes(payload[j + 6:j + 8], "big"),
                    int.from_bytes(payload[j + 4:j + 6], "big"),
                    "jpeg",
                )
            # standalone (length-less) markers: TEM and RSTn
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                i = j + 1
                continue
            if marker == 0xD9:  # EOI before any SOF: no frame header
                return None
            if j + 3 > len(payload):
                return None
            seg_len = int.from_bytes(payload[j + 1:j + 3], "big")
            if seg_len < 2:
                return None
            i = j + 1 + seg_len
    return None


def _real_decode(payload: bytes) -> tuple[int, int, str] | None:
    """Real decode chain: stdlib header sniff first (always available),
    then Pillow for formats the sniffer doesn't know (webp, tiff, ...)
    when PIL is importable."""
    sniffed = _sniff_image(payload)
    if sniffed is not None:
        return sniffed
    try:
        import io

        from PIL import Image
    except ImportError:
        return None
    try:
        with Image.open(io.BytesIO(payload)) as img:
            return img.width, img.height, (img.format or "unknown").lower()
    except Exception:
        return None


def decode_assets(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode binary payloads to typed metadata via mapInPandas.

    ``fake=False`` (default) performs a REAL decode: genuine
    PNG/GIF/BMP/JPEG payloads yield their actual encoded width, height
    and format via stdlib header parsing; other formats route through
    Pillow when importable. An unrecognized payload raises: the loud
    missing-codec gate. ``fake=True`` keeps the deterministic fake
    decoder for the SQL-oracled plumbing tests.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                }
            )
            widths, heights, formats = [], [], []
            for b in pdf["payload"]:
                if fake:
                    decoded = _fake_decode(b if b is not None else b"")
                else:
                    decoded = _real_decode(b) if b else None
                    if decoded is None:
                        head = bytes(b[:8]) if b else b""
                        raise NotImplementedError(
                            f"unrecognized media payload (head={head!r}); "
                            "install Pillow for non-PNG/GIF/BMP/JPEG formats"
                        )
                widths.append(decoded[0])
                heights.append(decoded[1])
                formats.append(decoded[2])
            out["width"] = pd.array(widths, dtype="Int32")
            out["height"] = pd.array(heights, dtype="Int32")
            out["format"] = formats
            yield out.astype({"asset_id": "int64", "byte_len": "int64"})

    return df.mapInPandas(decode_batches, DECODED_SCHEMA)


def _sniff_wav(payload: bytes) -> tuple[int, int, int, int] | None:
    """REAL audio metadata decode, stdlib-only: walk the RIFF/WAVE
    chunk list for the fmt and data chunks. Returns (channels,
    sample_rate, bits_per_sample, n_frames) or None for non-WAV
    bytes. Like the image sniffers, this reads the actual encoded
    container header — no media library required."""
    if len(payload) < 36 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    i = 12
    channels = rate = bits = block_align = None
    data_len = None
    while i + 8 <= len(payload):
        tag = payload[i:i + 4]
        size = int.from_bytes(payload[i + 4:i + 8], "little")
        body = payload[i + 8:i + 8 + size]
        if tag == b"fmt " and len(body) >= 16:
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            block_align = int.from_bytes(body[12:14], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif tag == b"data":
            data_len = size
        i += 8 + size + (size % 2)  # chunks are word-aligned
    if channels is None or rate is None or not block_align:
        return None
    frames = (data_len // block_align) if data_len is not None else 0
    return channels, rate, bits or 0, frames


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_no", LongType(), False),
        StructField("ts_ms", LongType(), False),
    ]
)


def sample_frames(df: DataFrame, fake: bool = False) -> DataFrame:
    """Sample frames from video payloads: one output row per frame, one
    frame a second.

    The one-to-many mapInPandas shape for frame extraction — each Arrow
    batch of payloads yields a larger batch of (asset_id, frame_no,
    ts_ms) rows. STUB like ``decode_assets``: real extraction needs
    ffmpeg; ``fake=True`` derives the frame count from the payload byte
    length (1 + byte_len % 8), so the distributed plumbing and fan-out
    are exercised end-to-end and SQL-verifiable.
    """
    every_ms, max_frames = 1000, 8

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "frame extraction requires ffmpeg; use fake=True for plumbing tests"
                )
            ids, frames, tss = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                n = 1 + (len(payload) if payload is not None else 0) % max_frames
                for f in range(n):
                    ids.append(aid)
                    frames.append(f)
                    tss.append(f * every_ms)
            yield pd.DataFrame(
                {"asset_id": ids, "frame_no": frames, "ts_ms": tss}, dtype="int64"
            )

    return df.mapInPandas(frame_batches, FRAME_SCHEMA)


PCM_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("peak_abs", LongType(), True),
        StructField("dc_sum", LongType(), True),
        StructField("sum_sq", LongType(), True),
    ]
)


def synth_wav_assets(df: DataFrame) -> DataFrame:
    """Deterministic mono 16-bit PCM WAV synthesis, one asset per id:
    ``n = 64 + id % 64`` samples with
    ``s_k = ((id·7919 + k·104729) mod 65536) − 32768``.

    The point is not the audio — it is that the ENTIRE byte payload is
    a pure integer function of the id, so a SQL oracle can state the
    expected sample statistics without parsing a byte, and any
    header-offset / endianness / sample-width bug in either the writer
    here or the reader (:func:`wav_pcm_stats`) breaks the value hash.
    Real RIFF/WAVE container bytes, stdlib-only, built per Arrow batch.
    """
    import struct

    rate = 8000

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 64 + i % 64
                samples = ((i * 7919 + np.arange(n, dtype=np.int64) * 104729) % 65536) - 32768
                data = samples.astype("<i2").tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVE"
                    + b"fmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                ids.append(i)
                payloads.append(hdr + data)
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="int64"),
                    "media_type": ["audio/wav"] * len(ids),
                    "payload": payloads,
                }
            )

    return df.select("doc_id").mapInPandas(
        synth, "asset_id long, media_type string, payload binary"
    )


def wav_pcm_stats(df: DataFrame) -> DataFrame:
    """REAL PCM sample decode (not just the header): walk the RIFF
    chunks for fmt + data, reinterpret the data chunk as little-endian
    int16 frames, and aggregate per asset — sample count, peak |s|, DC
    sum, and energy Σs² (all exact int64, so the stats value-oracle).

    The feature-extraction step an audio pipeline runs before
    loudness-gating or silence-trimming; one mapInPandas pass over
    Arrow batches, no Python per sample (numpy reinterpretation + three
    vector reductions per payload). Non-WAV / non-16-bit payloads yield
    NULL stats (the route-to-transcode queue).
    """

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, peaks, dcs, sqs = [], [], [], [], []
            for aid, b in zip(pdf["asset_id"], pdf["payload"]):
                ids.append(int(aid))
                meta = _sniff_wav(bytes(b)) if b is not None else None
                if meta is None or meta[2] != 16:
                    ns.append(None); peaks.append(None)
                    dcs.append(None); sqs.append(None)
                    continue
                payload = bytes(b)
                # locate the data chunk body (same walk as _sniff_wav)
                i, body = 12, b""
                while i + 8 <= len(payload):
                    tag = payload[i:i + 4]
                    size = int.from_bytes(payload[i + 4:i + 8], "little")
                    if tag == b"data":
                        body = payload[i + 8:i + 8 + size]
                        break
                    i += 8 + size + (size % 2)
                samples = np.frombuffer(
                    body[: len(body) - (len(body) % 2)], dtype="<i2"
                ).astype(np.int64)
                ns.append(len(samples))
                peaks.append(int(np.max(np.abs(samples))) if len(samples) else 0)
                dcs.append(int(np.sum(samples)))
                sqs.append(int(np.sum(samples * samples)))
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="int64"),
                    "n_samples": pd.array(ns, dtype="Int64"),
                    "peak_abs": pd.array(peaks, dtype="Int64"),
                    "dc_sum": pd.array(dcs, dtype="Int64"),
                    "sum_sq": pd.array(sqs, dtype="Int64"),
                }
            )

    return df.mapInPandas(stats, PCM_STATS_SCHEMA)
