"""Multimodal columns: opaque binary payloads + typed metadata.

Two tiers:

1. `multimodal_metadata` / `multimodal_features` — the byte-raster tier:
   payloads are opaque bytes and the "decode" is a clearly marked STUB
   (deterministic arithmetic) exercising the REAL Spark plumbing: binary
   column handling, Arrow batch transfer of bytes into pandas,
   mapInPandas batch shape, output schema, vectorized numpy feature
   extraction.

2. `multimodal_decode` — the REAL decode tier: payloads are genuine
   binary files in formats parseable without external libraries (P6 PPM
   images, RIFF/WAVE PCM audio via stdlib `wave`, multi-frame video as a
   concatenated PPM stream — ffmpeg image2pipe layout), synthesized
   deterministically from document text so every decoded feature is
   verifiable by a DuckDB oracle, and actually parsed back — including
   an honest failure path on deliberately-corrupted payloads
   (decode_ok=false, NULL features). Swapping in Pillow/av JPEG/Opus
   decoders on a full cluster changes only the two map functions.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

META_SCHEMA = (
    "doc_id long, modality string, n_bytes int, payload_sha string, "
    "width int, height int, n_frames int, decode_ok boolean"
)


def with_payload(docs: DataFrame) -> DataFrame:
    """Synthesize an opaque binary payload column (here: utf-8 bytes of the
    text — in production this is the real image/audio bytes column) plus a
    modality tag."""
    return docs.select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )


def decode_metadata_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: whole Arrow batches of binary payloads in, typed
    metadata out. Vectorized where possible (lengths, hashes via pandas
    map over bytes objects — C-level per element)."""
    for pdf in batches:
        n_bytes = pdf["payload"].map(len)
        sha = pdf["payload"].map(lambda b: hashlib.sha256(b).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "n_bytes": n_bytes.astype("int32"),
                "payload_sha": sha,
                "width": (n_bytes % 640 + 1).astype("int32"),
                "height": (n_bytes * 7 % 480 + 1).astype("int32"),
                "n_frames": (n_bytes % 30 + 1).astype("int32"),
                "decode_ok": True,
            }
        )


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> binary payload -> stub decode -> typed metadata rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_payload(docs).mapInPandas(decode_metadata_map, META_SCHEMA)


FEATURES_SCHEMA = (
    "doc_id long, modality string, n_bytes int, mean_byte double, "
    "hist_str string, pooled_str string, sampled_sha string"
)
HIST_BINS = 8  # byte-value histogram: code // 32 -> bins 0..7
POOL_BUCKETS = 8  # 'resize': block-mean pool the byte raster to 8 buckets
FRAME_STRIDE = 16  # 'frame-sample': every 16th byte


def features_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas feature-extraction stage over the (fake-)decoded byte
    raster — REAL vectorized numpy per payload: histogram (np.bincount),
    block-mean pooling (the 1-D analog of image resize), stride frame
    sampling + hash. Only the format decode is faked (np.frombuffer
    instead of PIL/av — this sandbox has neither); every downstream
    array op is exactly what a real raster would get."""
    import numpy as np

    for pdf in batches:
        out_rows = []
        for doc_id, modality, payload in zip(
            pdf["doc_id"], pdf["modality"], pdf["payload"]
        ):
            arr = np.frombuffer(payload, dtype=np.uint8)
            n = arr.size
            if n:
                mean_byte = round(float(arr.mean()), 6)
                hist = np.bincount(arr // 32, minlength=HIST_BINS)[:HIST_BINS]
                hist_str = ",".join(str(int(c)) for c in hist)
                bucket = np.arange(n, dtype=np.int64) * POOL_BUCKETS // n
                # pooled block SUMS (integer-exact — no FP formatting to
                # keep bit-identical across engines; mean = sum/count is
                # derivable, counts are n//8-balanced by construction)
                sums = np.bincount(bucket, weights=arr, minlength=POOL_BUCKETS)
                pooled_str = ",".join(str(int(s)) for s in sums[:POOL_BUCKETS])
            else:
                mean_byte = None
                hist_str = ",".join(["0"] * HIST_BINS)
                pooled_str = ",".join(["0"] * POOL_BUCKETS)
            sampled_sha = hashlib.sha256(bytes(arr[::FRAME_STRIDE])).hexdigest()
            out_rows.append(
                (doc_id, modality, n, mean_byte, hist_str, pooled_str, sampled_sha)
            )
        yield pd.DataFrame(
            out_rows,
            columns=[
                "doc_id", "modality", "n_bytes", "mean_byte",
                "hist_str", "pooled_str", "sampled_sha",
            ],
        )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> payload -> decode(raster) -> feature extraction:
    byte-value histogram, block-mean 'resize' pooling, stride 'frame
    sampling' + content hash. The DuckDB oracle replays the identical
    arithmetic over char codes (the corpus is ASCII, so char codes ==
    payload bytes — asserted cheaply by n_bytes matching length())."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_payload(docs).mapInPandas(features_map, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# REAL decode: valid PPM / WAV / PPM-stream payloads, actually parsed back
# ---------------------------------------------------------------------------
# The stub above fakes the FORMAT decode; this path does not. Payloads are
# genuine binary files in formats decodable without external libraries —
# P6 PPM images (netpbm), RIFF/WAVE PCM audio (stdlib `wave`), and a
# multi-frame video as a concatenated PPM stream (the same byte layout
# ffmpeg's image2pipe ppm demuxer consumes) — synthesized deterministically
# from each document's text so a DuckDB oracle can verify every decoded
# feature by independent integer arithmetic. The decode stage then parses
# the real headers (and fails honestly on the deliberately-corrupted
# slice: decode_ok=false, NULL features).

IMG_W, IMG_H = 16, 16                      # 768 RGB bytes per image
AUD_SR, AUD_N = 8000, 512                  # 512 x int16 mono @ 8 kHz
VID_FRAMES, VID_W, VID_H = 4, 8, 8         # 4 frames x 192 RGB bytes
CORRUPT_MOD, CORRUPT_REM = 37, 5           # doc_id slice with broken magic

DECODE_SCHEMA = (
    "doc_id long, modality string, decode_ok boolean, n_bytes int, "
    "width int, height int, n_frames int, sample_rate int, n_samples int, "
    "duration_ms double, sum_val bigint"
)


def _payload_codes(text: str, n: int):
    """Cyclic byte stream driving every payload: the document's ASCII
    codes repeated/truncated to n (np.resize cycles). '' -> ' ' so empty
    docs still produce a decodable payload. The DuckDB oracle mirrors
    this as ord(substr(t, (i % len) + 1, 1))."""
    import numpy as np

    arr = np.frombuffer((text or " ").encode("utf-8"), dtype=np.uint8)
    return np.resize(arr, n)


def _ppm_bytes(pix, w: int, h: int) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h) + pix.tobytes()


def encode_payloads_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: text -> real binary payload per modality."""
    import io
    import wave

    for pdf in batches:
        payloads = []
        for doc_id, modality, text in zip(pdf["doc_id"], pdf["modality"], pdf["text"]):
            if modality == "image":
                pix = _payload_codes(text, IMG_W * IMG_H * 3)
                payload = _ppm_bytes(pix, IMG_W, IMG_H)
            elif modality == "audio":
                codes = _payload_codes(text, AUD_N).astype("int16")
                samples = (codes - 64) * 256
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(AUD_SR)
                    w.writeframes(samples.astype("<i2").tobytes())
                payload = buf.getvalue()
            else:  # video: concatenated PPM frames (image2pipe layout)
                pix = _payload_codes(text, VID_FRAMES * VID_W * VID_H * 3)
                fsz = VID_W * VID_H * 3
                payload = b"".join(
                    _ppm_bytes(pix[f * fsz:(f + 1) * fsz], VID_W, VID_H)
                    for f in range(VID_FRAMES)
                )
            if doc_id % CORRUPT_MOD == CORRUPT_REM:
                payload = b"XX" + payload[2:]  # break the magic, keep length
            payloads.append(payload)
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "modality": pdf["modality"],
             "payload": payloads}
        )


def _parse_ppm(payload: bytes, offset: int = 0):
    """Minimal real P6 parser: header 'P6\\n<w> <h>\\n255\\n' + w*h*3 raw
    bytes. Returns (w, h, pixel_array, next_offset) or None."""
    import re

    import numpy as np

    m = re.match(rb"P6\n(\d+) (\d+)\n255\n", payload[offset:offset + 32])
    if not m:
        return None
    w, h = int(m.group(1)), int(m.group(2))
    start = offset + m.end()
    end = start + w * h * 3
    if end > len(payload):
        return None
    return w, h, np.frombuffer(payload[start:end], dtype=np.uint8), end


def decode_payloads_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: REAL format decode. Images/video frames through
    the P6 parser, audio through the stdlib `wave` reader; any parse
    failure -> decode_ok=false with NULL features (never an exception —
    poison payloads must not kill the executor task)."""
    import io
    import wave

    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, modality, payload in zip(
            pdf["doc_id"], pdf["modality"], pdf["payload"]
        ):
            n_bytes = len(payload)
            row = dict(doc_id=doc_id, modality=modality, decode_ok=False,
                       n_bytes=n_bytes, width=None, height=None, n_frames=None,
                       sample_rate=None, n_samples=None, duration_ms=None,
                       sum_val=None)
            try:
                if modality == "image":
                    p = _parse_ppm(payload)
                    if p and p[3] == n_bytes:
                        w, h, pix, _ = p
                        row.update(decode_ok=True, width=w, height=h,
                                   n_frames=1, sum_val=int(pix.sum()))
                elif modality == "audio":
                    with wave.open(io.BytesIO(payload), "rb") as wv:
                        sr = wv.getframerate()
                        nf = wv.getnframes()
                        samples = np.frombuffer(
                            wv.readframes(nf), dtype="<i2"
                        )
                    row.update(decode_ok=True, sample_rate=sr, n_samples=nf,
                               duration_ms=float(nf) * 1000.0 / sr,
                               sum_val=int(samples.sum()))
                else:  # video: walk the PPM stream
                    off, frames, total = 0, 0, 0
                    w = h = None
                    while off < n_bytes:
                        p = _parse_ppm(payload, off)
                        if not p:
                            break
                        w, h, pix, off = p
                        frames += 1
                        total += int(pix.sum())
                    if frames and off == n_bytes:
                        row.update(decode_ok=True, width=w, height=h,
                                   n_frames=frames, sum_val=total)
            except (wave.Error, EOFError, ValueError):
                pass  # decode_ok stays False
            rows.append(row)
        yield pd.DataFrame(rows, columns=[
            "doc_id", "modality", "decode_ok", "n_bytes", "width", "height",
            "n_frames", "sample_rate", "n_samples", "duration_ms", "sum_val",
        ])


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> REAL binary payloads (PPM / WAV / PPM-stream) -> real
    format decode -> typed features. Two narrow Arrow stages, no shuffle:
    at 100 TB the payload bytes stay inside one partition-local pass from
    synthesis (in production: object-store fetch) through decode."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )
    payloads = src.mapInPandas(
        encode_payloads_map, "doc_id long, modality string, payload binary"
    )
    return payloads.mapInPandas(decode_payloads_map, DECODE_SCHEMA)
