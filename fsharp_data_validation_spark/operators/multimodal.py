"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow-batched ``mapInPandas``.

The Spark-side plumbing (schema, partition-preserving mapInPandas, batch
shapes, numpy-vectorized byte handling) is real and tested; the actual
codec decode is STUBBED (this environment has no image/audio libraries):

- ``decode_image_meta``: parses a deterministic fake header (our synthetic
  payloads carry width/height/channels as big-endian uint16/8 in the first
  5 bytes) — swap ``_parse_header`` for a real codec (PIL/libvips) in prod.
  The synthetic image and RAWV payload generators live with their tests.
- ``frame_sample``: REAL frame extraction for the uncompressed RAWV
  raw-frame container (numpy byte slicing per sampled index); compressed
  codecs still raise NotImplementedError — a real decoder (pyav/ffmpeg)
  slots in behind the same signature and ``VIDEO_FRAME_SCHEMA``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

def _parse_header(payload: bytes):
    # STUB decode: replace with a real image codec in production.
    if payload is None or len(payload) < 5:
        return (None, None, None)
    return (
        int.from_bytes(payload[0:2], "big"),
        int.from_bytes(payload[2:4], "big"),
        payload[4],
    )


def decode_image_meta(df: DataFrame) -> DataFrame:
    """(media_id, width, height, channels, n_bytes) via mapInPandas —
    Arrow batches in, Arrow batches out; no shuffle, partition-preserving."""

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            parsed = [_parse_header(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [p[0] for p in parsed],
                    "height": [p[1] for p in parsed],
                    "channels": [p[2] for p in parsed],
                    "n_bytes": [len(p) if p is not None else 0 for p in payloads],
                }
            )

    return df.mapInPandas(go, schema=IMAGE_META_SCHEMA)


_RESIZE_FACTOR = 2


def resize_images(df: DataFrame) -> DataFrame:
    """Nearest-neighbor downsample by ``_RESIZE_FACTOR`` on the synthetic
    payload format: header dims divide by it; the pixel-byte stream keeps
    every n-th byte (numpy slice — vectorized, no copies beyond the
    output). REAL plumbing (Arrow batches, binary out, header rewrite);
    swap the body transform for a real resampler (PIL/libvips) in prod.
    Returns (media_id, payload) with the resized payload."""
    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                w, h, c = _parse_header(p)
                if w is None:
                    out.append(None)
                    continue
                body = np.frombuffer(p[5:], dtype=np.uint8)
                nw, nh = w // _RESIZE_FACTOR, h // _RESIZE_FACTOR
                header = (
                    int(nw).to_bytes(2, "big")
                    + int(nh).to_bytes(2, "big")
                    + int(c).to_bytes(1, "big")
                )
                out.append(header + body[::_RESIZE_FACTOR].tobytes())
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": out})

    return df.mapInPandas(go, schema=schema)


RAWV_MAGIC = b"RV"

VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def frame_sample(df: DataFrame) -> DataFrame:
    """Video frame sampling — REAL extraction for the RAWV raw-frame
    container (uncompressed, frame-addressable by offset): every second
    frame (always including frame 0) is sliced out of the payload bytes
    with numpy inside Arrow batches, one output row per sampled frame.
    mapInPandas, partition-preserving, no shuffle; output multiplicity =
    ceil(n_frames/2) per video.

    Compressed codecs (H.264 etc.) remain NotImplementedError — no video
    library ships in this environment; a real decoder slots in behind this
    exact signature and ``VIDEO_FRAME_SCHEMA``. NULL payloads yield no
    frames."""

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ws, hs, frames = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    continue
                b = bytes(p)
                if len(b) < 8 or b[:2] != RAWV_MAGIC:
                    raise NotImplementedError(
                        "frame_sample decodes only the RAWV raw-frame "
                        "container here; compressed codecs need a real "
                        "decoder (pyav/ffmpeg), not present in this "
                        "environment"
                    )
                n = int.from_bytes(b[2:4], "big")
                w = int.from_bytes(b[4:6], "big")
                h = int.from_bytes(b[6:8], "big")
                body = b[8:]
                fs = w * h
                for i in range(0, n, 2):
                    ids.append(mid)
                    idxs.append(i)
                    ws.append(w)
                    hs.append(h)
                    frames.append(body[i * fs : (i + 1) * fs])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                }
            )

    return df.mapInPandas(go, schema=VIDEO_FRAME_SCHEMA)


def make_wav_payload(
    sample_rate: int, channels: int, bits: int, n_samples: int, seed: int
) -> bytes:
    """REAL canonical 44-byte PCM WAV (RIFF) file: header + deterministic
    sample bytes. Unlike the RAWV/fake-image containers, this is the
    actual public WAV format — ``decode_audio_meta`` below parses genuine
    WAV files, no codec library needed (PCM is uncompressed)."""
    import struct

    data_size = n_samples * channels * (bits // 8)
    byte_rate = sample_rate * channels * (bits // 8)
    block_align = channels * (bits // 8)
    header = (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, block_align, bits
        )
        + b"data"
        + struct.pack("<I", data_size)
    )
    body = bytes((seed * 31 + i) % 256 for i in range(data_size))
    return header + body


AUDIO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("ok", BooleanType()),
    ]
)


def decode_audio_meta(df: DataFrame) -> DataFrame:
    """Audio metadata extraction — REAL RIFF/WAV header parsing (format
    tag, channels, sample rate, bit depth, sample count, duration) with
    numpy/struct inside Arrow batches; works on any uncompressed PCM WAV.
    Malformed or non-WAV payloads emit ``ok = false`` with NULL fields
    (the hygiene signal) instead of raising — a corrupt blob in a 10^12-row
    media table must not kill the job. Compressed codecs (MP3/AAC/Opus)
    would need a real decoder library, not present in this environment —
    they surface as ok = false, which is the honest answer here.

    ``duration_s`` is emitted at full precision — round it with F.round
    in SQL if an engine-portable value is needed (Python's round() is
    banker's-rounding and diverges from SQL ROUND at exact halves).

    mapInPandas, partition-preserving, no shuffle. Input needs
    (media_id, payload)."""
    import struct

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "sample_rate", "channels", "bits",
                "n_samples", "duration_s", "ok",
            )}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                b = None if p is None else bytes(p)
                valid = (
                    b is not None
                    and len(b) >= 44
                    and b[:4] == b"RIFF"
                    and b[8:12] == b"WAVE"
                    and b[12:16] == b"fmt "
                    and b[36:40] == b"data"
                )
                if valid:
                    fmt, ch, rate, _br, _ba, bits = struct.unpack(
                        "<HHIIHH", b[20:36]
                    )
                    (data_size,) = struct.unpack("<I", b[40:44])
                    valid = fmt == 1 and ch > 0 and rate > 0 and bits in (8, 16, 24, 32)
                if valid:
                    n = data_size // (ch * (bits // 8))
                    out["sample_rate"].append(rate)
                    out["channels"].append(ch)
                    out["bits"].append(bits)
                    out["n_samples"].append(n)
                    out["duration_s"].append(n / rate)
                    out["ok"].append(True)
                else:
                    for k in ("sample_rate", "channels", "bits", "n_samples", "duration_s"):
                        out[k].append(None)
                    out["ok"].append(False)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "sample_rate": pd.Series(out["sample_rate"], dtype="Int32"),
                    "channels": pd.Series(out["channels"], dtype="Int32"),
                    "bits": pd.Series(out["bits"], dtype="Int32"),
                    "n_samples": pd.Series(out["n_samples"], dtype="Int64"),
                    "duration_s": pd.Series(out["duration_s"], dtype="float64"),
                    "ok": pd.Series(out["ok"], dtype="bool"),
                }
            )

    return df.mapInPandas(go, schema=AUDIO_META_SCHEMA)
