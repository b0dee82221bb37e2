"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct —
the Spark-side schema, partitioning, Arrow batch shape, and UDF signatures
are real and tested. Decode is REAL for the library-free formats —
``decode_ppm`` (binary PPM/P6 images) and ``decode_wav_pcm16`` (RIFF/WAVE
PCM16 audio) are pure-numpy parsers — and STUBBED only for codec-requiring
formats (jpeg/png/webm) behind ``decode_stub`` which raises
``NotImplementedError``; ``fake_decode`` remains the deterministic test
double for the stubbed formats (the reference's deterministic-mock
philosophy, tests/mocks/ollama.py).

Operators:
- ``attach_media_meta``   — sniff magic bytes → (media_type, byte_len, sha)
- ``extract_features``    — mapInPandas binary → fixed-dim float vector;
  real image/audio features (channel stats + downsample grid / RMS + ZCR)
  for the decodable formats
- ``resize_nearest``      — numpy nearest-neighbor image resize
- ``sample_frames``       — one binary blob → N frame-chunk rows (the UDTF
  one-to-many shape, explode after batch processing)

Scale notes: binary payloads make rows wide — the operators repartition by
a size-aware bucket so one partition holds ~``target_mb`` of media, and all
Python crossings are Arrow-batched with a small maxRecordsPerBatch to bound
executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"P6": "image/x-portable-pixmap",
    b"RIFF": "audio/wav",
    b"\x1a\x45\xdf\xa3": "video/webm",
}


def sniff_media_type(payload: bytes | None) -> str:
    if not payload:
        return "unknown"
    for magic, mt in MAGIC.items():
        if payload[: len(magic)] == magic:
            return mt
    return "application/octet-stream"


def decode_stub(payload: bytes, media_type: str):
    """Decode entry point for codec-requiring formats (jpeg/png/webm) —
    needs PIL/ffmpeg etc., absent here."""
    raise NotImplementedError(
        f"decoding {media_type} requires codec libraries not present in this "
        "container; swap fake_decode for a real decoder at deploy time"
    )


def decode_ppm(payload: bytes) -> np.ndarray:
    """REAL decoder for binary PPM (P6) — pure numpy, no codec library.

    Returns (height, width, 3) uint8. Parses the standard header: magic,
    optional '#' comment lines, width/height/maxval tokens separated by
    whitespace, one whitespace byte, then raw RGB."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # tokenize the header byte-wise (comments run to end of line)
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    n = w * h * 3
    body = payload[i : i + n]
    if len(body) != n:
        raise ValueError(f"truncated PPM body: {len(body)} of {n} bytes")
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)


def decode_wav_pcm16(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL decoder for RIFF/WAVE PCM16 — pure numpy chunk walker.

    Returns (samples[int16, shape (n, channels)], sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n_channels, sample_rate, bits = 12, None, None, None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = int.from_bytes(body[0:2], "little")
            if fmt != 1:
                raise ValueError(f"only PCM supported, got format {fmt}")
            n_channels = int.from_bytes(body[2:4], "little")
            sample_rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if data is None or n_channels is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16:
        raise ValueError(f"only 16-bit PCM supported, got {bits}")
    samples = np.frombuffer(data[: len(data) - len(data) % (2 * n_channels)], dtype="<i2")
    return samples.reshape(-1, n_channels), sample_rate


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via numpy index grids — the real resize
    operator for decoded image arrays (no PIL needed)."""
    h, w = img.shape[:2]
    rows = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    cols = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return img[rows][:, cols]


def image_feature_vec(img: np.ndarray, grid: int = 2) -> np.ndarray:
    """Real image features: per-channel mean/std + grid×grid grayscale
    means, all in [0,1] — fixed dim 6 + grid²."""
    arr = img.astype(np.float32) / 255.0
    stats = np.concatenate([arr.mean(axis=(0, 1)), arr.std(axis=(0, 1))])
    gray = arr.mean(axis=2)
    cells = resize_nearest(gray[:, :, None], grid, grid)[:, :, 0].ravel()
    return np.concatenate([stats, cells]).astype(np.float32)


def audio_feature_vec(samples: np.ndarray, sample_rate: int) -> np.ndarray:
    """Real audio features: duration, RMS, zero-crossing rate, peak —
    fixed dim 4."""
    mono = samples.astype(np.float32).mean(axis=1) / 32768.0
    dur = len(mono) / float(sample_rate) if sample_rate else 0.0
    rms = float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0
    zcr = float(np.mean(np.abs(np.diff(np.signbit(mono))))) if len(mono) > 1 else 0.0
    peak = float(np.max(np.abs(mono))) if len(mono) else 0.0
    return np.array([dur, rms, zcr, peak], dtype=np.float32)


def fake_decode(payload: bytes, media_type: str, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in: sha256 bytes tiled to a dim-length float
    vector in [0,1] — same contract (bytes → ndarray) as a real decoder."""
    digest = hashlib.sha256(payload or b"").digest()
    reps = -(-dim // len(digest))
    return np.frombuffer(digest * reps, dtype=np.uint8)[:dim].astype(np.float32) / 255.0


def attach_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Adds (media_type, byte_len, content_sha) via native fns + a tiny
    lookup on magic prefixes (JVM-side; no Python)."""
    p = F.col(payload_col)
    hexpref = F.upper(F.hex(F.substring(p, 1, 4)))
    media_type = (
        F.when(hexpref.startswith("89504E47"), "image/png")
        .when(hexpref.startswith("FFD8FF"), "image/jpeg")
        .when(hexpref.startswith("5036"), "image/x-portable-pixmap")
        .when(hexpref.startswith("52494646"), "audio/wav")
        .when(hexpref.startswith("1A45DFA3"), "video/webm")
        .when(p.isNull() | (F.length(p) == 0), "unknown")
        .otherwise("application/octet-stream")
    )
    return df.withColumn("media_type", media_type).withColumn(
        "byte_len", F.coalesce(F.length(p), F.lit(0))
    ).withColumn("content_sha", F.sha2(p, 256))


def size_bucketed(
    df: DataFrame,
    target_mb: int = 64,
    avg_payload_kb: int = 256,
    n_rows: int | None = None,
) -> DataFrame:
    """Repartition so each partition carries ~target_mb of binary payload —
    wide rows must not concentrate (executor OOM defense at 100 TB).

    ``n_rows``: caller-supplied row count (e.g. from source statistics or a
    prior action). When None, no counting pass runs over the payloads and
    the input partitioning is kept — scan partition sizing
    (``spark.sql.files.maxPartitionBytes``) and AQE coalescing already
    bound partition bytes, and an eager ``df.count()`` here would be a
    full extra scan of the binary column just to pick an integer."""
    if n_rows is None:
        return df
    rows_per_part = max(1, (target_mb * 1024) // avg_payload_kb)
    parts = max(2, n_rows // rows_per_part + 1)
    return df.repartition(parts)


def real_or_fake_decode(payload: bytes, media_type: str, dim: int = 16) -> np.ndarray:
    """Feature decoder for extract_features: REAL features for the
    decodable formats (PPM images, WAV audio), deterministic fake for the
    codec-stubbed ones; output zero-padded/truncated to a fixed dim so the
    column schema is uniform across modalities."""
    if media_type == "image/x-portable-pixmap":
        vec = image_feature_vec(decode_ppm(payload))
    elif media_type == "audio/wav":
        vec = audio_feature_vec(*decode_wav_pcm16(payload))
    else:
        return fake_decode(payload, media_type, dim)
    out = np.zeros(dim, dtype=np.float32)
    out[: min(dim, len(vec))] = vec[:dim]
    return out


FEATURE_SCHEMA = "media_id string, media_type string, features array<float>"


def extract_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    dim: int = 16,
    decoder=fake_decode,
) -> DataFrame:
    """Arrow-batched binary → feature vector (mapInPandas)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decoder(p, sniff_media_type(p), dim).tolist() if p is not None else None
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype(str),
                    "media_type": [sniff_media_type(p) for p in pdf[payload_col]],
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "media_id string, frame_idx int, frame_sha string, frame_bytes binary"


def sample_frames(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_frames: int = 4,
    frame_kb: int = 4,
) -> DataFrame:
    """One media blob → n_frames evenly-spaced byte windows ("frames"):
    the UDTF one-to-many batch shape. A real implementation replaces the
    byte-window slicing with a container-aware frame demuxer; the row
    contract (id, frame_idx, sha, bytes) is what downstream training
    pipelines consume."""
    size = frame_kb * 1024

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_sha": [], "frame_bytes": []}
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None or len(payload) == 0:
                    continue
                stride = max(1, (len(payload) - size) // max(1, n_frames - 1))
                for i in range(n_frames):
                    start = min(i * stride, max(0, len(payload) - size))
                    chunk = bytes(payload[start : start + size])
                    out["media_id"].append(str(mid))
                    out["frame_idx"].append(i)
                    out["frame_sha"].append(hashlib.sha256(chunk).hexdigest())
                    out["frame_bytes"].append(chunk)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(run, schema=FRAME_SCHEMA)


def make_ppm(w: int, h: int, rng: np.random.Generator) -> bytes:
    """A valid binary PPM (P6) payload with seeded pixel data."""
    pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return b"P6\n# synthetic\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def make_wav(n_samples: int, rng: np.random.Generator, sample_rate: int = 8000,
             n_channels: int = 1) -> bytes:
    """A valid RIFF/WAVE PCM16 payload: seeded sine + noise."""
    t = np.arange(n_samples, dtype=np.float32)
    wave = 0.5 * np.sin(2 * np.pi * 440.0 * t / sample_rate)
    wave = wave + 0.1 * rng.standard_normal(n_samples).astype(np.float32)
    pcm = np.clip(wave * 32767, -32768, 32767).astype("<i2")
    if n_channels > 1:
        pcm = np.repeat(pcm[:, None], n_channels, axis=1).ravel()
    data = pcm.tobytes()
    byte_rate = sample_rate * n_channels * 2
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
        + (n_channels * 2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def synthetic_media(spark, n: int = 20, seed: int = 42) -> DataFrame:
    """Deterministic media table for tests: REAL decodable PPM/WAV payloads
    interleaved with magic-prefixed pseudo-random bodies for the
    codec-stubbed formats."""
    rng = np.random.default_rng(seed)
    stub_magics = [b"\x89PNG", b"\xff\xd8\xff", b"\x1a\x45\xdf\xa3"]
    rows = []
    for i in range(n):
        kind = i % 5
        if kind == 0:
            payload = make_ppm(int(rng.integers(8, 40)), int(rng.integers(8, 40)), rng)
        elif kind == 1:
            payload = make_wav(int(rng.integers(1000, 8000)), rng)
        else:
            magic = stub_magics[kind - 2]
            body = rng.integers(
                0, 256, size=int(rng.integers(2048, 16384)), dtype=np.uint8
            ).tobytes()
            payload = magic + body
        rows.append((f"m-{i:04d}", payload))
    return spark.createDataFrame(rows, "media_id string, payload binary")
