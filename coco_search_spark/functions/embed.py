"""Deterministic hash embeddings + cosine similarity.

The embedder is the Spark-native, Arrow-batched analog of the reference's
embedding stage (reference: src/cocosearch/indexer/embedder.py:166-195
batches ≤128 texts per RPC) using the reference's own hermetic test
embedding — sha256 bytes cycled into the vector, values in [-1, 1]
(reference: tests/mocks/ollama.py:10-38) — so ranking tests are reproducible
with zero model dependency.

Two forms of the same embedding:
- ``make_embed_udf``: float32 over Arrow batches — the chunk-embedding
  stage, and the swap point for a real ``predict_batch_udf`` model at
  deploy time (the plan shape is identical).
- ``embed_expr``: double precision, pure Catalyst — the linker's vector
  leg, oracle-checkable in DuckDB.

``cosine_expr`` is the one cosine: pure Catalyst (zip_with + aggregate),
JVM-side and oracle-checkable (DuckDB list_cosine_similarity).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 64


def _embed_np(texts: "pd.Series", dim: int) -> np.ndarray:
    """(n, dim) float32 matrix; row i = sha256(text_i) bytes tiled to dim,
    scaled byte/255*2-1 (mocks/ollama.py:10-38 semantics)."""
    n = len(texts)
    out = np.empty((n, dim), dtype=np.float32)
    reps = -(-dim // 32)  # ceil(dim/32)
    for i, t in enumerate(texts):
        digest = hashlib.sha256((t or "").encode("utf-8")).digest()
        row = np.frombuffer(digest * reps, dtype=np.uint8)[:dim]
        out[i] = row.astype(np.float32) / 255.0 * 2.0 - 1.0
    return out


def py_embed(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Single-text twin for unit tests."""
    return _embed_np(pd.Series([text]), dim)[0].tolist()


def _hex_to_vec_np(hexes: pd.Series, dim: int) -> np.ndarray:
    """(n, dim) float32 matrix from 64-char sha256 hex strings — fully
    vectorized: ONE join + ONE fromhex + numpy reshape/tile for the whole
    Arrow batch, no per-row Python. Produces bit-identical output to
    ``_embed_np`` given hex = sha256(text)."""
    vals = ["0" * 64 if h is None else h for h in hexes]
    buf = bytes.fromhex("".join(vals))
    arr = np.frombuffer(buf, dtype=np.uint8).reshape(len(vals), 32)
    reps = -(-dim // 32)  # ceil(dim/32)
    tiled = np.tile(arr, (1, reps))[:, :dim]
    return tiled.astype(np.float32) / 255.0 * 2.0 - 1.0


def make_embed_udf(dim: int = DEFAULT_DIM):
    """column → array<float> embedding stage, split for scale:

    - sha256 runs JVM-side (``F.sha2`` inside whole-stage codegen — hashing
      is the dominant cost and scales with executor cores, where a Python
      ``hashlib`` loop was GIL/serde-bound);
    - the hex→vector expansion is an Arrow-batched pandas_udf doing three
      numpy ops per batch (the declared swap-point for a real
      ``predict_batch_udf`` model — the plan shape is identical).

    Returns a callable usable as ``embed(col)``; output equals
    ``_embed_np``/``py_embed`` bit for bit."""

    @F.pandas_udf(ArrayType(FloatType()))
    def hex_to_vec_udf(hexes: pd.Series) -> pd.Series:
        mat = _hex_to_vec_np(hexes, dim)
        return pd.Series(list(mat))

    def embed(c: Column) -> Column:
        return hex_to_vec_udf(F.sha2(F.coalesce(c, F.lit("")), 256))

    return embed


def embed_expr(c: Column, dim: int = DEFAULT_DIM) -> Column:
    """The same sha256-byte embedding as a pure Catalyst expression in
    DOUBLE precision — zero Python, and expressible in DuckDB SQL (hex
    slicing + arithmetic), so linking scores built on it are
    oracle-checkable value for value. Differs from the float32 UDF path by
    ≤ ~6e-8 per component (float32 vs float64 rounding); a parity test
    pins the two together."""
    hexs = F.sha2(F.coalesce(c, F.lit("")), 256)
    # the 32 digest bytes as hex pairs, scaled, then tiled to ``dim``. The
    # lambda reads only its own variable: Spark's HigherOrderFunction
    # canonicalization renumbers lambda variables from 1, so an input
    # column captured in a lambda body whose exprId is that small (the
    # first DataFrame of a fresh JVM) drops out of the expression's
    # references, and constraint inference then pushes a filter on it to
    # where the column does not exist
    scaled = F.transform(
        F.regexp_extract_all(hexs, F.lit("(..)"), 1),
        lambda h: F.conv(h, 16, 10).cast("double") / 255.0 * 2.0 - 1.0,
    )
    return F.slice(F.flatten(F.array_repeat(scaled, -(-dim // 32))), 1, dim)


def cosine_expr(a: Column, b: Column, scale: int | None = None) -> Column:
    """Cosine similarity as a pure Catalyst expression (codegen'd JVM-side);
    0.0 when either norm is 0 (reference zero-norm rule,
    src/cocosearch/search/cache.py:98-118)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    sim = F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))
    return F.round(sim, scale) if scale is not None else sim


def py_cosine(a, b) -> float:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    if na == 0 or nb == 0:
        return 0.0
    return float(a @ b / (na * nb))
