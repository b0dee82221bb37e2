"""Tokenizer / hash / embedding column functions vs their Python twins.

Mirrors the reference's operator-level unit tests
(tests/unit/test_tsvector.py, tests/unit/indexer/test_embedder.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from coco_search_spark.functions.embed import (
    cosine_expr,
    make_embed_udf,
    py_cosine,
    py_embed,
)
from coco_search_spark.functions.text import (
    normalize_name_col,
    portable_hash_col,
    py_normalize_name,
    py_split_identifier,
    py_tokenize,
    split_identifier_col,
    tokenize_col,
)

SAMPLES = [
    "getUserById",
    "get_user_by_id",
    "PaymentGateway",
    "HTTPServer2",
    "kebab-case-name",
    "x",
    "snake_UPPER_Mix",
]

TEXTS = [
    "the paymentGateway depends on user_service .",
    "call getUserById with id=42; HTTPServer responds",
    "",
    "plain english words only here",
]


def test_split_identifier_matches_python(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], "ident string")
    got = df.select("ident", split_identifier_col(F.col("ident")).alias("t")).collect()
    for row in got:
        assert row["t"] == py_split_identifier(row["ident"]), row["ident"]


def test_py_split_identifier_reference_examples():
    # tsvector.py:29-33 examples; note the reference CODE (not its docstring)
    # emits snake components twice for all-lowercase snake_case because the
    # camel pattern also matches them (tsvector.py:38-49) — to_tsvector
    # dedups downstream. We reproduce code behavior, not the docstring.
    assert py_split_identifier("getUserById") == ["getUserById", "get", "User", "By", "Id"]
    assert py_split_identifier("get_user_by_id") == [
        "get_user_by_id", "get", "user", "by", "id", "get", "user", "by", "id",
    ]


def test_tokenize_matches_python(spark):
    df = spark.createDataFrame([(s,) for s in TEXTS], "text string")
    got = df.select("text", tokenize_col(F.col("text")).alias("t")).collect()
    for row in got:
        assert row["t"] == py_tokenize(row["text"]), row["text"]


def test_normalize_name(spark):
    cases = {
        "paymentGateway": "payment_gateway",
        "PaymentGateway": "payment_gateway",
        "payment_gateway": "payment_gateway",
        "payment-gateway": "payment_gateway",
    }
    df = spark.createDataFrame([(s,) for s in cases], "name string")
    got = dict(
        df.select("name", normalize_name_col(F.col("name")).alias("n")).collect()
    )
    for k, v in cases.items():
        assert got[k] == v
        assert py_normalize_name(k) == v


def test_portable_hash_matches_duckdb(spark):
    import duckdb

    vals = ["abc", "payment_gateway", "", "Zürich"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = dict(df.select("s", portable_hash_col(F.col("s")).alias("h")).collect())
    for v in vals:
        (want,) = duckdb.sql(
            "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)", params=[v]
        ).fetchone()
        assert got[v] == want, v


def test_embedding_deterministic_and_bounded(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS * 2], "text string")
    emb = make_embed_udf(64)
    rows = df.select("text", emb(F.col("text")).alias("e")).collect()
    by_text = {}
    for r in rows:
        assert len(r["e"]) == 64
        assert all(-1.0 <= v <= 1.0 for v in r["e"])
        if r["text"] in by_text:
            assert by_text[r["text"]] == r["e"]  # same input → same vector
        by_text[r["text"]] = r["e"]
    # matches the python twin
    for t, e in by_text.items():
        assert [round(x, 5) for x in e] == [round(x, 5) for x in py_embed(t, 64)]


def test_cosine_expr_and_udf_agree(spark):
    a = py_embed("alpha", 16)
    b = py_embed("beta", 16)
    df = spark.createDataFrame(
        [(a, b), (a, a), ([0.0] * 16, b)], "a array<float>, b array<float>"
    )
    rows = df.select(cosine_expr(F.col("a"), F.col("b")).alias("ce")).collect()
    assert math.isclose(rows[1]["ce"], 1.0, abs_tol=1e-6)
    assert rows[2]["ce"] == 0.0  # zero-norm rule (cache.py:98-118)
    assert math.isclose(rows[0]["ce"], py_cosine(a, b), abs_tol=1e-6)


def test_embed_udf_and_expr_parity(spark):
    """The JVM-sha256 + vectorized-hex UDF must equal the python twin bit
    for bit; the Catalyst double-precision embed_expr (the oracle-checkable
    form) must agree within float32 rounding."""
    import numpy as np
    from pyspark.sql import functions as F

    from coco_search_spark.functions.embed import embed_expr, make_embed_udf, py_embed

    df = spark.createDataFrame(
        [("payment gateway",), ("",), ("x",), ("Conv: c role: user\nhello",)], "t string"
    )
    emb = make_embed_udf(64)
    rows = df.select("t", emb(F.col("t")).alias("v"), embed_expr(F.col("t"), 64).alias("ve")).collect()
    for r in rows:
        twin = py_embed(r["t"], 64)
        assert list(r["v"]) == [np.float32(x) for x in twin]
        assert max(abs(a - b) for a, b in zip(r["ve"], twin)) < 1e-6


def test_query_rewrite_variants():
    """X7 stand-in: deterministic morphological expansion, original first,
    deduplicated, bounded."""
    from coco_search_spark.functions.query_rewrite import rewrite_query

    out = rewrite_query("paymentGateway")
    assert out[0] == "paymentGateway"
    assert "payment_gateway" in out and "PaymentGateway" in out and "payment-gateway" in out
    assert len(out) == len(set(out))
    # multi-token query bridges words → identifier forms
    out2 = rewrite_query("payment gateway")
    assert "payment_gateway" in out2 and "paymentGateway" in out2
    assert rewrite_query("payment gateway", max_variants=3) == out2[:3]
    # deterministic
    assert rewrite_query("payment gateway") == out2
