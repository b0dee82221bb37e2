"""Hybrid chunk search (search.py) — the reference's user-facing search
operation over the chunk relation."""

from __future__ import annotations

from pyspark.sql import functions as F

from coco_search_spark.functions.embed import embed_expr
from coco_search_spark.search import search_chunks


def _chunks(spark, rows):
    df = spark.createDataFrame(rows, "chunk_id string, tsv_input string")
    return df.withColumn("embedding", embed_expr(F.col("tsv_input")))


def test_search_fuses_both_legs_with_deterministic_ranks(spark):
    chunks = _chunks(
        spark,
        [
            ("c1", "spark shuffle join plan"),
            ("c2", "unrelated words entirely here"),
            ("c3", "join spark"),
        ],
    )
    out = search_chunks(chunks, "spark join", k=3).collect()
    assert [r["search_rank"] for r in out] == [1, 2, 3]
    by_id = {r["chunk_id"]: r for r in out}
    # c3's token set IS a superset-free exact overlap → highest Jaccard
    assert by_id["c3"]["kw_sim"] == 1.0
    assert by_id["c1"]["kw_sim"] == 0.5
    assert by_id["c2"]["kw_sim"] is None or by_id["c2"]["match_type"] == "vector"
    # every chunk appears in the vector leg (top-prefetch over 3 rows)
    assert {r["match_type"] for r in out} <= {"both", "vector", "keyword"}
    # keyword-present rows outrank vector-only at equal contribution
    assert by_id["c3"]["search_rank"] < by_id["c2"]["search_rank"]


def test_search_is_partitioning_invariant(spark):
    rows = [(f"c{i}", f"tok{i} shared word") for i in range(40)]
    chunks = _chunks(spark, rows)
    a = search_chunks(chunks, "shared tok3", k=10).collect()
    b = search_chunks(chunks.repartition(7), "shared tok3", k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_search_validates_args(spark):
    import pytest

    chunks = _chunks(spark, [("c1", "a b")])
    with pytest.raises(ValueError):
        search_chunks(chunks, "q", k=0)


def test_search_over_real_pipeline_chunk_store(spark, tmp_path):
    """End-to-end contract: run_pipeline materializes the chunk store,
    StateStore.read_table resolves it, search_chunks queries it. The
    pipeline's float32 UDF embeddings work as the vector leg (expr
    precision only matters for the DuckDB oracle, not the operator)."""
    import datetime

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    TS = datetime.datetime(2025, 1, 1)
    tdf = spark.createDataFrame(
        [
            ("ca", 0, "user", "alpha_svc uses beta_store . payment retry logic", None, TS),
            ("cb", 0, "user", "gamma_svc calls delta_store . billing export", None, TS),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    state = str(tmp_path / "state")
    run_pipeline(spark, tdf, out_dir=str(tmp_path / "o"), state_dir=state)
    chunks = StateStore(state).read_table(spark, "chunks").withColumn(
        "chunk_id",
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"), F.col("seg_idx").cast("string")),
    )
    hits = search_chunks(chunks, "payment retry", k=2).collect()
    assert len(hits) == 2
    # the chunk containing both query tokens must win
    assert hits[0]["chunk_id"].startswith("ca#")
    assert hits[0]["match_type"] in ("both", "keyword")


def test_search_query_rewrite_bridges_word_to_identifier(spark):
    """rewrite=True: 'payment gateway' must keyword-match a chunk whose
    stored token is the identifier form 'paymentGateway' (the X7 rewrite
    bridge); without rewrite the word tokens miss it entirely."""
    chunks = _chunks(
        spark,
        [("c1", "paymentGateway init ok"), ("c2", "totally different text")],
    )
    plain = {r["chunk_id"]: r for r in search_chunks(chunks, "payment gateway", k=2).collect()}
    assert plain["c1"]["match_type"] == "vector"  # no keyword hit
    rewritten = {
        r["chunk_id"]: r
        for r in search_chunks(chunks, "payment gateway", k=2, rewrite=True).collect()
    }
    assert rewritten["c1"]["match_type"] == "both"
    assert rewritten["c1"]["search_rank"] == 1
