"""Training-data ops: dedup families, similarity search, text stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coco_search_spark.ops.dedup import (
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    simhash_col,
    simhash_pairs,
)
from coco_search_spark.ops.similarity import brute_force_topk, lsh_topk, recall_at_k
from coco_search_spark.ops.textstats import (
    fingerprint_overlap_pairs,
    language_id,
    rolling_fingerprints,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup of 0
    (3, "completely different content about spark shuffle partitions and joins"),
    (4, "le renard brun rapide saute par dessus le chien paresseux dans la rivière"),
    (5, "der schnelle braune fuchs springt über den faulen hund in der nähe"),
]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string").cache()
    df.count()
    return df


def test_minhash_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.5).collect()
    }
    assert (0, 1) in pairs      # exact dup always found
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup found
    assert not any(3 in p for p in pairs)      # unrelated doc untouched


def test_simhash_properties(spark, docs):
    vals = {r["doc_id"]: r["h"] for r in docs.select("doc_id", simhash_col(F.col("text")).alias("h")).collect()}
    assert vals[0] == vals[1]          # identical text → identical simhash
    # near-dup differs in few bits
    ham = bin(vals[0] ^ vals[2]).count("1")
    assert ham <= 12
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs, "doc_id", "text", max_hamming=12).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 2) in pairs


def test_embedding_near_dups(spark):
    from coco_search_spark.functions.embed import py_embed

    rows = [
        (1, py_embed("alpha", 16)),
        (2, py_embed("alpha", 16)),      # identical vector
        (3, py_embed("omega", 16)),
    ]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    pairs = embedding_near_dup_pairs(df, "id", "v", cos_threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_similarity_brute_vs_lsh_recall(spark):
    from coco_search_spark.functions.embed import py_embed

    emb = spark.createDataFrame(
        [(i, py_embed(f"doc {i}", 32)) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(q, py_embed(f"doc {q}", 32)) for q in (3, 77)],
        "q_id long, q_vec array<float>",
    )
    exact = brute_force_topk(emb, queries, k=5).cache()
    # self-match ranks first with cos 1.0
    top1 = {r["q_id"]: (r["vec_id"], r["cos_sim"]) for r in exact.filter("rk=1").collect()}
    assert top1[3][0] == 3 and abs(top1[3][1] - 1.0) < 1e-6
    approx = lsh_topk(emb, queries, k=5, n_planes=4, n_tables=4)
    rec = recall_at_k(approx, exact, k=5)
    assert rec >= 0.5  # probabilistic but deterministic-seeded; self-match guaranteed
    a1 = {r["q_id"]: r["vec_id"] for r in approx.filter("rk=1").collect()}
    assert a1[3] == 3 and a1[77] == 77


def test_language_id(spark, docs):
    got = {r["id"]: r["lang_guess"] for r in language_id(docs, "doc_id", "text").collect()}
    assert got[0] == "en" and got[3] == "en"
    assert got[4] == "fr"
    assert got[5] == "de"


def test_rolling_fingerprints_overlap(spark, docs):
    fp = {r["id"]: r["fingerprints"] for r in rolling_fingerprints(docs, "doc_id", "text").collect()}
    assert fp[0] == fp[1]
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in fingerprint_overlap_pairs(docs, "doc_id", "text").collect()
    }
    assert (0, 1) in pairs
    assert (0, 3) not in pairs


def test_similarity_ivf_recall_and_selfmatch(spark):
    from coco_search_spark.functions.embed import py_embed
    from coco_search_spark.ops.similarity import ivf_topk

    emb = spark.createDataFrame(
        [(i, py_embed(f"doc {i}", 32)) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(q, py_embed(f"doc {q}", 32)) for q in (3, 77)],
        "q_id long, q_vec array<float>",
    )
    exact = brute_force_topk(emb, queries, k=5).cache()
    approx = ivf_topk(emb, queries, k=5, dim=32, n_centroids=8, n_iters=2, nprobe=3)
    rec = recall_at_k(approx, exact, k=5)
    assert rec >= 0.5
    # self-match guaranteed: the query's own vector lives in a probed cluster
    a1 = {r["q_id"]: (r["vec_id"], r["cos_sim"]) for r in approx.filter("rk=1").collect()}
    assert a1[3][0] == 3 and abs(a1[3][1] - 1.0) < 1e-6
    assert a1[77][0] == 77


def test_dedup_groups_transitive_collapse(spark):
    """A≈B and B≈C (never A≈C directly) must still form ONE group with ONE
    survivor — the transitive rule pair-level dedup misses."""
    from coco_search_spark.ops.dedup import dedup_groups

    df = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    got = {r["doc_id"]: (r["group_id"], r["keep"]) for r in dedup_groups(df, "doc_id", pairs).collect()}
    assert got[0] == (0, 1) and got[3] == (0, 0) and got[5] == (0, 0)
    assert got[1] == (1, 1) and got[2] == (2, 1) and got[4] == (4, 1)


def test_pack_sequences_layout(spark):
    """Concat-then-chunk placement: offsets are cumulative (+separator),
    windows cut at fixed token counts, straddling docs flagged."""
    from coco_search_spark.ops.packing import pack_sequences

    rows = [(1, "s", 10), (2, "s", 80), (3, "s", 20), (10, "t", 150)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n long")
    out = {r["id"]: r for r in pack_sequences(df, "doc_id", "n", "src", window_tokens=100).collect()}
    assert out[1]["start_tok"] == 0 and out[1]["pack_id"] == 0 and out[1]["spans_boundary"] == 0
    assert out[2]["start_tok"] == 11 and out[2]["pack_id"] == 0 and out[2]["spans_boundary"] == 0
    # doc 3 starts at 11+81=92, ends at 112 → crosses the 100-token edge
    assert out[3]["start_tok"] == 92 and out[3]["pack_offset"] == 92 and out[3]["spans_boundary"] == 1
    # shards pack independently
    assert out[10]["start_tok"] == 0 and out[10]["pack_id"] == 0 and out[10]["spans_boundary"] == 1
