"""Hybrid search over the chunk store — the reference's user-facing
``cocosearch search`` operation (reference: src/cocosearch/search/hybrid.py:
106-481 — pgvector cosine leg + ts_rank keyword leg, per-leg prefetch, RRF
fusion k=60, deterministic tie-breaks) re-expressed over the chunks
relation ``run_pipeline`` materializes (seg_text, tsv_input tokens,
embedding).

Scale shape: each leg is a corpus-sized scan feeding an
``orderBy().limit(prefetch)`` — TakeOrderedAndProject, the per-partition
partial top-k that never drags the corpus through one task (the repo-wide
top-k rule, SCALE.md) — and everything downstream of the two prefetches is
prefetch-sized. The query vector/token-set are scalar expressions folded
into the scan, so the whole leg is one whole-stage-codegen pass; no join,
no shuffle until the (tiny) full-outer fusion.

The vector leg scores with the pure-Catalyst double-precision
``embed_expr``/``cosine_expr`` pair and the keyword leg with whitespace
token-set Jaccard, both DuckDB-replicable — the ``kg_search_chunks``
driver query value-checks the entire operator against a SQL replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from coco_search_spark.functions.embed import cosine_expr, embed_expr

RRF_K = 60          # hybrid.py:29
PREFETCH = 100      # hybrid.py:37


def _token_set(c):
    """Distinct lowercase whitespace tokens — the portable keyword unit
    (the full camelCase tokenizer feeds tsv_input at WRITE time; query-side
    matching is over the stored token text either way)."""
    return F.array_distinct(F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != ""))


def search_chunks(
    chunks: DataFrame,
    query: str,
    k: int = 10,
    prefetch: int = PREFETCH,
    rrf_k: int = RRF_K,
    embed_dim: int = 64,
    id_col: str = "chunk_id",
    rewrite: bool = False,
    where=None,
    min_score: float | None = None,
) -> DataFrame:
    """chunks(id_col, tsv_input, embedding) × query string → top-k fused
    hits: (chunk_id, vec_sim, kw_sim, rrf_score, match_type, search_rank).

    - vector leg: cosine(query embedding, chunk embedding), top ``prefetch``
      (hybrid.py:263-275 semantic leg);
    - keyword leg: token-set Jaccard vs the stored tsv_input, matches only
      (``kw_sim > 0`` — ts_rank returns no row without a lexeme match),
      top ``prefetch`` (hybrid.py:169-186);
    - fusion: RRF, score = Σ 1/(rrf_k + rank) per contributing leg
      (hybrid.py:306-416), tie-break keyword-present then stable chunk id
      (hybrid.py:409-414).

    Scores are rounded to 6 dp BEFORE ranking so the ordering is identical
    across engines and partitionings (the repo-wide oracle rule).

    ``rewrite=True`` expands the query through the deterministic
    query-rewrite stand-in (reference: search/query_rewrite.py, default
    OFF there too): the keyword leg matches the UNION of all variant
    tokens (the "user typed words, index stores identifiers" bridge),
    while the vector leg keeps the original query — morphological
    variants of a hash embedding are uncorrelated, and with a real model
    the original phrasing is the better semantic probe.

    ``where`` (a Column or SQL boolean string over the chunk columns) and
    ``min_score`` (per-leg similarity floor) are applied BEFORE the
    prefetches — the reference's rule that filters go ahead of ranking
    (hybrid.py:515-552, query.py:479-509, docs/retrieval.md:246): a chunk
    excluded by the filter must not consume a prefetch slot, so
    filter-then-prefetch admits matches a post-hoc filter would lose.
    ``where`` is declarative and lands in the scan (Catalyst pushes it
    below the projection → parquet PushedFilters when it references
    stored columns)."""
    return _search_frames(
        chunks,
        query,
        k=k,
        prefetch=prefetch,
        rrf_k=rrf_k,
        embed_dim=embed_dim,
        id_col=id_col,
        rewrite=rewrite,
        where=where,
        min_score=min_score,
    )["final"]


def _search_frames(
    chunks: DataFrame,
    query: str,
    k: int = 10,
    prefetch: int = PREFETCH,
    rrf_k: int = RRF_K,
    embed_dim: int = 64,
    id_col: str = "chunk_id",
    rewrite: bool = False,
    where=None,
    min_score: float | None = None,
) -> dict:
    """The ``search_chunks`` plan with every intermediate stage exposed:
    {scored, leg_v, leg_k, fused, final, kw_query}. ``search_chunks`` is
    a thin wrapper returning ``final``; ``analyze_search`` counts/times
    each frame for the diagnostics verb. One builder, two consumers — the
    diagnosed plan IS the production plan."""
    from coco_search_spark.ops.globs import require_positive

    require_positive(k=k, prefetch=prefetch, rrf_k=rrf_k, embed_dim=embed_dim)
    if where is not None:
        chunks = chunks.filter(F.expr(where) if isinstance(where, str) else where)
    kw_query = query
    if rewrite:
        from coco_search_spark.functions.query_rewrite import rewrite_query

        kw_query = " ".join(rewrite_query(query))
    q_vec = embed_expr(F.lit(query), embed_dim)
    q_toks = _token_set(F.lit(kw_query))
    t_toks = _token_set(F.col("tsv_input"))
    union_n = F.size(F.array_union(t_toks, q_toks))
    scored = chunks.select(
        F.col(id_col).cast("string").alias("chunk_id"),
        F.round(cosine_expr(F.col("embedding"), q_vec), 6).alias("vec_sim"),
        F.round(
            F.when(union_n == 0, F.lit(0.0)).otherwise(
                F.size(F.array_intersect(t_toks, q_toks)) / union_n.cast("double")
            ),
            6,
        ).alias("kw_sim"),
    )
    leg_v = scored.select("chunk_id", "vec_sim")
    if min_score is not None:
        leg_v = leg_v.filter(F.col("vec_sim") >= min_score)
    leg_v = (
        leg_v.orderBy(F.desc("vec_sim"), F.asc("chunk_id"))
        .limit(prefetch)
        .withColumn(
            "rank_v",
            F.row_number().over(Window.orderBy(F.desc("vec_sim"), F.asc("chunk_id"))),
        )
    )
    leg_k = scored.select("chunk_id", "kw_sim").filter(F.col("kw_sim") > 0)
    if min_score is not None:
        leg_k = leg_k.filter(F.col("kw_sim") >= min_score)
    leg_k = (
        leg_k.orderBy(F.desc("kw_sim"), F.asc("chunk_id"))
        .limit(prefetch)
        .withColumn(
            "rank_k",
            F.row_number().over(Window.orderBy(F.desc("kw_sim"), F.asc("chunk_id"))),
        )
    )
    fused = (
        leg_v.join(leg_k, "chunk_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_v")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_k")), F.lit(0.0)),
                9,
            ),
        )
        .withColumn(
            "match_type",
            F.when(
                F.col("rank_v").isNotNull() & F.col("rank_k").isNotNull(), "both"
            )
            .when(F.col("rank_v").isNotNull(), "vector")
            .otherwise("keyword"),
        )
    )
    order = [
        F.desc("rrf_score"),
        F.desc(F.col("rank_k").isNotNull()),
        F.asc("chunk_id"),
    ]
    final = (
        fused.orderBy(*order)
        .limit(k)
        .withColumn("search_rank", F.row_number().over(Window.orderBy(*order)))
        .select(
            "chunk_id",
            "vec_sim",
            "kw_sim",
            "rrf_score",
            "match_type",
            "search_rank",
        )
    )
    return {
        "scored": scored,
        "leg_v": leg_v,
        "leg_k": leg_k,
        "fused": fused,
        "final": final,
        "kw_query": kw_query,
    }


def analyze_search(chunks: DataFrame, query: str, **kwargs) -> dict:
    """Per-stage search diagnostics — the reference's ``cocosearch
    analyze`` verb (reference: src/cocosearch/cli.py:2841-2917; stage
    panel covers query analysis, rewrite, vector leg, keyword leg, RRF
    fusion, filtering, timing). Counts and wall-times every frame of the
    SAME plan ``search_chunks`` runs, then collects the top-k.

    Diagnostic surface only: each stage is a separate Spark action, so
    this pays several corpus scans per call — never a production path
    (``search_chunks`` runs the two legs in one pass each)."""
    import time

    frames = _search_frames(chunks, query, **kwargs)
    stages: list[dict] = []

    def _count(name: str, df: DataFrame) -> None:
        t0 = time.perf_counter()
        n = df.count()
        stages.append(
            {"stage": name, "rows": n, "sec": round(time.perf_counter() - t0, 3)}
        )

    _count("candidates", frames["scored"])
    _count("vector_prefetch", frames["leg_v"])
    _count("keyword_prefetch", frames["leg_k"])
    _count("rrf_fusion", frames["fused"])
    t0 = time.perf_counter()
    rows = [r.asDict() for r in frames["final"].collect()]
    stages.append(
        {"stage": "topk", "rows": len(rows), "sec": round(time.perf_counter() - t0, 3)}
    )
    by_type: dict[str, int] = {}
    for r in rows:
        by_type[r["match_type"]] = by_type.get(r["match_type"], 0) + 1
    return {
        "query": query,
        "kw_query": frames["kw_query"],
        "rewritten": frames["kw_query"] != query,
        "filters": {
            "where": str(kwargs.get("where")) if kwargs.get("where") is not None else None,
            "min_score": kwargs.get("min_score"),
        },
        "stages": stages,
        "match_type_counts": by_type,
        "results": rows,
    }


def search_results(
    chunks: DataFrame,
    transcripts: DataFrame,
    query: str,
    k: int = 10,
    n_before: int = 2,
    n_after: int = 2,
    max_chars: int = 200,
    id_col: str = "chunk_id",
    content_col: str = "seg_text",
    **kwargs,
) -> DataFrame:
    """Full search-result assembly — the reference's ``SearchResult``
    (reference: src/cocosearch/search/query.py:33-70, assembled at
    :419-437 with context expansion context_expander.py:302-411): the
    ``search_chunks`` winners joined back to their chunk CONTENT plus the
    neighbor-turn context window (each neighbor capped at ``max_chars``,
    BOF/EOF flags when the window clips at the conversation bounds).

    ``chunks`` must carry ``conv_id``/``turn_idx``/``content_col`` besides
    the search columns; ``transcripts`` is the turn table the context
    window reads. Extra kwargs (``where``, ``min_score``, ``rewrite``,
    ``prefetch`` …) pass through to ``search_chunks``.

    Scale shape: the winner set is ≤ k rows, so BOTH joins broadcast it —
    the content join never shuffles the chunk store, and the context
    windows run only over the winners' conversations (left_semi prune
    BEFORE the window shuffle), not the corpus. The winner set is
    lazily localCheckpointed so its two consumers don't recompute the
    two-leg search."""
    from coco_search_spark.operators.context import expand_context

    hits = search_chunks(chunks, query, k=k, id_col=id_col, **kwargs).localCheckpoint(
        eager=False
    )
    content = chunks.select(
        F.col(id_col).cast("string").alias("chunk_id"),
        "conv_id",
        "turn_idx",
        F.col(content_col).alias("content"),
    )
    joined = content.join(F.broadcast(hits), "chunk_id")
    convs = joined.select("conv_id").distinct()
    ctx = expand_context(
        transcripts.join(F.broadcast(convs), "conv_id", "left_semi"),
        n_before=n_before,
        n_after=n_after,
        max_chars=max_chars,
    )
    return (
        joined.join(ctx, ["conv_id", "turn_idx"], "left")
        .select(
            "chunk_id",
            "conv_id",
            "turn_idx",
            "content",
            F.coalesce("ctx_before", F.lit("")).alias("ctx_before"),
            F.coalesce("ctx_after", F.lit("")).alias("ctx_after"),
            F.coalesce("is_bof", F.lit(1)).alias("is_bof"),
            F.coalesce("is_eof", F.lit(1)).alias("is_eof"),
            "vec_sim",
            "kw_sim",
            "rrf_score",
            "match_type",
            "search_rank",
        )
        .orderBy("search_rank")
    )
