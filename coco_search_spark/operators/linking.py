"""Entity linking: hybrid candidate scoring with Reciprocal Rank Fusion.

The Spark re-expression of the reference's two retrieval legs and fusion:

- candidate generation = the resolver's module→file index probe
  (reference: src/cocosearch/deps/resolver.py:109-142 build_index/resolve)
  as a **broadcast hash join** from mention tokens to an alias-token index;
- vector leg = pgvector cosine top-k (hybrid.py:263-275) as a Catalyst
  ``embed_expr``/``cosine_expr`` cosine + ``row_number`` window rank — no
  Python worker on this vocabulary-sized path, and the same expression the
  DuckDB oracle reproduces;
- keyword leg = ts_rank top-k (hybrid.py:169-186) as token-set Jaccard +
  window rank;
- fusion = Reciprocal Rank Fusion, score = Σ 1/(k + rank), k = 60
  (hybrid.py:29 RRF_K, rrf_fusion hybrid.py:306-416) over one pass that
  ranks both legs, keeping every candidate either leg prefetched;
- exact-match boost ×2.0 = the definition boost (hybrid.py:33,419-481);
- tie-break favors the keyword-matched side (hybrid.py:409-414), then the
  stable entity_id so results are deterministic under any partitioning.

Scale design: linking runs over **distinct mention surfaces**, not mention
occurrences — at 10^12 turns the distinct-surface table is orders of
magnitude smaller, and occurrences get their link back via a cheap join.
The alias-token index is a dimension table (bounded by the *entity catalog*,
a controlled input — not the unbounded surface vocabulary) → ``F.broadcast``.
Vocabulary-sized tables (distinct surfaces, their vectors, the per-surface
link map) are deliberately NOT hint-forced: AQE broadcasts them when the
runtime size fits and falls back to a shuffle join at the 10^9-distinct-
surface contingency SCALE.md plans for, where a forced broadcast would OOM
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from coco_search_spark.functions.embed import cosine_expr, embed_expr
from coco_search_spark.functions.text import normalize_name_col

RRF_K = 60                      # hybrid.py:29
EXACT_MATCH_BOOST = 2.0         # DEFINITION_BOOST_MULTIPLIER, hybrid.py:33
MAX_PREFETCH = 100              # hybrid.py:37


def norm_tokens_col(name_col):
    """Distinct lowercase components of an identifier surface form."""
    return F.array_distinct(F.split(normalize_name_col(name_col), "_"))


# Definition-evidence weight per block_type the alias was observed in
# (hybrid.py:419-481 one notch further: the reference's handler registry
# distinguishes block kinds, so fenced-code evidence outweighs an inline
# tool call; "code" kept as the legacy alias of fenced_code). Weight w maps
# to multiplier 1 + (boost-1)·w — w=1 is the full ×2 boost, w=0.5 → ×1.5.
DEF_BLOCK_WEIGHTS = {"fenced_code": 1.0, "code": 1.0, "inline_tool_call": 0.5}


def build_alias_index(catalog: DataFrame) -> DataFrame:
    """catalog(entity_id, alias[, block_type]) → token-inverted index
    (token, entity_id, alias, alias_norm[, block_type]). The GIN-index
    analog (schema_migration.py:74-90) as a small DataFrame. ``block_type``
    (optional) records the block kind the alias was observed in — the
    definition-boost signal (hybrid.py:419-481)."""
    extra = ["block_type"] if "block_type" in catalog.columns else []
    return (
        catalog.withColumn("alias_norm", normalize_name_col(F.col("alias")))
        .withColumn("token", F.explode(norm_tokens_col(F.col("alias"))))
        .select("token", "entity_id", "alias", "alias_norm", *extra)
    )


def _ranked_candidates(
    surfaces: DataFrame,
    catalog: DataFrame,
    embed_dim: int,
    prefetch: int,
    rrf_k: int,
    boost: float,
) -> DataFrame:
    """Shared core of link_surfaces / link_surfaces_analyze: every candidate
    (mention, entity_id) with its full scoring evidence — per-leg sims and
    ranks, fusion score, boost decision, final rank. link_surfaces keeps the
    winners; the analyze form exposes the whole table (the reference's
    per-stage diagnostic capture, search/analyze.py:175-596)."""
    surfaces = surfaces.select("mention").withColumn(
        "m_norm", normalize_name_col(F.col("mention"))
    ).withColumn("m_tokens", norm_tokens_col(F.col("mention")))

    alias_idx = build_alias_index(catalog)
    has_blocks = "block_type" in alias_idx.columns
    if has_blocks:
        w_expr = F.lit(0.0)
        for bt, w in DEF_BLOCK_WEIGHTS.items():
            w_expr = F.when(F.col("block_type") == bt, F.lit(w)).otherwise(w_expr)
        block_col = [w_expr.alias("def_w")]
    else:
        block_col = [F.lit(0.0).alias("def_w")]

    # candidate pairs: any shared normalized token (resolver probe analog)
    cand = (
        surfaces.withColumn("token", F.explode(F.col("m_tokens")))
        .join(F.broadcast(alias_idx), "token")
        .select(
            "mention", "m_norm", "m_tokens", "entity_id", "alias", "alias_norm", *block_col
        )
        .distinct()
    )

    # ---- vector leg similarity per (mention, alias) pair; both ends are
    # embedded ONCE per distinct string and attached by broadcast join —
    # the pair table repeats strings many times over
    m_vecs = surfaces.select(
        "mention", embed_expr(F.col("mention"), embed_dim).alias("m_vec")
    )
    a_vecs = catalog.select("alias").distinct().select(
        "alias", embed_expr(F.col("alias"), embed_dim).alias("a_vec")
    )

    # no forced broadcast on the vector tables: m_vecs is one row per
    # distinct surface WITH an embed_dim-float vector — at SCALE.md's
    # 10^9-surface contingency that is hundreds of GB and must be allowed
    # to sort-merge; AQE broadcasts it whenever the runtime size fits
    scored_pair = (
        cand.join(m_vecs, "mention")
        .join(a_vecs, "alias")
        .withColumn("vec_sim", cosine_expr(F.col("m_vec"), F.col("a_vec")))
        .drop("m_vec", "a_vec")
        .withColumn(
            "kw_sim",
            F.size(F.array_intersect(F.col("m_tokens"), norm_tokens_col(F.col("alias"))))
            / F.size(F.array_union(F.col("m_tokens"), norm_tokens_col(F.col("alias")))),
        )
    )
    scored = scored_pair.groupBy("mention", "m_norm", "entity_id").agg(
        F.max("vec_sim").alias("vec_sim"),
        F.max("kw_sim").alias("kw_sim"),
        F.max((F.col("alias_norm") == F.col("m_norm")).cast("int")).alias("exact_norm"),
        F.max("def_w").alias("def_w"),
    )

    # ---- per-leg prefetch rank (deterministic tie-break on entity_id).
    # Both legs rank the same rows over the same mention partitioning, so
    # one pass over ``scored`` ranks both and RRF fusion (rrf_fusion
    # hybrid.py:306-416) keeps a candidate that either leg prefetched: a
    # leg's columns are NULL where it did not. Σ 1/(k+rank), with an absent
    # leg contributing 0 — the rows of a full-outer join of the two ranked
    # lists, without building ``scored`` twice.
    w_vec = Window.partitionBy("mention").orderBy(F.desc("vec_sim"), F.asc("entity_id"))
    w_kw = Window.partitionBy("mention").orderBy(F.desc("kw_sim"), F.asc("entity_id"))
    in_v = F.col("v_rank") <= prefetch
    in_k = (F.col("k_rank") <= prefetch) & (F.col("kw_sim") > 0)
    fused = (
        scored.withColumn("v_rank", F.row_number().over(w_vec))
        .withColumn("k_rank", F.row_number().over(w_kw))
        .filter(in_v | in_k)
        .select(
            "mention",
            "entity_id",
            "exact_norm",
            "def_w",
            F.when(in_v, F.col("vec_sim")).alias("vec_sim"),
            F.when(in_v, F.col("v_rank")).alias("v_rank"),
            F.when(in_k, F.col("kw_sim")).alias("kw_sim"),
            F.when(in_k, F.col("k_rank")).alias("k_rank"),
        )
        .withColumn(
            "rrf",
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("v_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("k_rank")), F.lit(0.0)),
        )
        .withColumn(
            "match_type",
            F.when(F.col("v_rank").isNotNull() & F.col("k_rank").isNotNull(), "both")
            .when(F.col("v_rank").isNotNull(), "semantic")
            .otherwise("keyword"),
        )
        .withColumn(
            # DEFINITION_BOOST_MULTIPLIER semantics (hybrid.py:33, 419-481),
            # block-weighted: an exact normalized-name match gets the full
            # ×boost; definition-typed block evidence gets 1+(boost-1)·w
            # (full for fenced code, half for inline tool calls). Boosts do
            # not stack — exact wins. The flags belong to the candidate,
            # not to a leg, so a keyword-only candidate keeps them
            "boost_applied",
            (F.col("exact_norm") == 1) | (F.col("def_w") > 0),
        )
        .withColumn(
            "link_score",
            F.when(F.col("exact_norm") == 1, F.col("rrf") * F.lit(boost))
            .when(
                F.col("boost_applied"),
                F.col("rrf") * (1.0 + (F.lit(boost) - 1.0) * F.col("def_w")),
            )
            .otherwise(F.col("rrf")),
        )
    )

    # ---- rank per mention; tie → keyword-present first (hybrid.py:409-414),
    # then stable entity_id.
    w_best = Window.partitionBy("mention").orderBy(
        F.desc("link_score"),
        F.desc(F.col("k_rank").isNotNull().cast("int")),
        F.asc("entity_id"),
    )
    return fused.withColumn("link_rank", F.row_number().over(w_best))


def link_surfaces(
    surfaces: DataFrame,
    catalog: DataFrame,
    embed_dim: int = 64,
    prefetch: int = MAX_PREFETCH,
    rrf_k: int = RRF_K,
    min_score: float = 0.0,
    top_n: int = 1,
    boost: float = EXACT_MATCH_BOOST,
) -> DataFrame:
    """surfaces(mention) [distinct] × catalog(entity_id, alias) → one row per
    surface with its best entity link (mention, entity_id, link_score,
    match_type). Linking is surface-level by design: the same surface always
    links identically, and the distinct-surface table is vocabulary-sized —
    occurrences get their link via a broadcast join (link_mentions).

    The vector leg is the double-precision Catalyst ``embed_expr``/
    ``cosine_expr`` form, whose scores a DuckDB oracle reproduces value for
    value. Each distinct mention/alias string is embedded exactly once (not
    once per candidate pair) and joined onto the pair table."""
    from coco_search_spark.ops.globs import require_positive

    require_positive(embed_dim=embed_dim, prefetch=prefetch, rrf_k=rrf_k, top_n=top_n)
    ranked = _ranked_candidates(
        surfaces, catalog, embed_dim, prefetch, rrf_k, boost
    ).filter(F.col("link_score") >= min_score)
    if top_n == 1:
        return ranked.filter(F.col("link_rank") == 1).select(
            "mention", "entity_id", "link_score", "match_type"
        )
    return ranked.filter(F.col("link_rank") <= top_n).select(
        "mention", "entity_id", "link_score", "match_type", "link_rank"
    )


def link_surfaces_analyze(
    surfaces: DataFrame,
    catalog: DataFrame,
    embed_dim: int = 64,
    prefetch: int = MAX_PREFETCH,
    rrf_k: int = RRF_K,
    min_score: float = 0.0,
    boost: float = EXACT_MATCH_BOOST,
) -> DataFrame:
    """Per-stage linking diagnostics — the analog of the reference's
    ``analyze``/``multi_analyze`` capture (search/analyze.py:175-596: mode
    selection, both retrieval legs, fusion deltas, boost decisions) as ONE
    DataFrame: every surviving candidate per mention with

    - per-leg evidence: ``vec_sim``/``v_rank`` (vector leg),
      ``kw_sim``/``k_rank`` (keyword leg; NULL rank = not in that leg);
    - fusion: raw ``rrf`` score, ``boost_applied``, final ``link_score``;
    - decision: ``match_type``, ``link_rank``, ``passed_min_score``, and
      ``chosen`` (the row link_surfaces would return as the best link).

    The first thing to reach for when a link looks wrong: filter to the
    mention and read off which leg ranked the losing candidate above the
    expected one. Wall-clock stage timings are a driver-side concern
    (pipeline stage_timings); a declarative plan has no per-stage clock."""
    from coco_search_spark.ops.globs import require_positive

    require_positive(embed_dim=embed_dim, prefetch=prefetch, rrf_k=rrf_k)
    ranked = _ranked_candidates(
        surfaces, catalog, embed_dim, prefetch, rrf_k, boost
    )
    passed = F.col("link_score") >= min_score
    return ranked.select(
        "mention",
        "entity_id",
        F.round("vec_sim", 6).alias("vec_sim"),
        "v_rank",
        F.round("kw_sim", 6).alias("kw_sim"),
        "k_rank",
        F.round("rrf", 6).alias("rrf"),
        "boost_applied",
        "link_score",
        "match_type",
        "link_rank",
        passed.alias("passed_min_score"),
        ((F.col("link_rank") == 1) & passed).alias("chosen"),
    )


def link_surfaces_topn(
    surfaces: DataFrame,
    catalog: DataFrame,
    top_n: int = 3,
    **kwargs,
) -> DataFrame:
    """J4 resolve_many analog (reference: deps/extractor.py:108-123 — one
    alias may resolve to several targets; the reference expands the edge to
    all of them): top-N candidate links per mention with their rank, same
    scoring/tie-break as link_surfaces."""
    return link_surfaces(surfaces, catalog, top_n=top_n, **kwargs)


def link_mentions(
    mentions: DataFrame,
    catalog: DataFrame,
    embed_dim: int = 64,
    prefetch: int = MAX_PREFETCH,
    rrf_k: int = RRF_K,
    min_score: float = 0.0,
) -> DataFrame:
    """mentions(conv_id, turn_idx, mention, mention_role) × catalog(entity_id,
    alias) → one row per mention occurrence with its best entity link.

    Output adds: entity_id (null = unlinked, the reference's
    target_file=None external semantics, models.py:33-35), link_score,
    match_type ∈ {both, semantic, keyword}. The per-surface link table
    joins back onto the (big) occurrence table with the strategy left to
    AQE: vocabulary-sized link tables broadcast when they fit (no shuffle
    on the big side), and fall back to a shuffle join at the 10^9-surface
    contingency where a forced broadcast would OOM the driver.
    """
    best = link_surfaces(
        mentions.select("mention").distinct(),
        catalog,
        embed_dim=embed_dim,
        prefetch=prefetch,
        rrf_k=rrf_k,
        min_score=min_score,
    )
    return mentions.join(best, "mention", "left")
