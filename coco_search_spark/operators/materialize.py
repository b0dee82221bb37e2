"""Graph materialization: node/edge tables with hot-key skew defense.

The reference's sink layer is per-file DELETE+INSERT into PostgreSQL
(reference: flow.py:177-233, deps/db.py insert_edges) — single-process, no
skew concept. At 10^12-turn scale the north rule mandates explicit skew
handling on entity-id: one hot entity (a popular service mentioned in half
of all turns) would otherwise pin its entire groupBy partition on one task.

Skew notes (learned the precise way round in round 1): plain ``count``/
``sum``/``approx_count_distinct`` need NO salt — Spark's partial aggregation
combines map-side, so a hot key arrives at its reducer already collapsed to
one partial per map task, and HLL sketches merge losslessly the same way.
Summing per-salt ``approx_count_distinct`` partials instead would OVERCOUNT
(the same conv_id lands in several salt buckets). The explicit two-phase
salt pattern is reserved for aggregates that do NOT combine map-side —
exact ``countDistinct`` and ``collect_list/set`` — where ``salted_distinct_
count`` first dedups (key, value) pairs under a salted shuffle, then counts.

Writes are plain parquet partitioned by ``pred`` (Iceberg unavailable in
this sandbox; the writer isolates format-specific calls so swapping
``.writeTo(...).using("iceberg")`` in is a one-liner — see state.py for the
snapshot/lineage analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 16


def resolve_edges(
    triples: DataFrame, links: DataFrame, links_small: bool | None = None
) -> DataFrame:
    """triples(conv_id, turn_idx, subj, pred, obj) × links(mention →
    entity/canon id) → edges with canonical endpoint ids + provenance.

    links: (mention, canon_id). Unmatched surfaces keep null ids — the
    reference's unresolved-external semantics (models.py:33-35).

    Join strategy: the link map is vocabulary-sized, which is *usually*
    broadcastable, but SCALE.md's own contingency plans for 10^9 distinct
    surfaces — a table that size cannot broadcast, and an unconditionally
    forced hint would remove Catalyst's ability to fall back to a shuffle
    join. ``links_small=True`` (the pipeline passes it when the surface
    count it already computed for metrics is under the broadcast budget)
    applies the explicit hint and skips AQE's conversion overhead; left
    None, AQE decides from runtime sizes. Results are join-strategy-
    invariant either way.
    """
    hint = F.broadcast if links_small else (lambda df: df)
    subj_link = links.select(
        F.col("mention").alias("subj"), F.col("canon_id").alias("subj_id")
    ).distinct()
    obj_link = links.select(
        F.col("mention").alias("obj"), F.col("canon_id").alias("obj_id")
    ).distinct()
    # note: the metadata map (JSONB analog) is attached at WRITE time by
    # write_edges — keeping it out of the cached intermediate halves the
    # cache's allocation/GC pressure (maps are the most expensive column
    # type to materialize)
    prov = [c for c in ("src_offset", "src_seg_idx") if c in triples.columns]
    return (
        triples.join(hint(subj_link), "subj", "left")
        .join(hint(obj_link), "obj", "left")
        .select("subj_id", "pred", "obj_id", "subj", "obj", "conv_id", "turn_idx", *prov)
    )


def salted_distinct_count(
    df: DataFrame,
    key: str,
    value: str,
) -> DataFrame:
    """EXACT distinct-value count per key, hot-key safe: exact countDistinct
    does not combine map-side (the reducer owning a hot key sees every raw
    row), so phase 1 dedups (key, salt, value) under a salted shuffle —
    spreading the hot key over ``SALT_BUCKETS`` tasks — and phase 2 sums the
    per-salt distinct counts, which is exact because the salt is derived
    from the value (each distinct value lands in exactly one bucket)."""
    salted = df.filter(F.col(key).isNotNull()).withColumn(
        "salt", F.pmod(F.xxhash64(F.col(value)), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy(key, "salt").agg(F.countDistinct(value).alias("d"))
    return partial.groupBy(key).agg(F.sum("d").alias(f"n_distinct_{value}"))


def build_nodes(edges: DataFrame, extra_entities: DataFrame | None = None) -> DataFrame:
    """Node table: every canonical endpoint with out/in degree.

    Single pass: both endpoints stack into (entity_id, is_out) rows, and ONE
    groupBy computes both degrees. Conditional sums combine map-side, so
    this is one shuffle carrying ≤ one partial row per (entity, map task) —
    skew-safe without salting.

    ``extra_entities`` (entity_id): relation-free entities — e.g. canonical
    ids of standalone mentions (X2, symbols.py:423-483 analog: an entity
    mentioned without any dependency edge is still a node). They join the
    same single aggregation with null is_out (sum skips nulls → degree 0)."""
    endpoints = edges.select(
        F.col("subj_id").alias("entity_id"), F.lit(1).alias("is_out")
    ).unionAll(edges.select(F.col("obj_id").alias("entity_id"), F.lit(0).alias("is_out")))
    if extra_entities is not None:
        endpoints = endpoints.unionAll(
            extra_entities.select(
                F.col("entity_id"), F.lit(None).cast("int").alias("is_out")
            )
        )
    return (
        endpoints.filter(F.col("entity_id").isNotNull())
        .groupBy("entity_id")
        .agg(
            F.coalesce(F.sum("is_out"), F.lit(0)).alias("out_degree"),
            F.coalesce(F.sum(1 - F.col("is_out")), F.lit(0)).alias("in_degree"),
        )
    )


def degree_delta(new_edges: DataFrame, old_edges: DataFrame) -> DataFrame:
    """Signed degree contribution of replacing ``old_edges`` with
    ``new_edges`` — (entity_id, d_out, d_in) where each value is
    contrib(new) − contrib(old). ONE aggregation over the signed endpoint
    union instead of two per-side degree aggs joined full-outer
    (3 shuffles → 1); the signed sums combine map-side exactly like the
    unsigned ones, so the skew posture is unchanged."""

    def endpoints(edges: DataFrame, sign: int) -> DataFrame:
        return edges.select(
            F.col("subj_id").alias("entity_id"),
            F.lit(sign).alias("sgn"),
            F.lit(1).alias("is_out"),
        ).unionAll(
            edges.select(
                F.col("obj_id").alias("entity_id"),
                F.lit(sign).alias("sgn"),
                F.lit(0).alias("is_out"),
            )
        )

    eps = endpoints(new_edges, 1).unionAll(endpoints(old_edges, -1))
    return (
        eps.filter(F.col("entity_id").isNotNull())
        .groupBy("entity_id")
        .agg(
            F.coalesce(F.sum(F.col("sgn") * F.col("is_out")), F.lit(0)).alias(
                "d_out"
            ),
            F.coalesce(
                F.sum(F.col("sgn") * (1 - F.col("is_out"))), F.lit(0)
            ).alias("d_in"),
        )
    )


def apply_degree_delta(
    old_nodes: DataFrame,
    delta: DataFrame,
    standalone_ids: DataFrame,
) -> DataFrame:
    """Incremental node maintenance: degrees are pure sums over edge rows,
    so ``old_nodes`` + a signed (entity_id, d_out, d_in) delta
    (degree_delta: contrib(replaced conversations' NEW edges) − contrib(their
    OLD edges)) is the maintained node table. ``standalone_ids`` is the
    CURRENT relation-free entity set (a dirty conversation can add or drop
    the only mention keeping a degree-0 node alive): rows whose degrees drop
    to zero survive only while standalone-mentioned — the same membership
    rule build_nodes applies on the full rebuild."""
    return (
        old_nodes.select(
            "entity_id",
            F.col("out_degree").alias("o_out"),
            F.col("in_degree").alias("o_in"),
        )
        .join(delta, "entity_id", "full_outer")
        .join(
            standalone_ids.select(
                "entity_id", F.lit(True).alias("is_standalone")
            ).distinct(),
            "entity_id",
            "full_outer",
        )
        .select(
            "entity_id",
            (F.coalesce("o_out", F.lit(0)) + F.coalesce("d_out", F.lit(0)))
            .cast("long")
            .alias("out_degree"),
            (F.coalesce("o_in", F.lit(0)) + F.coalesce("d_in", F.lit(0)))
            .cast("long")
            .alias("in_degree"),
            F.coalesce("is_standalone", F.lit(False)).alias("is_standalone"),
        )
        .filter(
            (F.col("out_degree") + F.col("in_degree") > 0) | F.col("is_standalone")
        )
        .drop("is_standalone")
    )


def _attach_metadata(edges: DataFrame) -> DataFrame:
    """JSONB-metadata analog (deps/db.py:46): surfaces + provenance (where
    in the conversation this edge is evidenced) folded into a string map at
    write time — kept out of cached intermediates (maps are the most
    expensive column type to materialize)."""
    if "metadata" in edges.columns:
        return edges
    kv = [
        F.lit("subj_surface"), F.col("subj"),
        F.lit("obj_surface"), F.col("obj"),
    ]
    for c in ("src_offset", "src_seg_idx"):
        if c in edges.columns:
            kv.extend([F.lit(c), F.col(c).cast("string")])
    return edges.withColumn("metadata", F.create_map(*kv)).drop(
        "src_offset", "src_seg_idx"
    )


def write_edges(
    edges: DataFrame,
    path: str,
    sort_by_conv: bool = True,
    delta_sized: bool = False,
) -> None:
    """Edge sink (one full table or one delta part): repartitioned by a
    salted subj_id so one hot entity cannot produce one giant output file,
    then sorted within partitions by conv_id so each row group carries a
    tight conv_id min/max — the stats a later delta run's pushed
    ``conv_id isin(...)`` predicate prunes on when fetching the replaced
    conversations' previous edges (StateStore.read_table). The sort's only
    consumer is that indexed fetch, which exists only for runs with a
    StateStore — the storeless layout skips it: a per-
    partition sort of the corpus-sized edge table bought nothing there.

    ``delta_sized``: the input is a warm-run delta — size the output by
    bytes (AQE REBALANCE, guide §6 coalesce-on-write) instead of fanning
    it over the full shuffle-partition count, which produced up to
    partitions × preds tiny files per delta part that every later
    read_table then had to list and open."""
    out = _attach_metadata(edges)
    if delta_sized:
        out = out.hint("rebalance", "subj_id", "conv_id", "turn_idx")
    else:
        # Hash-repartition directly on the (near-unique) natural key
        # instead of a synthetic pmod-32 bucket: a synthetic key with
        # exactly as many distinct values as partitions leaves some
        # partitions empty and others doubled under hash collisions (guide
        # §2.5 — use far more distinct key values than partitions), while
        # (subj_id, conv_id, turn_idx) spreads evenly AND still scatters
        # any hot subj_id across every write task. The partition count
        # follows the session's shuffle-partition setting (scale-adaptive)
        # rather than a constant tuned to one machine size.
        n_parts = int(
            edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        out = out.repartition(n_parts, "subj_id", "conv_id", "turn_idx")
    if sort_by_conv:
        out = out.sortWithinPartitions("conv_id")
    out.write.mode("overwrite").partitionBy("pred").parquet(path)
    # a partitionBy write of an EMPTY input leaves no data file (and so no
    # schema footer) — a legal delta part when an edit removed a
    # conversation's every triple. Leave a readable empty table so part
    # resolution (StateStore.read_table) does not fail on it; `pred` rides
    # as a zero-row data column, which unionByName folds harmlessly.
    import glob
    import os

    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        out.limit(0).write.mode("overwrite").parquet(path)


# Sidecar filename inside {out}/nodes recording the global snapshot version
# that produced the table. Underscore-prefixed → invisible to parquet
# readers. The carry/delta node gates require it to match the resumed
# snapshot's `nodes_version` stamp: without it, a branch (or any other ref)
# run that overwrote {out}/nodes with ITS corpus degrees would silently
# pass a later main warm run's gates and have a delta applied on top of the
# wrong base table (ADVICE r5, high).
NODES_VERSION_MARKER = "_PRODUCED_VERSION"


def write_nodes(nodes: DataFrame, out_dir: str, version: int | None = None) -> None:
    """Node sink: vocabulary-sized (distinct canonical entities), so a full
    rewrite per run is cheap — same policy as the per-surface links table.
    ``version``: global snapshot version stamped as a sidecar for the node
    reuse gates (store runs only — storeless layouts have no gate)."""
    import os

    nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
    if version is not None:
        with open(os.path.join(out_dir, "nodes", NODES_VERSION_MARKER), "w") as f:
            f.write(str(version))


def nodes_version_on_disk(nodes_path: str) -> int | None:
    """The version sidecar of an on-disk nodes table, or None (pre-stamp
    table, storeless layout, unreadable marker — all gate to a full
    rebuild: unknown is not known-current)."""
    import os

    try:
        with open(os.path.join(nodes_path, NODES_VERSION_MARKER)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None
