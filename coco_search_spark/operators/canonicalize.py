"""Alias canonicalization: MinHash/LSH blocking + connected components.

The reference resolves aliases with a deterministic module-index lookup
(reference: src/cocosearch/deps/resolver.py:101-566) and dedups edges
(extractor.py:181-203); at 10^12-turn scale the north rule generalizes this
to similarity-blocked clustering:

1. **Shingle** each distinct surface form into character 3-grams.
2. **MinHash** signatures (m seeded hash functions, portable md5-based hash
   so every value is DuckDB-oracle-checkable), banded into b bands of r rows
   — classic LSH: only pairs sharing a band bucket are compared, so the
   candidate set is near-linear instead of O(n²).
3. **Verify** candidate pairs with exact Jaccard over shingle sets; keep
   pairs ≥ threshold, plus free "exact normalized name" edges
   (paymentGateway ↔ payment_gateway).
4. **Connected components** over the similarity graph via iterative
   hash-to-min label propagation (DataFrame joins + localCheckpoint to cut
   lineage) — GraphFrames is not available in this sandbox; the loop is the
   standard alternative and converges in O(log n) iterations for the
   small-diameter alias clusters this graph produces.
5. Canonical id = lexicographic min normalized form per component
   (deterministic under any partitioning).

Scale notes: every join is equi-keyed; bucket keys are salted implicitly by
band index; AQE skew-join covers hot buckets; signatures are computed in one
Catalyst projection (no Python). The stage runs in the caller's session and
sets no partition count: AQE sizes every shuffle by bytes, the outputs it
checkpoints and caches included (``session.SESSION_CONF``), so the
vocabulary-sized CC rounds run on a few partitions while a corpus-sized
stage running beside them keeps its parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coco_search_spark.functions.text import normalize_name_col, portable_hash_col

N_HASHES = 12
N_BANDS = 4          # 4 bands × 3 rows
# Verified-pair threshold: alias spelling variants of the same name score
# ≳0.7 on 3-gram Jaccard (payment_gateway vs paymentGateway), while distinct
# entities sharing only a kind-suffix (auth_router vs graph_router) score
# ≈0.35 — 0.6 cleanly separates the two populations.
JACCARD_THRESHOLD = 0.6
MAX_CC_ITERATIONS = 20


def shingles_col(s, k: int = 3):
    """Distinct character k-grams of lower(s); whole string when shorter."""
    low = F.lower(s)
    return F.when(F.length(low) <= k, F.array(low)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(low) - (k - 1)),
                lambda i: F.substr(low, i, F.lit(k)),
            )
        )
    )


def minhash_signature_col(shingles, n_hashes: int = N_HASHES):
    """array<long> of length n_hashes: min over shingles of
    portable_hash(seed || shingle)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda seed: F.array_min(
            F.transform(shingles, lambda sh: portable_hash_col(F.concat(seed.cast("string"), F.lit("|"), sh)))
        ),
    )


def band_keys_col(signature, n_bands: int = N_BANDS, n_hashes: int = N_HASHES):
    """array<struct<band:int, key:string>>: each band's slice of the
    signature serialized to a bucket key."""
    rows_per_band = n_hashes // n_bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.array_join(
                F.transform(
                    F.slice(signature, b * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
                "_",
            ).alias("key"),
        ),
    )


def candidate_pairs(
    surfaces: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    jaccard_threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """surfaces(surface) → verified similar pairs (a, b), a < b.

    LSH bucket self-join + exact-Jaccard verification + exact-normalized
    union. Output is symmetric-free (a < b) and distinct.

    Input contract: ``surfaces`` rows must already be DISTINCT — the only
    caller (canonicalize_surfaces) passes its checkpointed distinct table,
    and re-distincting here paid a redundant shuffle per invocation.
    """
    base = (
        surfaces.select("surface")
        .withColumn("norm", normalize_name_col(F.col("surface")))
        .withColumn("sh", shingles_col(F.col("surface")))
    )
    # materialize once: the shingled/signed table feeds both sides of the
    # bucket self-join (and the norm-pair join) — compute it a single time
    base = base.localCheckpoint(eager=True)
    sig = base.withColumn("sig", minhash_signature_col(F.col("sh"), n_hashes))
    banded = sig.select(
        "surface",
        "norm",
        "sh",
        F.explode(band_keys_col(F.col("sig"), n_bands, n_hashes)).alias("bk"),
    ).select("surface", "norm", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    left = banded.select(
        F.col("band"), F.col("key"),
        F.col("surface").alias("a"), F.col("sh").alias("sh_a"),
    )
    right = banded.select(
        F.col("band"), F.col("key"),
        F.col("surface").alias("b"), F.col("sh").alias("sh_b"),
    )
    lsh_pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "jaccard",
            F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
            / F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b")
    )

    # exact normalized-name pairs are always edges (resolver exact lookup)
    ln = base.select(F.col("norm"), F.col("surface").alias("a"))
    rn = base.select(F.col("norm"), F.col("surface").alias("b"))
    norm_pairs = ln.join(rn, "norm").filter(F.col("a") < F.col("b")).select("a", "b")

    return lsh_pairs.unionByName(norm_pairs).distinct()


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iterations: int = MAX_CC_ITERATIONS,
) -> DataFrame:
    """nodes(surface) + edges(a, b) → (surface, component) where component is
    the min surface (lexicographic) reachable.

    Hash-to-min label propagation WITH pointer doubling:
    label(v) ← min(label(v), label(label(v)), min label over neighbors).
    Neighbor-min alone moves labels one hop per iteration (O(diameter));
    the label-of-label term short-circuits established chains, giving
    O(log diameter) rounds — a 2^k-hop alias chain converges in ~k
    iterations, safely inside MAX_CC_ITERATIONS. (This is the in-DataFrame
    equivalent of the large-star step of the Kiveris et al. MapReduce CC
    algorithm; labels always point at known component members, so the
    extra join key is the label itself.)

    Raises RuntimeError if the cap is hit before the fixpoint — a silently
    split component is a correctness bug, not a degraded answer.
    Each round's labels are locally checkpointed, so every round's plan
    starts from data and its size does not grow with the round count
    (mandatory for iterative DataFrame algorithms — SURVEY §7.3)."""
    # materialize the (possibly expensive) edge DAG ONCE — the loop must
    # never re-run the upstream LSH self-join per iteration
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(
        F.col("surface"), F.col("surface").alias("component")
    ).localCheckpoint(eager=True)
    # every checkpoint the loop makes; all but the one the result reads
    # are released on the way out
    ckpts = [sym, labels]

    prev_gen = None
    changed = 0
    for it in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.surface)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        # pointer doubling (label of my current label) engages from
        # iteration 2: shallow graphs — the common alias-cluster case,
        # diameter ≤ 3 — converge before it would help, so they skip its
        # extra self-join; deep chains still get O(log d) from round 3 on
        double = it >= 2
        base = labels
        if double:
            ll = labels.select(
                F.col("surface").alias("_lk"), F.col("component").alias("_ll")
            )
            base = labels.join(ll, labels.component == ll._lk, "left")
        new_comp = F.least(
            labels.component,
            F.coalesce(F.col("_ll"), labels.component) if double else labels.component,
            F.coalesce(F.col("nbr_component"), labels.component),
        )
        # ONE action per iteration: persist the new labels and piggyback
        # the convergence check on it (cache-on-first-use)
        new_labels = (
            base.join(neighbor_min, labels.surface == neighbor_min.src, "left")
            .select(
                labels.surface.alias("surface"),
                new_comp.alias("component"),
                (new_comp < labels.component).cast("int").alias("changed"),
            )
            .persist()
        )
        changed = new_labels.agg(F.sum("changed")).collect()[0][0] or 0
        # this round's job filled the checkpoint it read, so the previous
        # generation's cache is no longer needed
        if prev_gen is not None:
            prev_gen.unpersist()
        if changed == 0:
            # fixpoint: the labels this round read equal the new ones by
            # construction and are already materialized — return them and
            # leave nothing cached behind
            new_labels.unpersist()
            _release(ckpts, keep=labels)
            return labels.select("surface", "component")
        # cut the plan: the next round starts from the cached data, not
        # from this round's plan (three references to the previous
        # generation, so the plan would grow ~3.4x per round). The lazy
        # checkpoint plans no exchange and runs no job of its own; it is
        # filled from the cache by the next round's job
        labels = new_labels.select("surface", "component").localCheckpoint(eager=False)
        ckpts.append(labels)
        prev_gen = new_labels
    if prev_gen is not None:
        prev_gen.unpersist()
    _release(ckpts, keep=labels if changed == 0 else None)
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            f"iterations ({changed} labels still changing) — raising instead "
            "of returning silently split components"
        )
    return labels.select("surface", "component")


def _release(ckpts: list[DataFrame], keep: DataFrame | None) -> None:
    """Drop the blocks of every local checkpoint in ``ckpts`` except
    ``keep``'s. A checkpointed frame's plan is one LogicalRDD leaf over the
    persisted RDD; unpersisting that RDD frees its blocks and removes it
    from the context's persistent-RDD registry, with no job."""
    for df in ckpts:
        if df is not keep:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def canonicalize_surfaces(
    surfaces: DataFrame,
    extra_edges: DataFrame | None = None,
    max_cc_iterations: int = MAX_CC_ITERATIONS,
    **kwargs,
) -> DataFrame:
    """surfaces(surface) → (surface, canon_id): canonical id = min normalized
    form within the component.

    extra_edges: optional (a, b) same-entity evidence from outside the
    similarity blocking — e.g. in-text alias bindings ("TARGET as ALIAS",
    extract.extract_alias_bindings), which can merge surfaces that share no
    shingles or tokens at all. Unioned into the LSH/norm edge set before
    connected components.

    Runs in the caller's session and returns its result lazily: the CC loop
    has run, the final label join has not (the pipeline caches and counts
    it). The distinct-surface table is vocabulary-sized, orders of
    magnitude below the corpus; AQE coalesces every shuffle, cached and
    checkpointed output included, to partitions sized by bytes
    (``session.SESSION_CONF``), so the CC loop's tiny jobs do not schedule
    cores× empty tasks and no partition count is set here."""
    # materialize the (corpus-shuffle) distinct ONCE — candidate_pairs and
    # the CC node set must not each re-run it
    distinct_surfaces = surfaces.select("surface").distinct().localCheckpoint(eager=True)
    pairs = candidate_pairs(distinct_surfaces, **kwargs)
    if extra_edges is not None:
        # only edges between known surfaces (bindings may reference
        # strings outside the mention vocabulary)
        ee = (
            extra_edges.select("a", "b")
            .join(distinct_surfaces.withColumnRenamed("surface", "a"), "a", "left_semi")
            .join(distinct_surfaces.withColumnRenamed("surface", "b"), "b", "left_semi")
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        )
        pairs = pairs.unionByName(ee).distinct()
    comp = connected_components(distinct_surfaces, pairs, max_iterations=max_cc_iterations)
    canon = (
        comp.withColumn("norm", normalize_name_col(F.col("surface")))
        .groupBy("component")
        .agg(F.min("norm").alias("canon_id"))
    )
    return comp.join(canon, "component").select("surface", "canon_id")
