"""Deterministic sampling for training-data curation.

Dataset pipelines sample constantly — down-weighting a crawl, capping a
domain, building eval splits — and at 100 TB the sample must be (a)
reproducible across runs and engines, (b) computable without a global
shuffle or a random-state dependency. Both operators here key off the
portable md5-based hash (functions/text.portable_hash_col), so every
decision is a pure function of the row's id: re-running, re-partitioning,
or re-ordering the input cannot change the sample, and a DuckDB oracle
reproduces it value for value.

- ``hash_sample``: Bernoulli by hash bucket — ``hash(id) % den < num``.
  A narrow filter (no shuffle at all); composable with any scan.
- ``stratified_cap``: EXACT per-stratum cap, smallest-hash-first (a
  deterministic uniform draw). Scale-safe two-phase: phase 1 ranks within
  (stratum, salt) and keeps ``n`` per salt bucket — a hot stratum spreads
  over ``SALT_BUCKETS`` tasks instead of pinning one — and phase 2 ranks
  the ≤ SALT_BUCKETS×n survivors per stratum, which is cap-bounded, not
  data-bounded. Same pattern as similarity.per_query_topk (SCALE.md skew
  section).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from coco_search_spark.functions.text import portable_hash_col
from coco_search_spark.ops.globs import require_positive

SAMPLE_DENOMINATOR = 10_000
SALT_BUCKETS = 16


def hash_sample(
    df: DataFrame,
    id_col: str,
    numerator: int,
    denominator: int = SAMPLE_DENOMINATOR,
    seed: str = "",
) -> DataFrame:
    """Keep rows where hash(seed|id) % denominator < numerator — a
    deterministic ~numerator/denominator Bernoulli sample. ``seed``
    namespaces independent samples of the same table (train/eval splits
    use disjoint seeds, or disjoint bucket ranges of one seed)."""
    require_positive(numerator=numerator, denominator=denominator)
    if numerator > denominator:
        raise ValueError(
            f"numerator ({numerator}) cannot exceed denominator ({denominator})"
        )
    h = portable_hash_col(
        F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))
    )
    return df.filter(F.pmod(h, F.lit(denominator)) < numerator)


def stratified_cap(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    n_per_stratum: int,
    seed: str = "",
) -> DataFrame:
    """At most ``n_per_stratum`` rows per stratum, chosen smallest-hash
    first (ties broken by id) — an exact, reproducible uniform draw per
    stratum. Two-phase ranking so one gigantic stratum cannot pin a single
    task (the per-stratum window would otherwise sort the whole stratum on
    one reducer)."""
    require_positive(n_per_stratum=n_per_stratum)
    h = portable_hash_col(
        F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))
    )
    salted = df.withColumn("_h", h).withColumn(
        "_salt", F.pmod(F.col("_h"), F.lit(SALT_BUCKETS))
    )
    w1 = Window.partitionBy(stratum_col, "_salt").orderBy(
        F.asc("_h"), F.asc(id_col)
    )
    phase1 = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= n_per_stratum)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy(stratum_col).orderBy(F.asc("_h"), F.asc(id_col))
    return (
        phase1.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= n_per_stratum)
        .drop("_r2", "_h")
    )
