"""Deduplication operators for large-scale training-data pipelines.

All DataFrame-first and deterministic (portable md5-based hashing, so every
intermediate is DuckDB-oracle-checkable):

- ``word_shingles_col`` / ``minhash_sig_col``: word n-gram shingles and
  their MinHash signature — the blocking key of the ``dedup_near_pairs``
  and ``dedup_groups`` oracle queries, which join on a signature component
  and verify with exact Jaccard
- ``simhash_col``: 60-bit sign-aggregated token hash (``doc_simhash``)
- ``dedup_groups``: near-dup pairs → one kept representative per connected
  component
- ``embedding_near_dup_pairs``: near-dup pairs via sign-projection LSH
  buckets over an embedding column + cosine verification

Scale design: no O(n²) anywhere — every pairwise comparison is preceded by
an equi-join on a blocking key (signature component / projection bucket);
AQE skew-join covers hot buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coco_search_spark.functions.embed import cosine_expr
from coco_search_spark.functions.text import portable_hash_col

# ------------------------------------------------------------- shingling

def word_shingles_col(text, n: int = 3):
    """Distinct word n-grams of the text (array<string>)."""
    words = F.split(text, r"\s+")
    return F.when(F.size(words) <= n, F.array(F.array_join(words, " "))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (n - 1)),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            )
        )
    )


def minhash_sig_col(shingles, n_hashes: int):
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda seed: F.array_min(
            F.transform(
                shingles,
                lambda sh: portable_hash_col(F.concat(seed.cast("string"), F.lit("|"), sh)),
            )
        ),
    )


# --------------------------------------------------------------- simhash

def simhash_col(text, bits: int = 60):
    """60-bit SimHash over whitespace tokens (the portable hash is 60-bit,
    and bit 63 would overflow a signed long): bit i of the fingerprint is 1
    iff the sum over tokens of (+1/-1 by bit i of the token hash) > 0.
    Pure Catalyst; shift amounts must be literals, so the bit loop unrolls
    at plan-build time (static 64-term expression, codegen'd once)."""
    tokens = F.split(text, r"\s+")
    hashes = F.transform(tokens, lambda t: portable_hash_col(t))

    def _bit_folder(i):
        # closure factory — pyspark inspects lambda arity, so the bit index
        # must be bound via closure, not a default argument
        return lambda acc, h: acc + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1)

    out = F.lit(0).cast("long")
    for i in range(bits):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), _bit_folder(i))
        out = out + F.when(bit_sum > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


# ----------------------------------------------------------- dedup groups

def dedup_groups(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
) -> DataFrame:
    """Near-duplicate pairs → actionable dedup decision: (id, group_id,
    keep). Production dedup doesn't stop at pairs — transitive duplicates
    (A≈B, B≈C) must collapse into ONE group with ONE survivor. Connected
    components over the pair graph (the same pointer-doubling CC the
    canonicalizer uses) labels each id with its group's minimum id; keep=1
    exactly for the group representative (min id — deterministic under any
    partitioning).

    pairs: DataFrame(id_a, id_b), e.g. MinHash-blocked Jaccard pairs (the
    ``dedup_groups`` oracle query) or ``embedding_near_dup_pairs``."""
    from coco_search_spark.operators.canonicalize import connected_components

    nodes = df.select(F.col(id_col).alias("surface"))
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    comp = connected_components(nodes, edges)
    return comp.select(
        F.col("surface").alias(id_col),
        F.col("component").alias("group_id"),
        (F.col("surface") == F.col("component")).cast("int").alias("keep"),
    )


# ---------------------------------------------------- embedding near-dup

def projection_bucket_col(vec, n_planes: int = 8, seed: str = "proj"):
    """Sign-projection LSH bucket: bit p = sign of dot(vec, r_p) where r_p is
    a deterministic ±1 hyperplane derived from portable hashes — no stored
    random state, identical across runs and engines. The plane loop unrolls
    at plan-build time (literal shifts)."""
    def _plane_term(p):
        return lambda x, i: x * (
            (
                F.pmod(
                    portable_hash_col(F.concat(F.lit(f"{seed}{p}_"), i.cast("string"))),
                    F.lit(2),
                )
                * 2
                - 1
            ).cast("double")
        )

    bucket = F.lit(0)
    for p in range(n_planes):
        dot = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.size(vec) - 1), _plane_term(p)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cos_threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Near-dup pairs by embedding cosine, blocked by sign-projection bucket
    (same-bucket candidates only), verified with exact cosine."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("bucket", projection_bucket_col(F.col("v"), n_planes))
    left = base.select("bucket", F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    right = base.select("bucket", F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine_expr(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cos_sim") >= cos_threshold)
        .select("id_a", "id_b", "cos_sim")
    )
