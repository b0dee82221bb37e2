"""Deduplication operators for large-scale training-data pipelines.

Four families, all DataFrame-first, all deterministic (portable md5-based
hashing so every intermediate is DuckDB-oracle-checkable):

- minhash+LSH: word-shingle MinHash signatures → banded buckets →
               bucket-join candidates → exact-Jaccard verification
- simhash:     64-bit sign-aggregated token hash; near-dups = small
               Hamming distance, blocked by 16-bit chunks
- n-gram Jaccard: word n-gram shingles, exact Jaccard over LSH candidates
- embedding cosine: near-dup pairs via sign-projection LSH buckets over an
               embedding column + cosine verification

Scale design: no O(n²) anywhere — every pairwise comparison is preceded by
an equi-join on a blocking key (band bucket / chunk / projection bucket);
AQE skew-join covers hot buckets; a ``max_bucket`` guard drops degenerate
buckets (all-identical shingles) the way production dedup pipelines cap
posting lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coco_search_spark.functions.embed import cosine_expr
from coco_search_spark.functions.text import portable_hash_col
from coco_search_spark.ops.globs import require_fraction as _require_fraction
from coco_search_spark.ops.globs import require_positive as _require_positive

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


# --------------------------------------------------------------- minhash

def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard): MinHash bands → bucket
    join → exact Jaccard filter."""
    _require_positive(shingle_n=shingle_n, n_hashes=n_hashes, n_bands=n_bands, max_bucket=max_bucket)
    _require_fraction(jaccard_threshold=jaccard_threshold)
    if n_hashes % n_bands != 0:
        raise ValueError(f"n_bands ({n_bands}) must divide n_hashes ({n_hashes})")
    rows_per_band = n_hashes // n_bands
    base = df.select(
        F.col(id_col).alias("id"),
        word_shingles_col(F.col(text_col), shingle_n).alias("sh"),
    ).withColumn("sig", minhash_sig_col(F.col("sh"), n_hashes))
    banded = base.select(
        "id",
        "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        "_",
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    # cap degenerate buckets (posting-list guard)
    sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("bsz"))
    banded = banded.join(sizes.filter(F.col("bsz") <= max_bucket), ["band", "key"])

    left = banded.select("band", "key", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    right = banded.select("band", "key", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
                / F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
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


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    n_chunks: int | None = None,
    max_bucket: int = 10000,
) -> DataFrame:
    """Near-dup pairs by SimHash, blocked on bit chunks, verified with
    bit_count(xor).

    Recall guarantee (pigeonhole): any pair with Hamming distance ≤
    n_chunks - 1 has at least one chunk with no differing bit, so it is
    guaranteed to land in a shared bucket. ``n_chunks`` therefore defaults
    to ``max_hamming + 1`` so the guarantee covers the whole requested
    radius. Fewer chunks = wider chunk keys = smaller buckets (faster) but
    pairs differing in ≥ n_chunks bits spread across chunks can be missed —
    callers overriding n_chunks below max_hamming+1 get an assertion error,
    not silent recall loss. Default max_hamming=3 / 4 chunks of 15 bits is
    the classic web-dedup configuration.

    ``max_bucket`` caps degenerate buckets (the posting-list guard —
    narrow chunk keys at high max_hamming make hot buckets, and one
    all-zeros bucket must not go quadratic at 100 TB). Oversized buckets
    are NOT dropped — they keep a deterministic sample (the ``max_bucket``
    smallest ids), so mass-duplicated content (which is exactly what fills
    a hot bucket) still pairs within the sample instead of silently losing
    the pigeonhole recall guarantee; recall beyond the sample degrades
    gracefully rather than to zero."""
    if n_chunks is None:
        n_chunks = max_hamming + 1
    assert max_hamming < n_chunks, (
        f"pigeonhole guarantee needs n_chunks > max_hamming "
        f"(got n_chunks={n_chunks}, max_hamming={max_hamming})"
    )
    chunk_bits = -(-bits // n_chunks)  # ceil: chunks cover every bit
    base = df.select(F.col(id_col).alias("id"), simhash_col(F.col(text_col), bits).alias("sim"))
    chunked = base.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sim"), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("ckey"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("id", "sim", F.col("ck.chunk").alias("chunk"), F.col("ck.ckey").alias("ckey"))
    # deterministic bucket cap: rank by id within (chunk, ckey) and keep the
    # smallest max_bucket ids — same exchange key as the self-join below, so
    # the window reuses the shuffle instead of adding a groupBy+join pass
    from pyspark.sql import Window as _W

    _w = _W.partitionBy("chunk", "ckey").orderBy("id")
    chunked = (
        chunked.withColumn("_rk", F.row_number().over(_w))
        .filter(F.col("_rk") <= max_bucket)
        .drop("_rk")
    )
    left = chunked.select("chunk", "ckey", F.col("id").alias("id_a"), F.col("sim").alias("sim_a"))
    right = chunked.select("chunk", "ckey", F.col("id").alias("id_b"), F.col("sim").alias("sim_b"))
    return (
        left.join(right, ["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


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

    pairs: DataFrame(id_a, id_b) from any of the pair generators
    (minhash_lsh_pairs / simhash_pairs / embedding_near_dup_pairs)."""
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
