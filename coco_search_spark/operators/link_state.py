"""Incremental surface linking: reuse per-surface links across runs.

The reference's incremental rule is "re-extract changed files, re-resolve
ALL edges" (reference: deps/extractor.py:8-12, 374-399) — it must re-resolve
globally because its resolver index is BUILT FROM the corpus, so any file
change can move any resolution. This engine's entity catalog is an external
dimension table instead, which makes a stronger rule sound:

    link(surface) is a pure function of (surface, catalog, linking config).

So when the catalog fingerprint and the config identity are unchanged,
links computed in a previous run are exactly reusable, and only the NEW
distinct surfaces need scoring. At 10^12-turn steady state this is the
difference between re-linking a 10^9-surface vocabulary every run and
linking the (tiny) vocabulary delta — the same shape as the extraction
diff, one level up the pipeline.

Correctness guard: reuse is gated on BOTH identities; any catalog edit or
config change falls back to a full re-link (conservative — the same
unknown-is-not-known-different rule as the facts provenance gate). The
merged output is value-identical to a full re-link by construction
(per-surface purity), and a pytest asserts it row for row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def catalog_fingerprint(catalog: DataFrame) -> str:
    """Order-independent content identity of the catalog: TWO folds of the
    per-row xxhash64 over all columns (sorted column order) — bit_xor AND a
    wrapping sum — plus the row count. One tiny agg; the catalog is a
    dimension table.

    Why two folds (ADVICE r4): xor alone cancels duplicate rows (x^x = 0),
    so {x,x,y} and {y,z,z} could collide; the sum fold breaks that class
    (under it duplicates add, not cancel), and both are associative/
    commutative so the result is partitioning-independent. The sum runs in
    decimal(38,0) — a raw long sum of 64-bit hashes would overflow-throw
    under Spark's ANSI default — and is masked to 64 bits driver-side."""
    return fingerprint_and_count(catalog, F.lit(False))[0]


def fingerprint_and_count(df: DataFrame, cond: Column) -> tuple[str, int]:
    """(:func:`catalog_fingerprint` of ``df``, the number of its rows
    matching ``cond``) from ONE aggregation."""
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    fp_row = (
        df.select(F.xxhash64(*cols).alias("h"), cond.alias("hit"))
        .agg(
            F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("fp_xor"),
            F.coalesce(
                F.sum(F.col("h").cast("decimal(38,0)")), F.lit(0)
            ).alias("fp_sum"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("hit"), 1)).alias("n_hit"),
        )
        .collect()[0]
    )
    mask = 0xFFFFFFFFFFFFFFFF
    fp = f"{fp_row['fp_xor'] & mask:x}:{int(fp_row['fp_sum']) & mask:x}:{fp_row['n']}"
    return fp, fp_row["n_hit"]


def split_link_work(
    surfaces: DataFrame, prev_links: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """surfaces(mention) × prev_links → (to_link, reusable).

    ``to_link``: surfaces with no previous link row (the vocabulary delta).
    ``reusable``: previous link rows restricted to the CURRENT vocabulary —
    surfaces that vanished from the corpus must not leak into the output.
    Both joins are vocabulary-sized and equi-keyed on mention; AQE picks
    the strategy (same no-forced-broadcast policy as everywhere else)."""
    prev_m = prev_links.select("mention")
    to_link = surfaces.join(prev_m, "mention", "left_anti")
    reusable = prev_links.join(surfaces.select("mention"), "mention", "left_semi")
    return to_link, reusable


def merge_links(fresh: DataFrame, reusable: DataFrame | None) -> DataFrame:
    """Union the freshly-scored links with the reused rows. Disjoint by
    construction (split_link_work anti-joins), so a plain unionByName —
    no dedup shuffle needed."""
    if reusable is None:
        return fresh
    return fresh.select(*_ordered(fresh)).unionByName(
        reusable.select(*_ordered(reusable))
    )


def _ordered(df: DataFrame) -> list[str]:
    want = ["mention", "entity_id", "link_score", "match_type"]
    return [c for c in want if c in df.columns]
