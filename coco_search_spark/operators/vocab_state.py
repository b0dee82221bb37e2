"""Refcounted vocabulary state — the last O(corpus) warm-run scan removed.

The surface vocabulary, the alias-binding pair set, and the standalone-
mention set are all per-conversation-distinct UNIONS over the fact table:

    set = { key | cnt(key) > 0 }
    cnt(key) = number of conversations whose facts contain key

Counts are pure sums over per-conversation contributions, so — exactly
like node degrees (materialize.apply_degree_delta) — a warm run maintains
them from the delta instead of re-scanning the corpus:

    new = old − contrib(replaced conversations' previous facts)
              + contrib(their current facts)

where "replaced" = changed + deleted conversations, their previous facts
fetched via the indexed read (StateStore.read_convs).
A negative count means the subtracted facts were not what the snapshot
held — the caller falls back to the full recompute loudly (unknown is
not known-unchanged). The maintained table is vocabulary-sized, so the
full rewrite per run is cheap (same policy as the link map).

Reference analog: the reference recomputes these sets from scratch every
run (tracking-table diff then re-resolve all, flow.py:343-361); at 100 TB
the recompute is the steady-state cost, so this engine maintains them and
satisfies "re-resolve all" vacuously when the maintained input is
value-identical (the same purity rule link_state/canon reuse apply).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# key kinds in the maintained table
SURFACE = "surf"  # every observed surface (triple subj/obj, mention, binding sides)
BINDING = "bind"  # distinct (target, alias) in-text binding pairs (CC edges)
MENTION = "ment"  # surfaces observed as standalone mentions (degree-0 node rule)

_KEYS = ["vkind", "k1", "k2"]


def vocab_contrib(facts: DataFrame) -> DataFrame:
    """(vkind, k1, k2, cnt): per-conversation-distinct key contributions of
    a facts subset (``extract_all`` schema — kind-tagged union of triples,
    standalone mentions and alias bindings). ``cnt`` counts conversations,
    not occurrences, so contributions add and subtract exactly across
    runs. ``k2`` is '' except for binding pairs (a NULL key would not join
    in apply_vocab_signed). NULL k1 rows are dropped — the extraction
    grammar never emits them, and a NULL join key would break the delta
    join the same way."""
    return (
        # distinct's partial aggregation dedups (conv, key) map-side, so
        # the shuffle carries per-partition-distinct rows, not occurrences
        _contrib_rows(facts)
        .distinct()
        .groupBy(*_KEYS)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _contrib_rows(facts: DataFrame) -> DataFrame:
    """(conv_id, vkind, k1, k2) key-observation rows of a facts subset —
    the pre-distinct form shared by vocab_contrib and the signed delta."""
    t = facts.filter(F.col("kind") == "triple")
    m = facts.filter(F.col("kind") == "mention")
    b = facts.filter(F.col("kind") == "binding")
    e = F.lit("").alias("k2")

    def row(src: DataFrame, vkind: str, k1: str) -> DataFrame:
        return src.select(
            "conv_id", F.lit(vkind).alias("vkind"), F.col(k1).alias("k1"), e
        )

    return (
        row(t, SURFACE, "subj")
        .unionAll(row(t, SURFACE, "obj"))
        .unionAll(row(m, SURFACE, "mention"))
        .unionAll(row(m, MENTION, "mention"))
        .unionAll(row(b, SURFACE, "target"))
        .unionAll(row(b, SURFACE, "alias"))
        .unionAll(
            b.select(
                "conv_id",
                F.lit(BINDING).alias("vkind"),
                F.col("target").alias("k1"),
                F.col("alias").alias("k2"),
            )
        )
        .filter(F.col("k1").isNotNull())
    )


def vocab_contrib_delta(new_facts: DataFrame, old_facts: DataFrame) -> DataFrame:
    """Signed contribution delta: cnt_new − cnt_old per key, in TWO
    shuffles (one distinct over the signed union, one sum) instead of the
    five the add/sub pair paid (per-side distinct + agg + full-outer
    join). The sign rides the distinct as a column — constant within each
    side, so per-side distinctness is preserved — and a conversation
    present on both sides contributes +1 and −1 that cancel in the sum,
    exactly the add − sub arithmetic."""
    rows = _contrib_rows(new_facts).withColumn("sgn", F.lit(1)).unionAll(
        _contrib_rows(old_facts).withColumn("sgn", F.lit(-1))
    )
    return (
        rows.distinct()
        .groupBy(*_KEYS)
        .agg(F.sum("sgn").alias("d"))
    )


def apply_vocab_signed(old: DataFrame, delta: DataFrame) -> DataFrame:
    """new cnt = old + signed delta, all keys kept (including zero and
    negative results — the caller filters cnt > 0 after checking the
    cnt < 0 invariant; a silent drop here would hide corruption)."""
    return (
        old.select(*_KEYS, F.col("cnt").alias("o"))
        .join(delta, _KEYS, "full_outer")
        .select(
            *_KEYS,
            (F.coalesce("o", F.lit(0)) + F.coalesce("d", F.lit(0)))
            .cast("long")
            .alias("cnt"),
        )
        .filter(F.col("cnt") != 0)
    )


def vocab_surfaces(vocab: DataFrame) -> DataFrame:
    """The surface vocabulary (already distinct — keys are unique)."""
    return vocab.filter(F.col("vkind") == SURFACE).select(F.col("k1").alias("surface"))


def vocab_binding_pairs(vocab: DataFrame) -> DataFrame:
    """Distinct (target, alias) binding pairs — the canonicalization CC
    edges and the binding half of the canon-input fingerprint."""
    return vocab.filter(F.col("vkind") == BINDING).select(
        F.col("k1").alias("target"), F.col("k2").alias("alias")
    )


def vocab_standalone_mentions(vocab: DataFrame) -> DataFrame:
    """Distinct standalone-mention surfaces (the degree-0 node rule's
    membership input)."""
    return vocab.filter(F.col("vkind") == MENTION).select(F.col("k1").alias("mention"))
