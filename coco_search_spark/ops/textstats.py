"""Text analysis operators: language-ID, quality filtering, document
fingerprinting, contamination and repetition statistics.

All pure Catalyst expressions (portable to the DuckDB oracle); the
tokenization idiom is the reference's tsvector preparation
(reference: tsvector.py:90-120) and the fingerprint generalizes its sha256
content identity (flow.py:348-351) to winnowing-style rolling k-gram
fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coco_search_spark.functions.text import portable_hash_col

# tiny deterministic stopword lists per language — the n-gram/stopword
# heuristic language identifier (no external model)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "dans", "que", "pour"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "en", "que", "por"],
    "de": ["der", "die", "und", "das", "ein", "eine", "ist", "in", "zu", "nicht"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "就"],
}


def words_col(text):
    return F.split(text, r"\s+")


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, lang_guess, lang_score): argmax of per-language stopword overlap
    ratio; deterministic tie-break on language code."""
    words = F.array_distinct(words_col(F.lower(F.col(text_col))))
    scores = F.array(
        *[
            F.struct(
                F.round(
                    F.size(F.array_intersect(words, F.array(*[F.lit(s) for s in sw])))
                    / F.lit(float(len(sw))),
                    6,
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, sw in sorted(STOPWORDS.items())
        ]
    )
    # sort ascending by (-score, lang) and take first: equal scores pick the
    # lowest language code deterministically
    ordered = F.array_sort(
        F.transform(
            scores,
            lambda s: F.struct((-s["score"]).alias("neg"), s["lang"].alias("lang"), s["score"].alias("score")),
        )
    )
    first = F.element_at(ordered, 1)
    return df.select(
        F.col(id_col).alias("id"),
        first["lang"].alias("lang_guess"),
        first["score"].alias("lang_score"),
    )


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    max_stop_ratio: float = 0.5,
    min_mean_wlen: float = 2.0,
    max_mean_wlen: float = 12.0,
) -> DataFrame:
    """The keep/drop GATE a training-data pipeline actually applies: first
    failing rule wins, reason ∈ {too_short, too_stoppy, degenerate_words, ok}.
    Pure Catalyst CASE — drop reasons are countable per shard for free."""
    text = F.col(text_col)
    words = words_col(text)
    n_words = F.size(words)
    en_stop = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    stop_ratio = F.size(F.filter(words, lambda x: F.array_contains(en_stop, x))) / n_words.cast(
        "double"
    )
    mean_wlen = F.aggregate(words, F.lit(0), lambda a, x: a + F.length(x)) / n_words.cast("double")
    reason = (
        F.when(n_words < min_words, "too_short")
        .when(stop_ratio > max_stop_ratio, "too_stoppy")
        .when((mean_wlen < min_mean_wlen) | (mean_wlen > max_mean_wlen), "degenerate_words")
        .otherwise("ok")
    )
    return df.select(
        F.col(id_col).alias("id"),
        reason.alias("drop_reason"),
        (reason == "ok").cast("int").alias("keep"),
    )


def rolling_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, keep: int = 4
) -> DataFrame:
    """Winnowing-style document fingerprint: portable hash over each k-word
    window, keep the ``keep`` smallest — robust to local edits, shared
    fingerprints indicate overlapping passages."""
    words = words_col(F.col(text_col))
    grams = F.when(F.size(words) <= k, F.array(F.array_join(words, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        )
    )
    hashes = F.array_sort(F.array_distinct(F.transform(grams, portable_hash_col)))
    return df.select(
        F.col(id_col).alias("id"),
        F.slice(hashes, 1, keep).alias("fingerprints"),
    )


def fingerprint_overlap_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, keep: int = 4, min_shared: int = 2
) -> DataFrame:
    """Documents sharing ≥ min_shared winnowing fingerprints — the
    passage-overlap dedup candidate generator (inverted-index join)."""
    fp = rolling_fingerprints(df, id_col, text_col, k, keep)
    inv = fp.select(F.col("id"), F.explode("fingerprints").alias("fp"))
    a = inv.select(F.col("fp"), F.col("id").alias("id_a"))
    b = inv.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_check(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    keep: int = 8,
) -> DataFrame:
    """Benchmark-contamination screen: per document, the fraction of its
    winnowing fingerprints that also occur in the EVAL SET's fingerprint
    pool — the standard pre-training hygiene check (did training text leak
    from the benchmark?).

    Scale shape: the eval pool is benchmark-sized (thousands of docs), so
    its distinct fingerprint set BROADCASTS and the corpus-sized side does
    a left-semi probe — no shuffle of the corpus by fingerprint. Returns
    (id, n_fps, n_hits, contamination)."""
    doc_fps = rolling_fingerprints(docs, id_col, text_col, k=k, keep=keep)
    pool = (
        rolling_fingerprints(eval_docs, id_col, text_col, k=k, keep=keep)
        .select(F.explode("fingerprints").alias("fp"))
        .distinct()
    )
    exploded = doc_fps.select("id", F.explode("fingerprints").alias("fp"))
    hits = (
        exploded.join(F.broadcast(pool), "fp", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        doc_fps.select("id", F.size("fingerprints").alias("n_fps"))
        .join(hits, "id", "left")
        .select(
            "id",
            "n_fps",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_fps").cast("double"), 6
            ).alias("contamination"),
        )
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of
    duplicate LINES and the fraction of characters living in those
    duplicate lines — high values mark templated/degenerate documents
    (chat-log spam, generation loops). Pure Catalyst array ops per row;
    no shuffle, no Python."""
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    # characters in duplicate lines = total chars of lines minus chars of
    # one copy of each distinct line (counting separators with neither)
    chars_all = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    chars_distinct = F.aggregate(
        F.array_distinct(lines), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_lines.alias("n_lines"),
        (n_lines - n_distinct).alias("n_dup_lines"),
        F.round((n_lines - n_distinct) / n_lines.cast("double"), 6).alias(
            "dup_line_frac"
        ),
        F.round(
            F.when(chars_all == 0, F.lit(0.0)).otherwise(
                (chars_all - chars_distinct) / chars_all.cast("double")
            ),
            6,
        ).alias("dup_char_frac"),
    )
