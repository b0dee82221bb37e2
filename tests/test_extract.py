"""Segmentation + extraction correctness.

The P/R ≥ 0.95 gate (BASELINE.json metric) and the per-turn text-equality
invariant (input_hint) live here. Mirrors the reference's extractor suites
(tests/unit/deps/*) in hermetic style."""

from __future__ import annotations

from pyspark.sql import functions as F

from coco_search_spark.operators.extract import extract_mentions, extract_triples
from coco_search_spark.operators.segments import reassemble_turns, segment_turns
from coco_search_spark.reference_extractor import (
    extract_reference,
    extract_triples_from_text,
    precision_recall,
)


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def test_reference_extractor_basics():
    assert extract_triples_from_text("fooService depends on barStore .") == [
        ("fooService", "depends_on", "barStore")
    ]
    # dedup within a turn (extractor.py:181-203 analog)
    assert (
        len(extract_triples_from_text("a_b calls c_d . a_b calls c_d .")) == 1
    )
    assert extract_triples_from_text("no relations here at all") == []


def test_reference_extractor_grammar_forms():
    # passive form swaps roles
    assert extract_triples_from_text("barStore is depended on by fooService .") == [
        ("fooService", "depends_on", "barStore")
    ]
    assert extract_triples_from_text("c_d is called by a_b .") == [("a_b", "calls", "c_d")]
    # appositive form; the embedded "which calls c_d" must NOT also yield a
    # (which, calls, c_d) active-form triple
    assert extract_triples_from_text("a_b , which calls c_d .") == [("a_b", "calls", "c_d")]
    # whitespace tolerance: newlines and double spaces inside the pattern
    assert extract_triples_from_text("fooService depends\non  barStore") == [
        ("fooService", "depends_on", "barStore")
    ]
    assert extract_triples_from_text("x_y \n uses \n z_w") == [("x_y", "uses", "z_w")]
    # function words never become entities
    assert extract_triples_from_text("which uses z_w . is uses by .") == []


def test_segmentation_covers_and_reassembles(spark, transcripts):
    segs = segment_turns(transcripts)
    # every turn yields ≥1 segment
    n_turns = transcripts.count()
    assert segs.select("conv_id", "turn_idx").distinct().count() == n_turns
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    rebuilt = reassemble_turns(segs).withColumnRenamed("text", "re_text")
    mismatches = (
        transcripts.join(rebuilt, ["conv_id", "turn_idx"])
        .filter(F.col("text") != F.col("re_text"))
        .count()
    )
    assert mismatches == 0
    # long turns actually split (fixture stretches every 7th turn)
    assert segs.filter(F.col("seg_idx") > 0).count() > 0


def test_extraction_precision_recall_vs_reference(spark, transcripts, fx):
    segs = segment_turns(transcripts)
    got = _as_set(extract_triples(segs))
    ref = {tuple(r) for r in extract_reference(fx.transcripts).itertuples(index=False)}
    p, r = precision_recall(got, ref)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # with regex-exact rules the match is in fact perfect
    assert got == ref


def test_extraction_immune_to_segment_boundaries(spark, fx):
    """Tiny windows with sufficient overlap still extract the same set —
    the contained-span correctness condition."""
    from coco_search_spark.fixtures import transcripts_sdf

    sdf = transcripts_sdf(spark, fx)
    segs_small = segment_turns(sdf, seg_size=30, seg_overlap=12)
    ref = {tuple(r) for r in extract_reference(fx.transcripts).itertuples(index=False)}
    assert _as_set(extract_triples(segs_small)) == ref


def test_mentions_shape(spark, transcripts):
    segs = segment_turns(transcripts)
    mentions = extract_mentions(extract_triples(segs))
    assert mentions.columns == ["conv_id", "turn_idx", "mention", "mention_role"]
    assert mentions.filter(F.col("mention_role").isin("subj", "obj")).count() == mentions.count()
    assert mentions.count() > 0


def test_reference_extractor_conjunction_and_negation():
    # conjunction expands to one triple per object
    assert extract_triples_from_text("a_b uses c_d and e_f .") == [
        ("a_b", "uses", "c_d"),
        ("a_b", "uses", "e_f"),
    ]
    # negation suppresses entirely
    assert extract_triples_from_text("a_b never uses c_d .") == []
    assert extract_triples_from_text("a_b not calls c_d .") == []
    # negated sentence next to a real one: only the real one survives
    assert extract_triples_from_text("x_y never emits z_w . a_b emits c_d .") == [
        ("a_b", "emits", "c_d")
    ]
