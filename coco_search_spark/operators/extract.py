"""Triple + mention extraction.

Analog of the reference's dependency-edge extractors (reference:
src/cocosearch/deps/extractors/python.py:32-213, orchestrated by
extractor.py:206-261) and symbol extraction (indexer/symbols.py:423-483):
per-segment text → (subj, pred, obj) rows with a closed predicate
vocabulary (models.py:13-18 analog) plus mention rows for linking.

Grammar: five sentence forms over the closed predicate vocabulary (four
guarded regex passes; negation is the stop-word suppression rule, not a
pattern). The conjunction form is a SEPARATE scan on purpose: folding it
into the active pattern as a greedy optional tail consumes the next
sentence's subject, losing triples on chained relations
("A uses B and C uses D" must yield (C,uses,D) too) — pinned by
test_chained_conjunction_parity. All forms are whitespace-tolerant
(``\\s+`` between words — real transcripts have newlines and double
spaces), mirroring how the reference ships one extractor per syntactic
form (python.py handles plain import / from-import / aliased import etc.,
each a separate rule):

- ACTIVE      ``subj <phrase> obj``               → (subj, pred, obj)
- CONJUNCTION ``subj <phrase> obj and obj2``      → two triples
- PASSIVE     ``obj is <passive-phrase> by subj`` → (subj, pred, obj)
- APPOSITIVE  ``subj , which <phrase> obj``       → (subj, pred, obj)
- NEGATION    ``subj never/not <phrase> obj``     → NOTHING (stop rule)

Function words and negation markers (``STOP_IDENTS``) are excluded as
entities —
the appositive tail "which <phrase> obj" would otherwise also match the
active form with subj="which" (the stop-filter is the cross-form
disambiguation rule, applied identically in every implementation).

One compiler, ``_compile(spark, families)``, is the only code that turns the
grammar tables (``GRAMMAR``, ``MENTION_GRAMMAR``, ``ALIAS_BINDING_RE``) into
Spark Columns: one ``array<struct<kind, subj, pred, obj, m, mention,
mention_kind, target, alias>>`` per family selection, pure Catalyst
(guarded ``regexp_extract_all`` per form, capture groups re-extracted from
each short match). Regex runs JVM-side inside whole-stage codegen — zero
Python serde, the scale path. ``extract_all`` dedups that array with
provenance in one shuffle; ``extract_triples``,
``extract_standalone_mentions``, ``extract_alias_bindings`` and
``extract_triples_prov`` are projections of the same compiled array with
one family selected.

``extract_triples_arrow`` runs the same rules in Python per Arrow batch
(``mapInPandas``). It is the test-only parity oracle, never a product
path: Python regex per row is the UDF cost the native path avoids.

Duplicates within a turn (including duplicates manufactured by segment
overlap) are removed exactly like the reference's ``_deduplicate_edges``
(extractor.py:181-203): distinct on the full triple key.
"""

from __future__ import annotations

import operator
import re
from collections.abc import Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from coco_search_spark.fixtures import PASSIVE_OF, RELATIONS
from coco_search_spark.functions.text import IDENT_RE
from coco_search_spark.session import jvm_key


def _ws_alt(phrases: list[str]) -> str:
    """Alternation over phrases with \\s+ between phrase words, longest
    first so overlapping phrases resolve deterministically."""
    return "|".join(
        r"\s+".join(re.escape(w) for w in p.split(" "))
        for p in sorted(phrases, key=len, reverse=True)
    )


_PHRASE_ALT = _ws_alt([ph for _, ph in RELATIONS])
_PASSIVE_ALT = _ws_alt(list(PASSIVE_OF.values()))

# form → (regex, swap): swap=True means group 3 is the subject (passive).
ACTIVE_RE = rf"\b({IDENT_RE})\s+({_PHRASE_ALT})\s+({IDENT_RE})\b"
PASSIVE_RE = rf"\b({IDENT_RE})\s+is\s+({_PASSIVE_ALT})\s+by\s+({IDENT_RE})\b"
APPOS_RE = rf"\b({IDENT_RE})\s*,\s*which\s+({_PHRASE_ALT})\s+({IDENT_RE})\b"
# conjunction: "A <phrase> B and C" → (A,p,B) + (A,p,C); group 4 = 2nd obj
CONJ_RE = rf"\b({IDENT_RE})\s+({_PHRASE_ALT})\s+({IDENT_RE})\s+and\s+({IDENT_RE})\b"

PRED_OF_PHRASE = {phrase: pred for pred, phrase in RELATIONS}
PRED_OF_PASSIVE = {phrase: pred for pred, phrase in PASSIVE_OF.items()}

# Bump whenever the extraction grammar's OUTPUT changes (new forms, changed
# stop rules): the config identity hash folds this in, so a resume against
# facts produced by an older grammar full-re-extracts instead of silently
# mixing grammars in one snapshot. Round 3 shipped the 5-form grammar.
GRAMMAR_VERSION = 3

# Function words that may syntactically occupy an identifier slot in one
# form while being part of another form's scaffolding — plus negation
# markers: "A never uses B" must yield NOTHING, and the only way the active
# pattern can fire on it is with subj="never"/"not", so stop-filtering the
# markers IS the negation rule (applied identically in every impl).
STOP_IDENTS = frozenset({"which", "is", "by", "and", "never", "not"})

# (regex, swap, pred map, required literal substrings): the literals gate
# the form's regex behind cheap instr() substring checks — a segment that
# never contains "which" cannot match the appositive form, so its regex
# scan is skipped entirely (false positives in the guard are fine, the
# regex still decides; false negatives are impossible for literal words).
# The conjunction form is 4-group: the extra object yields a second triple.
GRAMMAR: list[tuple[str, bool, dict[str, str], list[str]]] = [
    (ACTIVE_RE, False, PRED_OF_PHRASE, []),
    (PASSIVE_RE, True, PRED_OF_PASSIVE, ["is", "by"]),
    (APPOS_RE, False, PRED_OF_PHRASE, ["which"]),
    (CONJ_RE, False, PRED_OF_PHRASE, ["and"]),
]


def _map_expr(mapping: dict[str, str]) -> Column:
    pairs: list = []
    for phrase, pred in mapping.items():
        pairs.extend([F.lit(phrase), F.lit(pred)])
    return F.create_map(*pairs)


def _guarded_matches(
    seg: Column,
    regex: str,
    or_words: list[str] | tuple[str, ...],
    guards: list[str],
    group: int = 0,
) -> Column:
    """regexp_extract_all(group) gated behind cheap instr() literal checks
    — THE single guard implementation every extraction family uses:

    - OR-guard (``or_words``): a match REQUIRES one of these literals
      (phrase words / marker words), so a segment containing none of them
      (most filler-heavy segments) skips the regex scan entirely — N instr
      substring probes are far cheaper than one alternation-heavy regex
      pass over the segment;
    - AND-guards (``guards``): form-scaffolding literals (is/by/which/and)
      that every match must contain.

    False positives in either guard are fine (the regex still decides);
    false negatives are impossible for literal substrings of any match."""
    phrase_cond = None
    for w in or_words:
        c = F.instr(seg, w) > 0
        phrase_cond = c if phrase_cond is None else (phrase_cond | c)
    matches = F.regexp_extract_all(seg, F.lit(regex), group)
    if phrase_cond is not None:
        matches = F.when(phrase_cond, matches).otherwise(
            F.array().cast("array<string>")
        )
    for lit in guards:
        matches = F.when(F.instr(seg, lit) > 0, matches).otherwise(
            F.array().cast("array<string>")
        )
    return matches


def _phrase_words(mapping: dict[str, str]) -> list[str]:
    """The OR-guard literal set for a phrase vocabulary: each phrase's
    first word (contiguous in any match regardless of ``\\s+`` variance)."""
    return sorted({phrase.split(" ")[0] for phrase in mapping})


# "X <phrase> Y as Z" — Z is a local alias for Y (the reference's aliased
# import, deps/extractors/python.py aliased-import rules); the triple
# (X, pred, Y) itself is already produced by the active form.
ALIAS_BINDING_RE = rf"\b(?:{IDENT_RE})\s+(?:{_PHRASE_ALT})\s+({IDENT_RE})\s+as\s+({IDENT_RE})\b"


# ---------------------------------------------------------------------------
# Standalone mention extraction (X2 full): entities mentioned WITHOUT a
# relation still become mention rows / KG nodes — the analog of the
# reference extracting symbols independently of dependency edges
# (reference: src/cocosearch/indexer/symbols.py:423-483). The grammar is
# context-typed: a marker construction assigns each mention a kind, like
# the reference's symbol kinds (function/class/... per node type).
# ---------------------------------------------------------------------------

# (regex with ONE capture group, mention_kind, guard literals)
MENTION_GRAMMAR: list[tuple[str, str, list[str]]] = [
    (rf"\bsee\s+({IDENT_RE})\b", "reference", ["see"]),
    (
        rf"\bthe\s+({IDENT_RE})\s+(?:module|component|subsystem)\b",
        "definition",
        ["module", "component", "subsystem"],
    ),
]


# ---------------------------------------------------------------------------
# The grammar compiler. At 10^12 turns the corpus scan IS the cost, so every
# family selected in one call is computed in ONE projection over ONE scan
# and exploded once; the per-family functions below are projections of the
# same compiled array, so their outputs agree with extract_all's by
# construction (tests/test_round3.py parity test).
# ---------------------------------------------------------------------------

EXTRACT_KINDS = ("triple", "mention", "binding")

# struct fields after ``kind``; a family leaves the others null. ``m`` is a
# triple's raw group-0 match string (for provenance offsets).
_FACT_FIELDS = ("subj", "pred", "obj", "m", "mention", "mention_kind", "target", "alias")
_ENTITY_FIELDS = ("subj", "obj", "mention", "target", "alias")

# Memo for the compiled grammar Columns, keyed on the JVM identity and the
# family tuple. Building one costs ~0.6-0.9 s of DRIVER time (hundreds of
# py4j round-trips marshalling the regex alternations into Catalyst
# expression objects) and the result is an immutable unresolved expression,
# independent of DataFrame and session but bound to the gateway JVM its
# py4j refs live in. Without it the build cost was paid on EVERY pipeline
# run, warm runs included, where it was a measurable slice of the floor.
_COL_CACHE: dict = {}


def _fact(kind: str, **fields: Column) -> Column:
    return F.struct(
        F.lit(kind).alias("kind"),
        *[fields.get(f, F.lit(None).cast("string")).alias(f) for f in _FACT_FIELDS],
    )


def _family_arrays(families: tuple[str, ...]) -> Iterator[Column]:
    """One fact array per grammar form of the selected families.

    ONE full-text regex scan per form (group 0, behind the instr guards);
    capture groups are then re-extracted from each short match string —
    O(match length), not another pass over the segment."""
    seg = F.col("seg_text")
    if "triple" in families:
        for rx, swap, mapping, guards in GRAMMAR:
            pred_map = _map_expr(mapping)
            matches = _guarded_matches(seg, rx, _phrase_words(mapping), guards)

            # transform() calls its lambda at once, so the loop variables
            # bind per form
            def triple(m, obj_group):
                g = lambda i: F.regexp_extract(m, rx, i)  # noqa: E731
                return _fact(
                    "triple",
                    subj=g(3 if swap else 1),
                    pred=pred_map[F.regexp_replace(g(2), r"\s+", " ")],
                    obj=g(1 if swap else obj_group),
                    m=m,
                )

            if re.compile(rx).groups >= 4:
                # conjunction: both triples built in ONE pass over ONE match
                # array — a concat of two transforms duplicates the guarded
                # regexp_extract_all (and so the full-text regex scan) in
                # the physical plan
                yield F.flatten(
                    F.transform(matches, lambda m: F.array(triple(m, 3), triple(m, 4)))
                )
            else:
                yield F.transform(matches, lambda m: triple(m, 3))
    if "mention" in families:
        for rx, kind, guards in MENTION_GRAMMAR:
            matches = _guarded_matches(seg, rx, guards, [], group=1)
            yield F.transform(
                matches, lambda x: _fact("mention", mention=x, mention_kind=F.lit(kind))
            )
    if "binding" in families:
        matches = _guarded_matches(
            seg, ALIAS_BINDING_RE, _phrase_words(PRED_OF_PHRASE), ["as"]
        )
        yield F.transform(
            matches,
            lambda x: _fact(
                "binding",
                target=F.regexp_extract(x, ALIAS_BINDING_RE, 1),
                alias=F.regexp_extract(x, ALIAS_BINDING_RE, 2),
            ),
        )


def _compile(spark, families: tuple[str, ...]) -> Column:
    """The grammar compiler: ``array<struct<kind, subj, pred, obj, m,
    mention, mention_kind, target, alias>>`` of every fact the selected
    families find in ``seg_text``, memoised per JVM and family tuple."""
    key = (jvm_key(spark), families)
    col = _COL_CACHE.get(key)
    if col is None:
        # Columns of an earlier JVM hold dead py4j refs: drop them
        for stale in [k for k in list(_COL_CACHE) if k[0] != key[0]]:
            _COL_CACHE.pop(stale, None)
        col = _COL_CACHE[key] = F.concat(*_family_arrays(families))
    return col


def _explode_facts(segments: DataFrame, families: tuple[str, ...], *keep: str) -> DataFrame:
    """One row per compiled fact (``keep`` columns + the struct fields),
    after THE stop filter: no entity field may be a stop ident."""
    facts = segments.select(*keep, F.explode(_compile(segments.sparkSession, families)).alias("t"))
    not_stop = [
        F.col(f).isNull() | ~F.col(f).isin(*STOP_IDENTS) for f in _ENTITY_FIELDS
    ]
    return facts.select(*keep, "t.*").filter(reduce(operator.and_, not_stop))


def extract_all(
    segments: DataFrame, families: tuple[str, ...] = EXTRACT_KINDS
) -> DataFrame:
    """segments (from ``segment_turns(..., with_offsets=True)``) → one
    deduped row per extracted fact, tagged by ``kind``:

    - kind='triple':  subj, pred, obj, src_offset, src_seg_idx
    - kind='mention': mention, mention_kind        (standalone, X2)
    - kind='binding': target, alias                (in-text alias evidence)

    One corpus scan, one explode, one shuffle; provenance offsets ride the
    same min-struct aggregate the dedup needs anyway (map-side combine, so
    the exchange carries ≈unique facts). ``src_offset`` is the 1-based
    position of the evidencing match in the reassembled turn text: the
    minimum over MATCHING segments of (segment start_char + first
    occurrence of the match within that segment) — global strpos of the
    match unless the string also occurs unmatched earlier, in which case
    the first MATCHED site is the more useful answer. ``src_seg_idx`` is
    that segment. Both are null for non-triple kinds. ``families`` selects
    which of ``EXTRACT_KINDS`` to extract."""
    keys = ["conv_id", "turn_idx", "kind", *(f for f in _FACT_FIELDS if f != "m")]
    facts = _explode_facts(
        segments, families, "conv_id", "turn_idx", "seg_idx", "start_char", "seg_text"
    )
    pos = F.col("start_char") + F.expr("instr(seg_text, m)")
    prov = F.min(F.struct(F.col("pos").alias("src_offset"), F.col("seg_idx").alias("src_seg_idx")))
    return (
        facts.select(*keys, "seg_idx", pos.alias("pos"))
        .groupBy(*keys)
        .agg(prov.alias("prov"))
        .select(*keys, "prov.src_offset", "prov.src_seg_idx")
    )


def split_extracted(combined: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """extract_all output → (triples, standalone_mentions, alias_bindings)
    with each family's canonical schema. The filters run over the already-
    deduped (fact-sized, post-shuffle) table — splitting is free."""
    triples = combined.filter(F.col("kind") == "triple").select(
        "conv_id", "turn_idx", "subj", "pred", "obj", "src_offset", "src_seg_idx"
    )
    mentions = combined.filter(F.col("kind") == "mention").select(
        "conv_id", "turn_idx", "mention", "mention_kind"
    )
    bindings = combined.filter(F.col("kind") == "binding").select(
        "conv_id", "turn_idx", "target", "alias"
    )
    return triples, mentions, bindings


def extract_triples(segments: DataFrame) -> DataFrame:
    """segments → distinct (conv_id, turn_idx, subj, pred, obj) triples.
    The distinct is the only shuffle — partial aggregation collapses the
    segment-overlap dupes before exchange."""
    return (
        _explode_facts(segments, ("triple",), "conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .distinct()
    )


def extract_triples_prov(segments: DataFrame) -> DataFrame:
    """``extract_triples`` plus per-edge provenance (``src_offset``,
    ``src_seg_idx``, see ``extract_all``) — the analog of the reference's
    per-edge JSONB metadata (module / line / alias, reference:
    src/cocosearch/deps/db.py:46, extractors/python.py:96-106). Requires
    ``segment_turns(..., with_offsets=True)`` input."""
    return split_extracted(extract_all(segments, ("triple",)))[0]


def extract_standalone_mentions(segments: DataFrame) -> DataFrame:
    """segments → distinct (conv_id, turn_idx, mention, mention_kind) rows
    from marker constructions ("see X", "the X module") — relation-free
    entity evidence."""
    return (
        _explode_facts(segments, ("mention",), "conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "mention", "mention_kind")
        .distinct()
    )


def extract_alias_bindings(segments: DataFrame) -> DataFrame:
    """segments → distinct (conv_id, turn_idx, target, alias) rows from
    'X <phrase> TARGET as ALIAS' sentences. These bindings are explicit
    same-entity evidence for canonicalization (canonicalize_surfaces'
    extra_edges) — the only evidence when the alias shares no tokens or
    shingles with the target."""
    return (
        _explode_facts(segments, ("binding",), "conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "target", "alias")
        .distinct()
    )


_ARROW_GRAMMAR = [
    (re.compile(rx), swap, mapping) for rx, swap, mapping, _ in GRAMMAR
]

TRIPLE_SCHEMA = "conv_id string, turn_idx int, subj string, pred string, obj string"


def extract_triples_arrow(segments: DataFrame) -> DataFrame:
    """Arrow-batched variant: mapInPandas over (conv_id, turn_idx, seg_text)
    batches; Python regex per batch, then the same distinct."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["seg_text"]
            ):
                for pattern, swap, mapping in _ARROW_GRAMMAR:
                    for m in pattern.finditer(text or ""):
                        pred = mapping[re.sub(r"\s+", " ", m.group(2))]
                        objs = [m.group(3)]
                        if pattern.groups >= 4:  # conjunction second object
                            objs.append(m.group(4))
                        for o in objs:
                            subj, obj = (o, m.group(1)) if swap else (m.group(1), o)
                            if subj in STOP_IDENTS or obj in STOP_IDENTS:
                                continue
                            rows.append((conv_id, int(turn_idx), subj, pred, obj))
            yield pd.DataFrame(rows, columns=["conv_id", "turn_idx", "subj", "pred", "obj"])

    return (
        segments.select("conv_id", "turn_idx", "seg_text")
        .mapInPandas(run, schema=TRIPLE_SCHEMA)
        .distinct()
    )


def extract_mentions(triples: DataFrame) -> DataFrame:
    """Triples → mention rows to be entity-linked: each subj/obj occurrence
    becomes (conv_id, turn_idx, mention, mention_role). Analog of the
    reference's symbol rows feeding the resolver (symbols.py:41-47 +
    resolver probe extractor.py:66-129)."""
    subj_side = triples.select(
        "conv_id", "turn_idx", F.col("subj").alias("mention"), F.lit("subj").alias("mention_role")
    )
    obj_side = triples.select(
        "conv_id", "turn_idx", F.col("obj").alias("mention"), F.lit("obj").alias("mention_role")
    )
    return subj_side.unionByName(obj_side).distinct()
