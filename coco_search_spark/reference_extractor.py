"""Pure-Python reference triple extractor — the P/R oracle.

This is the independent, non-Spark implementation of the extraction rules
that the Spark pipeline must match at P/R ≥ 0.95 (BASELINE.json metric).
It plays the role the reference's per-language dependency extractors play
(reference: src/cocosearch/deps/extractors/python.py:32-213 — pure functions
text → list[DependencyEdge]), and like them it is deterministic and
side-effect free so tests are hermetic.

Extraction grammar (closed predicate vocabulary, models.py:13-18 analog),
four sentence forms, whitespace-tolerant (``\\s+`` between words):

    <ident> <relation-phrase> <ident>               (active)
    <ident> <relation-phrase> <ident> and <ident>   (conjunction — two triples)
    <ident> is <passive-phrase> by <ident>          (passive — swapped)
    <ident> , which <relation-phrase> <ident>       (appositive)

where <identifier> matches ``[A-Za-z_][A-Za-z0-9_]*`` (the reference's
identifier pattern, src/cocosearch/indexer/tsvector.py:103) and the phrases
come from RELATIONS / PASSIVE_OF in fixtures.py. Stop words
(which/is/by/and/never/not, ``_STOP``) are excluded as subjects/objects;
this also IS the negation rule: "A never uses B" can only match the active
form with subj="never", so it yields nothing. Duplicate triples within a
turn are deduplicated — the analog of the reference's
``_deduplicate_edges`` (src/cocosearch/deps/extractor.py:181-203).
"""

from __future__ import annotations

import re

import pandas as pd

from coco_search_spark.fixtures import PASSIVE_OF, RELATIONS

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def _alt(phrases) -> str:
    # longest first so overlapping phrases resolve deterministically;
    # \s+ between phrase words tolerates newlines / double spaces
    return "|".join(
        r"\s+".join(re.escape(w) for w in p.split(" "))
        for p in sorted(phrases, key=len, reverse=True)
    )


_ACTIVE = re.compile(
    r"\b(" + _IDENT + r")\s+(" + _alt([ph for _, ph in RELATIONS]) + r")\s+(" + _IDENT + r")\b"
)
_PASSIVE = re.compile(
    r"\b(" + _IDENT + r")\s+is\s+(" + _alt(list(PASSIVE_OF.values())) + r")\s+by\s+(" + _IDENT + r")\b"
)
_APPOS = re.compile(
    r"\b(" + _IDENT + r")\s*,\s*which\s+(" + _alt([ph for _, ph in RELATIONS]) + r")\s+(" + _IDENT + r")\b"
)
_CONJ = re.compile(
    r"\b(" + _IDENT + r")\s+(" + _alt([ph for _, ph in RELATIONS]) + r")\s+("
    + _IDENT + r")\s+and\s+(" + _IDENT + r")\b"
)
_PRED_OF_PHRASE = {phrase: pred for pred, phrase in RELATIONS}
_PRED_OF_PASSIVE = {phrase: pred for pred, phrase in PASSIVE_OF.items()}
# function words + negation markers (the stop-filter IS the negation rule:
# "A never uses B" can only fire the active pattern with subj="never")
_STOP = frozenset({"which", "is", "by", "and", "never", "not"})

_FORMS = [
    (_ACTIVE, False, _PRED_OF_PHRASE),
    (_PASSIVE, True, _PRED_OF_PASSIVE),
    (_APPOS, False, _PRED_OF_PHRASE),
    (_CONJ, False, _PRED_OF_PHRASE),
]


def extract_triples_from_text(text: str) -> list[tuple[str, str, str]]:
    """All (subj_surface, pred, obj_surface) matches in one turn's text,
    across the grammar forms (conjunction expands to one triple per
    object), deduplicated, document order preserved per form."""
    seen: set[tuple[str, str, str]] = set()
    out: list[tuple[str, str, str]] = []
    for pattern, swap, mapping in _FORMS:
        for m in pattern.finditer(text or ""):
            pred = mapping[re.sub(r"\s+", " ", m.group(2))]
            objs = [m.group(3)]
            if pattern.groups >= 4:
                objs.append(m.group(4))
            for o in objs:
                subj, obj = (o, m.group(1)) if swap else (m.group(1), o)
                if subj in _STOP or obj in _STOP:
                    continue
                triple = (subj, pred, obj)
                if triple not in seen:
                    seen.add(triple)
                    out.append(triple)
    return out


def extract_reference(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Run the reference extractor over a transcripts pandas DataFrame.

    Returns columns (conv_id, turn_idx, subj, pred, obj) — surface forms,
    one row per distinct triple per turn.
    """
    rows = []
    for conv_id, turn_idx, text in zip(
        transcripts["conv_id"], transcripts["turn_idx"], transcripts["text"]
    ):
        for s, p, o in extract_triples_from_text(text):
            rows.append((conv_id, int(turn_idx), s, p, o))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "subj", "pred", "obj"])


def precision_recall(
    predicted: set[tuple], actual: set[tuple]
) -> tuple[float, float]:
    """Set-based P/R used by the BASELINE gate."""
    if not predicted:
        return (1.0 if not actual else 0.0), (1.0 if not actual else 0.0)
    tp = len(predicted & actual)
    precision = tp / len(predicted)
    recall = tp / len(actual) if actual else 1.0
    return precision, recall
