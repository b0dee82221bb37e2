"""Code-aware tokenization and portable hashing as native Spark columns.

Re-expresses the reference's tsvector preparation
(reference: src/cocosearch/indexer/tsvector.py:17-144 — camelCase /
snake_case identifier splitting with the original preserved, plus lowercased
raw words) as pure Catalyst expressions: ``regexp_extract_all`` + higher-order
array functions, so the whole tokenizer stays inside whole-stage codegen —
no Python in the hot path. A pure-Python twin (``py_*``) exists only for
hermetic unit-test assertions.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Identifier pattern — tsvector.py:103 analog.
IDENT_RE = r"[A-Za-z_][A-Za-z0-9_]*"
# camelCase/PascalCase component pattern — tsvector.py:38-40 analog.
CAMEL_RE = r"[A-Z]?[a-z]+|[A-Z]+(?=[A-Z][a-z]|\d|\W|$)|\d+"


def split_identifier_col(ident: Column) -> Column:
    """array<string> of tokens for one identifier: original, plus camel
    components when there are >1, plus snake/kebab components when there
    are >1 (tsvector.py:17-50 semantics)."""
    camel = F.regexp_extract_all(ident, F.lit(CAMEL_RE), 0)
    snake = F.filter(F.split(ident, r"[_\-]"), lambda p: p != F.lit(""))
    return F.concat(
        F.array(ident),
        F.when(F.size(camel) > 1, camel).otherwise(F.array().cast("array<string>")),
        F.when(
            ident.rlike(r"[_\-]") & (F.size(snake) > 1), snake
        ).otherwise(F.array().cast("array<string>")),
    )


# characters whose presence in an identifier forces the full camel/snake
# split — their absence (pure lowercase letters) makes the split a no-op
_NON_PLAIN_CHARS = "0123456789_-ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def tokenize_col(text: Column) -> Column:
    """Full content tokenizer: identifiers ≥2 chars split into components
    (originals preserved) followed by all lowercased words
    (tsvector.py:90-120 semantics). Returns array<string> with duplicates —
    dedup is the consumer's choice, as with to_tsvector.

    Perf: higher-order-function lambdas run interpreted (no codegen), so
    the per-identifier camel/snake machinery dominated the chunk
    projection. A pure-lowercase-letters identifier splits to exactly
    itself (one camel component, no snake separators), so one cheap
    ``translate`` identity check short-circuits the regex split for the
    (vast) plain-word majority — output bit-identical (r06 corpus-level
    equality check + py-twin tests)."""
    idents = F.filter(
        F.regexp_extract_all(text, F.lit(IDENT_RE), 0),
        lambda i: F.length(i) >= 2,
    )

    def _split_fast(ident):
        plain = F.translate(ident, _NON_PLAIN_CHARS, "") == ident
        return F.when(plain, F.array(ident)).otherwise(split_identifier_col(ident))

    ident_tokens = F.flatten(F.transform(idents, _split_fast))
    words = F.regexp_extract_all(F.lower(text), F.lit(r"\w+"), 0)
    return F.concat(ident_tokens, words)


def normalize_name_col(name: Column) -> Column:
    """Canonical surface-form normalization used for alias blocking:
    camel/snake components, lowercased, joined by '_'. paymentGateway,
    PaymentGateway and payment_gateway all map to 'payment_gateway' —
    the key the canonicalizer blocks on (resolver.build_index analog,
    reference: src/cocosearch/deps/resolver.py:109-133)."""
    parts = F.flatten(
        F.transform(
            F.filter(F.split(name, r"[_\-]"), lambda p: p != F.lit("")),
            lambda p: F.when(
                F.size(F.regexp_extract_all(p, F.lit(CAMEL_RE), 0)) > 0,
                F.regexp_extract_all(p, F.lit(CAMEL_RE), 0),
            ).otherwise(F.array(p)),
        )
    )
    return F.lower(F.array_join(parts, "_"))


def portable_hash_col(c: Column) -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB:
    first 15 hex chars of md5 parsed base-16. Used wherever a hash must be
    oracle-checkable (MinHash, fingerprints, bucket keys)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


PORTABLE_HASH_DUCKDB = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def signature_col(text: Column, max_len: int = 60) -> Column:
    """F14 analog (reference: src/cocosearch/indexer/symbols.py:294-347
    signature extraction — the declaration header line of a symbol): the
    turn's first newline-delimited line, truncated to max_len. Pure
    Catalyst, portable (DuckDB: substr(split_part(text, chr(10), 1), ...))."""
    return F.substring(F.split(text, "\n").getItem(0), 1, max_len)


def qualified_name_col(*parts: Column) -> Column:
    """F15 analog (symbols.py:216-291 qualified-name building — module-
    scoped dotted names): scope parts joined by '::'. Null parts collapse
    (concat_ws semantics), matching the reference's optional scope
    segments."""
    return F.concat_ws("::", *parts)


def classify_block_col(text: Column, tool: Column) -> Column:
    """X3 block-type classification (reference: ChunkMetadata block_type
    dispatch, src/cocosearch/handlers/__init__.py:36-42, 331-360 — ~15
    per-format handlers): cheap structural predicates typing each turn's
    text. Transcript-shaped taxonomy:

    - ``tool_output``       — the turn came from a tool invocation;
    - ``fenced_code``       — contains a fenced code block (``````` marker);
    - ``log_dump``          — a line starts with a log-level tag
      (``[ERROR]``/``[WARN]``/``[INFO]``/``[DEBUG]``);
    - ``inline_tool_call``  — contains an unfenced ``ident(...)`` call;
    - ``prose``             — everything else.

    The finer split mirrors the reference's per-format handler dispatch one
    notch (handlers/__init__.py:130-224 registers ~15 language families);
    precedence is fixed (tool > fence > log > call > prose) so every text
    gets exactly one class deterministically. Pure Catalyst and portable:
    the identical CASE/regex forms run in the DuckDB oracle (RE2 — no
    lookahead used). Downstream, linking weights definition-typed blocks
    differently (DEF_BLOCK_WEIGHTS: fenced evidence full boost, inline-call
    evidence half — hybrid.py:419-481 analog)."""
    # instr gates (the section_col pattern): each regex structurally
    # requires a literal character — '[' for the log tag, '(' for the call —
    # so rows without it skip the regex scan entirely. This matters because
    # the two rlikes run inside the corpus-sized chunk projection and the
    # (vast) prose majority reaches them; the gate costs one memchr.
    return (
        F.when(tool.isNotNull(), "tool_output")
        .when(F.instr(text, "```") > 0, "fenced_code")
        .when(
            (F.instr(text, "[") > 0)
            & text.rlike(r"(?m)^\[(ERROR|WARN|INFO|DEBUG)\]"),
            "log_dump",
        )
        .when(
            (F.instr(text, "(") > 0) & text.rlike(r"[A-Za-z_][A-Za-z0-9_]*\("),
            "inline_tool_call",
        )
        .otherwise("prose")
    )


def section_col(text: Column) -> Column:
    """X3 hierarchy metadata: the LAST markdown-style heading in the text
    (``# name`` at line start), or null — the flat-transcript analog of the
    reference's handler hierarchy path (handlers/__init__.py ChunkMetadata
    ``hierarchy``). element_at(..., -1) takes the innermost heading."""
    heads = F.regexp_extract_all(text, F.lit(r"(?m)^#[ ]([A-Za-z0-9_]+)"), 1)
    # cheap instr gate: text without '#' cannot contain a heading, so the
    # regex scan is skipped for the (vast) heading-free majority
    return F.when(
        (F.instr(text, "#") > 0) & (F.size(heads) > 0), F.element_at(heads, -1)
    ).otherwise(F.lit(None).cast("string"))


# ---------------------------------------------------------------- python twin

def py_split_identifier(identifier: str) -> list[str]:
    toks = [identifier]
    camel = re.findall(CAMEL_RE, identifier)
    if len(camel) > 1:
        toks.extend(camel)
    if "_" in identifier or "-" in identifier:
        snake = [p for p in re.split(r"[_\-]", identifier) if p]
        if len(snake) > 1:
            toks.extend(snake)
    return toks


def py_tokenize(text: str) -> list[str]:
    out: list[str] = []
    for ident in re.findall(IDENT_RE, text):
        if len(ident) >= 2:
            out.extend(py_split_identifier(ident))
    out.extend(re.findall(r"\w+", text.lower()))
    return out


def py_normalize_name(name: str) -> str:
    parts: list[str] = []
    for p in re.split(r"[_\-]", name):
        if not p:
            continue
        camel = re.findall(CAMEL_RE, p)
        parts.extend(camel if camel else [p])
    return "_".join(parts).lower()
