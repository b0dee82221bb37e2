"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Each entry in QUERIES is one operator family from SURVEY.md §2 exercised
through this engine's public API; ORACLES carries the equivalent ANSI SQL
that DuckDB runs over the same parquet tables (views: region nation
customer supplier part orders lineitem events documents embeddings).
Column names/aliases match pairwise — the driver compares sorted-by-name
value hashes.

The KG queries run over a **derived transcripts table** built
deterministically from ``documents`` in pure SQL (identical text in both
engines), with one relation sentence injected per row so triple extraction
has exact ground truth; the corpus vocabulary is verified free of relation
verbs, so the oracle regexp matches exactly what the pipeline extracts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coco_search_spark.functions.embed import cosine_expr
from coco_search_spark.functions.query_rewrite import rewrite_query
from coco_search_spark.functions.text import portable_hash_col
from coco_search_spark.operators.extract import extract_mentions, extract_triples
from coco_search_spark.operators.graph import transitive_closure
from coco_search_spark.operators.segments import segment_turns

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Derived transcripts: documents → (conv_id, turn_idx, role, text, tool, ts)
# Pure SQL, byte-identical in Spark and DuckDB.
# ---------------------------------------------------------------------------

_PHRASE_CASE = (
    "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'depends on' WHEN 1 THEN 'calls' "
    "WHEN 2 THEN 'imports' WHEN 3 THEN 'uses' ELSE 'emits' END"
)
_PRED_CASE = (
    "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'depends_on' WHEN 1 THEN 'calls' "
    "WHEN 2 THEN 'imports' WHEN 3 THEN 'uses' ELSE 'emits' END"
)
# passive surface of the same predicate (fixtures.PASSIVE_OF)
_PASSIVE_CASE = (
    "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'depended on' WHEN 1 THEN 'called' "
    "WHEN 2 THEN 'imported' WHEN 3 THEN 'used' ELSE 'emitted' END"
)
# whitespace variance: every 7th row separates the relation words with a
# newline instead of a space — the extractor's \s+ tolerance is thereby
# oracle-gated, not just unit-tested
_WS_CASE = "CASE WHEN CAST(doc_id % 7 AS INT) = 0 THEN chr(10) ELSE ' ' END"
# grammar-form selector, decorrelated from the %5 phrase selector (cycles
# every 25 rows through every phrase × form combination)
_FORM_KEY = "CAST(FLOOR(doc_id / 5.0) % 5 AS INT)"
_NEG_CASE = "CASE WHEN CAST(doc_id % 2 AS INT) = 0 THEN 'never' ELSE 'not' END"
# one ground-truth relation sentence per row in one of FIVE grammar forms:
# active / passive-swapped / appositive / conjunction (two triples) /
# negation (ZERO triples — the stop-rule must suppress it)
# every other active-form row binds a local alias for its object
# ("X <phrase> Y as Z" — the aliased-import analog); the binding is
# same-entity evidence consumed by canonicalization
_BINDING_SUFFIX = (
    f"CASE WHEN CAST(doc_id % 2 AS INT) = 1"
    f" THEN {_WS_CASE} || 'as' || {_WS_CASE} || lang || '_al' ELSE '' END"
)
_REL_SENTENCE = f"""CASE {_FORM_KEY}
    WHEN 0 THEN source || '_svc' || {_WS_CASE} || {_PHRASE_CASE} || {_WS_CASE} || lang || '_store' || {_BINDING_SUFFIX}
    WHEN 1 THEN lang || '_store' || {_WS_CASE} || 'is' || {_WS_CASE} || {_PASSIVE_CASE} || {_WS_CASE} || 'by' || {_WS_CASE} || source || '_svc'
    WHEN 2 THEN source || '_svc' || ' , which' || {_WS_CASE} || {_PHRASE_CASE} || {_WS_CASE} || lang || '_store'
    WHEN 3 THEN source || '_svc' || {_WS_CASE} || {_PHRASE_CASE} || {_WS_CASE} || lang || '_store' || {_WS_CASE} || 'and' || {_WS_CASE} || lang || '_cache'
    ELSE source || '_svc' || {_WS_CASE} || {_NEG_CASE} || {_WS_CASE} || {_PHRASE_CASE} || {_WS_CASE} || lang || '_store' END"""
# one relation-FREE mention sentence per row ("see X" / "the X module") —
# the standalone-mention grammar's ground truth (X2)
_MENTION_SENTENCE = f"""CASE CAST(doc_id % 2 AS INT)
    WHEN 0 THEN 'see' || {_WS_CASE} || source || '_cli'
    ELSE 'the ' || lang || '_probe' || {_WS_CASE} || 'module' END"""
# structural metadata carriers (X3): markdown heading prefix every 13th
# row, fenced code block suffix every 11th row
_HEADING = (
    "CASE WHEN CAST(doc_id % 13 AS INT) = 0"
    " THEN '# section_' || CAST(doc_id % 7 AS INT) || chr(10) ELSE '' END"
)
_FENCE = (
    "CASE WHEN CAST(doc_id % 11 AS INT) = 0"
    " THEN ' ```' || chr(10) || 'let handler = init()' || chr(10) || '```' ELSE '' END"
)
# inert carriers for the finer block taxonomy (X3, round 4): a log-level
# line every 17th row, an unfenced inline call every 19th row. Both are
# chosen to be invisible to every other grammar: no relation phrase, no
# mention context ("see"/"module"), no "as" binding keyword, appended at
# the very END of the turn so earlier match offsets never shift.
_LOG_SUFFIX = (
    "CASE WHEN CAST(doc_id % 17 AS INT) = 0"
    " THEN chr(10) || '[INFO] request done' ELSE '' END"
)
_CALL_SUFFIX = (
    "CASE WHEN CAST(doc_id % 19 AS INT) = 0"
    " THEN ' run_probe() ok' ELSE '' END"
)

DERIVED_TRANSCRIPTS_SQL = f"""
SELECT
  'conv-' || (doc_id % 50)                         AS conv_id,
  CAST(FLOOR(doc_id / 50.0) AS INT)                AS turn_idx,
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'user' WHEN 2 THEN 'tool' ELSE 'assistant' END AS role,
  {_HEADING} || text || ' ' || {_REL_SENTENCE} || ' . ' || {_MENTION_SENTENCE} || ' .' || {_FENCE} || {_CALL_SUFFIX} || {_LOG_SUFFIX} AS text,
  CASE WHEN CAST(doc_id % 4 AS INT) = 2 THEN 'grep' ELSE NULL END AS tool
FROM documents
"""

# the same rows with the injected ground-truth triples exposed as columns —
# used only inside oracle CTEs. Forms 0-3 emit the (subj, pred, store)
# triple, form 3 additionally (subj, pred, cache), form 4 (negation)
# emits nothing.
_ORACLE_TRIPLES_CTE = f"""
WITH t AS ({DERIVED_TRANSCRIPTS_SQL}),
gt AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj,
         {_PRED_CASE} AS pred,
         lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50),
         CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc',
         {_PRED_CASE},
         lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
)
"""


def derived_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    return spark.sql(DERIVED_TRANSCRIPTS_SQL)


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_triples(segment_turns(derived_transcripts(spark, sf_dir)))


# ---------------------------------------------------------------------------
# KG pipeline queries
# ---------------------------------------------------------------------------

def q_kg_extract_triples(spark, sf_dir):
    """X4 analog: segmentation + native-regex triple extraction."""
    return _triples(spark, sf_dir)


def q_kg_top_predicates(spark, sf_dir):
    """A4 analog: predicate histogram with distinct-subject counts."""
    return (
        _triples(spark, sf_dir)
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
        )
        .orderBy(F.desc("n_triples"), F.asc("pred"))
    )


def q_kg_mentions(spark, sf_dir):
    """X2 analog: distinct mention surfaces with occurrence counts."""
    m = extract_mentions(_triples(spark, sf_dir))
    return (
        m.groupBy("mention", "mention_role")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy("mention", "mention_role")
    )


def q_kg_conv_hash(spark, sf_dir):
    """F7/J2 analog: per-conversation sha256 content hash over ordered turn
    texts — the incremental-diff identity."""
    from coco_search_spark.state import conversation_hashes

    t = derived_transcripts(spark, sf_dir)
    return conversation_hashes(t).select("conv_id", "content_hash", "rows_in")


def q_kg_turn_window(spark, sf_dir):
    """W3/W4 analog: per-conversation neighbor window over turn ordering."""
    from pyspark.sql import Window as W

    t = derived_transcripts(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    return t.select(
        "conv_id",
        "turn_idx",
        F.length("text").alias("turn_len"),
        F.coalesce(F.lag(F.length("text")).over(w), F.lit(0)).alias("prev_len"),
        F.coalesce(F.lead(F.length("text")).over(w), F.lit(0)).alias("next_len"),
        F.row_number().over(w).alias("turn_rank"),
    )


def q_kg_qualified_mentions(spark, sf_dir):
    """F14/F15 analog: each mention occurrence with its conversation-scoped
    qualified name (conv::role::mention — symbols.py:216-291 qualified-name
    building) and the turn's signature line (first line truncated —
    symbols.py:294-347 signature extraction)."""
    from coco_search_spark.functions.text import qualified_name_col, signature_col
    from coco_search_spark.operators.extract import extract_mentions

    t = derived_transcripts(spark, sf_dir)
    m = extract_mentions(_triples(spark, sf_dir))
    sig = t.select(
        "conv_id", "turn_idx", signature_col(F.col("text")).alias("signature")
    )
    return (
        m.join(sig, ["conv_id", "turn_idx"])
        .select(
            "conv_id",
            "turn_idx",
            qualified_name_col(
                F.col("conv_id"), F.col("mention_role"), F.col("mention")
            ).alias("qualified"),
            "signature",
        )
        .orderBy("conv_id", "turn_idx", "qualified")
    )


ORACLE_QUALIFIED = (
    _ORACLE_TRIPLES_CTE
    + """, mrows AS (
  SELECT DISTINCT conv_id, turn_idx, subj AS mention, 'subj' AS mention_role FROM gt
  UNION
  SELECT DISTINCT conv_id, turn_idx, obj AS mention, 'obj' AS mention_role FROM gt
)
SELECT m.conv_id, m.turn_idx,
       m.conv_id || '::' || m.mention_role || '::' || m.mention AS qualified,
       substr(split_part(t.text, chr(10), 1), 1, 60) AS signature
FROM mrows m JOIN t ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
ORDER BY m.conv_id, m.turn_idx, qualified
"""
)


def q_kg_standalone_mentions(spark, sf_dir):
    """X2 FULL: relation-free entity mentions extracted directly from
    segment text by the context-typed marker grammar ("see X" → reference,
    "the X module" → definition) — entities appearing without any relation
    still become mention rows / KG nodes (symbols.py:423-483 analog). The
    oracle re-runs the same grammar with DuckDB's RE2 regexp over the
    unsegmented turn text — a genuine independent implementation, not a
    ground-truth shortcut."""
    from coco_search_spark.operators.extract import extract_standalone_mentions

    segs = segment_turns(derived_transcripts(spark, sf_dir))
    return (
        extract_standalone_mentions(segs)
        .groupBy("mention", "mention_kind")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy("mention", "mention_kind")
    )


ORACLE_STANDALONE_MENTIONS = r"""
WITH t AS ({derived}),
m AS (
  SELECT conv_id, turn_idx,
         UNNEST(regexp_extract_all(text, '\bsee\s+([A-Za-z_][A-Za-z0-9_]*)\b', 1)) AS mention,
         'reference' AS mention_kind
  FROM t
  UNION ALL
  SELECT conv_id, turn_idx,
         UNNEST(regexp_extract_all(text, '\bthe\s+([A-Za-z_][A-Za-z0-9_]*)\s+(?:module|component|subsystem)\b', 1)),
         'definition'
  FROM t
),
md AS (SELECT DISTINCT conv_id, turn_idx, mention, mention_kind FROM m)
SELECT mention, mention_kind, COUNT(*) AS n_occurrences
FROM md GROUP BY mention, mention_kind ORDER BY mention, mention_kind
"""


def q_kg_block_types(spark, sf_dir):
    """X3: structural block-type classification + section hierarchy
    (ChunkMetadata{block_type, hierarchy} analog, handlers/__init__.py:
    36-42): per-(block_type, section) turn counts over the derived
    transcripts (which carry injected code fences and markdown headings)."""
    from coco_search_spark.functions.text import classify_block_col, section_col

    t = derived_transcripts(spark, sf_dir)
    return (
        t.select(
            classify_block_col(F.col("text"), F.col("tool")).alias("block_type"),
            section_col(F.col("text")).alias("section"),
        )
        .groupBy("block_type", "section")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .orderBy("block_type", "section")
    )


ORACLE_BLOCK_TYPES = """
WITH t AS ({derived}),
h AS (
  SELECT CASE WHEN tool IS NOT NULL THEN 'tool_output'
              WHEN strpos(text, '``' || '`') > 0 THEN 'fenced_code'
              WHEN regexp_matches(text, '(?m)^\\[(ERROR|WARN|INFO|DEBUG)\\]') THEN 'log_dump'
              WHEN regexp_matches(text, '[A-Za-z_][A-Za-z0-9_]*\\(') THEN 'inline_tool_call'
              ELSE 'prose' END AS block_type,
         regexp_extract_all(text, '(?m)^#[ ]([A-Za-z0-9_]+)', 1) AS heads
  FROM t
),
c AS (
  SELECT block_type,
         CASE WHEN len(heads) > 0 THEN heads[len(heads)] ELSE NULL END AS section
  FROM h
)
SELECT block_type, section, COUNT(*) AS n_turns
FROM c GROUP BY block_type, section ORDER BY block_type, section
"""


def q_kg_edge_provenance(spark, sf_dir):
    """Edge provenance (per-edge JSONB metadata analog, deps/db.py:46):
    every extracted triple with the 1-based char offset of its earliest
    evidencing match in the turn text. Spark computes it per segment
    (start_char + instr, min over segments = global first occurrence by
    the overlap-containment guarantee); the oracle reconstructs each form's
    match string and takes DuckDB strpos over the unsegmented turn."""
    from coco_search_spark.operators.extract import extract_triples_prov

    segs = segment_turns(derived_transcripts(spark, sf_dir), with_offsets=True)
    return (
        extract_triples_prov(segs)
        .select("conv_id", "turn_idx", "subj", "pred", "obj", "src_offset")
        .orderBy("conv_id", "turn_idx", "subj", "pred", "obj")
    )


def _edge_provenance_oracle() -> str:
    return (
        _ORACLE_TRIPLES_CTE
        + f""", ms AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         CASE {_FORM_KEY}
           WHEN 1 THEN lang || '_store' || {_WS_CASE} || 'is' || {_WS_CASE} || {_PASSIVE_CASE} || {_WS_CASE} || 'by' || {_WS_CASE} || source || '_svc'
           WHEN 2 THEN source || '_svc' || ' , which' || {_WS_CASE} || {_PHRASE_CASE} || {_WS_CASE} || lang || '_store'
           ELSE source || '_svc' || {_WS_CASE} || {_PHRASE_CASE} || {_WS_CASE} || lang || '_store' END AS m
  FROM documents WHERE {_FORM_KEY} <= 3
)
SELECT g.conv_id, g.turn_idx, g.subj, g.pred, g.obj,
       strpos(t.text, s.m) AS src_offset
FROM gt g
JOIN ms s ON s.conv_id = g.conv_id AND s.turn_idx = g.turn_idx
JOIN t ON t.conv_id = g.conv_id AND t.turn_idx = g.turn_idx
ORDER BY g.conv_id, g.turn_idx, g.subj, g.pred, g.obj
"""
    )


def q_kg_context_expand(spark, sf_dir):
    """W3 proper (context_expander.py:302-411 analog): each turn carries its
    neighbors' text (2 before / 2 after, 200-char cap each) plus BOF/EOF
    clip flags."""
    from coco_search_spark.operators.context import expand_context

    t = derived_transcripts(spark, sf_dir)
    return expand_context(t, n_before=2, n_after=2, max_chars=200).orderBy(
        "conv_id", "turn_idx"
    )


ORACLE_CONTEXT = f"""
WITH t AS ({{derived}})
SELECT conv_id, turn_idx,
       COALESCE(string_agg(substr(text, 1, 200), chr(10)) OVER (
         PARTITION BY conv_id ORDER BY turn_idx
         ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), '') AS ctx_before,
       COALESCE(string_agg(substr(text, 1, 200), chr(10)) OVER (
         PARTITION BY conv_id ORDER BY turn_idx
         ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), '') AS ctx_after,
       CASE WHEN row_number() OVER w - 1 < 2 THEN 1 ELSE 0 END AS is_bof,
       CASE WHEN COUNT(*) OVER (PARTITION BY conv_id) - row_number() OVER w < 2
            THEN 1 ELSE 0 END AS is_eof
FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
ORDER BY conv_id, turn_idx
"""


def q_transcript_quarantine(spark, sf_dir):
    """X5 parse-status detection (parse_tracking.py:58-111 analog): a
    deterministically poisoned copy of the transcripts (null / empty /
    oversize texts) classified into parse statuses; returns per-status turn
    + conversation counts. The pipeline quarantines non-ok rows instead of
    failing (tested end-to-end in pytest)."""
    from coco_search_spark.operators.validate import validate_turns

    t = derived_transcripts(spark, sf_dir)
    doc_id = (
        F.col("turn_idx").cast("long") * 50
        + F.substring(F.col("conv_id"), 6, 10).cast("long")
    )
    poisoned = t.withColumn(
        "text",
        F.when(F.pmod(doc_id, F.lit(23)) == 0, F.lit(None).cast("string"))
        .when(F.pmod(doc_id, F.lit(23)) == 1, F.lit(""))
        .when(F.pmod(doc_id, F.lit(23)) == 2, F.lit("x" * 3100))
        .otherwise(F.col("text")),
    )
    return (
        validate_turns(poisoned, max_chars=3000)
        .groupBy("parse_status")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .orderBy("parse_status")
    )


ORACLE_QUARANTINE = """
WITH t AS ({derived}),
p AS (
  SELECT conv_id, turn_idx,
         CASE WHEN (CAST(turn_idx AS BIGINT) * 50 + CAST(substr(conv_id, 6) AS BIGINT)) % 23 = 0 THEN NULL
              WHEN (CAST(turn_idx AS BIGINT) * 50 + CAST(substr(conv_id, 6) AS BIGINT)) % 23 = 1 THEN ''
              WHEN (CAST(turn_idx AS BIGINT) * 50 + CAST(substr(conv_id, 6) AS BIGINT)) % 23 = 2 THEN repeat('x', 3100)
              ELSE text END AS text
  FROM t
),
v AS (
  SELECT conv_id,
         CASE WHEN conv_id IS NULL OR turn_idx IS NULL THEN 'null_key'
              WHEN text IS NULL THEN 'null_text'
              WHEN length(text) = 0 THEN 'empty_text'
              WHEN length(text) > 3000 THEN 'oversize'
              ELSE 'ok' END AS parse_status
  FROM p
)
SELECT parse_status, COUNT(*) AS n_turns, COUNT(DISTINCT conv_id) AS n_convs
FROM v GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Hybrid ranking / RRF
# ---------------------------------------------------------------------------

def q_rrf_fusion_docs(spark, sf_dir):
    """J1+A1: full Reciprocal Rank Fusion over two ranked lists (k=60),
    exactly the reference's rrf_fusion math (hybrid.py:306-416): leg A ranks
    documents by length, leg B by a keyword-ish portable hash; full-outer
    join on doc_id, score = Σ 1/(60+rank), tie-break keyword-present then
    doc_id (hybrid.py:409-414)."""
    from pyspark.sql import Window as W

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    # rank-≤-N prefetch as orderBy+limit (TakeOrderedAndProject: parallel
    # per-partition partial top-k, merged on the driver) — NOT a global
    # row_number window, which would drag the whole corpus through one task.
    # Ranking the N surviving rows afterwards is cheap and semantically
    # identical because the ordering is a deterministic total order.
    leg_a = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(100)
        .withColumn(
            "rank_a",
            F.row_number().over(W.orderBy(F.desc("n_chars"), F.asc("doc_id"))),
        )
        .select("doc_id", "rank_a")
    )
    kw_key = F.pmod(portable_hash_col(F.col("text")), F.lit(997))
    leg_b = (
        docs.select("doc_id", kw_key.alias("kw_key"))
        .orderBy(F.asc("kw_key"), F.asc("doc_id"))
        .limit(100)
        .withColumn(
            "rank_b",
            F.row_number().over(W.orderBy(F.asc("kw_key"), F.asc("doc_id"))),
        )
        .select("doc_id", "rank_b")
    )
    fused = (
        leg_a.join(leg_b, "doc_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(1.0 / (F.lit(60) + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(60) + F.col("rank_b")), F.lit(0.0)),
                9,
            ),
        )
        .withColumn(
            "match_type",
            F.when(F.col("rank_a").isNotNull() & F.col("rank_b").isNotNull(), "both")
            .when(F.col("rank_a").isNotNull(), "semantic")
            .otherwise("keyword"),
        )
    )
    from pyspark.sql import Window as W2

    # fused is ≤ 200 rows by construction (two 100-row prefetch legs), so a
    # single-partition ranking window here is constant-size, not corpus-size
    w = W2.orderBy(
        F.desc("rrf_score"), F.desc(F.col("rank_b").isNotNull().cast("int")), F.asc("doc_id")
    )
    return (
        fused.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "rrf_score", "match_type", F.col("rn").alias("final_rank"))
    )


ORACLE_RRF = """
WITH leg_a AS (
  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank_a
  FROM documents QUALIFY rank_a <= 100
),
leg_b AS (
  SELECT doc_id, row_number() OVER (
    ORDER BY (CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 997) ASC, doc_id ASC
  ) AS rank_b
  FROM documents QUALIFY rank_b <= 100
),
fused AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         ROUND(COALESCE(1.0/(60+rank_a), 0) + COALESCE(1.0/(60+rank_b), 0), 9) AS rrf_score,
         CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL THEN 'both'
              WHEN rank_a IS NOT NULL THEN 'semantic' ELSE 'keyword' END AS match_type,
         rank_a, rank_b
  FROM leg_a a FULL OUTER JOIN leg_b b USING (doc_id)
)
SELECT doc_id, rrf_score, match_type,
       row_number() OVER (ORDER BY rrf_score DESC,
                          (rank_b IS NOT NULL) DESC, doc_id ASC) AS final_rank
FROM fused
QUALIFY final_rank <= 20
"""


# ---------------------------------------------------------------------------
# Relational operator coverage (TPC-H-ish)
# ---------------------------------------------------------------------------

def q_top_orders_per_customer(spark, sf_dir):
    """W1/W2: per-group top-k via row_number window."""
    from pyspark.sql import Window as W

    load_views(spark, sf_dir)
    o = spark.table("orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rk")
    )


def q_customers_without_orders(spark, sf_dir):
    """U2/J2: anti join — customers with no RECENT orders. The date
    restriction (verdict r4 #6) keeps the anti-join non-empty at every SF
    (the plain form returned 0 rows at sf0.01 — a vacuous value check),
    so the oracle row carries actual set-difference evidence."""
    load_views(spark, sf_dir)
    c, o = spark.table("customer"), spark.table("orders")
    recent = o.filter(F.col("o_orderdate") >= F.lit("1997-06-01"))
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_revenue_per_nation(spark, sf_dir):
    """J3-style star join with broadcast dimensions."""
    load_views(spark, sf_dir)
    c = spark.table("customer")
    o = spark.table("orders")
    n = spark.table("nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


# (pricing_summary and event_neighbors were retired in round 5 — redundant
# with rollup_revenue / kg_turn_window per the r4 verdict's registry advice)


# ---------------------------------------------------------------------------
# Text-analysis / training-data ops over documents
# ---------------------------------------------------------------------------

def q_doc_language_stats(spark, sf_dir):
    """A3 analog: per-language corpus stats."""
    load_views(spark, sf_dir)
    d = spark.table("documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


def q_doc_token_stats(spark, sf_dir):
    """F1-F4 analog (portable subset): word counts + distinct word counts."""
    load_views(spark, sf_dir)
    d = spark.table("documents")
    words = F.split(F.col("text"), r"\s+")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.length("text").alias("n_chars_exact"),
    ).orderBy("doc_id")


def q_doc_quality(spark, sf_dir):
    """Quality scoring: stopword ratio + mean word length, rounded."""
    load_views(spark, sf_dir)
    d = spark.table("documents")
    words = F.split(F.col("text"), r"\s+")
    stop = F.array(*[F.lit(s) for s in ["the", "a", "of", "and", "to"]])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(stop, x)))
    return d.select(
        "doc_id",
        F.round(n_stop / F.size(words), 6).alias("stopword_ratio"),
        F.round(
            F.aggregate(words, F.lit(0), lambda acc, x: acc + F.length(x))
            / F.size(words).cast("double"),
            6,
        ).alias("mean_word_len"),
    ).orderBy("doc_id")


def q_doc_fingerprint(spark, sf_dir):
    """F7/F12 + exact dedup: sha256 + portable 60-bit fingerprint; duplicate
    groups surface as n_dups > 1 (hash-groupBy dedup)."""
    load_views(spark, sf_dir)
    d = spark.table("documents")
    fp = d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("sha"),
        portable_hash_col(F.col("text")).alias("fingerprint"),
    )
    dup = fp.groupBy("sha").agg(F.count(F.lit(1)).alias("n_dups"))
    return (
        fp.join(dup, "sha")
        .select("doc_id", "fingerprint", "n_dups")
        .orderBy("doc_id")
    )


def q_doc_minhash(spark, sf_dir):
    """MinHash (portable hash) over word shingles: 4 signature values per
    doc — the dedup/LSH building block, oracle-checked value for value."""
    load_views(spark, sf_dir)
    d = spark.table("documents")
    words = F.array_distinct(F.split(F.col("text"), r"\s+"))
    cols = [
        F.array_min(
            F.transform(
                words,
                lambda x: portable_hash_col(F.concat(F.lit(str(seed) + "|"), x)),
            )
        ).alias(f"mh{seed}")
        for seed in range(4)
    ]
    return d.select("doc_id", *cols).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

def q_ann_topk(spark, sf_dir):
    """K1 analog: brute-force cosine top-k against the vec_id=0 query vector
    (exact baseline; LSH variant is the scale path)."""
    from pyspark.sql import Window as W

    load_views(spark, sf_dir)
    e = spark.table("embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    sims = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "label",
            F.round(
                cosine_expr(F.col("embedding").cast("array<double>"), F.col("qv")), 4
            ).alias("cos_sim"),
        )
    )
    # top-k via orderBy+limit (TakeOrderedAndProject — parallel partial
    # top-k per partition, no global-window single-task sort), then rank
    # the surviving 10 rows
    return (
        sims.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
        .withColumn("rk", F.row_number().over(W.orderBy(F.desc("cos_sim"), F.asc("vec_id"))))
        .select("vec_id", "label", "cos_sim", "rk")
    )


# ---------------------------------------------------------------------------
# Training-data ops: language-ID, simhash, fingerprint overlap, near-dup
# ---------------------------------------------------------------------------

def q_doc_langid(spark, sf_dir):
    """Language-ID heuristic (stopword overlap argmax)."""
    from coco_search_spark.ops.textstats import language_id

    load_views(spark, sf_dir)
    return language_id(spark.table("documents"), "doc_id", "text").orderBy("id")


def _langid_oracle() -> str:
    from coco_search_spark.ops.textstats import STOPWORDS

    legs = " UNION ALL ".join(
        f"""SELECT doc_id, '{lang}' AS lang,
              ROUND(len(list_intersect(list_distinct(string_split_regex(lower(text), '\\s+')),
                    [{','.join(repr(s) for s in sw)}])) / {float(len(sw))}, 6) AS score
            FROM documents"""
        for lang, sw in sorted(STOPWORDS.items())
    )
    return f"""
        WITH scores AS ({legs})
        SELECT doc_id AS id, lang AS lang_guess, score AS lang_score FROM (
          SELECT doc_id, lang, score,
                 row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rk
          FROM scores) x WHERE rk = 1 ORDER BY id"""


def q_doc_simhash(spark, sf_dir):
    """60-bit SimHash per document (dedup building block), oracle-checked
    value for value."""
    from coco_search_spark.ops.dedup import simhash_col

    load_views(spark, sf_dir)
    return spark.table("documents").select(
        "doc_id", simhash_col(F.col("text")).alias("simhash")
    ).orderBy("doc_id")


def _simhash_oracle(bits: int = 60) -> str:
    h = "CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)"
    bit_terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(string_split_regex(text, '\\s+'),
             x -> CASE WHEN (({h} >> {i}) & 1) = 1 THEN 1 ELSE -1 END)) > 0
             THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"""
        for i in range(bits)
    )
    return f"SELECT doc_id, ({bit_terms}) AS simhash FROM documents ORDER BY doc_id"


def q_doc_fp_overlap(spark, sf_dir):
    """Winnowing-fingerprint overlap pairs (passage-level dedup candidates)."""
    from coco_search_spark.ops.textstats import fingerprint_overlap_pairs

    load_views(spark, sf_dir)
    return fingerprint_overlap_pairs(
        spark.table("documents"), "doc_id", "text", k=5, keep=4, min_shared=1
    ).orderBy("id_a", "id_b")


ORACLE_FP_OVERLAP = """
WITH grams AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           generate_series(1, greatest(1, len(string_split_regex(text,'\\s+')) - 4)),
           i -> CAST(('0x' || substr(md5(
                  array_to_string(string_split_regex(text,'\\s+')[i:i+4], ' ')
                ), 1, 15)) AS BIGINT)))) AS hs
  FROM documents
),
fp AS (SELECT doc_id, unnest(hs[1:4]) AS fp FROM grams)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_doc_contamination(spark, sf_dir):
    """Benchmark-contamination screen: eval set = every 10th document's
    200-char prefix; per-doc fraction of winnowing fingerprints found in
    the (broadcast) eval fingerprint pool. Docs that sourced the eval set
    score high, the rest ~0."""
    from coco_search_spark.ops.textstats import contamination_check

    load_views(spark, sf_dir)
    d = spark.table("documents")
    eval_docs = d.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        "doc_id", F.substring(F.col("text"), 1, 200).alias("text")
    )
    return contamination_check(d, eval_docs, "doc_id", "text", k=5, keep=8).orderBy(
        "id"
    )


ORACLE_CONTAMINATION = """
WITH grams AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           generate_series(1, greatest(1, len(string_split_regex(text,'\\s+')) - 4)),
           i -> CAST(('0x' || substr(md5(
                  array_to_string(string_split_regex(text,'\\s+')[i:i+4], ' ')
                ), 1, 15)) AS BIGINT)))) AS hs
  FROM documents
),
fps AS (SELECT doc_id, hs[1:8] AS fp8 FROM grams),
ev AS (SELECT doc_id, substr(text, 1, 200) AS text FROM documents WHERE doc_id % 10 = 0),
egrams AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           generate_series(1, greatest(1, len(string_split_regex(text,'\\s+')) - 4)),
           i -> CAST(('0x' || substr(md5(
                  array_to_string(string_split_regex(text,'\\s+')[i:i+4], ' ')
                ), 1, 15)) AS BIGINT)))) AS hs
  FROM ev
),
epool AS (SELECT DISTINCT unnest(hs[1:8]) AS fp FROM egrams),
ex AS (SELECT doc_id, unnest(fp8) AS fp FROM fps),
hits AS (SELECT doc_id, COUNT(*) AS n_hits FROM ex JOIN epool USING (fp) GROUP BY doc_id)
SELECT f.doc_id AS id, len(f.fp8) AS n_fps,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / CAST(len(f.fp8) AS DOUBLE), 6) AS contamination
FROM fps f LEFT JOIN hits h ON h.doc_id = f.doc_id
ORDER BY id
"""


def q_doc_repetition(spark, sf_dir):
    """Gopher-style within-document repetition signals over the derived
    transcripts (fenced turns carry a duplicate ``` line): duplicate-line
    and duplicate-char fractions per turn."""
    from coco_search_spark.ops.textstats import repetition_stats

    t = derived_transcripts(spark, sf_dir).withColumn(
        "tid", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
    )
    return repetition_stats(t, "tid", "text").orderBy("id")


ORACLE_REPETITION = """
WITH t AS ({derived}),
x AS (SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS id,
             string_split(text, chr(10)) AS ls FROM t),
y AS (SELECT id, ls,
             list_sum(list_transform(ls, v -> length(v))) AS ca,
             list_sum(list_transform(list_distinct(ls), v -> length(v))) AS cd
      FROM x)
SELECT id, len(ls) AS n_lines,
       len(ls) - len(list_distinct(ls)) AS n_dup_lines,
       ROUND((len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE), 6) AS dup_line_frac,
       ROUND(CASE WHEN ca = 0 THEN 0.0 ELSE (ca - cd) / CAST(ca AS DOUBLE) END, 6) AS dup_char_frac
FROM y ORDER BY id
"""


def q_dedup_near_pairs(spark, sf_dir):
    """Near-duplicate candidate pairs: block on the FIRST minhash value
    (single-band LSH — deterministic, oracle-checkable), verify with exact
    word-3-gram Jaccard ≥ 0.2."""
    from coco_search_spark.ops.dedup import minhash_sig_col, word_shingles_col

    load_views(spark, sf_dir)
    d = spark.table("documents")
    base = d.select(
        "doc_id", word_shingles_col(F.col("text"), 3).alias("sh")
    ).withColumn("mh0", F.element_at(minhash_sig_col(F.col("sh"), 1), 1))
    a = base.select(F.col("mh0"), F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("mh0"), F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, "mh0")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


ORACLE_NEAR_PAIRS = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(1, len(string_split_regex(text,'\\s+')) - 2)),
           i -> array_to_string(string_split_regex(text,'\\s+')[i:i+2], ' '))) AS sh
  FROM documents
),
m AS (
  SELECT doc_id, sh,
         list_min(list_transform(sh,
           x -> CAST(('0x' || substr(md5('0|' || x), 1, 15)) AS BIGINT))) AS mh0
  FROM sh
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM m a JOIN m b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id
WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
      len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.2
ORDER BY 1, 2
"""


def q_dedup_groups(spark, sf_dir):
    """Dedup as a decision, not just pairs: near-dup candidate pairs (same
    single-band blocking + Jaccard verify as dedup_near_pairs) collapsed by
    connected components into groups with one kept representative per group
    (min doc_id) — the transitive-duplicate rule production dedup needs
    (A≈B, B≈C ⇒ one survivor of {A,B,C})."""
    from coco_search_spark.ops.dedup import (
        dedup_groups,
        minhash_sig_col,
        word_shingles_col,
    )

    load_views(spark, sf_dir)
    d = spark.table("documents")
    base = d.select(
        "doc_id", word_shingles_col(F.col("text"), 3).alias("sh")
    ).withColumn("mh0", F.element_at(minhash_sig_col(F.col("sh"), 1), 1))
    a = base.select(F.col("mh0"), F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("mh0"), F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = (
        a.join(b, "mh0")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
            >= 0.2
        )
        .select("id_a", "id_b")
    )
    return dedup_groups(d, "doc_id", pairs).orderBy("doc_id")


ORACLE_DEDUP_GROUPS = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(1, len(string_split_regex(text,'\\s+')) - 2)),
           i -> array_to_string(string_split_regex(text,'\\s+')[i:i+2], ' '))) AS sh
  FROM documents
),
m AS (
  SELECT doc_id, sh,
         list_min(list_transform(sh,
           x -> CAST(('0x' || substr(md5('0|' || x), 1, 15)) AS BIGINT))) AS mh0
  FROM sh
),
pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib
  FROM m a JOIN m b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
),
sym AS (SELECT ia AS s, ib AS d FROM pairs UNION SELECT ib, ia FROM pairs),
walk(id, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.id, s.d FROM walk w JOIN sym s ON s.s = w.node
)
SELECT id AS doc_id, MIN(node) AS group_id,
       CASE WHEN MIN(node) = id THEN 1 ELSE 0 END AS keep
FROM walk GROUP BY id ORDER BY doc_id
"""


def q_doc_quality_filter(spark, sf_dir):
    """The keep/drop quality GATE (first failing rule wins): too_short /
    too_stoppy / degenerate_words / ok, with the keep flag training
    pipelines filter on."""
    from coco_search_spark.ops.textstats import quality_filter

    load_views(spark, sf_dir)
    return quality_filter(spark.table("documents"), "doc_id", "text").orderBy("id")


def _quality_filter_oracle(
    min_words: int = 5, max_stop: float = 0.5, min_wlen: float = 2.0, max_wlen: float = 12.0
) -> str:
    from coco_search_spark.ops.textstats import STOPWORDS

    stops = ",".join(repr(s) for s in STOPWORDS["en"])
    words = "string_split_regex(text, '\\s+')"
    return f"""
WITH f AS (
  SELECT doc_id,
         len({words}) AS n_words,
         CAST(len(list_filter({words}, x -> list_contains([{stops}], x))) AS DOUBLE)
           / len({words}) AS stop_ratio,
         CAST(list_sum(list_transform({words}, x -> length(x))) AS DOUBLE)
           / len({words}) AS mean_wlen
  FROM documents
),
r AS (
  SELECT doc_id,
         CASE WHEN n_words < {min_words} THEN 'too_short'
              WHEN stop_ratio > {max_stop} THEN 'too_stoppy'
              WHEN mean_wlen < {min_wlen} OR mean_wlen > {max_wlen} THEN 'degenerate_words'
              ELSE 'ok' END AS drop_reason
  FROM f
)
SELECT doc_id AS id, drop_reason,
       CASE WHEN drop_reason = 'ok' THEN 1 ELSE 0 END AS keep
FROM r ORDER BY id
"""


def q_pack_docs(spark, sf_dir):
    """Sequence packing (concat-then-chunk pretraining layout): per-source
    shards, cumulative word-token offsets, fixed 256-token windows —
    each document's pack id / in-pack offset / boundary-straddle flag."""
    from coco_search_spark.ops.packing import pack_sequences

    load_views(spark, sf_dir)
    d = spark.table("documents").withColumn(
        "n_toks", F.size(F.split(F.col("text"), r"\s+"))
    )
    return pack_sequences(
        d, "doc_id", "n_toks", "source", window_tokens=256, sep_tokens=1
    ).orderBy("id")


ORACLE_PACK = r"""
WITH t AS (
  SELECT doc_id, source, len(string_split_regex(text, '\s+')) AS n_toks
  FROM documents
),
s AS (
  SELECT doc_id, source, n_toks,
         CAST(COALESCE(SUM(n_toks + 1) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
  FROM t
)
SELECT doc_id AS id, source AS shard, start_tok,
       start_tok // 256 AS pack_id,
       start_tok % 256 AS pack_offset,
       CASE WHEN start_tok // 256 <> (start_tok + n_toks - 1) // 256
            THEN 1 ELSE 0 END AS spans_boundary
FROM s ORDER BY id
"""


def q_event_rate_windows(spark, sf_dir):
    """Tumbling 10-minute event-rate windows per event_type (the streaming
    metrics aggregation expressed portably over the batch events table)."""
    load_views(spark, sf_dir)
    e = spark.table("events")
    bucket = F.floor(F.unix_timestamp("ts") / 600).cast("long")
    return (
        e.groupBy(bucket.alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("bucket", "event_type")
    )


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate ANN via deterministic sign-projection LSH (scale path for
    K1). The hyperplanes derive from the portable md5 hash, so the entire
    bucketing + candidate join + cosine re-rank is replicated value for
    value in the DuckDB oracle; the recall-vs-brute-force property is
    additionally tested in pytest."""
    from coco_search_spark.ops.similarity import lsh_topk

    load_views(spark, sf_dir)
    e = spark.table("embeddings")
    queries = (
        e.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return lsh_topk(e, queries, k=5, n_planes=4, n_tables=3).orderBy("q_id", "rk")


def _lsh_topk_oracle(k: int = 5, n_planes: int = 4, n_tables: int = 3) -> str:
    """DuckDB replica of lsh_topk over embeddings with vec_id<3 queries:
    identical deterministic hyperplanes (portable md5 hash of
    't{table}_{plane}_{i}'), identical bucket join, cosine re-rank."""

    def bucket(vcol: str, t: int) -> str:
        plane_terms = []
        for p in range(n_planes):
            sign = (
                f"((CAST(('0x' || substr(md5('t{t}_{p}_' || CAST(i - 1 AS VARCHAR)), 1, 15)) "
                f"AS BIGINT) % 2) * 2 - 1)"
            )
            dot = (
                f"list_sum(list_transform(generate_series(1, len({vcol})), "
                f"i -> {vcol}[i] * {sign}))"
            )
            plane_terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
        return " + ".join(plane_terms)

    eb_rows = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, ({bucket('v', t)}) AS bkt FROM emb"
        for t in range(n_tables)
    )
    qb_rows = " UNION ALL ".join(
        f"SELECT q_id, qv, {t} AS tbl, ({bucket('qv', t)}) AS bkt FROM q"
        for t in range(n_tables)
    )
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
eb AS ({eb_rows}),
qb AS ({qb_rows}),
cand AS (
  SELECT DISTINCT qb.q_id, eb.vec_id
  FROM eb JOIN qb ON eb.tbl = qb.tbl AND eb.bkt = qb.bkt
),
sims AS (
  SELECT c.q_id, c.vec_id,
         ROUND(list_cosine_similarity(ev.v, qv.qv), 6) AS cos_sim
  FROM cand c
  JOIN emb ev ON ev.vec_id = c.vec_id
  JOIN q qv ON qv.q_id = c.q_id
)
SELECT q_id, vec_id, cos_sim,
       row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
FROM sims QUALIFY rk <= {k}
ORDER BY q_id, rk
"""


def _cap_col(c):
    return F.concat(F.upper(F.substring(c, 1, 1)), F.substring(c, 2, 1 << 20))


def _surfaces_and_catalog(spark, sf_dir):
    """Distinct mention surfaces + a snake/camel/Pascal alias catalog over
    them — the shared setup of the linking queries."""
    t = _triples(spark, sf_dir)
    surf = (
        t.select(F.col("subj").alias("surface"))
        .unionByName(t.select(F.col("obj").alias("surface")))
        .distinct()
    )
    p1 = F.split_part(F.col("surface"), F.lit("_"), F.lit(1))
    p2 = F.split_part(F.col("surface"), F.lit("_"), F.lit(2))
    catalog = (
        surf.select(F.col("surface").alias("entity_id"), F.col("surface").alias("alias"))
        .unionByName(
            surf.select(
                F.col("surface").alias("entity_id"),
                F.concat(p1, _cap_col(p2)).alias("alias"),
            )
        )
        .unionByName(
            surf.select(
                F.col("surface").alias("entity_id"),
                F.concat(_cap_col(p1), _cap_col(p2)).alias("alias"),
            )
        )
    )
    return surf, catalog


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN (pgvector ivfflat analog, flow.py:80-83): k-means-lite
    coarse quantization with deterministic seeding + unrolled Lloyd
    iterations, nprobe probe-list scan, exact cosine re-rank. The whole
    index build is replayed by the DuckDB oracle."""
    from coco_search_spark.ops.similarity import ivf_topk

    load_views(spark, sf_dir)
    e = spark.table("embeddings")
    queries = (
        e.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return ivf_topk(
        e, queries, k=5, dim=64, n_centroids=8, n_iters=2, nprobe=2
    ).orderBy("q_id", "rk")


def _ivf_topk_oracle(
    k: int = 5, dim: int = 64, n_centroids: int = 8, n_iters: int = 2, nprobe: int = 2
) -> str:
    """DuckDB replica of ivf_topk: same seed centroids, same unrolled Lloyd
    iterations (max-cosine assignment, min-cid tie-break, per-dim AVG),
    same probe-list scan and re-rank. DuckDB arrays are 1-based (v[i+1]
    for Spark's v[i])."""

    def assign_cte(name: str, cents: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS r
    FROM emb e CROSS JOIN {cents} c) x WHERE r = 1
)"""

    avg_vec = "[" + ", ".join(f"avg(v[{i + 1}])" for i in range(dim)) + "]"
    ctes = [
        "emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT {n_centroids})",
    ]
    for it in range(n_iters):
        ctes.append(assign_cte(f"a{it + 1}", f"c{it}"))
        ctes.append(f"c{it + 1} AS (SELECT cid, {avg_vec} AS cv FROM a{it + 1} GROUP BY cid)")
    ctes.append(assign_cte("posting", f"c{n_iters}"))
    ctes.append(
        "q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3)"
    )
    ctes.append(f"""probes AS (
  SELECT q_id, qv, cid FROM (
    SELECT q.q_id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid ASC) AS r
    FROM q CROSS JOIN c{n_iters} c) x WHERE r <= {nprobe}
)""")
    ctes.append("""sims AS (
  SELECT p.q_id, po.vec_id,
         ROUND(list_cosine_similarity(po.v, p.qv), 6) AS cos_sim
  FROM posting po JOIN probes p ON po.cid = p.cid
)""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT q_id, vec_id, cos_sim,
       row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
FROM sims QUALIFY rk <= {k}
ORDER BY q_id, rk
"""
    )


def q_dedup_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs blocked by sign-projection LSH
    buckets (single table, deterministic hyperplanes) — the portable-hash
    planes make the whole blocking + cosine verification DuckDB-replicable.
    Threshold is set low enough that the random-embedding fixture yields
    non-trivial pairs."""
    from coco_search_spark.ops.dedup import embedding_near_dup_pairs

    load_views(spark, sf_dir)
    e = spark.table("embeddings")
    return embedding_near_dup_pairs(
        e, "vec_id", "embedding", cos_threshold=0.25, n_planes=4
    ).orderBy("id_a", "id_b")


def _embedding_pairs_oracle(n_planes: int = 4, thr: float = 0.25) -> str:
    plane_terms = []
    for p in range(n_planes):
        sign = (
            f"((CAST(('0x' || substr(md5('proj{p}_' || CAST(i - 1 AS VARCHAR)), 1, 15)) "
            f"AS BIGINT) % 2) * 2 - 1)"
        )
        dot = (
            "list_sum(list_transform(generate_series(1, len(v)), "
            f"i -> v[i] * {sign}))"
        )
        plane_terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(plane_terms)
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({bucket}) AS bucket FROM emb)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, c.v), 6) AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ROUND(list_cosine_similarity(a.v, c.v), 6) >= {thr}
ORDER BY id_a, id_b
"""


def q_kg_link_mentions(spark, sf_dir):
    """Hybrid RRF entity linking (the flagship stage), oracle-checked value
    for value: each distinct mention surface is linked against a catalog
    whose aliases are the snake/camel/Pascal variants of every ground-truth
    entity, using the double-precision sha256-byte cosine (`embed_expr`,
    DuckDB-replicable) for the vector leg, token-Jaccard for the keyword
    leg, RRF fusion with exact-norm boost, deterministic tie-breaks. The
    DuckDB oracle replays the entire pipeline: candidate generation by
    shared normalized token, both legs, per-leg ranks, fusion, boost,
    top-1."""
    from coco_search_spark.operators.linking import link_surfaces

    surf, catalog = _surfaces_and_catalog(spark, sf_dir)
    mentions = surf.select(F.col("surface").alias("mention"))
    return (
        link_surfaces(mentions, catalog)
        .orderBy("mention")
    )


def q_kg_link_topn(spark, sf_dir):
    """J4 resolve_many analog (extractor.py:108-123): top-3 candidate links
    per mention with rank — one alias expanding to several plausible
    targets. Same oracle machinery as kg_link_mentions with rank <= 3."""
    from coco_search_spark.operators.linking import link_surfaces_topn

    surf, catalog = _surfaces_and_catalog(spark, sf_dir)
    mentions = surf.select(F.col("surface").alias("mention"))
    return (
        link_surfaces_topn(mentions, catalog, top_n=3)
        .orderBy("mention", "link_rank")
    )


def q_kg_link_analyze(spark, sf_dir):
    """Per-stage linking diagnostics (reference search/analyze.py:175-596
    `analyze`/`multi_analyze`: capture mode selection, both legs, fusion,
    boost decisions per query): EVERY candidate per mention with per-leg
    sims+ranks, raw RRF, boost_applied, final score/rank, and the chosen /
    passed_min_score decision bits. min_score=0.02 is deliberately above
    the single-leg maximum (1/(60+1) ≈ 0.0164), so the decision columns
    split real populations: single-leg candidates fail the floor, fused or
    boosted ones pass. The DuckDB oracle replays the identical pipeline and
    exposes the identical diagnostic columns."""
    from coco_search_spark.operators.linking import link_surfaces_analyze

    surf, catalog = _surfaces_and_catalog(spark, sf_dir)
    mentions = surf.select(F.col("surface").alias("mention"))
    return (
        link_surfaces_analyze(mentions, catalog, min_score=0.02)
        .orderBy("mention", "link_rank")
    )


def q_kg_link_delta(spark, sf_dir):
    """Incremental link reuse (operators/link_state, round 4) through the
    driver gate: a deterministic hash-subset of the vocabulary plays the
    "previous run" (its per-surface link table persisted INCLUDING no-link
    rows, exactly as the pipeline writes it), the full vocabulary is the
    current run. ``split_link_work`` anti-joins out exactly the unseen
    surfaces, only those are scored, ``merge_links`` unions the reused rows
    back. Each output row carries its origin from the ACTUAL split result
    (not the hash rule), so the oracle — full linking plus the hash rule —
    value-checks both reuse claims at once: merged links equal a full
    re-link (per-surface purity) and the fresh/reused partition equals
    previous-vocabulary membership."""
    from coco_search_spark.operators.link_state import merge_links, split_link_work
    from coco_search_spark.operators.linking import link_surfaces

    surf, catalog = _surfaces_and_catalog(spark, sf_dir)
    mentions = surf.select(F.col("surface").alias("mention"))
    prev_vocab = mentions.filter(
        F.pmod(portable_hash_col(F.col("mention")), F.lit(3)) != 0
    )
    prev_links = prev_vocab.join(
        link_surfaces(prev_vocab, catalog), "mention", "left"
    )
    to_link, reusable = split_link_work(mentions, prev_links)
    fresh = link_surfaces(to_link, catalog)
    merged = merge_links(fresh, reusable.filter(F.col("entity_id").isNotNull()))
    return (
        merged.join(
            to_link.select("mention", F.lit("fresh").alias("origin")),
            "mention",
            "left",
        )
        .select(
            "mention",
            "entity_id",
            "link_score",
            "match_type",
            F.coalesce("origin", F.lit("reused")).alias("origin"),
        )
        .orderBy("mention")
    )


def _link_delta_oracle() -> str:
    """Full-re-link oracle + the membership rule: by per-surface purity the
    merged Spark output must equal plain full linking, with origin decided
    by the same portable hash that selected the previous vocabulary."""
    from coco_search_spark.functions.text import PORTABLE_HASH_DUCKDB

    h = PORTABLE_HASH_DUCKDB.format(expr="mention")
    return f"""
SELECT mention, entity_id, link_score, match_type,
       CASE WHEN {h} % 3 = 0 THEN 'fresh' ELSE 'reused' END AS origin
FROM ({_link_mentions_oracle()}) t
ORDER BY mention
"""


SEARCH_QUERY = "hash join spark window pipeline"


def q_kg_search_chunks(spark, sf_dir):
    """The reference's user-facing search operation (hybrid.py:106-481)
    over a chunk-shaped table, end to end through the driver gate: vector
    leg = double-precision sha256-byte embedding cosine (expr form, DuckDB-
    replicable), keyword leg = whitespace token-set Jaccard (matches only),
    per-leg prefetch via TakeOrderedAndProject, RRF fusion k=60 with the
    keyword-present tie-break, final top-k with stable ranks. The oracle
    replays every stage in SQL."""
    from coco_search_spark.functions.embed import embed_expr
    from coco_search_spark.search import search_chunks

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    chunks = docs.select(
        F.col("doc_id").cast("string").alias("chunk_id"),
        # raw text as the token source — search_chunks lowercases and
        # splits exactly like the oracle's string_split_regex
        F.col("text").alias("tsv_input"),
        embed_expr(F.col("text")).alias("embedding"),
    )
    return search_chunks(chunks, SEARCH_QUERY, k=20).orderBy("search_rank")


REWRITE_QUERY = "payment gateway"


def q_kg_search_rewrite(spark, sf_dir):
    """Chunk search with the X7 query-rewrite bridge ON: the keyword leg
    matches the union of morphological variant tokens (snake/camel/Pascal/
    kebab — 'payment gateway' also matches stored 'paymentgateway'
    identifiers), the vector leg keeps the original query. The expansion
    is deterministic and computed driver-side, so the oracle replays the
    identical variant token set from the same literal."""
    from coco_search_spark.functions.embed import embed_expr
    from coco_search_spark.search import search_chunks

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    chunks = docs.select(
        F.col("doc_id").cast("string").alias("chunk_id"),
        F.col("text").alias("tsv_input"),
        embed_expr(F.col("text")).alias("embedding"),
    )
    return search_chunks(chunks, REWRITE_QUERY, k=20, rewrite=True).orderBy(
        "search_rank"
    )


# pre-prefetch filter + per-leg similarity floor for the filtered search
# query — chosen so the result DIFFERS from post-hoc filtering of the
# unfiltered search (test_search_filter_pushdown_changes_results asserts
# the difference), proving the filters sit AHEAD of the prefetches.
SEARCH_FILTER_SQL = "doc_id % 3 = 0"
SEARCH_MIN_SCORE = 0.02


def q_kg_search_filtered(spark, sf_dir):
    """Filtered hybrid search (reference rule: filters ahead of ranking —
    hybrid.py:515-552, query.py:479-509): a ``where`` predicate over the
    chunk store plus a per-leg ``min_score`` floor, both applied BEFORE
    the prefetch limits, so chunks the filter excludes never consume
    prefetch slots. The oracle bakes the same predicate into its source
    CTE and the same floor into both legs."""
    from coco_search_spark.functions.embed import embed_expr
    from coco_search_spark.search import search_chunks

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    chunks = docs.select(
        "doc_id",
        F.col("doc_id").cast("string").alias("chunk_id"),
        F.col("text").alias("tsv_input"),
        embed_expr(F.col("text")).alias("embedding"),
    )
    return search_chunks(
        chunks,
        SEARCH_QUERY,
        k=20,
        where=SEARCH_FILTER_SQL,
        min_score=SEARCH_MIN_SCORE,
    ).orderBy("search_rank")


def q_kg_search_context(spark, sf_dir):
    """Search-RESULT assembly (the reference's SearchResult — query.py:
    33-70 built at :419-437 + context_expander.py:302-411): the top-k
    hybrid hits joined back to their chunk content, with the neighbor-turn
    context window (±2 turns, 200 chars each) and BOF/EOF clip flags. The
    oracle replays search, assembly AND the windowed context expansion."""
    from coco_search_spark.functions.embed import embed_expr
    from coco_search_spark.search import search_results

    t = derived_transcripts(spark, sf_dir)
    chunks = t.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
            "chunk_id"
        ),
        "conv_id",
        "turn_idx",
        F.col("text").alias("tsv_input"),
        F.col("text").alias("seg_text"),
        embed_expr(F.col("text")).alias("embedding"),
    )
    return search_results(chunks, t, SEARCH_QUERY, k=15).orderBy("search_rank")


def _search_context_oracle(k: int = 15) -> str:
    hits = _search_chunks_oracle(
        k=k,
        src_sql=(
            "SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS chunk_id, text FROM t"
        ),
    )
    return f"""
WITH t AS ({DERIVED_TRANSCRIPTS_SQL}),
hits AS ({hits}),
ctx AS (
  SELECT conv_id, turn_idx, text,
         COALESCE(string_agg(substr(text, 1, 200), chr(10))
                  OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), '') AS ctx_before,
         COALESCE(string_agg(substr(text, 1, 200), chr(10))
                  OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), '') AS ctx_after,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 < 2 AS INT) AS is_bof,
         CAST(COUNT(*) OVER (PARTITION BY conv_id)
              - ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) < 2 AS INT) AS is_eof
  FROM t
)
SELECT h.chunk_id, c.conv_id, c.turn_idx, c.text AS content,
       c.ctx_before, c.ctx_after, c.is_bof, c.is_eof,
       h.vec_sim, h.kw_sim, h.rrf_score, h.match_type, h.search_rank
FROM hits h
JOIN ctx c ON h.chunk_id = c.conv_id || '#' || CAST(c.turn_idx AS VARCHAR)
ORDER BY h.search_rank
"""


def _emb_sql(s: str, dim: int = 64) -> str:
    return (
        f"list_transform(generate_series(1, {dim}), i -> "
        f"CAST(CAST(('0x' || substr(sha256({s}), ((i - 1) % 32) * 2 + 1, 2)) AS BIGINT) AS DOUBLE)"
        " / CAST(255.0 AS DOUBLE) * CAST(2.0 AS DOUBLE) - CAST(1.0 AS DOUBLE))"
    )


def _toks_sql(s: str) -> str:
    return (
        "list_distinct(list_filter("
        f"string_split_regex(lower({s}), '\\s+'), t -> t <> ''))"
    )


def _search_chunks_oracle(
    query: str = SEARCH_QUERY,
    dim: int = 64,
    k: int = 20,
    prefetch: int = 100,
    rrf_k: int = 60,
    kw_query: str | None = None,
    src_sql: str = "SELECT CAST(doc_id AS VARCHAR) AS chunk_id, text FROM documents",
    min_score: float | None = None,
) -> str:
    """SQL replay of the full hybrid-search operator. ``src_sql`` yields
    (chunk_id, text) — defaults to the documents table; pre-prefetch
    filters are baked into it (the filter-before-ranking rule the Spark
    side implements with ``where=``). ``min_score`` is the per-leg
    similarity floor, likewise applied BEFORE the prefetch limits."""
    kw = kw_query if kw_query is not None else query
    floor_v = f"WHERE vec_sim >= {min_score}" if min_score is not None else ""
    floor_k = f"AND kw_sim >= {min_score}" if min_score is not None else ""
    return f"""
WITH c AS (
  SELECT chunk_id, {_toks_sql('text')} AS tk, {_emb_sql('text', dim)} AS v
  FROM ({src_sql}) src
),
q AS (SELECT {_toks_sql(f"'{kw}'")} AS qt, {_emb_sql(f"'{query}'", dim)} AS qv),
scored AS (
  SELECT chunk_id,
         ROUND(list_cosine_similarity(v, qv), 6) AS vec_sim,
         ROUND(CASE WHEN len(list_distinct(list_concat(tk, qt))) = 0
               THEN CAST(0 AS DOUBLE)
               ELSE CAST(len(list_intersect(tk, qt)) AS DOUBLE)
                    / len(list_distinct(list_concat(tk, qt))) END, 6) AS kw_sim
  FROM c, q
),
leg_v AS (SELECT chunk_id, vec_sim,
                 ROW_NUMBER() OVER (ORDER BY vec_sim DESC, chunk_id) AS rank_v
          FROM (SELECT chunk_id, vec_sim FROM scored {floor_v}
                ORDER BY vec_sim DESC, chunk_id LIMIT {prefetch})),
leg_k AS (SELECT chunk_id, kw_sim,
                 ROW_NUMBER() OVER (ORDER BY kw_sim DESC, chunk_id) AS rank_k
          FROM (SELECT chunk_id, kw_sim FROM scored WHERE kw_sim > 0 {floor_k}
                ORDER BY kw_sim DESC, chunk_id LIMIT {prefetch})),
fused AS (
  SELECT COALESCE(a.chunk_id, b.chunk_id) AS chunk_id, a.vec_sim, b.kw_sim,
         ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({rrf_k} + a.rank_v), CAST(0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / ({rrf_k} + b.rank_k), CAST(0 AS DOUBLE)), 9) AS rrf_score,
         CASE WHEN a.chunk_id IS NOT NULL AND b.chunk_id IS NOT NULL THEN 'both'
              WHEN a.chunk_id IS NOT NULL THEN 'vector' ELSE 'keyword' END AS match_type,
         (b.rank_k IS NOT NULL) AS kw_present
  FROM leg_v a FULL OUTER JOIN leg_k b ON a.chunk_id = b.chunk_id)
SELECT chunk_id, vec_sim, kw_sim, rrf_score, match_type,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, kw_present DESC, chunk_id) AS INT) AS search_rank
FROM fused
ORDER BY search_rank
LIMIT {k}
"""


def q_graph_triangles(spark, sf_dir):
    """Triangle counts + local clustering coefficient (graph-cohesion
    analytics beyond the reference's surface, like PageRank) over a
    part-co-occurrence graph (parts ordered together in a deterministic
    order subset). The Spark side enumerates via degree-ordered wedges
    (the hub-safe plan); the oracle uses the naive a<b<c form — per-node
    triangle participation is enumeration-independent, so the values must
    match exactly."""
    from coco_search_spark.operators.graph import triangle_stats

    load_views(spark, sf_dir)
    li = (
        spark.table("lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").cast("string").alias("src"),
            F.col("y.l_partkey").cast("string").alias("dst"),
        )
        .distinct()
    )
    return triangle_stats(pairs).filter(F.col("triangles") > 0).orderBy("node")


ORACLE_GRAPH_TRIANGLES = """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 50 = 0),
p AS (SELECT DISTINCT CAST(x.l_partkey AS VARCHAR) AS s, CAST(y.l_partkey AS VARCHAR) AS d
      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM p WHERE s <> d),
deg AS (SELECT n, count(*) AS degree
        FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n),
t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
pn AS (SELECT n, count(*) AS triangles
       FROM (SELECT x AS n FROM t UNION ALL SELECT y AS n FROM t
             UNION ALL SELECT z AS n FROM t) GROUP BY n)
SELECT deg.n AS node, deg.degree,
       CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
       ROUND(CASE WHEN deg.degree < 2 THEN CAST(0 AS DOUBLE)
             ELSE CAST(2.0 AS DOUBLE) * COALESCE(pn.triangles, 0)
                  / (deg.degree * (deg.degree - 1.0)) END, 6) AS clustering_coeff
FROM deg LEFT JOIN pn ON deg.n = pn.n
WHERE COALESCE(pn.triangles, 0) > 0
ORDER BY node
"""


def q_kg_link_defboost(spark, sf_dir):
    """The block-WEIGHTED definition boost (X3 consumer, hybrid.py:419-481
    one notch further — the reference's handler registry distinguishes
    block kinds) through the driver gate: the catalog carries block_type,
    '%ache' aliases marked as fenced_code (weight 1.0 → the full ×2
    multiplier) and '%store' aliases as inline_tool_call (weight 0.5 →
    ×1.5), so the ranking must separate the two weight tiers — the oracle
    replays the identical weighted formula."""
    from coco_search_spark.operators.linking import link_surfaces

    surf, catalog = _surfaces_and_catalog(spark, sf_dir)
    catalog = catalog.withColumn(
        "block_type",
        F.when(F.col("alias").like("%ache"), "fenced_code")
        .when(F.col("alias").like("%store"), "inline_tool_call")
        .otherwise("prose"),
    )
    # mentions that exactly match NO alias ('<lang>_ref'): the definition
    # boost alone decides among the token-shared candidates
    mentions = (
        surf.filter(F.col("surface").like("%store"))
        .select(
            F.concat(
                F.split_part(F.col("surface"), F.lit("_"), F.lit(1)), F.lit("_ref")
            ).alias("mention")
        )
        .distinct()
    )
    return link_surfaces(mentions, catalog).orderBy("mention")


def q_kg_canonicalize(spark, sf_dir):
    """MinHash/LSH + connected-components canonicalization over mention
    surfaces, oracle-checked value for value: the signatures/bands use the
    portable md5 hash, pair verification is exact Jaccard, and the DuckDB
    oracle replays the same blocking + a recursive-CTE connected
    components. (The Spark normalizer's camelCase regex uses lookahead,
    which RE2 lacks; the derived-transcript surfaces are lowercase+digit
    snake forms, on which the oracle's lookahead-free pattern is
    equivalent.)"""
    from coco_search_spark.operators.canonicalize import canonicalize_surfaces
    from coco_search_spark.operators.extract import extract_mentions

    mentions = extract_mentions(_triples(spark, sf_dir))
    surfaces = mentions.select(F.col("mention").alias("surface")).distinct()
    return canonicalize_surfaces(surfaces).orderBy("surface")


def q_kg_pipeline_nodes(spark, sf_dir):
    """THE flagship end-to-end check: the real run_pipeline (one-scan
    extraction of triples+mentions+bindings → surface vocabulary → LSH/CC
    canonicalization with binding evidence → canonical edge resolution →
    degree aggregation with relation-free nodes) against a DuckDB oracle
    that independently replays the entire DAG in SQL (_nodes_oracle)."""
    from coco_search_spark.pipeline import run_pipeline

    t = derived_transcripts(spark, sf_dir)
    res = run_pipeline(spark, t)
    return res.nodes.select("entity_id", "out_degree", "in_degree").orderBy(
        "entity_id"
    )


def q_kg_pipeline_edges(spark, sf_dir):
    """resolve_edges through the driver gate: every edge row from the real
    pipeline with canonical endpoint ids AND raw surfaces — the oracle
    recomputes canonicalization and joins it onto the ground-truth
    occurrences."""
    from coco_search_spark.pipeline import run_pipeline

    t = derived_transcripts(spark, sf_dir)
    res = run_pipeline(spark, t)
    return res.edges.select(
        "conv_id", "turn_idx", "subj_id", "pred", "obj_id", "subj", "obj"
    ).orderBy("conv_id", "turn_idx", "subj_id", "pred", "obj_id")


def _edges_oracle() -> str:
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
)
SELECT occ.conv_id, occ.turn_idx, cs.canon_id AS subj_id, occ.pred,
       co.canon_id AS obj_id, occ.subj, occ.obj
FROM occ
JOIN canon cs ON cs.surface = occ.subj
JOIN canon co ON co.surface = occ.obj
ORDER BY conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


_DELTA_CONVS = ("conv-0", "conv-10", "conv-20", "conv-30", "conv-40")


def q_kg_edge_delta(spark, sf_dir):
    """Edge-delta materialization (round 5, VERDICT r4 #3) through the
    driver gate: run 1 indexes the derived corpus into a state dir; run 2
    sees five conversations grown by a turn COPIED verbatim from conv-1
    turn 0 — vocabulary-preserving by construction, so the persisted
    link-map diff finds zero moved surfaces and exactly those five
    conversations are rewritten into a v2 delta part (pipeline.py edge
    sink). Output = the RESOLVED edge table (per-conversation ``edges_wv``
    pointers across both parts, StateStore.read_table) plus each row's
    part-of-origin and the part count. The oracle recomputes the full edge
    table over the grown corpus and derives origin/parts from the conv-id
    rule — value-checking BOTH claims at once: delta resolution equals a
    full recompute, and the delta path actually ran (2 parts, not a full
    rewrite). Reference analog: the incremental re-index flow
    (reference: src/cocosearch/indexer/flow.py:343-361) re-resolves
    everything; this is the O(delta) sink SCALE.md claims."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_edge_delta_")
    try:
        run_pipeline(spark, base, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        donor = base.filter(
            (F.col("conv_id") == "conv-1") & (F.col("turn_idx") == 0)
        ).drop("conv_id", "turn_idx")
        grown = base.unionByName(
            donor.crossJoin(
                spark.createDataFrame([(c,) for c in _DELTA_CONVS], "conv_id string")
            ).withColumn("turn_idx", F.lit(900))
        )
        run_pipeline(spark, grown, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        store = StateStore(f"{tmp}/state")
        n_parts = len(store.table_parts("edges"))
        wv = store.read(spark).select("conv_id", "edges_wv")
        return (
            store.read_table(spark, "edges")
            .join(wv, "conv_id")
            .select(
                "conv_id",
                "turn_idx",
                "subj_id",
                "pred",
                "obj_id",
                "subj",
                "obj",
                F.when(F.col("edges_wv") == 2, "delta")
                .otherwise("base")
                .alias("origin"),
                F.lit(n_parts).cast("int").alias("n_parts"),
            )
            .orderBy("conv_id", "turn_idx", "subj_id", "pred", "obj_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _edge_delta_oracle() -> str:
    """Full-recompute oracle over the grown corpus: occurrences plus the
    copied turn's occurrences re-keyed to the five grown conversations;
    origin/parts derive from the conv-id rule (the grown conversations are
    exactly the content-dirty set, and zero moved surfaces means the delta
    path appends one part to the cold part)."""
    delta_list = ", ".join(f"'{c}'" for c in _DELTA_CONVS)
    values = ", ".join(f"('{c}')" for c in _DELTA_CONVS)
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
),
occ2 AS (
  SELECT * FROM occ
  UNION ALL
  SELECT v.cid, 900, occ.subj, occ.pred, occ.obj
  FROM occ CROSS JOIN (VALUES {values}) v(cid)
  WHERE occ.conv_id = 'conv-1' AND occ.turn_idx = 0
)
SELECT occ2.conv_id, occ2.turn_idx, cs.canon_id AS subj_id, occ2.pred,
       co.canon_id AS obj_id, occ2.subj, occ2.obj,
       CASE WHEN occ2.conv_id IN ({delta_list}) THEN 'delta' ELSE 'base' END
         AS origin,
       CAST(2 AS INT) AS n_parts
FROM occ2
JOIN canon cs ON cs.surface = occ2.subj
JOIN canon co ON co.surface = occ2.obj
ORDER BY conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


def q_kg_upsert(spark, sf_dir):
    """Upsert-only mode (round 5 late — the streaming-indexer batch
    contract) through the driver gate: run 1 indexes the derived corpus;
    run 2 delivers a PARTIAL input holding only the five grown
    conversations (their full turn sets + the copied turn — the
    kg_edge_delta edit re-expressed as a micro-batch). With
    ``upsert_only=True`` the 45 absent conversations are CARRIED, never
    read as deletions, and the dirty five delta-write exactly as a
    full-corpus incremental run would. Output = the resolved edge table
    plus the receipt (origin part, carried-conversation count, part
    count). The oracle recomputes the full grown-corpus edge table and
    pins the receipt — value-checking that a partial input produces the
    same store a full input does. Reference analog: none (the reference
    must always be pointed at the full tree; flow.py:343-361 diffs
    presence, so a partial input would delete)."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_upsert_")
    try:
        run_pipeline(spark, base, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        donor = base.filter(
            (F.col("conv_id") == "conv-1") & (F.col("turn_idx") == 0)
        ).drop("conv_id", "turn_idx")
        batch = base.filter(F.col("conv_id").isin(list(_DELTA_CONVS))).unionByName(
            donor.crossJoin(
                spark.createDataFrame([(c,) for c in _DELTA_CONVS], "conv_id string")
            ).withColumn("turn_idx", F.lit(900))
        )
        r = run_pipeline(
            spark,
            batch,
            out_dir=f"{tmp}/out",
            state_dir=f"{tmp}/state",
            upsert_only=True,
        )
        store = StateStore(f"{tmp}/state")
        n_parts = len(store.table_parts("edges"))
        wv = store.read(spark).select("conv_id", "edges_wv")
        return (
            store.read_table(spark, "edges")
            .join(wv, "conv_id")
            .select(
                "conv_id",
                "turn_idx",
                "subj_id",
                "pred",
                "obj_id",
                "subj",
                "obj",
                F.when(F.col("edges_wv") == 2, "delta")
                .otherwise("base")
                .alias("origin"),
                F.lit(int(r.metrics["n_unchanged_convs"]))
                .cast("int")
                .alias("n_carried"),
                F.lit(n_parts).cast("int").alias("n_parts"),
            )
            .orderBy("conv_id", "turn_idx", "subj_id", "pred", "obj_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _upsert_oracle() -> str:
    """Same grown-corpus recompute as kg_edge_delta's oracle; the receipt
    pins 45 carried (absent, non-deleted) conversations and the two-part
    delta layout — a partial input must produce the full-input store."""
    delta_list = ", ".join(f"'{c}'" for c in _DELTA_CONVS)
    values = ", ".join(f"('{c}')" for c in _DELTA_CONVS)
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
),
occ2 AS (
  SELECT * FROM occ
  UNION ALL
  SELECT v.cid, 900, occ.subj, occ.pred, occ.obj
  FROM occ CROSS JOIN (VALUES {values}) v(cid)
  WHERE occ.conv_id = 'conv-1' AND occ.turn_idx = 0
)
SELECT occ2.conv_id, occ2.turn_idx, cs.canon_id AS subj_id, occ2.pred,
       co.canon_id AS obj_id, occ2.subj, occ2.obj,
       CASE WHEN occ2.conv_id IN ({delta_list}) THEN 'delta' ELSE 'base' END
         AS origin,
       CAST(45 AS INT) AS n_carried, CAST(2 AS INT) AS n_parts
FROM occ2
JOIN canon cs ON cs.surface = occ2.subj
JOIN canon co ON co.surface = occ2.obj
ORDER BY conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


def q_kg_delete(spark, sf_dir):
    """Targeted deletion (round 5 late — the reference's delete verb,
    reference: src/cocosearch/management/delete.py, at engine granularity)
    through the driver gate: index the derived corpus, then
    ``StateStore.delete_convs`` removes five conversations as a
    pointer-level snapshot (state rows dropped, zero data files touched).
    Output = the resolved edge table AFTER the delete plus the receipt
    (removed count, commit stage). The oracle recomputes the edge table
    over the corpus EXCLUDING those conversations and pins the receipt —
    value-checking that pointer-level deletion equals physical removal."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_delete_")
    try:
        run_pipeline(spark, base, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        store = StateStore(f"{tmp}/state")
        receipt = store.delete_convs(spark, list(_DELTA_CONVS))
        return (
            store.read_table(spark, "edges")
            .select(
                "conv_id",
                "turn_idx",
                "subj_id",
                "pred",
                "obj_id",
                "subj",
                "obj",
                F.lit(int(receipt["n_removed"])).cast("int").alias("n_removed"),
                F.lit(store.last_snapshot()["stage"]).alias("stage"),
            )
            .orderBy("conv_id", "turn_idx", "subj_id", "pred", "obj_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _delete_oracle() -> str:
    """Edge recompute over the corpus minus the deleted conversations;
    the receipt pins 5 removed via a 'delete' commit."""
    delta_list = ", ".join(f"'{c}'" for c in _DELTA_CONVS)
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
)
SELECT occ.conv_id, occ.turn_idx, cs.canon_id AS subj_id, occ.pred,
       co.canon_id AS obj_id, occ.subj, occ.obj,
       CAST(5 AS INT) AS n_removed, 'delete' AS stage
FROM occ
JOIN canon cs ON cs.surface = occ.subj
JOIN canon co ON co.surface = occ.obj
WHERE occ.conv_id NOT IN ({delta_list})
ORDER BY conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


def q_kg_compact(spark, sf_dir):
    """Explicit store compaction (round 5, Iceberg ``rewrite_data_files``
    analog — reference twin: none; its per-file tables never fragment)
    through the driver gate: run 1 indexes the derived corpus, run 2 grows
    five conversations (the kg_edge_delta edit — vocabulary-preserving, so
    facts/chunks/edges all gain a v2 delta part), then ``StateStore.
    compact`` folds every table back to ONE part in a new snapshot. Output
    = the RESOLVED edge table AFTER compaction plus the receipt (parts
    before/after, committed stage). The oracle recomputes the full edge
    table over the grown corpus and pins the receipt literals — value-
    checking both claims: compaction preserved content exactly, and it
    actually folded 2 parts into 1 via a 'compact' commit."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_compact_")
    try:
        run_pipeline(spark, base, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        donor = base.filter(
            (F.col("conv_id") == "conv-1") & (F.col("turn_idx") == 0)
        ).drop("conv_id", "turn_idx")
        grown = base.unionByName(
            donor.crossJoin(
                spark.createDataFrame([(c,) for c in _DELTA_CONVS], "conv_id string")
            ).withColumn("turn_idx", F.lit(900))
        )
        run_pipeline(spark, grown, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        store = StateStore(f"{tmp}/state")
        n_before = len(store.table_parts("edges"))
        receipt = store.compact(spark, f"{tmp}/out")
        n_after = len(store.table_parts("edges"))
        return (
            store.read_table(spark, "edges")
            .select(
                "conv_id",
                "turn_idx",
                "subj_id",
                "pred",
                "obj_id",
                "subj",
                "obj",
                F.lit(n_before).cast("int").alias("n_parts_before"),
                F.lit(n_after).cast("int").alias("n_parts_after"),
                F.lit(store.last_snapshot()["stage"]).alias("stage"),
                F.lit(len(receipt["compacted"])).cast("int").alias("n_compacted"),
            )
            .orderBy("conv_id", "turn_idx", "subj_id", "pred", "obj_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _compact_oracle() -> str:
    """Full-recompute oracle over the grown corpus (same derivation as
    kg_edge_delta's); the receipt literals pin that compaction folded the
    two-part table into one via a 'compact' commit covering all three
    delta-written tables."""
    values = ", ".join(f"('{c}')" for c in _DELTA_CONVS)
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
),
occ2 AS (
  SELECT * FROM occ
  UNION ALL
  SELECT v.cid, 900, occ.subj, occ.pred, occ.obj
  FROM occ CROSS JOIN (VALUES {values}) v(cid)
  WHERE occ.conv_id = 'conv-1' AND occ.turn_idx = 0
)
SELECT occ2.conv_id, occ2.turn_idx, cs.canon_id AS subj_id, occ2.pred,
       co.canon_id AS obj_id, occ2.subj, occ2.obj,
       CAST(2 AS INT) AS n_parts_before, CAST(1 AS INT) AS n_parts_after,
       'compact' AS stage, CAST(3 AS INT) AS n_compacted
FROM occ2
JOIN canon cs ON cs.surface = occ2.subj
JOIN canon co ON co.surface = occ2.obj
ORDER BY conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


def q_kg_time_travel(spark, sf_dir):
    """Snapshot history + time travel (round 5) through the driver gate:
    run 1 indexes the derived corpus; run 2 grows five conversations by a
    turn copied verbatim from conv-1 turn 0 (the kg_edge_delta corpus, so
    run 2 exercises the REAL delta path — two edge parts, not a rewrite).
    Output = the edge table read AS OF snapshot v1
    (``StateStore.read_table(version=1)``) unioned with the current table,
    tagged per snapshot, plus the history length from
    ``StateStore.snapshots()``. The oracle recomputes the v1 rows from the
    BASE corpus and the v2 rows from the grown corpus independently —
    value-checking that time travel reproduces the pre-edit table exactly
    even though the store has since delta-written a v2 part on top of it
    (the Iceberg snapshot-log/as-of-read analog; reference twin: the
    per-commit tracking rows, flow.py:436-448, which the reference can
    only replay forward)."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_time_travel_")
    try:
        run_pipeline(spark, base, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        donor = base.filter(
            (F.col("conv_id") == "conv-1") & (F.col("turn_idx") == 0)
        ).drop("conv_id", "turn_idx")
        grown = base.unionByName(
            donor.crossJoin(
                spark.createDataFrame([(c,) for c in _DELTA_CONVS], "conv_id string")
            ).withColumn("turn_idx", F.lit(900))
        )
        run_pipeline(spark, grown, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        store = StateStore(f"{tmp}/state")
        n_snapshots = len(store.snapshots())
        cols = ["conv_id", "turn_idx", "subj_id", "pred", "obj_id", "subj", "obj"]
        v1 = store.read_table(spark, "edges", version=1).select(
            *cols, F.lit("v1").alias("as_of")
        )
        v2 = store.read_table(spark, "edges").select(
            *cols, F.lit("v2").alias("as_of")
        )
        return (
            v1.unionByName(v2)
            .withColumn("n_snapshots", F.lit(n_snapshots).cast("int"))
            .orderBy("as_of", "conv_id", "turn_idx", "subj_id", "pred", "obj_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _time_travel_oracle() -> str:
    """Independent recompute of BOTH snapshots' edge tables: v1 from the
    base occurrences, v2 from the grown ones (same vocabulary by
    construction — the grown turn is copied verbatim — so one canon CTE
    serves both). History length is pinned to 2: exactly two commits."""
    values = ", ".join(f"('{c}')" for c in _DELTA_CONVS)
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
),
snap AS (
  SELECT *, 'v1' AS as_of FROM occ
  UNION ALL
  SELECT *, 'v2' AS as_of FROM occ
  UNION ALL
  SELECT v.cid, 900, occ.subj, occ.pred, occ.obj, 'v2'
  FROM occ CROSS JOIN (VALUES {values}) v(cid)
  WHERE occ.conv_id = 'conv-1' AND occ.turn_idx = 0
)
SELECT snap.conv_id, snap.turn_idx, cs.canon_id AS subj_id, snap.pred,
       co.canon_id AS obj_id, snap.subj, snap.obj, snap.as_of,
       CAST(2 AS INT) AS n_snapshots
FROM snap
JOIN canon cs ON cs.surface = snap.subj
JOIN canon co ON co.surface = snap.obj
ORDER BY as_of, conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


def q_kg_rollback(spark, sf_dir):
    """Snapshot rollback (round 5 — ``StateStore.rollback``, the Iceberg
    rollback_to_snapshot analog; the reference has no revert at all — a bad
    ingest must be deleted and re-run, management/delete.py) through the
    driver gate: run 1 indexes the derived corpus, run 2 grows five
    conversations by a donor turn (the real delta path — two edge parts),
    then the store is rolled back to snapshot v1. Output = the CURRENT
    edge table after rollback — value-checked to be exactly the pre-growth
    table — plus receipt columns: the history is now THREE commits
    (rollback never rewrites history), the head commit's stage is
    ``rollback``, and its provenance records 2 → 1. The oracle recomputes
    the v1 table from the base corpus; any turn-900 row leaking through
    (a partial revert) is a hash mismatch."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_rollback_")
    try:
        run_pipeline(spark, base, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        donor = base.filter(
            (F.col("conv_id") == "conv-1") & (F.col("turn_idx") == 0)
        ).drop("conv_id", "turn_idx")
        grown = base.unionByName(
            donor.crossJoin(
                spark.createDataFrame([(c,) for c in _DELTA_CONVS], "conv_id string")
            ).withColumn("turn_idx", F.lit(900))
        )
        run_pipeline(spark, grown, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        store = StateStore(f"{tmp}/state")
        head = store.rollback(1)
        n_snapshots = len(store.snapshots())
        return (
            store.read_table(spark, "edges")
            .select(
                "conv_id",
                "turn_idx",
                "subj_id",
                "pred",
                "obj_id",
                "subj",
                "obj",
                F.lit(n_snapshots).cast("int").alias("n_snapshots"),
                F.lit(head["stage"]).alias("head_stage"),
                F.lit(head["rolled_back_to"]).cast("int").alias("rolled_back_to"),
                F.lit(head["rolled_back_from"]).cast("int").alias("rolled_back_from"),
            )
            .orderBy("conv_id", "turn_idx", "subj_id", "pred", "obj_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _rollback_oracle() -> str:
    """Independent recompute of the PRE-GROWTH (v1) edge table from the
    base corpus — the state the rollback must restore exactly. Receipt
    literals pinned: 3 commits in history, head stage 'rollback', 2 → 1."""
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
)
SELECT occ.conv_id, occ.turn_idx, cs.canon_id AS subj_id, occ.pred,
       co.canon_id AS obj_id, occ.subj, occ.obj,
       CAST(3 AS INT) AS n_snapshots, 'rollback' AS head_stage,
       CAST(1 AS INT) AS rolled_back_to, CAST(2 AS INT) AS rolled_back_from
FROM occ
JOIN canon cs ON cs.surface = occ.subj
JOIN canon co ON co.surface = occ.obj
ORDER BY conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


def q_kg_branch_wap(spark, sf_dir):
    """Branch refs + write-audit-publish (round 5 late —
    ``StateStore.create_branch``/``publish`` + ``run_pipeline(branch=)``,
    the Iceberg branch / ``spark.wap.branch`` / ``fast_forward`` analog;
    the reference has ONE mutable index per store and no staging at all —
    a bad ingest lands directly in the serving tables) through the driver
    gate: run 1 indexes the derived corpus on main; a branch ``audit`` is
    forked and run 2 grows five conversations ON THE BRANCH (the real
    delta path — the branch run resumes incrementally from the branch
    head). Output = three reads of the edge table stacked with a ``leg``
    tag: ``main_pre`` (main AFTER the branch run — must still be the base
    corpus: isolation), ``staged`` (as-of read by branch name — the grown
    corpus), and ``published`` (main after ``publish`` fast-forwards the
    pointer — identical to staged). Receipt columns pin the branch head at
    v2 and main's pre-publish history at exactly 1 commit. The oracle
    recomputes base ∪ grown ∪ grown independently — a single base-corpus
    row leaking into ``published``, or a grown row into ``main_pre``,
    is a hash mismatch."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_branch_wap_")
    try:
        run_pipeline(spark, base, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        store = StateStore(f"{tmp}/state")
        store.create_branch("audit")
        donor = base.filter(
            (F.col("conv_id") == "conv-1") & (F.col("turn_idx") == 0)
        ).drop("conv_id", "turn_idx")
        grown = base.unionByName(
            donor.crossJoin(
                spark.createDataFrame([(c,) for c in _DELTA_CONVS], "conv_id string")
            ).withColumn("turn_idx", F.lit(900))
        )
        run_pipeline(
            spark, grown, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state",
            branch="audit",
        )
        n_main_pre = len(store.snapshots())
        head_v = store.branches()["audit"]["version"]
        cols = ["conv_id", "turn_idx", "subj_id", "pred", "obj_id", "subj", "obj"]
        main_pre = store.read_table(spark, "edges").select(
            *cols, F.lit("main_pre").alias("leg")
        )
        staged = store.read_table(spark, "edges", version="audit").select(
            *cols, F.lit("staged").alias("leg")
        )
        store.publish("audit")
        published = store.read_table(spark, "edges").select(
            *cols, F.lit("published").alias("leg")
        )
        return (
            main_pre.unionByName(staged)
            .unionByName(published)
            .withColumn("branch_head", F.lit(head_v).cast("int"))
            .withColumn("n_main_pre", F.lit(n_main_pre).cast("int"))
            .orderBy("leg", "conv_id", "turn_idx", "subj_id", "pred", "obj_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _branch_wap_oracle() -> str:
    """Independent recompute of all three legs: ``main_pre`` from the base
    occurrences, ``staged`` and ``published`` from the grown ones (one
    canon CTE serves all — the grown turn is copied verbatim). Receipt
    literals pinned: branch head v2, one main commit pre-publish."""
    values = ", ".join(f"('{c}')" for c in _DELTA_CONVS)
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
),
grown AS (
  SELECT * FROM occ
  UNION ALL
  SELECT v.cid, 900, occ.subj, occ.pred, occ.obj
  FROM occ CROSS JOIN (VALUES {values}) v(cid)
  WHERE occ.conv_id = 'conv-1' AND occ.turn_idx = 0
),
legs AS (
  SELECT *, 'main_pre' AS leg FROM occ
  UNION ALL
  SELECT *, 'staged' AS leg FROM grown
  UNION ALL
  SELECT *, 'published' AS leg FROM grown
)
SELECT legs.conv_id, legs.turn_idx, cs.canon_id AS subj_id, legs.pred,
       co.canon_id AS obj_id, legs.subj, legs.obj, legs.leg,
       CAST(2 AS INT) AS branch_head, CAST(1 AS INT) AS n_main_pre
FROM legs
JOIN canon cs ON cs.surface = legs.subj
JOIN canon co ON co.surface = legs.obj
ORDER BY leg, conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


# v2 corpus for kg_snapshot_diff: keeps the donor turn in conv-0/conv-10
# (pointer-equal → pruned from the diff), drops it from conv-20/30/40
# (deletes), adds it to conv-5/conv-15 (inserts)
_DIFF_V2_CONVS = ("conv-0", "conv-10", "conv-5", "conv-15")


def q_kg_snapshot_diff(spark, sf_dir):
    """Snapshot CDC changelog (round 5 — ``StateStore.diff_table``, the
    Iceberg changelog-read / create_changelog_view analog; the reference's
    tracking table, flow.py:436-448, can only be replayed forward, never
    diffed between two arbitrary commits) through the driver gate: run 1
    grows five conversations by a turn copied verbatim from conv-1 turn 0;
    run 2 keeps the copy in two of them, drops it from three, and adds it
    to two fresh ones — vocabulary-preserving throughout, so run 2 takes
    the real edge-delta path. Output = ``diff_table("edges", v_from=1)``:
    the turn-900 edge set appears as ``insert`` rows for the two new hosts
    and ``delete`` rows for the three that lost it, nothing else. The
    receipt column pins ``changed_convs`` to exactly 5 — the 45 other
    conversations are pointer-equal in both snapshots and were pruned
    without reading a single edge row (the O(delta) claim). The oracle
    recomputes the donor edge set from the corpus and cross-joins it with
    the literal (conv, change) plan."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_snapshot_diff_")
    try:
        donor = base.filter(
            (F.col("conv_id") == "conv-1") & (F.col("turn_idx") == 0)
        ).drop("conv_id", "turn_idx")

        def grow(convs):
            return base.unionByName(
                donor.crossJoin(
                    spark.createDataFrame([(c,) for c in convs], "conv_id string")
                ).withColumn("turn_idx", F.lit(900))
            )

        run_pipeline(
            spark, grow(_DELTA_CONVS), out_dir=f"{tmp}/out", state_dir=f"{tmp}/state"
        )
        run_pipeline(
            spark, grow(_DIFF_V2_CONVS), out_dir=f"{tmp}/out", state_dir=f"{tmp}/state"
        )
        store = StateStore(f"{tmp}/state")
        n_changed = store.changed_convs(spark, "edges", 1, 2).count()
        return (
            store.diff_table(spark, "edges", v_from=1)
            .select(
                "conv_id",
                "turn_idx",
                "subj_id",
                "pred",
                "obj_id",
                "subj",
                "obj",
                "change",
                F.lit(n_changed).cast("int").alias("n_changed_convs"),
            )
            .orderBy("change", "conv_id", "turn_idx", "subj_id", "pred", "obj_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _snapshot_diff_oracle() -> str:
    """Independent recompute: the donor (conv-1 turn 0) edge set, canon-
    resolved from the corpus, cross-joined with the literal change plan.
    changed_convs pinned to 5 (2 inserts + 3 deletes; every pointer-equal
    conversation pruned)."""
    plan = ", ".join(
        f"('{c}', '{chg}')"
        for c, chg in (
            ("conv-5", "insert"),
            ("conv-15", "insert"),
            ("conv-20", "delete"),
            ("conv-30", "delete"),
            ("conv-40", "delete"),
        )
    )
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
)
SELECT v.cid AS conv_id, 900 AS turn_idx, cs.canon_id AS subj_id, occ.pred,
       co.canon_id AS obj_id, occ.subj, occ.obj, v.chg AS change,
       CAST(5 AS INT) AS n_changed_convs
FROM occ
JOIN canon cs ON cs.surface = occ.subj
JOIN canon co ON co.surface = occ.obj
CROSS JOIN (VALUES {plan}) v(cid, chg)
WHERE occ.conv_id = 'conv-1' AND occ.turn_idx = 0
ORDER BY change, conv_id, turn_idx, subj_id, pred, obj_id
"""
    )


def q_kg_scan_prune(spark, sf_dir):
    """Input-manifest scan pruning (round 5, VERDICT r4 #2) through the
    driver gate: the derived corpus lands on disk as 8 bucket files
    (conversation number % 8 — fixture-sized, so the driver-side write is
    a few thousand rows), run 1 indexes cold, bucket file 0 is then
    rewritten with ' zzz patched' appended to every text, and run 2
    re-indexes. The pruned warm run re-reads ONE file of 8
    (operators/scan_pruning.py); every other conversation carries its
    stored content hash forward. Output = the state table after run 2
    (content hash, rows, version pointer) plus the scan receipt. The
    oracle recomputes EVERY hash from the patched corpus in DuckDB — a
    carried hash that drifted from the true content identity fails the
    value check — and pins the receipt literals (1 of 8) so the pruned
    path, not the full-scan fallback, is what passed. Reference analog:
    the tracking-table diff (flow.py:343-361), one level coarser than
    re-hashing content."""
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    rows = base.collect()  # fixture-sized (≤ a few thousand turns)
    tmp = tempfile.mkdtemp(prefix="coco_scan_prune_")
    corpus = os.path.join(tmp, "corpus")
    os.makedirs(corpus)

    def _bucket_table(bucket: int, patch: bool) -> pa.Table:
        sel = [r for r in rows if int(r["conv_id"][5:]) % 8 == bucket]
        return pa.table(
            {
                "conv_id": pa.array([r["conv_id"] for r in sel], pa.string()),
                "turn_idx": pa.array([r["turn_idx"] for r in sel], pa.int32()),
                "role": pa.array([r["role"] for r in sel], pa.string()),
                "text": pa.array(
                    [r["text"] + " zzz patched" if patch else r["text"] for r in sel],
                    pa.string(),
                ),
                "tool": pa.array([r["tool"] for r in sel], pa.string()),
            }
        )

    try:
        for b in range(8):
            pq.write_table(_bucket_table(b, False), os.path.join(corpus, f"b{b}.parquet"))
        run_pipeline(
            spark,
            spark.read.parquet(corpus),
            out_dir=f"{tmp}/out",
            state_dir=f"{tmp}/state",
        )
        pq.write_table(_bucket_table(0, True), os.path.join(corpus, "b0.parquet"))
        res = run_pipeline(
            spark,
            spark.read.parquet(corpus),
            out_dir=f"{tmp}/out",
            state_dir=f"{tmp}/state",
        )
        return (
            StateStore(f"{tmp}/state")
            .read(spark)
            .select(
                "conv_id",
                "content_hash",
                "rows_in",
                F.col("errors").cast("bigint").alias("errors"),
                "written_version",
                F.lit(res.metrics["n_files_scanned"]).cast("bigint").alias("n_files_scanned"),
                F.lit(res.metrics["n_files_total"]).cast("bigint").alias("n_files_total"),
            )
            .orderBy("conv_id")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _scan_prune_oracle() -> str:
    return f"""WITH t AS ({DERIVED_TRANSCRIPTS_SQL}),
p AS (
  SELECT conv_id, turn_idx,
         CASE WHEN CAST(substr(conv_id, 6) AS INT) % 8 = 0
              THEN text || ' zzz patched' ELSE text END AS text
  FROM t
)
SELECT conv_id,
       sha256(string_agg(sha256(text), '' ORDER BY turn_idx)) AS content_hash,
       COUNT(*) AS rows_in,
       CAST(0 AS BIGINT) AS errors,
       CAST(CASE WHEN CAST(substr(conv_id, 6) AS INT) % 8 = 0 THEN 2 ELSE 1 END
            AS BIGINT) AS written_version,
       CAST(1 AS BIGINT) AS n_files_scanned,
       CAST(8 AS BIGINT) AS n_files_total
FROM p GROUP BY conv_id ORDER BY conv_id
"""


def q_kg_vocab_delta(spark, sf_dir):
    """Refcounted vocabulary maintenance (round 5 late, vocab_state.py)
    through the driver gate: run 1 indexes the derived corpus cold
    (seeding the per-key conversation refcounts); run 2 sees three
    conversations grown by a turn introducing two NEW surfaces
    (vocabdelta_svc calls vocabdelta_store) — the warm run maintains the
    vocabulary arithmetically (old − replaced conversations' previous
    contributions + their new ones; the indexed facts fetch supplies the
    subtraction) instead of re-scanning the corpus union. Output = the
    persisted vocabulary table (vkind ∈ surf/bind/ment, key, refcount)
    plus the vocab_mode receipt. The oracle recomputes every refcount from
    the grown corpus in DuckDB (count of conversations per distinct key)
    and pins vocab_mode='delta' — so a silent fallback to the full
    recompute, or any drifted count, fails the value check. Reference
    analog: the re-resolve-all flow (flow.py:343-361) rebuilds these sets
    every run; the maintained table satisfies it vacuously."""
    import shutil
    import tempfile

    from coco_search_spark.pipeline import run_pipeline
    from coco_search_spark.state import StateStore

    base = derived_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="coco_vocab_delta_")
    try:
        run_pipeline(spark, base, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        donor = base.filter(
            (F.col("conv_id") == "conv-1") & (F.col("turn_idx") == 0)
        ).drop("conv_id", "turn_idx")
        grown = base.unionByName(
            donor.crossJoin(
                spark.createDataFrame(
                    [("conv-2",), ("conv-4",), ("conv-6",)], "conv_id string"
                )
            )
            .withColumn("turn_idx", F.lit(901))
            .withColumn("text", F.lit("vocabdelta_svc calls vocabdelta_store ."))
        )
        res = run_pipeline(spark, grown, out_dir=f"{tmp}/out", state_dir=f"{tmp}/state")
        snap = StateStore(f"{tmp}/state").last_snapshot()
        return (
            spark.read.parquet(snap["vocab_path"])
            .select(
                "vkind",
                "k1",
                "k2",
                "cnt",
                F.lit(res.metrics["vocab_mode"]).alias("vocab_mode"),
            )
            .orderBy("vkind", "k1", "k2")
            # materialize before the temp state dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _vocab_delta_oracle() -> str:
    """Full refcount recompute over the grown corpus: per-conversation
    DISTINCT keys per family (triple endpoints, standalone mentions,
    binding pairs and their sides), counted across conversations. The
    pinned vocab_mode='delta' makes the receipt part of the value check."""
    return f"""WITH gt AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         source || '_svc' AS subj, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), source || '_svc', lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
  UNION ALL
  SELECT v.cid, 'vocabdelta_svc', 'vocabdelta_store'
  FROM (VALUES ('conv-2'), ('conv-4'), ('conv-6')) v(cid)
),
ment AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN source || '_cli'
              ELSE lang || '_probe' END AS mention
  FROM documents
),
bind AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         lang || '_store' AS target, lang || '_al' AS alias
  FROM documents WHERE {_FORM_KEY} = 0 AND CAST(doc_id % 2 AS INT) = 1
),
keys AS (
  SELECT conv_id, 'surf' AS vkind, subj AS k1, '' AS k2 FROM gt
  UNION SELECT conv_id, 'surf', obj, '' FROM gt
  UNION SELECT conv_id, 'surf', mention, '' FROM ment
  UNION SELECT conv_id, 'ment', mention, '' FROM ment
  UNION SELECT conv_id, 'surf', target, '' FROM bind
  UNION SELECT conv_id, 'surf', alias, '' FROM bind
  UNION SELECT conv_id, 'bind', target, alias FROM bind
)
SELECT vkind, k1, k2, COUNT(*) AS cnt, 'delta' AS vocab_mode
FROM keys GROUP BY vkind, k1, k2 ORDER BY vkind, k1, k2
"""


def q_kg_alias_bindings(spark, sf_dir):
    """X2b through the driver gate: in-text alias bindings
    ('X <phrase> TARGET as ALIAS' — the aliased-import analog,
    deps/extractors/python.py aliased-import rules) extracted from the
    derived transcripts, which bind an alias on every other active-form
    row."""
    from coco_search_spark.operators.extract import extract_alias_bindings

    segs = segment_turns(derived_transcripts(spark, sf_dir))
    return extract_alias_bindings(segs).orderBy(
        "conv_id", "turn_idx", "target", "alias"
    )


ORACLE_ALIAS_BINDINGS = f"""
SELECT 'conv-' || (doc_id % 50) AS conv_id,
       CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
       lang || '_store' AS target,
       lang || '_al' AS alias
FROM documents
WHERE {_FORM_KEY} = 0 AND CAST(doc_id % 2 AS INT) = 1
ORDER BY conv_id, turn_idx, target, alias
"""


def q_kg_canonicalize_bindings(spark, sf_dir):
    """Canonicalization WITH in-text alias-binding evidence (the
    extra_edges path, previously pytest-only): binding aliases join the
    surface set and their edges merge clusters that share no shingles or
    tokens — the oracle replays the whole thing including the binding
    edges in its recursive-CTE connected components."""
    from coco_search_spark.operators.canonicalize import canonicalize_surfaces
    from coco_search_spark.operators.extract import (
        extract_alias_bindings,
        extract_mentions,
    )

    segs = segment_turns(derived_transcripts(spark, sf_dir))
    mentions = extract_mentions(_triples(spark, sf_dir))
    b = extract_alias_bindings(segs)
    surfaces = (
        mentions.select(F.col("mention").alias("surface"))
        .unionByName(b.select(F.col("target").alias("surface")))
        .unionByName(b.select(F.col("alias").alias("surface")))
        .distinct()
    )
    extra = b.select(F.col("target").alias("a"), F.col("alias").alias("b"))
    return canonicalize_surfaces(surfaces, extra_edges=extra).orderBy("surface")


def _link_mentions_oracle(
    dim: int = 64,
    rrf_k: int = 60,
    top_n: int = 1,
    def_cases: tuple = (),
    analyze: bool = False,
    min_score: float = 0.0,
) -> str:
    """DuckDB replica of the full hybrid-RRF linking pipeline in
    q_kg_link_mentions: shared-token candidate generation, double-precision
    sha256-byte embedding cosine (vector leg), token-set Jaccard (keyword
    leg), per-leg ranks, RRF fusion, exact-norm boost, deterministic
    ranking; top_n=1 is the best-link form, top_n>1 the resolve_many form
    (link_rank exposed). All float literals are cast to DOUBLE (DuckDB
    parses bare 1.0 as DECIMAL, whose arithmetic would diverge from Spark's
    doubles)."""
    norm = _NORM_SQL
    emb_v = (
        f"list_transform(generate_series(1, {dim}), i -> "
        "CAST(CAST(('0x' || substr(sha256(s), ((i - 1) % 32) * 2 + 1, 2)) AS BIGINT) AS DOUBLE)"
        " / CAST(255.0 AS DOUBLE) * CAST(2.0 AS DOUBLE) - CAST(1.0 AS DOUBLE))"
    )

    def cap(e: str) -> str:
        return f"upper(substr({e}, 1, 1)) || substr({e}, 2)"

    rank_col = ", link_rank" if top_n > 1 else ""
    rank_order = ", link_rank" if top_n > 1 else ""
    if analyze:
        # per-candidate diagnostic form (link_surfaces_analyze twin): every
        # candidate with per-leg evidence, fusion, boost + final decision
        ms = f"CAST({min_score} AS DOUBLE)"
        final_select = f"""SELECT mention, entity_id, ROUND(vec_sim, 6) AS vec_sim, v_rank,
       ROUND(kw_sim, 6) AS kw_sim, k_rank, ROUND(rrf, 6) AS rrf, boost_applied,
       link_score, match_type, link_rank,
       (link_score >= {ms}) AS passed_min_score,
       (link_rank = 1 AND link_score >= {ms}) AS chosen
FROM ranked
ORDER BY mention, link_rank"""
    else:
        final_select = f"""SELECT mention, entity_id, link_score, match_type{rank_col}
FROM ranked WHERE link_rank <= {top_n}
ORDER BY mention{rank_order}"""
    # definition-boost signal, block-WEIGHTED (round 4): def_cases is a
    # tuple of (alias LIKE pattern, weight) — weight 1.0 is fenced-code
    # evidence (full x2 boost), 0.5 inline-tool-call evidence (x1.5);
    # empty keeps the plain exact-norm-only boost
    if def_cases:
        a_defw = (
            "CASE "
            + " ".join(
                f"WHEN alias LIKE '{pat}' THEN CAST({w} AS DOUBLE)"
                for pat, w in def_cases
            )
            + " ELSE CAST(0 AS DOUBLE) END"
        )
    else:
        a_defw = "CAST(0 AS DOUBLE)"
    # boost-mode mentions deliberately match NO catalog alias exactly
    # (no exact-norm candidate), so the definition boost alone decides the
    # winner among token-shared candidates — a real behavioral flip, not a
    # no-op replay
    mention_src = (
        "SELECT DISTINCT split_part(surface, '_', 1) || '_ref' FROM surf "
        "WHERE surface LIKE '%store'"
        if def_cases
        else "SELECT surface FROM surf"
    )
    return f"""
WITH surf AS (
  SELECT DISTINCT source || '_svc' AS surface FROM documents WHERE {_FORM_KEY} <= 3
  UNION
  SELECT DISTINCT lang || '_store' FROM documents WHERE {_FORM_KEY} <= 3
  UNION
  SELECT DISTINCT lang || '_cache' FROM documents WHERE {_FORM_KEY} = 3
),
cat AS (
  SELECT surface AS entity_id, surface AS alias FROM surf
  UNION ALL
  SELECT surface, split_part(surface, '_', 1) || {cap("split_part(surface, '_', 2)")} FROM surf
  UNION ALL
  SELECT surface, {cap("split_part(surface, '_', 1)")} || {cap("split_part(surface, '_', 2)")} FROM surf
),
strs AS (SELECT surface AS s FROM ({mention_src}) q(surface) UNION SELECT surface FROM surf UNION SELECT alias FROM cat),
emb AS (SELECT s, {emb_v} AS v FROM strs),
m AS (
  SELECT surface AS mention, {norm.format(s='surface')} AS m_norm,
         list_distinct(string_split({norm.format(s='surface')}, '_')) AS m_tokens
  FROM ({mention_src}) ms(surface)
),
a AS (
  SELECT entity_id, alias, {norm.format(s='alias')} AS alias_norm,
         list_distinct(string_split({norm.format(s='alias')}, '_')) AS a_tokens,
         {a_defw} AS a_defw
  FROM cat
),
cand AS (
  SELECT DISTINCT mention, m_norm, m_tokens, entity_id, alias, alias_norm, a_tokens, a_defw
  FROM m JOIN a ON len(list_intersect(m_tokens, a_tokens)) > 0
),
pair AS (
  SELECT c.mention, c.m_norm, c.entity_id, c.alias_norm, c.a_defw,
         list_sum(list_transform(generate_series(1, {dim}), i -> em.v[i] * ea.v[i]))
           / (sqrt(list_sum(list_transform(em.v, x -> x * x)))
              * sqrt(list_sum(list_transform(ea.v, x -> x * x)))) AS vec_sim,
         CAST(len(list_intersect(c.m_tokens, c.a_tokens)) AS DOUBLE)
           / len(list_distinct(list_concat(c.m_tokens, c.a_tokens))) AS kw_sim
  FROM cand c
  JOIN emb em ON em.s = c.mention
  JOIN emb ea ON ea.s = c.alias
),
scored AS (
  SELECT mention, m_norm, entity_id, MAX(vec_sim) AS vec_sim, MAX(kw_sim) AS kw_sim,
         MAX(CASE WHEN alias_norm = m_norm THEN 1 ELSE 0 END) AS exact_norm,
         MAX(a_defw) AS def_w
  FROM pair GROUP BY 1, 2, 3
),
vec_leg AS (
  SELECT mention, entity_id, exact_norm, def_w, vec_sim,
         row_number() OVER (PARTITION BY mention ORDER BY vec_sim DESC, entity_id ASC) AS v_rank
  FROM scored QUALIFY v_rank <= 100
),
kw_leg AS (
  SELECT mention, entity_id, k_rank, kw_sim, exact_norm AS k_exact, def_w AS k_defw FROM (
    SELECT mention, entity_id, kw_sim, exact_norm, def_w,
           row_number() OVER (PARTITION BY mention ORDER BY kw_sim DESC, entity_id ASC) AS k_rank
    FROM scored) x
  WHERE k_rank <= 100 AND kw_sim > 0
),
fused AS (
  SELECT COALESCE(v.mention, k.mention) AS mention,
         COALESCE(v.entity_id, k.entity_id) AS entity_id,
         v.v_rank, k.k_rank, v.vec_sim, k.kw_sim,
         COALESCE(v.exact_norm, k.k_exact) AS exact_norm,
         COALESCE(v.def_w, k.k_defw) AS def_w,
         COALESCE(CAST(1.0 AS DOUBLE) / ({rrf_k} + v.v_rank), CAST(0 AS DOUBLE))
           + COALESCE(CAST(1.0 AS DOUBLE) / ({rrf_k} + k.k_rank), CAST(0 AS DOUBLE)) AS rrf
  FROM vec_leg v FULL OUTER JOIN kw_leg k
    ON v.mention = k.mention AND v.entity_id = k.entity_id
),
ranked AS (
  SELECT mention, entity_id, v_rank, k_rank, vec_sim, kw_sim, rrf,
         (exact_norm = 1 OR def_w > 0) AS boost_applied,
         CASE WHEN exact_norm = 1 THEN rrf * CAST(2.0 AS DOUBLE)
              WHEN def_w > 0 THEN rrf * (CAST(1.0 AS DOUBLE) + (CAST(2.0 AS DOUBLE) - CAST(1.0 AS DOUBLE)) * def_w)
              ELSE rrf END AS link_score,
         CASE WHEN v_rank IS NOT NULL AND k_rank IS NOT NULL THEN 'both'
              WHEN v_rank IS NOT NULL THEN 'semantic' ELSE 'keyword' END AS match_type,
         row_number() OVER (PARTITION BY mention ORDER BY
           CASE WHEN exact_norm = 1 THEN rrf * CAST(2.0 AS DOUBLE)
                WHEN def_w > 0 THEN rrf * (CAST(1.0 AS DOUBLE) + (CAST(2.0 AS DOUBLE) - CAST(1.0 AS DOUBLE)) * def_w)
                ELSE rrf END DESC,
           (k_rank IS NOT NULL) DESC, entity_id ASC) AS link_rank
  FROM fused
)
{final_select}
"""


# lookahead-free camel component pattern — equivalent to functions.text.
# CAMEL_RE on lowercase+digit identifiers (the only surfaces the derived
# transcripts produce); DuckDB's RE2 has no lookahead.
_CAMEL_RE2 = "[A-Z]?[a-z]+|[0-9]+"

_NORM_SQL = (
    "lower(array_to_string(flatten(list_transform("
    "list_filter(string_split_regex({s}, '[_-]'), p -> p <> ''), "
    f"p -> CASE WHEN len(regexp_extract_all(p, '{_CAMEL_RE2}')) > 0 "
    f"THEN regexp_extract_all(p, '{_CAMEL_RE2}') ELSE [p] END)), '_'))"
)

_SHINGLES_SQL = (
    "CASE WHEN len(lower({s})) <= 3 THEN [lower({s})] "
    "ELSE list_distinct(list_transform(generate_series(1, len(lower({s})) - 2), "
    "i -> substr(lower({s}), i, 3))) END"
)


def _canon_cte(
    n_hashes: int = 12,
    n_bands: int = 4,
    thr: float = 0.6,
    include_bindings: bool = False,
    include_standalone: bool = False,
) -> str:
    """Shared WITH-body replaying canonicalize_surfaces in DuckDB: MinHash
    signatures → band buckets → exact-Jaccard + norm-equality (+ optional
    binding) edges → recursive-CTE connected components → ``canon``
    (surface, canon_id) map. ``include_standalone`` adds the standalone-
    mention surfaces (the pipeline's full surface vocabulary)."""
    rpb = n_hashes // n_bands
    sig_elems = ", ".join(
        f"list_min(list_transform(sh, x -> CAST(('0x' || substr(md5('{seed}|' || x), 1, 15)) AS BIGINT)))"
        for seed in range(n_hashes)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT surface, {b} AS band, "
        + " || '_' || ".join(f"CAST(sig[{b * rpb + r + 1}] AS VARCHAR)" for r in range(rpb))
        + " AS key FROM sig"
        for b in range(n_bands)
    )
    binding_rows = (
        f"SELECT lang || '_store' AS target, lang || '_al' AS alias FROM documents "
        f"WHERE {_FORM_KEY} = 0 AND CAST(doc_id % 2 AS INT) = 1"
    )
    surf_extra = (
        "  UNION SELECT DISTINCT alias FROM bind\n" if include_bindings else ""
    )
    if include_standalone:
        surf_extra += (
            "  UNION SELECT DISTINCT mention FROM standalone\n"
        )
    standalone_cte = (
        f"""standalone AS (
  SELECT DISTINCT CASE CAST(doc_id % 2 AS INT)
    WHEN 0 THEN source || '_cli' ELSE lang || '_probe' END AS mention
  FROM documents
),\n"""
        if include_standalone
        else ""
    )
    bind_cte = f"bind AS ({binding_rows}),\n" if include_bindings else ""
    bind_cte = standalone_cte + bind_cte
    edge_extra = (
        """  UNION SELECT DISTINCT LEAST(target, alias) AS a, GREATEST(target, alias) AS b
  FROM bind WHERE target <> alias\n"""
        if include_bindings
        else ""
    )
    return f"""
WITH RECURSIVE {bind_cte}gt AS (
  SELECT source || '_svc' AS subj, lang || '_store' AS obj FROM documents
  WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT source || '_svc', lang || '_cache' FROM documents WHERE {_FORM_KEY} = 3
),
surf AS (SELECT DISTINCT subj AS surface FROM gt UNION SELECT DISTINCT obj FROM gt
{surf_extra}),
base AS (
  SELECT surface,
         {_NORM_SQL.format(s='surface')} AS norm,
         {_SHINGLES_SQL.format(s='surface')} AS sh
  FROM surf
),
sig AS (SELECT surface, sh, [{sig_elems}] AS sig FROM base),
banded AS ({band_rows}),
lsh_pairs AS (
  SELECT DISTINCT l.surface AS a, r.surface AS b
  FROM banded l
  JOIN banded r ON l.band = r.band AND l.key = r.key AND l.surface < r.surface
  JOIN base ba ON ba.surface = l.surface
  JOIN base bb ON bb.surface = r.surface
  WHERE len(list_intersect(ba.sh, bb.sh)) * 1.0
        / len(list_distinct(list_concat(ba.sh, bb.sh))) >= {thr}
),
norm_pairs AS (
  SELECT l.surface AS a, r.surface AS b
  FROM base l JOIN base r ON l.norm = r.norm AND l.surface < r.surface
),
edges AS (SELECT a, b FROM lsh_pairs UNION SELECT a, b FROM norm_pairs
{edge_extra}),
sym AS (SELECT a AS src, b AS dst FROM edges UNION SELECT b AS src, a AS dst FROM edges),
walk(surface, node) AS (
  SELECT surface, surface FROM base
  UNION
  SELECT w.surface, s.dst FROM walk w JOIN sym s ON s.src = w.node
),
canon AS (
  SELECT w.surface, MIN(bn.norm) AS canon_id
  FROM walk w JOIN base bn ON bn.surface = w.node
  GROUP BY w.surface
)"""


def _canonicalize_oracle(
    n_hashes: int = 12,
    n_bands: int = 4,
    thr: float = 0.6,
    include_bindings: bool = False,
) -> str:
    """DuckDB replica of canonicalize_surfaces over the derived-transcript
    mention surfaces (see _canon_cte); ``include_bindings`` additionally
    replays the extra_edges path."""
    return (
        _canon_cte(n_hashes, n_bands, thr, include_bindings)
        + "\nSELECT surface, canon_id FROM canon ORDER BY surface\n"
    )


def _nodes_oracle() -> str:
    """FULL-PIPELINE node-table oracle: replays the entire flagship DAG in
    DuckDB — ground-truth triple occurrences + standalone mentions +
    alias bindings → the complete surface vocabulary → LSH/CC
    canonicalization (recursive CTE) → canonical edge endpoints → out/in
    degrees, with relation-free standalone entities joining as degree-0
    nodes exactly like build_nodes(extra_entities=...)."""
    return (
        _canon_cte(include_bindings=True, include_standalone=True)
        + f""",
occ AS (
  SELECT 'conv-' || (doc_id % 50) AS conv_id,
         CAST(FLOOR(doc_id / 50.0) AS INT) AS turn_idx,
         source || '_svc' AS subj, {_PRED_CASE} AS pred, lang || '_store' AS obj
  FROM documents WHERE {_FORM_KEY} <= 3
  UNION ALL
  SELECT 'conv-' || (doc_id % 50), CAST(FLOOR(doc_id / 50.0) AS INT),
         source || '_svc', {_PRED_CASE}, lang || '_cache'
  FROM documents WHERE {_FORM_KEY} = 3
),
resolved AS (
  SELECT cs.canon_id AS subj_id, co.canon_id AS obj_id
  FROM occ
  JOIN canon cs ON cs.surface = occ.subj
  JOIN canon co ON co.surface = occ.obj
),
endpoints AS (
  SELECT subj_id AS entity_id, 1 AS is_out FROM resolved
  UNION ALL
  SELECT obj_id, 0 FROM resolved
),
deg AS (
  SELECT entity_id, CAST(SUM(is_out) AS BIGINT) AS out_degree,
         CAST(SUM(1 - is_out) AS BIGINT) AS in_degree
  FROM endpoints GROUP BY entity_id
),
standalone_ids AS (
  SELECT DISTINCT c.canon_id AS entity_id
  FROM standalone s JOIN canon c ON c.surface = s.mention
)
SELECT entity_id, out_degree, in_degree FROM deg
UNION ALL
SELECT entity_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM standalone_ids
WHERE entity_id NOT IN (SELECT entity_id FROM deg)
ORDER BY entity_id
"""
    )


def q_doc_clean_boilerplate(spark, sf_dir):
    """C4/RefinedWeb-style boilerplate line removal over the derived
    transcripts (whose injected code-fence lines appear in ~9% of turns —
    above the 5% threshold — while real content lines are unique): lines
    in > max_doc_frac of documents are stripped, order preserved. The
    corpus anti-joins against a BROADCAST drop list; the per-line
    distinct-doc count uses the salted two-phase pattern because hot
    boilerplate lines are exactly the skew case."""
    from coco_search_spark.ops.clean import remove_boilerplate_lines

    t = derived_transcripts(spark, sf_dir)
    return remove_boilerplate_lines(
        t, ["conv_id", "turn_idx"], "text", max_doc_frac=0.05, min_chars=3
    ).orderBy("conv_id", "turn_idx")


ORACLE_CLEAN_BOILERPLATE = """
WITH t AS ({derived}),
lines AS (
  SELECT conv_id, turn_idx,
         unnest(string_split(COALESCE(text, ''), chr(10))) AS line,
         generate_subscripts(string_split(COALESCE(text, ''), chr(10)), 1) AS pos
  FROM t),
freq AS (
  SELECT line, COUNT(DISTINCT conv_id || '|' || CAST(turn_idx AS VARCHAR)) AS n_docs
  FROM lines WHERE length(line) >= 3 GROUP BY line),
total AS (SELECT COUNT(*) AS n FROM t),
dl AS (SELECT line FROM freq, total WHERE n_docs > n * 0.05),
kept AS (
  SELECT l.conv_id, l.turn_idx, l.pos, l.line
  FROM lines l ANTI JOIN dl ON l.line = dl.line)
SELECT conv_id, turn_idx, string_agg(line, chr(10) ORDER BY pos) AS clean_text
FROM kept GROUP BY conv_id, turn_idx ORDER BY conv_id, turn_idx
"""


# synthetic PII appended per doc IN THE QUERY (both engines build the same
# string), so the redaction rule is value-checked without touching the
# shared derived-transcript text
_PII_TEXT = (
    "text || ' contact user' || doc_id || '@example.com or 10.0.' "
    "|| (doc_id % 256) || '.7 call 555-01' || (doc_id % 10) || '-4242'"
)


def q_doc_redact_pii(spark, sf_dir):
    """Pre-training PII scrub: emails / IPv4 / phone-shaped numbers →
    typed placeholders via a sequential global regexp_replace chain (pure
    Catalyst). The oracle applies the SAME rule list (built from
    PII_RULES, so the two engines cannot drift) to the same synthesized
    text."""
    from coco_search_spark.ops.clean import redact_pii_col

    load_views(spark, sf_dir)
    d = spark.sql(f"SELECT doc_id, {_PII_TEXT} AS text FROM documents")
    return d.select(
        "doc_id", redact_pii_col(F.col("text")).alias("clean_text")
    ).orderBy("doc_id")


def _redact_pii_oracle() -> str:
    from coco_search_spark.ops.clean import pii_rules_duckdb_sql

    return f"""
SELECT doc_id, {pii_rules_duckdb_sql(f'({_PII_TEXT})')} AS clean_text
FROM documents ORDER BY doc_id
"""


def q_doc_hash_sample(spark, sf_dir):
    """Deterministic Bernoulli sample (~25%) by portable hash bucket — the
    reproducible-split primitive (train/eval carving, crawl down-weighting).
    Pure filter, no shuffle; identical row set under any partitioning and
    in DuckDB."""
    from coco_search_spark.ops.sampling import hash_sample

    load_views(spark, sf_dir)
    d = spark.table("documents")
    return (
        hash_sample(d, "doc_id", numerator=2500)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


ORACLE_HASH_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 2500
ORDER BY doc_id
"""


def q_doc_stratified_sample(spark, sf_dir):
    """EXACT per-stratum cap (20 docs per language), smallest-hash-first —
    deterministic uniform draw per stratum via the salted two-phase rank
    (one hot language cannot pin a single task). The oracle is the plain
    single-window form; the two-phase result must equal it exactly."""
    from coco_search_spark.ops.sampling import stratified_cap

    load_views(spark, sf_dir)
    d = spark.table("documents")
    return (
        stratified_cap(d, "lang", "doc_id", n_per_stratum=20)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


ORACLE_STRATIFIED_SAMPLE = """
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
                    doc_id ASC) AS rk
  FROM documents) x
WHERE rk <= 20 ORDER BY lang, doc_id
"""


def q_multi_index_merge(spark, sf_dir):
    """J7 analog (multi.py:27-204 cross-index merge): two per-'index' ranked
    lists (documents split by doc_id parity = two indexes), merged with
    unionByName → global sort → limit, like the reference's
    per-index-prefetch-then-global-top-k."""
    from pyspark.sql import Window as W

    load_views(spark, sf_dir)
    d = spark.table("documents")
    per_index = []
    for parity in (0, 1):
        idx = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == parity)
        # per-index prefetch (= 2*limit) via orderBy+limit, not a global
        # window — each index's top-40 is a parallel partial top-k
        per_index.append(
            idx.select(
                F.lit(f"idx{parity}").alias("index_name"),
                "doc_id",
                F.col("n_chars").alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(40)
        )
    merged = per_index[0].unionByName(per_index[1])
    # merged is ≤ 80 rows — ranking it on one task is constant-size work
    wg = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        merged.withColumn("global_rank", F.row_number().over(wg))
        .filter(F.col("global_rank") <= 20)
        .select("index_name", "doc_id", "score", "global_rank")
    )


ORACLE_MULTI_INDEX = """
WITH per_index AS (
  SELECT 'idx' || (doc_id % 2) AS index_name, doc_id, n_chars AS score,
         row_number() OVER (PARTITION BY doc_id % 2
                            ORDER BY n_chars DESC, doc_id ASC) AS idx_rank
  FROM documents
)
SELECT index_name, doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS global_rank
FROM per_index WHERE idx_rank <= 40
QUALIFY global_rank <= 20
"""


def q_deps_enrichment(spark, sf_dir):
    """J5 analog (query.py:574-658 _enrich_with_deps): attach forward +
    reverse edge summaries to each entity of the supplier→nation→region
    containment graph via left joins + collect-style aggregation."""
    load_views(spark, sf_dir)
    s = spark.table("supplier")
    n = spark.table("nation")
    edges = s.select(
        F.concat(F.lit("s-"), F.col("s_suppkey")).alias("subj_id"),
        F.concat(F.lit("n-"), F.col("s_nationkey")).alias("obj_id"),
    ).unionByName(
        n.select(
            F.concat(F.lit("n-"), F.col("n_nationkey")).alias("subj_id"),
            F.concat(F.lit("r-"), F.col("n_regionkey")).alias("obj_id"),
        )
    )
    nodes = n.select(F.concat(F.lit("n-"), F.col("n_nationkey")).alias("entity_id"))
    fwd = edges.groupBy(F.col("subj_id").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_forward")
    )
    rev = edges.groupBy(F.col("obj_id").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_reverse")
    )
    return (
        nodes.join(fwd, "entity_id", "left")
        .join(rev, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce("n_forward", F.lit(0)).alias("n_forward"),
            F.coalesce("n_reverse", F.lit(0)).alias("n_reverse"),
        )
        .orderBy("entity_id")
    )


ORACLE_DEPS_ENRICH = """
WITH edges AS (
  SELECT 's-' || s_suppkey AS subj_id, 'n-' || s_nationkey AS obj_id FROM supplier
  UNION ALL
  SELECT 'n-' || n_nationkey, 'r-' || n_regionkey FROM nation
),
nodes AS (SELECT 'n-' || n_nationkey AS entity_id FROM nation)
SELECT nodes.entity_id,
       COALESCE(f.n_forward, 0) AS n_forward,
       COALESCE(r.n_reverse, 0) AS n_reverse
FROM nodes
LEFT JOIN (SELECT subj_id, COUNT(*) AS n_forward FROM edges GROUP BY 1) f
  ON f.subj_id = nodes.entity_id
LEFT JOIN (SELECT obj_id, COUNT(*) AS n_reverse FROM edges GROUP BY 1) r
  ON r.obj_id = nodes.entity_id
ORDER BY entity_id
"""


def q_glob_filter(spark, sf_dir):
    """S2/S3/P3 analog (filters.py:11-51 glob→SQL): include glob 'src1*'
    AND exclude glob '*7' compiled by ops/globs.compile_glob_filter into
    one pushdown-friendly predicate, plus a symbol-type-style IN filter —
    include and exclude lists are both first-class and oracle-gated."""
    from coco_search_spark.ops.globs import compile_glob_filter

    load_views(spark, sf_dir)
    d = spark.table("documents")
    return (
        d.filter(
            compile_glob_filter(
                F.col("source"), includes=["src1*"], excludes=["*7"]
            )
            & F.col("lang").isin("en", "de")
        )
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


def q_rollup_revenue(spark, sf_dir):
    """Grouping-sets coverage (absent in the reference, SURVEY §2.4 note):
    ROLLUP over returnflag/linestatus with grouping level."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
        .orderBy("returnflag", "linestatus")
    )


ORACLE_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def q_price_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per order priority (the reference has
    no percentile operator; metrics tables at scale want them)."""
    load_views(spark, sf_dir)
    o = spark.table("orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_PERCENTILES = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]  # stable across sfs


def q_event_type_pivot(spark, sf_dir):
    """Pivot: per-user columns of event-type counts (explicit value list —
    the scale-safe form: no extra distinct pass, stable schema)."""
    load_views(spark, sf_dir)
    e = spark.table("events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    )


ORACLE_PIVOT = "SELECT user_id,\n" + ",\n".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS \"{t}\""
    for t in _EVENT_TYPES
) + "\nFROM events GROUP BY user_id ORDER BY user_id"


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (the stateful-streaming analog expressed
    relationally): a new session starts after a >30-minute silence; emits
    per-session row counts and bounds. Window lag + conditional cumulative
    sum — the standard sessionization idiom."""
    from pyspark.sql import Window as W

    load_views(spark, sf_dir)
    e = spark.table("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    w_cum = w.rowsBetween(W.unboundedPreceding, 0)
    sessioned = marked.withColumn("session_id", F.sum("new_session").over(w_cum))
    # session bounds as epoch microseconds: raw timestamp string forms differ
    # between engines; unix_micros is monotonic so min/max commute with it
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("session_start"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


ORACLE_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(epoch_us(ts)) AS session_start, MAX(epoch_us(ts)) AS session_end
FROM sessioned GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Graph traversal: iterative-join BFS vs recursive-CTE oracle
# ---------------------------------------------------------------------------

def q_graph_reach(spark, sf_dir):
    """G3-G5 analog: reverse transitive closure from region node r-0 over the
    supplier→nation→region containment graph (iterative frontier joins with
    visited-set, vs DuckDB WITH RECURSIVE)."""
    load_views(spark, sf_dir)
    s = spark.table("supplier")
    n = spark.table("nation")
    e1 = s.select(
        F.concat(F.lit("s-"), F.col("s_suppkey")).alias("subj_id"),
        F.lit("in_nation").alias("pred"),
        F.concat(F.lit("n-"), F.col("s_nationkey")).alias("obj_id"),
    )
    e2 = n.select(
        F.concat(F.lit("n-"), F.col("n_nationkey")).alias("subj_id"),
        F.lit("in_region").alias("pred"),
        F.concat(F.lit("r-"), F.col("n_regionkey")).alias("obj_id"),
    )
    edges = e1.unionByName(e2)
    roots = spark.createDataFrame([("r-0",)], "node string")
    return transitive_closure(edges, roots, direction="reverse").orderBy("node")


ORACLE_GRAPH = """
WITH RECURSIVE edges AS (
  SELECT 's-' || s_suppkey AS subj_id, 'n-' || s_nationkey AS obj_id FROM supplier
  UNION ALL
  SELECT 'n-' || n_nationkey, 'r-' || n_regionkey FROM nation
),
walk(node, depth) AS (
  SELECT 'r-0', 0
  UNION
  SELECT e.subj_id, w.depth + 1
  FROM walk w JOIN edges e ON e.obj_id = w.node
  WHERE w.depth < 5
)
SELECT node, MIN(depth) AS depth FROM walk GROUP BY node ORDER BY node
"""


def q_graph_tree(spark, sf_dir):
    """Tree-shaped BFS (DependencyTree analog, models.py:49-80 built at
    deps/query.py:179-243): reverse reachability from r-0 with parent
    reconstruction — parent = lexicographically smallest predecessor at
    depth-1 (deterministic tree choice)."""
    from coco_search_spark.operators.graph import transitive_tree

    load_views(spark, sf_dir)
    s = spark.table("supplier")
    n = spark.table("nation")
    edges = s.select(
        F.concat(F.lit("s-"), F.col("s_suppkey")).alias("subj_id"),
        F.concat(F.lit("n-"), F.col("s_nationkey")).alias("obj_id"),
    ).unionByName(
        n.select(
            F.concat(F.lit("n-"), F.col("n_nationkey")).alias("subj_id"),
            F.concat(F.lit("r-"), F.col("n_regionkey")).alias("obj_id"),
        )
    )
    roots = spark.createDataFrame([("r-0",)], "node string")
    return transitive_tree(edges, roots, direction="reverse").orderBy("node")


ORACLE_GRAPH_TREE = """
WITH RECURSIVE edges AS (
  SELECT 's-' || s_suppkey AS subj_id, 'n-' || s_nationkey AS obj_id FROM supplier
  UNION ALL
  SELECT 'n-' || n_nationkey, 'r-' || n_regionkey FROM nation
),
walk(node, depth) AS (
  SELECT 'r-0', 0
  UNION
  SELECT e.subj_id, w.depth + 1
  FROM walk w JOIN edges e ON e.obj_id = w.node
  WHERE w.depth < 5
),
reach AS (SELECT node, MIN(depth) AS depth FROM walk GROUP BY node),
par AS (
  SELECT r.node, MIN(p.node) AS parent
  FROM reach r
  JOIN edges e ON e.subj_id = r.node
  JOIN reach p ON p.node = e.obj_id AND p.depth = r.depth - 1
  GROUP BY r.node
)
SELECT r.node, r.depth, p.parent
FROM reach r LEFT JOIN par p USING (node)
ORDER BY r.node
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def _containment_edges(spark):
    s = spark.table("supplier")
    n = spark.table("nation")
    return s.select(
        F.concat(F.lit("s-"), F.col("s_suppkey")).alias("subj_id"),
        F.concat(F.lit("n-"), F.col("s_nationkey")).alias("obj_id"),
    ).unionByName(
        n.select(
            F.concat(F.lit("n-"), F.col("n_nationkey")).alias("subj_id"),
            F.concat(F.lit("r-"), F.col("n_regionkey")).alias("obj_id"),
        )
    )


def q_graph_hubs(spark, sf_dir):
    """Hub detection (deps stats detailed analog, deps/query.py:424-473):
    top-10 entities by in-degree over the containment graph."""
    load_views(spark, sf_dir)
    edges = _containment_edges(spark)
    return (
        edges.groupBy(F.col("obj_id").alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("in_degree"))
        .orderBy(F.desc("in_degree"), F.asc("entity_id"))
        .limit(10)
    )


ORACLE_HUBS = """
WITH edges AS (
  SELECT 's-' || s_suppkey AS subj_id, 'n-' || s_nationkey AS obj_id FROM supplier
  UNION ALL
  SELECT 'n-' || n_nationkey, 'r-' || n_regionkey FROM nation
)
SELECT obj_id AS entity_id, COUNT(*) AS in_degree
FROM edges GROUP BY obj_id ORDER BY in_degree DESC, entity_id ASC LIMIT 10
"""


def q_graph_pagerank(spark, sf_dir):
    """Deterministic PageRank (3 unrolled power iterations, d=0.85,
    dangling mass redistributed uniformly so ranks sum to 1.0) over the
    containment graph — region nodes accumulate rank from their nations
    and suppliers, and being sinks they are exactly where dangling mass
    arises. The oracle unrolls the identical iterations in SQL; output
    rounded to 6 dp on both sides (float addition order differs at ~1e-15
    between engines)."""
    from coco_search_spark.operators.graph import pagerank

    load_views(spark, sf_dir)
    edges = _containment_edges(spark)
    return pagerank(edges, n_iters=3, damping=0.85).orderBy("node")


def _pagerank_oracle(n_iters: int = 3, damping: float = 0.85) -> str:
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        """
WITH edges AS (
  SELECT 's-' || s_suppkey AS subj_id, 'n-' || s_nationkey AS obj_id FROM supplier
  UNION ALL
  SELECT 'n-' || n_nationkey, 'r-' || n_regionkey FROM nation
),
nodes AS (
  SELECT DISTINCT subj_id AS node FROM edges
  UNION SELECT DISTINCT obj_id FROM edges
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes),
od AS (SELECT subj_id, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY subj_id),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.c AS r FROM nodes, nn)"""
    ]
    for i in range(n_iters):
        parts.append(
            f""",
c{i} AS (
  SELECT e.obj_id AS node, SUM(r{i}.r / od.deg) AS inflow
  FROM edges e JOIN r{i} ON r{i}.node = e.subj_id JOIN od ON od.subj_id = e.subj_id
  GROUP BY e.obj_id
),
d{i} AS (
  SELECT COALESCE(SUM(r), CAST(0 AS DOUBLE)) AS dm
  FROM r{i} WHERE node NOT IN (SELECT subj_id FROM od)
),
r{i + 1} AS (
  SELECT nd.node,
         (CAST(1.0 AS DOUBLE) - {d}) / nn.c
           + {d} * (COALESCE(c{i}.inflow, CAST(0 AS DOUBLE)) + d{i}.dm / nn.c) AS r
  FROM nodes nd CROSS JOIN nn CROSS JOIN d{i} LEFT JOIN c{i} ON c{i}.node = nd.node
)"""
        )
    parts.append(
        f"\nSELECT node, ROUND(r, 6) AS rank FROM r{n_iters} ORDER BY node\n"
    )
    return "".join(parts)


def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank (beyond the reference's surface, round 5):
    rank mass teleports to a ROOT SET instead of uniformly — the "entities
    related to X" graph-recommendation query. Run over the symmetrized
    part-co-occurrence graph with roots = the two lexicographically
    smallest nodes (deterministic, engine-portable root choice). The
    oracle unrolls the identical iterations (teleport vector, dangling
    term — zero here since symmetrization leaves no sinks, but replayed
    anyway); 6 dp rounding only at the end, same float policy as
    graph_pagerank."""
    from coco_search_spark.operators.graph import personalized_pagerank

    load_views(spark, sf_dir)
    pairs = _cooccur_pairs(spark)
    sym = pairs.select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    ).unionByName(
        pairs.select(F.col("dst").alias("subj_id"), F.col("src").alias("obj_id"))
    )
    roots = (
        sym.select(F.col("subj_id").alias("node")).distinct().orderBy("node").limit(2)
    )
    return personalized_pagerank(sym, roots, n_iters=3, damping=0.85).orderBy("node")


def _ppr_oracle(n_iters: int = 3, damping: float = 0.85) -> str:
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        f"""
WITH p0 AS MATERIALIZED ({_COOCCUR_PAIRS_SQL}),
e AS MATERIALIZED (SELECT a AS s, b AS o FROM p0 UNION ALL SELECT b AS s, a AS o FROM p0),
nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM e),
rt AS MATERIALIZED (SELECT node FROM nodes ORDER BY node LIMIT 2),
nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM rt),
od AS MATERIALIZED (SELECT s, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY s),
pv AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN n.node IN (SELECT node FROM rt)
              THEN CAST(1.0 AS DOUBLE) / nr.c ELSE CAST(0 AS DOUBLE) END AS p
  FROM nodes n CROSS JOIN nr
),
r0 AS (SELECT node, p AS r FROM pv)"""
    ]
    for i in range(n_iters):
        parts.append(
            f""",
c{i} AS MATERIALIZED (
  SELECT e.o AS node, SUM(r{i}.r / od.deg) AS inflow
  FROM e JOIN r{i} ON r{i}.node = e.s JOIN od ON od.s = e.s
  GROUP BY e.o
),
d{i} AS (
  SELECT COALESCE(SUM(r), CAST(0 AS DOUBLE)) AS dm
  FROM r{i} WHERE node NOT IN (SELECT s FROM od)
),
r{i + 1} AS MATERIALIZED (
  SELECT pv.node,
         (CAST(1.0 AS DOUBLE) - {d}) * pv.p
           + {d} * (COALESCE(c{i}.inflow, CAST(0 AS DOUBLE)) + d{i}.dm * pv.p) AS r
  FROM pv CROSS JOIN d{i} LEFT JOIN c{i} ON c{i}.node = pv.node
)"""
        )
    parts.append(
        f"\nSELECT node, ROUND(r, 6) AS rank FROM r{n_iters} ORDER BY node\n"
    )
    return "".join(parts)


def q_graph_hits(spark, sf_dir):
    """HITS hubs-and-authorities (beyond the reference's surface, round 5)
    over the directed containment graph — authorities are entities many
    good hubs point at (nations, regions), hubs point at good authorities
    (suppliers, nations); plain PageRank conflates the two roles. Fixed
    synchronous rounds with L1 normalization (plain SUMs, no sqrt — the
    scale-free scores only change reported scale), the oracle unrolls the
    identical rounds; 6 dp at the end."""
    from coco_search_spark.operators.graph import hits

    load_views(spark, sf_dir)
    return hits(_containment_edges(spark), n_iters=3).orderBy("node")


def _hits_oracle(n_iters: int = 3) -> str:
    parts = [
        """
WITH edges AS MATERIALIZED (
  SELECT 's-' || s_suppkey AS s, 'n-' || s_nationkey AS o FROM supplier
  UNION ALL
  SELECT 'n-' || n_nationkey, 'r-' || n_regionkey FROM nation
),
nodes AS MATERIALIZED (
  SELECT DISTINCT s AS node FROM edges UNION SELECT DISTINCT o FROM edges
),
h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)"""
    ]
    for i in range(n_iters):
        parts.append(
            f""",
ar{i} AS MATERIALIZED (
  SELECT e.o AS node, SUM(h{i}.h) AS a
  FROM edges e JOIN h{i} ON h{i}.node = e.s GROUP BY e.o
),
at{i} AS (SELECT COALESCE(SUM(a), CAST(1.0 AS DOUBLE)) AS t FROM ar{i}),
a{i + 1} AS MATERIALIZED (
  SELECT n.node, COALESCE(ar{i}.a, CAST(0 AS DOUBLE)) / at{i}.t AS a
  FROM nodes n CROSS JOIN at{i} LEFT JOIN ar{i} ON ar{i}.node = n.node
),
hr{i} AS MATERIALIZED (
  SELECT e.s AS node, SUM(a{i + 1}.a) AS h
  FROM edges e JOIN a{i + 1} ON a{i + 1}.node = e.o GROUP BY e.s
),
ht{i} AS (SELECT COALESCE(SUM(h), CAST(1.0 AS DOUBLE)) AS t FROM hr{i}),
h{i + 1} AS MATERIALIZED (
  SELECT n.node, COALESCE(hr{i}.h, CAST(0 AS DOUBLE)) / ht{i}.t AS h
  FROM nodes n CROSS JOIN ht{i} LEFT JOIN hr{i} ON hr{i}.node = n.node
)"""
        )
    parts.append(
        f"""
SELECT h{n_iters}.node, ROUND(h{n_iters}.h, 6) AS hub,
       ROUND(a{n_iters}.a, 6) AS authority
FROM h{n_iters} JOIN a{n_iters} ON a{n_iters}.node = h{n_iters}.node
ORDER BY h{n_iters}.node
"""
    )
    return "".join(parts)


def q_graph_stats(spark, sf_dir):
    """Management-stats analog (reference: src/cocosearch/management/stats.py
    — its most heavily tested surface, tests/unit/management/test_stats.py
    2,237 L): one-row graph summary — node/edge counts, distinct predicates,
    degree extremes and mean over the containment graph."""
    load_views(spark, sf_dir)
    edges = _containment_edges(spark).withColumn("pred", F.lit("contains"))
    nodes = (
        edges.select(F.col("subj_id").alias("n"))
        .unionByName(edges.select(F.col("obj_id").alias("n")))
        .distinct()
    )
    deg = edges.groupBy("obj_id").agg(F.count(F.lit(1)).alias("d"))
    return (
        edges.agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("pred").alias("n_preds"),
        )
        .crossJoin(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(
            deg.agg(
                F.max("d").alias("max_in_degree"),
                F.min("d").alias("min_in_degree"),
                F.round(F.avg("d"), 6).alias("mean_in_degree"),
            )
        )
        .select(
            "n_nodes", "n_edges", "n_preds",
            "max_in_degree", "min_in_degree", "mean_in_degree",
        )
    )


ORACLE_GRAPH_STATS = """
WITH edges AS (
  SELECT 's-' || s_suppkey AS subj_id, 'n-' || s_nationkey AS obj_id FROM supplier
  UNION ALL
  SELECT 'n-' || n_nationkey, 'r-' || n_regionkey FROM nation
),
nodes AS (SELECT subj_id AS n FROM edges UNION SELECT obj_id FROM edges),
deg AS (SELECT obj_id, COUNT(*) AS d FROM edges GROUP BY obj_id)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       1 AS n_preds,
       CAST((SELECT MAX(d) FROM deg) AS BIGINT) AS max_in_degree,
       CAST((SELECT MIN(d) FROM deg) AS BIGINT) AS min_in_degree,
       ROUND((SELECT AVG(d) FROM deg), 6) AS mean_in_degree
"""


def q_kg_incremental_diff(spark, sf_dir):
    """J2 through the driver gate: full-outer diff of current vs stored
    conversation hashes → status ∈ {new, changed, unchanged, deleted}. The
    'stored' state is synthesized deterministically from the same derived
    transcripts: conv 0-4 absent from storage (→ new), conv 5-9 stored with
    altered text (→ changed), plus five phantom stored convs (→ deleted)."""
    from coco_search_spark.state import conversation_hashes, diff_against_state

    t = derived_transcripts(spark, sf_dir)
    conv_num = F.substring(F.col("conv_id"), 6, 10).cast("int")
    current = conversation_hashes(t)
    stored_src = (
        t.filter(conv_num >= 5)
        .withColumn(
            "text",
            F.when(conv_num < 10, F.concat(F.col("text"), F.lit(" drift"))).otherwise(
                F.col("text")
            ),
        )
    )
    stored = conversation_hashes(stored_src).select("conv_id", "content_hash")
    phantoms = spark.range(5).select(
        F.concat(F.lit("ghost-"), F.col("id")).alias("conv_id"),
        F.lit("deadbeef").alias("content_hash"),
    )
    stored = stored.unionByName(phantoms)
    return (
        diff_against_state(current, stored)
        .select("conv_id", "status")
        .orderBy("conv_id")
    )


ORACLE_INCR_DIFF = """
WITH t AS ({derived}),
cur AS (
  SELECT conv_id, sha256(string_agg(sha256(text), '' ORDER BY turn_idx)) AS h
  FROM t GROUP BY conv_id
),
stored AS (
  SELECT conv_id,
         sha256(string_agg(sha256(
           CASE WHEN CAST(substr(conv_id, 6) AS INT) < 10
                THEN text || ' drift' ELSE text END),
           '' ORDER BY turn_idx)) AS h
  FROM t WHERE CAST(substr(conv_id, 6) AS INT) >= 5
  GROUP BY conv_id
  UNION ALL
  SELECT 'ghost-' || i, 'deadbeef' FROM generate_series(0, 4) s(i)
)
SELECT COALESCE(c.conv_id, st.conv_id) AS conv_id,
       CASE WHEN c.h IS NULL THEN 'deleted'
            WHEN st.h IS NULL THEN 'new'
            WHEN c.h <> st.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM cur c FULL OUTER JOIN stored st ON c.conv_id = st.conv_id
ORDER BY conv_id
"""


def q_blast_radius(spark, sf_dir):
    """Per-root reverse reachability size (impact / blast-radius,
    deps/query.py:246-293) for every region node — per-root BFS via
    iterative joins vs a per-seed recursive-CTE oracle."""
    from coco_search_spark.operators.graph import blast_radius

    load_views(spark, sf_dir)
    edges = _containment_edges(spark)
    region = spark.table("region")
    roots = region.select(F.concat(F.lit("r-"), F.col("r_regionkey")).alias("node"))
    return blast_radius(edges, roots).orderBy("root")


ORACLE_BLAST = """
WITH RECURSIVE edges AS (
  SELECT 's-' || s_suppkey AS subj_id, 'n-' || s_nationkey AS obj_id FROM supplier
  UNION ALL
  SELECT 'n-' || n_nationkey, 'r-' || n_regionkey FROM nation
),
walk(root, node, depth) AS (
  SELECT 'r-' || r_regionkey, 'r-' || r_regionkey, 0 FROM region
  UNION
  SELECT w.root, e.subj_id, w.depth + 1
  FROM walk w JOIN edges e ON e.obj_id = w.node
  WHERE w.depth < 5
)
SELECT root, COUNT(DISTINCT node) - 1 AS radius
FROM walk GROUP BY root ORDER BY root
"""


_COOCCUR_PAIRS_SQL = """
  SELECT DISTINCT least(CAST(x.l_partkey AS VARCHAR), CAST(y.l_partkey AS VARCHAR)) AS a,
                  greatest(CAST(x.l_partkey AS VARCHAR), CAST(y.l_partkey AS VARCHAR)) AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 50 = 0 AND y.l_orderkey % 50 = 0
"""


def _cooccur_pairs(spark):
    """Part-co-occurrence graph (same subset as graph_triangles)."""
    li = (
        spark.table("lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select("l_orderkey", "l_partkey")
    )
    return (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").cast("string").alias("src"),
            F.col("y.l_partkey").cast("string").alias("dst"),
        )
        .distinct()
    )


def q_graph_kcore(spark, sf_dir):
    """k-core decomposition (cohesion analytics beyond the reference's
    surface, like PageRank / triangles) over the part-co-occurrence graph:
    synchronous peel until no node's in-core degree is < k. The oracle
    unrolls the identical synchronous rounds, so every intermediate state
    is engine-portable — parity holds whether the loop converges early
    (extra unrolled rounds are identity) or both sides stop at the cap."""
    from coco_search_spark.operators.graph import k_core

    load_views(spark, sf_dir)
    return k_core(_cooccur_pairs(spark), k=3, max_iters=12).orderBy("node")


def _kcore_oracle(k: int = 3, max_iters: int = 12) -> str:
    # AS MATERIALIZED: DuckDB inlines plain CTEs, so 12 unrolled rounds
    # would re-open the parquet scan dozens of times (observed EMFILE)
    parts = [
        f"""
WITH e AS MATERIALIZED ({_COOCCUR_PAIRS_SQL}),
s0 AS MATERIALIZED (SELECT a AS n FROM e UNION SELECT b FROM e)"""
    ]
    for i in range(1, max_iters + 1):
        parts.append(
            f""",
e{i} AS MATERIALIZED (SELECT a, b FROM e
         WHERE a IN (SELECT n FROM s{i - 1}) AND b IN (SELECT n FROM s{i - 1})),
d{i} AS MATERIALIZED (SELECT n, COUNT(*) AS deg
         FROM (SELECT a AS n FROM e{i} UNION ALL SELECT b AS n FROM e{i}) GROUP BY n),
s{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE deg >= {k})"""
        )
    parts.append(
        f"""
SELECT n AS node, CAST(deg AS BIGINT) AS core_degree
FROM d{max_iters} WHERE deg >= {k} ORDER BY node
"""
    )
    return "".join(parts)


def q_graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (beyond the reference's surface): top-50
    non-adjacent part pairs by Σ 1/ln(deg) over shared co-occurrence
    neighbors, hub buckets capped at degree 60 (the cap is part of the
    declared semantics — the oracle replays it). Scores are float sums, so
    both engines round to 6 dp BEFORE the top-k ordering; ties break on
    (node_u, node_v)."""
    from coco_search_spark.operators.graph import adamic_adar

    load_views(spark, sf_dir)
    return adamic_adar(_cooccur_pairs(spark), top_k=50, max_hub_degree=60)


def _adamic_adar_oracle(top_k: int = 50, max_hub_degree: int = 60) -> str:
    return f"""
WITH e AS ({_COOCCUR_PAIRS_SQL}),
adj AS (SELECT a AS z, b AS x FROM e UNION ALL SELECT b AS z, a AS x FROM e),
deg AS (SELECT z, COUNT(*) AS zdeg FROM adj GROUP BY z),
zs AS (SELECT adj.z, adj.x, deg.zdeg FROM adj JOIN deg USING (z)
       WHERE zdeg >= 2 AND zdeg <= {max_hub_degree}),
pairs AS (SELECT p.x AS u, q.x AS v, CAST(1.0 AS DOUBLE) / ln(p.zdeg) AS w
          FROM zs p JOIN zs q ON p.z = q.z AND p.x < q.x),
scored AS (SELECT u, v, ROUND(SUM(w), 6) AS aa_score FROM pairs GROUP BY u, v),
nonadj AS (SELECT s.* FROM scored s LEFT JOIN e ON e.a = s.u AND e.b = s.v
           WHERE e.a IS NULL)
SELECT u AS node_u, v AS node_v, aa_score FROM nonadj
ORDER BY aa_score DESC, node_u ASC, node_v ASC LIMIT {top_k}
"""


def q_graph_shortest_paths(spark, sf_dir):
    """Weighted bounded shortest paths (the weighted upgrade of
    graph_reach): cheapest route from each sampled part to its reachable
    suppliers / nations / regions, where part→supplier costs the MIN
    l_quantity shipped on that lane and containment hops cost 1. Frontier-
    pruned Bellman-Ford vs a recursive-CTE walk enumeration + MIN — all
    weights are small integers in doubles, so every path cost is exact in
    both engines."""
    from coco_search_spark.operators.graph import shortest_paths

    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    s = spark.table("supplier")
    n = spark.table("nation")
    edges = (
        li.select(
            F.concat(F.lit("p-"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("s-"), F.col("l_suppkey")).alias("dst"),
            F.col("l_quantity").cast("double").alias("w"),
        )
        .unionByName(
            s.select(
                F.concat(F.lit("s-"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("n-"), F.col("s_nationkey")).alias("dst"),
                F.lit(1.0).alias("w"),
            )
        )
        .unionByName(
            n.select(
                F.concat(F.lit("n-"), F.col("n_nationkey")).alias("src"),
                F.concat(F.lit("r-"), F.col("n_regionkey")).alias("dst"),
                F.lit(1.0).alias("w"),
            )
        )
    )
    roots = (
        spark.table("part")
        .filter(F.col("p_partkey") % 40 == 0)
        .select(F.concat(F.lit("p-"), F.col("p_partkey")).alias("node"))
    )
    return shortest_paths(edges, roots, max_hops=4).orderBy("node")


ORACLE_SHORTEST_PATHS = """
WITH RECURSIVE e AS (
  SELECT src, dst, MIN(w) AS w FROM (
    SELECT 'p-' || l_partkey AS src, 's-' || l_suppkey AS dst,
           CAST(l_quantity AS DOUBLE) AS w FROM lineitem
    UNION ALL
    SELECT 's-' || s_suppkey, 'n-' || s_nationkey, CAST(1 AS DOUBLE) FROM supplier
    UNION ALL
    SELECT 'n-' || n_nationkey, 'r-' || n_regionkey, CAST(1 AS DOUBLE) FROM nation
  ) GROUP BY src, dst
),
walk(node, dist, hops) AS (
  SELECT 'p-' || p_partkey, CAST(0 AS DOUBLE), 0 FROM part WHERE p_partkey % 40 = 0
  UNION ALL
  SELECT e.dst, w.dist + e.w, w.hops + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < 4
)
SELECT node, ROUND(MIN(dist), 6) AS dist FROM walk GROUP BY node ORDER BY node
"""


def q_graph_label_prop(spark, sf_dir):
    """Synchronous label-propagation communities (beyond the reference's
    surface): after exactly 4 rounds of every node simultaneously adopting
    its neighbors' most frequent label (ties → smallest label), over the
    part-co-occurrence graph. Each round is a pure function of the previous
    labeling, so the oracle unrolls the identical rounds — parity holds
    regardless of convergence (both engines oscillate identically if the
    graph asks them to; the round count is declared semantics)."""
    from coco_search_spark.operators.graph import label_propagation

    load_views(spark, sf_dir)
    return label_propagation(_cooccur_pairs(spark), rounds=4).orderBy("node")


def _label_prop_oracle(rounds: int = 4) -> str:
    # AS MATERIALIZED for the same reason as the k-core oracle: DuckDB
    # inlines plain CTEs, and unrolled rounds would re-open the scan per use
    parts = [
        f"""
WITH e AS MATERIALIZED ({_COOCCUR_PAIRS_SQL}),
adj AS MATERIALIZED (SELECT a AS n, b AS m FROM e UNION ALL SELECT b, a FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT n, n AS label FROM adj)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
c{i} AS MATERIALIZED (SELECT adj.n, l.label, COUNT(*) AS cnt
         FROM adj JOIN l{i - 1} l ON adj.m = l.n GROUP BY adj.n, l.label),
l{i} AS MATERIALIZED (SELECT n, label FROM (
         SELECT n, label,
                ROW_NUMBER() OVER (PARTITION BY n ORDER BY cnt DESC, label ASC) AS rn
         FROM c{i}) WHERE rn = 1)"""
        )
    parts.append(f"""
SELECT n AS node, label FROM l{rounds} ORDER BY node
""")
    return "".join(parts)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ---- ORDER POLICY (round 4, rotation added round 5): the driver's
    # correctness gate checks the FIRST 50 entries, so the registry is
    # ordered by proof-need —
    # (1) everything whose semantics or implementation changed this round,
    #     plus every entry that sat OUTSIDE the previous round's window
    #     (rotation: every query gets a driver row at least every other
    #     round);
    # (2) window filler: unchanged entries green in the previous driver run;
    # (3) tail (outside the window): unchanged entries green in the
    #     previous round's driver run (never two rounds unchecked).
    # Round 5 also RETIRED two redundant relational demos per the verdict
    # (pricing_summary ⊂ rollup_revenue, event_neighbors ⊂ kg_turn_window).
    # --- (1a) new / changed this round -----------------------------------
    "kg_branch_wap": q_kg_branch_wap,
    "kg_rollback": q_kg_rollback,
    "kg_snapshot_diff": q_kg_snapshot_diff,
    "kg_time_travel": q_kg_time_travel,
    "graph_ppr": q_graph_ppr,
    "graph_hits": q_graph_hits,
    "graph_kcore": q_graph_kcore,
    "graph_adamic_adar": q_graph_adamic_adar,
    "graph_shortest_paths": q_graph_shortest_paths,
    "graph_label_prop": q_graph_label_prop,
    "kg_vocab_delta": q_kg_vocab_delta,
    "kg_edge_delta": q_kg_edge_delta,
    "kg_compact": q_kg_compact,
    "kg_upsert": q_kg_upsert,
    "kg_delete": q_kg_delete,
    "kg_scan_prune": q_kg_scan_prune,
    "kg_search_filtered": q_kg_search_filtered,
    "kg_search_context": q_kg_search_context,
    "kg_search_chunks": q_kg_search_chunks,
    "kg_search_rewrite": q_kg_search_rewrite,
    "kg_block_types": q_kg_block_types,
    "kg_link_delta": q_kg_link_delta,
    "customers_without_orders": q_customers_without_orders,
    "kg_pipeline_nodes": q_kg_pipeline_nodes,
    "kg_pipeline_edges": q_kg_pipeline_edges,
    "kg_incremental_diff": q_kg_incremental_diff,
    # --- (1b) rotated in: outside the r04 window -------------------------
    "ann_ivf_topk": q_ann_ivf_topk,
    "rrf_fusion_docs": q_rrf_fusion_docs,
    "graph_reach": q_graph_reach,
    "multi_index_merge": q_multi_index_merge,
    "top_orders_per_customer": q_top_orders_per_customer,
    "revenue_per_nation": q_revenue_per_nation,
    "doc_language_stats": q_doc_language_stats,
    "doc_token_stats": q_doc_token_stats,
    "doc_quality": q_doc_quality,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_minhash": q_doc_minhash,
    "doc_langid": q_doc_langid,
    "doc_simhash": q_doc_simhash,
    "doc_fp_overlap": q_doc_fp_overlap,
    # --- (2) window filler: unchanged, r04-green -------------------------
    "kg_link_analyze": q_kg_link_analyze,
    "kg_link_mentions": q_kg_link_mentions,
    "kg_link_topn": q_kg_link_topn,
    "kg_link_defboost": q_kg_link_defboost,
    "graph_triangles": q_graph_triangles,
    "graph_pagerank": q_graph_pagerank,
    "kg_extract_triples": q_kg_extract_triples,
    "kg_top_predicates": q_kg_top_predicates,
    "kg_mentions": q_kg_mentions,
    "kg_conv_hash": q_kg_conv_hash,
    "kg_turn_window": q_kg_turn_window,
    "kg_context_expand": q_kg_context_expand,
    "kg_qualified_mentions": q_kg_qualified_mentions,
    "kg_standalone_mentions": q_kg_standalone_mentions,
    "kg_edge_provenance": q_kg_edge_provenance,
    "transcript_quarantine": q_transcript_quarantine,
    "kg_canonicalize": q_kg_canonicalize,
    "kg_alias_bindings": q_kg_alias_bindings,
    "kg_canonicalize_bindings": q_kg_canonicalize_bindings,
    "blast_radius": q_blast_radius,
    "deps_enrichment": q_deps_enrichment,
    "event_type_pivot": q_event_type_pivot,
    "glob_filter": q_glob_filter,
    "graph_hubs": q_graph_hubs,
    "graph_stats": q_graph_stats,
    "graph_tree": q_graph_tree,
    # --- (3) tail: unchanged, r04-driver-green ---------------------------
    "price_percentiles": q_price_percentiles,
    "rollup_revenue": q_rollup_revenue,
    "sessionize_events": q_sessionize_events,
    "doc_contamination": q_doc_contamination,
    "doc_repetition": q_doc_repetition,
    "dedup_near_pairs": q_dedup_near_pairs,
    "dedup_embedding_pairs": q_dedup_embedding_pairs,
    "dedup_groups": q_dedup_groups,
    "doc_quality_filter": q_doc_quality_filter,
    "pack_docs": q_pack_docs,
    "doc_hash_sample": q_doc_hash_sample,
    "doc_stratified_sample": q_doc_stratified_sample,
    "doc_clean_boilerplate": q_doc_clean_boilerplate,
    "doc_redact_pii": q_doc_redact_pii,
    "event_rate_windows": q_event_rate_windows,
    "ann_topk": q_ann_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
}

_PORTABLE_HASH = "CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"

ORACLES: dict[str, str] = {
    "kg_branch_wap": _branch_wap_oracle(),
    "graph_ppr": _ppr_oracle(),
    "graph_hits": _hits_oracle(),
    "graph_kcore": _kcore_oracle(),
    "graph_adamic_adar": _adamic_adar_oracle(),
    "graph_shortest_paths": ORACLE_SHORTEST_PATHS,
    "graph_label_prop": _label_prop_oracle(),
    "kg_vocab_delta": _vocab_delta_oracle(),
    "kg_edge_delta": _edge_delta_oracle(),
    "kg_compact": _compact_oracle(),
    "kg_upsert": _upsert_oracle(),
    "kg_delete": _delete_oracle(),
    "kg_rollback": _rollback_oracle(),
    "kg_snapshot_diff": _snapshot_diff_oracle(),
    "kg_time_travel": _time_travel_oracle(),
    "kg_scan_prune": _scan_prune_oracle(),
    "kg_extract_triples": _ORACLE_TRIPLES_CTE
    + "SELECT conv_id, turn_idx, subj, pred, obj FROM gt",
    "kg_top_predicates": _ORACLE_TRIPLES_CTE
    + """SELECT pred, COUNT(*) AS n_triples, COUNT(DISTINCT subj) AS n_subjects
         FROM gt GROUP BY pred ORDER BY n_triples DESC, pred ASC""",
    "kg_mentions": _ORACLE_TRIPLES_CTE
    + """SELECT mention, mention_role, COUNT(*) AS n_occurrences FROM (
           SELECT DISTINCT conv_id, turn_idx, subj AS mention, 'subj' AS mention_role FROM gt
           UNION
           SELECT DISTINCT conv_id, turn_idx, obj AS mention, 'obj' AS mention_role FROM gt
         ) m GROUP BY mention, mention_role ORDER BY mention, mention_role""",
    "kg_conv_hash": f"""WITH t AS ({DERIVED_TRANSCRIPTS_SQL})
         SELECT conv_id, sha256(string_agg(sha256(text), '' ORDER BY turn_idx)) AS content_hash,
                COUNT(*) AS rows_in
         FROM t GROUP BY conv_id""",
    "kg_turn_window": f"""WITH t AS ({DERIVED_TRANSCRIPTS_SQL})
         SELECT conv_id, turn_idx, length(text) AS turn_len,
                COALESCE(lag(length(text)) OVER w, 0) AS prev_len,
                COALESCE(lead(length(text)) OVER w, 0) AS next_len,
                row_number() OVER w AS turn_rank
         FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)""",
    "kg_context_expand": ORACLE_CONTEXT.format(derived=DERIVED_TRANSCRIPTS_SQL),
    "kg_qualified_mentions": ORACLE_QUALIFIED,
    "kg_standalone_mentions": ORACLE_STANDALONE_MENTIONS.format(
        derived=DERIVED_TRANSCRIPTS_SQL
    ),
    "kg_block_types": ORACLE_BLOCK_TYPES.format(derived=DERIVED_TRANSCRIPTS_SQL),
    "kg_edge_provenance": _edge_provenance_oracle(),
    "transcript_quarantine": ORACLE_QUARANTINE.format(derived=DERIVED_TRANSCRIPTS_SQL),
    "graph_tree": ORACLE_GRAPH_TREE,
    "rrf_fusion_docs": ORACLE_RRF,
    # DuckDB SUM(BIGINT) returns HUGEINT, which pandas renders as float64
    # ("138014.0" vs Spark's "138014") — CAST every integer SUM back to
    # BIGINT. Revenue-style sums run as DECIMAL(18,6) on both sides (exact,
    # order-independent) then cast to double and rounded.
    "top_orders_per_customer": """
         SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders) x WHERE rk <= 3""",
    "customers_without_orders": """
         SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
         ORDER BY c_custkey""",
    "revenue_per_nation": """
         SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "doc_language_stats": """
         SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                COUNT(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",
    "doc_token_stats": r"""
         SELECT doc_id,
                len(string_split_regex(text, '\s+')) AS n_words,
                len(list_distinct(string_split_regex(text, '\s+'))) AS n_distinct_words,
                length(text) AS n_chars_exact
         FROM documents ORDER BY doc_id""",
    "doc_quality": r"""
         SELECT doc_id,
                ROUND(len(list_filter(string_split_regex(text, '\s+'),
                          x -> list_contains(['the','a','of','and','to'], x)))
                      / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE), 6)
                  AS stopword_ratio,
                ROUND(list_sum(list_transform(string_split_regex(text, '\s+'),
                                              x -> length(x)))
                      / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE), 6)
                  AS mean_word_len
         FROM documents ORDER BY doc_id""",
    "doc_fingerprint": f"""
         WITH fp AS (
           SELECT doc_id, sha256(text) AS sha,
                  {_PORTABLE_HASH.format(e='text')} AS fingerprint
           FROM documents)
         SELECT doc_id, fingerprint, COUNT(*) OVER (PARTITION BY sha) AS n_dups
         FROM fp ORDER BY doc_id""",
    "doc_minhash": r"""
         SELECT doc_id,
    """
    + ",\n".join(
        f"""            list_min(list_transform(list_distinct(string_split_regex(text, '\\s+')),
                 x -> CAST(('0x' || substr(md5('{seed}|' || x), 1, 15)) AS BIGINT))) AS mh{seed}"""
        for seed in range(4)
    )
    + "\n         FROM documents ORDER BY doc_id",
    "doc_langid": _langid_oracle(),
    "doc_simhash": _simhash_oracle(),
    "doc_fp_overlap": ORACLE_FP_OVERLAP,
    "doc_contamination": ORACLE_CONTAMINATION,
    "doc_repetition": ORACLE_REPETITION.format(derived=DERIVED_TRANSCRIPTS_SQL),
    "dedup_near_pairs": ORACLE_NEAR_PAIRS,
    "dedup_embedding_pairs": _embedding_pairs_oracle(),
    "dedup_groups": ORACLE_DEDUP_GROUPS,
    "doc_quality_filter": _quality_filter_oracle(),
    "pack_docs": ORACLE_PACK,
    "doc_hash_sample": ORACLE_HASH_SAMPLE,
    "doc_stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "doc_clean_boilerplate": ORACLE_CLEAN_BOILERPLATE.format(
        derived=DERIVED_TRANSCRIPTS_SQL
    ),
    "doc_redact_pii": _redact_pii_oracle(),
    "event_rate_windows": """
         SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket, event_type,
                COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "ann_topk": """
         WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         sims AS (
           SELECT vec_id, label,
                  ROUND(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cos_sim
           FROM embeddings, q WHERE vec_id <> 0)
         SELECT vec_id, label, cos_sim,
                row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rk
         FROM sims QUALIFY rk <= 10""",
    "ann_lsh_topk": _lsh_topk_oracle(),
    "ann_ivf_topk": _ivf_topk_oracle(),
    "kg_canonicalize": _canonicalize_oracle(),
    "kg_alias_bindings": ORACLE_ALIAS_BINDINGS,
    "kg_canonicalize_bindings": _canonicalize_oracle(include_bindings=True),
    "kg_pipeline_nodes": _nodes_oracle(),
    "kg_pipeline_edges": _edges_oracle(),
    "kg_link_mentions": _link_mentions_oracle(),
    "kg_link_topn": _link_mentions_oracle(top_n=3),
    "kg_link_analyze": _link_mentions_oracle(analyze=True, min_score=0.02),
    "kg_link_delta": _link_delta_oracle(),
    "kg_search_chunks": _search_chunks_oracle(),
    "kg_search_filtered": _search_chunks_oracle(
        src_sql=(
            "SELECT CAST(doc_id AS VARCHAR) AS chunk_id, text FROM documents "
            f"WHERE {SEARCH_FILTER_SQL}"
        ),
        min_score=SEARCH_MIN_SCORE,
    ),
    "kg_search_context": _search_context_oracle(),
    "kg_search_rewrite": _search_chunks_oracle(
        query=REWRITE_QUERY,
        kw_query=" ".join(rewrite_query(REWRITE_QUERY)),
    ),
    "graph_triangles": ORACLE_GRAPH_TRIANGLES,
    "kg_link_defboost": _link_mentions_oracle(def_cases=(("%ache", 1.0), ("%store", 0.5))),
    "graph_reach": ORACLE_GRAPH,
    "multi_index_merge": ORACLE_MULTI_INDEX,
    "deps_enrichment": ORACLE_DEPS_ENRICH,
    "glob_filter": """
         SELECT doc_id, source, lang FROM documents
         WHERE source LIKE 'src1%' AND source NOT LIKE '%7'
           AND lang IN ('en', 'de')
         ORDER BY doc_id""",
    "rollup_revenue": ORACLE_ROLLUP,
    "price_percentiles": ORACLE_PERCENTILES,
    "event_type_pivot": ORACLE_PIVOT,
    "sessionize_events": ORACLE_SESSIONIZE,
    "graph_hubs": ORACLE_HUBS,
    "blast_radius": ORACLE_BLAST,
    "graph_stats": ORACLE_GRAPH_STATS,
    "graph_pagerank": _pagerank_oracle(),
    "kg_incremental_diff": ORACLE_INCR_DIFF.format(derived=DERIVED_TRANSCRIPTS_SQL),
}
