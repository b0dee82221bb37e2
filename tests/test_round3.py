"""Round-3 feature tests: standalone mentions (X2), block metadata (X3),
edge provenance, definition boost, schema evolution, staleness."""

from __future__ import annotations

import json
import os
import re
import time

import pytest
from pyspark.sql import functions as F

from coco_search_spark.functions.text import classify_block_col, section_col
from coco_search_spark.operators.extract import (
    MENTION_GRAMMAR,
    extract_standalone_mentions,
    extract_triples,
    extract_triples_prov,
)
from coco_search_spark.operators.segments import segment_turns

TS = None  # ts unused by these operators


def _tdf(spark, rows):
    return spark.createDataFrame(
        [(c, t, "user", x, None, TS) for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


# ------------------------------------------------------- standalone mentions

def test_standalone_mentions_basic(spark):
    t = _tdf(
        spark,
        [
            ("c0", 0, "routing is flaky . see payment_gateway ."),
            ("c0", 1, "the auth_router module handles tokens"),
            ("c0", 2, "nothing of note here"),
            # stop-ident must be filtered even in marker position
            ("c0", 3, "see which . the is module ."),
        ],
    )
    m = {
        (r["mention"], r["mention_kind"]): (r["conv_id"], r["turn_idx"])
        for r in extract_standalone_mentions(segment_turns(t)).collect()
    }
    assert ("payment_gateway", "reference") in m
    assert ("auth_router", "definition") in m
    assert all(k[0] not in ("which", "is") for k in m)
    assert len(m) == 2


def test_standalone_mentions_whitespace_and_overlap(spark):
    # marker split across a segment boundary must be recovered by overlap
    filler = " ".join(f"w{i}" for i in range(148))
    text = filler + " see stream_engine ."
    t = _tdf(spark, [("c1", 0, text), ("c1", 1, "see\nqueue_broker .")])
    got = {
        r["mention"]
        for r in extract_standalone_mentions(segment_turns(t)).collect()
    }
    assert got == {"stream_engine", "queue_broker"}


def test_relation_free_entity_becomes_node(spark):
    from coco_search_spark.pipeline import run_pipeline

    t = _tdf(
        spark,
        [
            ("c2", 0, "billing_engine calls ledger_store ."),
            ("c2", 1, "unrelated chatter . see orphan_service ."),
        ],
    )
    res = run_pipeline(spark, t)
    nodes = {r["entity_id"]: r for r in res.nodes.collect()}
    assert "orphan_service" in nodes
    assert nodes["orphan_service"]["out_degree"] == 0
    assert nodes["orphan_service"]["in_degree"] == 0
    assert res.metrics["n_standalone_mentions"] == 1
    # edge endpoints still carry degrees
    assert nodes["billing_engine"]["out_degree"] == 1


# ------------------------------------------------------------ block metadata

def test_classify_block_and_section(spark):
    rows = [
        ("b0", 0, "user", "plain prose text", None),
        ("b0", 1, "assistant", "look:\n```\nlet x = 1\n```\ndone", None),
        ("b0", 2, "tool", "grep output lines", "grep"),
        ("b0", 3, "user", "# section_alpha\nintro\n# section_beta\nbody", None),
    ]
    df = spark.createDataFrame(
        [(c, t, r, x, tool, None) for c, t, r, x, tool in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = {
        r["turn_idx"]: (r["bt"], r["sec"])
        for r in df.select(
            "turn_idx",
            classify_block_col(F.col("text"), F.col("tool")).alias("bt"),
            section_col(F.col("text")).alias("sec"),
        ).collect()
    }
    assert out[0] == ("prose", None)
    assert out[1] == ("fenced_code", None)  # round-4 taxonomy name
    assert out[2] == ("tool_output", None)
    assert out[3] == ("prose", "section_beta")  # innermost (last) heading


def test_chunks_carry_block_metadata(spark, tmp_path):
    from coco_search_spark.pipeline import run_pipeline

    t = _tdf(spark, [("c3", 0, "alpha_service calls beta_store . ```\ncode\n```")])
    out = str(tmp_path / "out")
    run_pipeline(spark, t, out_dir=out)
    chunks = spark.read.parquet(f"{out}/chunks_v000001")
    assert "block_type" in chunks.columns and "section" in chunks.columns
    assert chunks.filter(F.col("block_type") == "fenced_code").count() >= 1


# -------------------------------------------------------- definition boost

def test_definition_boost_flips_winner(spark):
    from coco_search_spark.operators.linking import link_surfaces

    # two entities with aliases equidistant from the mention; only ent_b's
    # alias was observed in a code (definition) block → boost must flip the
    # otherwise entity-id tie-break (which favors ent_a)
    mentions = spark.createDataFrame([("shared_name",)], "mention string")
    cat_rows = [
        ("ent_a", "shared_alpha", "prose"),
        ("ent_b", "shared_beta", "code"),
    ]
    catalog = spark.createDataFrame(
        cat_rows, "entity_id string, alias string, block_type string"
    )
    best = link_surfaces(mentions, catalog).collect()[0]
    assert best["entity_id"] == "ent_b"
    # without block_type the tie-break picks ent_a (stable entity_id asc)
    catalog_plain = catalog.drop("block_type")
    base = link_surfaces(mentions, catalog_plain).collect()[0]
    assert base["entity_id"] in ("ent_a", "ent_b")  # scores decide; boost off
    assert base["link_score"] < best["link_score"] or base["entity_id"] != "ent_b"


# ------------------------------------------------------------- provenance

def test_edge_provenance_offsets(spark):
    filler = " ".join(f"f{i}" for i in range(200))  # forces multi-segment turns
    rows = [
        ("p0", 0, "intro words . cache_layer imports token_store . outro"),
        ("p0", 1, filler + " vector_index is used by query_planner ."),
        ("p0", 2, "a_svc , which emits b_store . tail"),
    ]
    t = _tdf(spark, rows)
    segs = segment_turns(t, with_offsets=True)
    got = {
        (r["turn_idx"], r["subj"], r["pred"], r["obj"]): (
            r["src_offset"],
            r["src_seg_idx"],
        )
        for r in extract_triples_prov(segs).collect()
    }
    texts = {r[1]: r[2] for r in rows}
    # active form: match starts at subject
    off, seg0 = got[(0, "cache_layer", "imports", "token_store")]
    assert off == texts[0].find("cache_layer") + 1 and seg0 == 0
    # passive form: group-0 match starts at the OBJECT surface
    off, _ = got[(1, "query_planner", "uses", "vector_index")]
    assert off == texts[1].find("vector_index") + 1
    # appositive
    off, _ = got[(2, "a_svc", "emits", "b_store")]
    assert off == texts[2].find("a_svc") + 1
    # provenance variant must emit exactly the same triples as the plain one
    plain = {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
        for r in extract_triples(segment_turns(t)).collect()
    }
    assert plain == {("p0", k[0], k[1], k[2], k[3]) for k in got}


def test_provenance_survives_in_edge_metadata(spark, tmp_path):
    from coco_search_spark.pipeline import run_pipeline

    t = _tdf(spark, [("m0", 0, "alpha_svc calls beta_store .")])
    out = str(tmp_path / "graph")
    run_pipeline(spark, t, out_dir=out)
    edges = spark.read.parquet(f"{out}/edges")
    md = edges.select(F.col("metadata")).collect()[0][0]
    assert md["subj_surface"] == "alpha_svc"
    assert int(md["src_offset"]) == 1  # match starts at char 1 of the turn
    assert int(md["src_seg_idx"]) == 0


# ------------------------------------------------- schema evolution / state

def test_ensure_columns_reads_old_schema(spark, tmp_path):
    from coco_search_spark.state import STATE_SCHEMA, StateStore, ensure_columns

    old = spark.createDataFrame(
        [("c0", "hash0", "extract")],
        "conv_id string, content_hash string, stage string",
    )
    migrated = ensure_columns(old, STATE_SCHEMA)
    assert migrated.columns[:7] == [
        "conv_id", "content_hash", "stage", "snapshot_id",
        "rows_in", "rows_out", "errors",
    ]
    row = migrated.collect()[0]
    assert row["errors"] is None and row["conv_id"] == "c0"

    # end-to-end: a state dir whose parquet predates newer columns
    sd = str(tmp_path / "state")
    store = StateStore(sd)
    data_path = os.path.join(sd, "state_v000001")
    old.write.mode("overwrite").parquet(data_path)
    with open(os.path.join(sd, "manifest.json"), "w") as f:
        json.dump(
            {"version": 1, "snapshot_id": "v000001", "stage": "extract",
             "data_path": data_path, "committed_at": time.time() - 120},
            f,
        )
    readback = store.read(spark)
    assert set(readback.columns) >= {"errors", "rows_out", "snapshot_id"}
    assert readback.count() == 1
    age = store.staleness_seconds()
    assert age is not None and 60 <= age <= 3600


def test_staleness_none_without_snapshot(tmp_path):
    from coco_search_spark.state import StateStore

    assert StateStore(str(tmp_path / "empty")).staleness_seconds() is None


# ------------------------------------------------- unified one-scan extract

def test_extract_all_matches_per_family_extractors(spark, transcripts):
    from coco_search_spark.operators.extract import (
        extract_alias_bindings,
        extract_all,
        split_extracted,
    )

    segs_off = segment_turns(transcripts, with_offsets=True)
    segs = segment_turns(transcripts)
    triples, mentions, bindings = split_extracted(extract_all(segs_off))

    t_combined = {
        tuple(r) for r in triples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
    }
    t_solo = {tuple(r) for r in extract_triples(segment_turns(transcripts)).collect()}
    assert t_combined == t_solo and len(t_solo) > 0

    p_combined = {
        tuple(r)
        for r in triples.select("conv_id", "turn_idx", "subj", "pred", "obj", "src_offset", "src_seg_idx").collect()
    }
    p_solo = {tuple(r) for r in extract_triples_prov(segs_off).collect()}
    assert p_combined == p_solo

    m_combined = {tuple(r) for r in mentions.collect()}
    m_solo = {tuple(r) for r in extract_standalone_mentions(segs).collect()}
    assert m_combined == m_solo

    b_combined = {tuple(r) for r in bindings.collect()}
    b_solo = {tuple(r) for r in extract_alias_bindings(segs).collect()}
    assert b_combined == b_solo


def test_pipeline_merges_in_text_alias_bindings(spark):
    from coco_search_spark.pipeline import run_pipeline

    t = _tdf(
        spark,
        [
            ("ab0", 0, "core_svc uses payment_gateway as zz9 ."),
            ("ab0", 1, "zz9 emits audit_log ."),
        ],
    )
    res = run_pipeline(spark, t)
    canon = {r["surface"]: r["canon_id"] for r in res.canon.collect()}
    # the in-text binding merges zz9 (no shared shingles/tokens) into the
    # payment_gateway cluster
    assert canon["zz9"] == canon["payment_gateway"]


def test_pipeline_with_catalog_links_concurrently(spark):
    """Linking and canonicalization run from concurrent threads; the
    canonicalize shuffle-partition override must stay isolated in its own
    session (caller conf untouched) while linking produces entity ids."""
    from coco_search_spark.pipeline import run_pipeline

    t = _tdf(
        spark,
        [
            ("cc0", 0, "payment_gateway calls auth_router ."),
            ("cc0", 1, "paymentGateway emits audit_log ."),
        ],
    )
    catalog = spark.createDataFrame(
        [("pay", "payment_gateway"), ("pay", "paymentGateway"), ("auth", "auth_router")],
        "entity_id string, alias string",
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    res = run_pipeline(spark, t, catalog=catalog)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    links = {r["mention"]: r["entity_id"] for r in res.links.collect()}
    assert links["payment_gateway"] == "pay" and links["paymentGateway"] == "pay"
    assert links["auth_router"] == "auth"
    # linked ids win over canon ids in the edge table
    subj_ids = {r["subj_id"] for r in res.edges.collect()}
    assert "pay" in subj_ids


# ------------------------------------------------ glob compile / validation

def test_glob_compile_and_filter(spark):
    from coco_search_spark.ops.globs import compile_glob_filter, glob_to_like

    assert glob_to_like("src1*") == "src1%"
    assert glob_to_like("a?c") == "a_c"
    assert glob_to_like("100%_x") == r"100\%\_x"  # LIKE metachars escaped
    with pytest.raises(ValueError):
        glob_to_like("")

    df = spark.createDataFrame(
        [("src1",), ("src10",), ("src17",), ("other",)], "source string"
    )
    got = {
        r["source"]
        for r in df.filter(
            compile_glob_filter(F.col("source"), includes=["src1*"], excludes=["*7"])
        ).collect()
    }
    assert got == {"src1", "src10"}
    # exclude-only mode (the reference's default)
    got2 = {
        r["source"]
        for r in df.filter(
            compile_glob_filter(F.col("source"), excludes=["other"])
        ).collect()
    }
    assert got2 == {"src1", "src10", "src17"}
    with pytest.raises(ValueError):
        compile_glob_filter(F.col("source"))


def test_query_arg_validation(spark):
    from coco_search_spark.operators.linking import link_surfaces
    from coco_search_spark.ops.dedup import minhash_lsh_pairs
    from coco_search_spark.ops.similarity import ivf_topk

    df = spark.createDataFrame([(0, "x")], "doc_id int, text string")
    emb = spark.createDataFrame([(0, [0.1, 0.2])], "vec_id int, embedding array<double>")
    q = spark.createDataFrame([(0, [0.1, 0.2])], "q_id int, q_vec array<double>")
    with pytest.raises(ValueError, match="positive"):
        ivf_topk(emb, q, k=0)
    with pytest.raises(ValueError, match="nprobe"):
        ivf_topk(emb, q, n_centroids=2, nprobe=5)
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(df, "doc_id", "text", n_hashes=16, n_bands=5)
    with pytest.raises(ValueError, match="fractions"):
        minhash_lsh_pairs(df, "doc_id", "text", jaccard_threshold=1.5)
    m = spark.createDataFrame([("a",)], "mention string")
    cat = spark.createDataFrame([("e", "a")], "entity_id string, alias string")
    with pytest.raises(ValueError, match="positive"):
        link_surfaces(m, cat, prefetch=0)


# ------------------------------------------------------------- sampling

def test_hash_sample_deterministic_and_seeded(spark):
    from coco_search_spark.ops.sampling import hash_sample

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in hash_sample(df, "doc_id", 2500).collect()}
    b = {r["doc_id"] for r in hash_sample(df.repartition(17), "doc_id", 2500).collect()}
    assert a == b  # partitioning-invariant
    assert 0.15 < len(a) / 2000 < 0.35  # ~25%
    c = {r["doc_id"] for r in hash_sample(df, "doc_id", 2500, seed="eval").collect()}
    assert c != a  # independent draw under a different seed
    with pytest.raises(ValueError):
        hash_sample(df, "doc_id", 20000, denominator=10000)


def test_stratified_cap_exact_and_skew_safe(spark):
    from coco_search_spark.ops.sampling import stratified_cap
    from pyspark.sql import Window as W

    from coco_search_spark.functions.text import portable_hash_col

    # one gigantic stratum + tiny ones
    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 4900, "hot").otherwise(
            F.concat(F.lit("s"), F.pmod(F.col("id"), F.lit(5)))
        ).alias("stratum"),
    )
    got = stratified_cap(df, "stratum", "doc_id", n_per_stratum=7)
    rows = got.collect()
    per = {}
    for r in rows:
        per.setdefault(r["stratum"], set()).add(r["doc_id"])
    assert all(len(v) <= 7 for v in per.values())
    assert len(per["hot"]) == 7
    # two-phase result must equal the plain single-window draw exactly
    h = portable_hash_col(F.concat(F.lit("|"), F.col("doc_id").cast("string")))
    w = W.partitionBy("stratum").orderBy(F.asc(h), F.asc("doc_id"))
    plain = (
        df.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 7)
        .select("stratum", "doc_id")
    )
    assert {tuple(r) for r in plain.collect()} == {
        (r["stratum"], r["doc_id"]) for r in rows
    }


# ----------------------------------------------------------- boilerplate

def test_remove_boilerplate_lines(spark):
    from coco_search_spark.ops.clean import (
        boilerplate_lines,
        remove_boilerplate_lines,
    )

    docs = [(i, f"unique line {i}\nBOILER PLATE\n\nok {i}") for i in range(20)]
    docs.append((99, "solo document"))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    drop = {r["line"] for r in boilerplate_lines(df, ["doc_id"], "text", 0.5).collect()}
    assert drop == {"BOILER PLATE"}  # 20/21 docs > 50%; uniques stay
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_boilerplate_lines(df, ["doc_id"], "text", 0.5).collect()
    }
    # order preserved, empty line retained (below min_chars, never dropped)
    assert out[3] == "unique line 3\n\nok 3"
    assert out[99] == "solo document"
    # short ubiquitous lines are exempt via min_chars
    df2 = spark.createDataFrame(
        [(i, f"x{i}\nok") for i in range(10)], "doc_id int, text string"
    )
    assert boilerplate_lines(df2, ["doc_id"], "text", 0.5, min_chars=3).count() == 0


def test_redact_pii(spark):
    from coco_search_spark.ops.clean import redact_pii_col

    df = spark.createDataFrame(
        [
            (0, "mail a.b+c@ex-amp.le.org then 192.168.0.1 or 555-012-3456 end"),
            (1, "no pii here, just v1.2 and x@y (not an email)"),
            (2, "two mails a@b.co b@c.io"),
        ],
        "i int, text string",
    )
    out = {r["i"]: r["c"] for r in df.select("i", redact_pii_col(F.col("text")).alias("c")).collect()}
    assert out[0] == "mail <EMAIL> then <IP> or <PHONE> end"
    assert out[1] == "no pii here, just v1.2 and x@y (not an email)"
    assert out[2] == "two mails <EMAIL> <EMAIL>"


# ---------------------------------------------------- grammar/pytest parity

def test_mention_grammar_python_twin(spark):
    """Each marker regex behaves identically in Python re (documentation of
    the RE2/Java-compatible subset the grammar sticks to)."""
    samples = {
        "see payment_gateway": [("payment_gateway", "reference")],
        "the auth_router module": [("auth_router", "definition")],
        "the auth_router component": [("auth_router", "definition")],
        "foresee nothing": [],
        "the x modules": [],  # 'modules' != 'module\b'
    }
    for text, want in samples.items():
        got = []
        for rx, kind, _ in MENTION_GRAMMAR:
            got += [(m, kind) for m in re.findall(rx, text)]
        assert got == want, text


def test_contamination_check(spark):
    from coco_search_spark.ops.textstats import contamination_check

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (1, "totally different words here nothing shared at all ever once"),
        ],
        "doc_id int, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id int, text string",
    )
    out = {r["id"]: r for r in contamination_check(docs, ev, "doc_id", "text").collect()}
    assert out[0]["contamination"] == 1.0  # identical text: full overlap
    assert out[0]["n_hits"] == out[0]["n_fps"]
    assert out[1]["contamination"] == 0.0 and out[1]["n_hits"] == 0


def test_repetition_stats(spark):
    from coco_search_spark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (0, "a\nb\na\na"),         # 4 lines, 2 dup copies of 'a'
            (1, "unique\nlines\nonly"),
            (2, ""),                    # one empty line, zero chars
        ],
        "doc_id int, text string",
    )
    out = {r["id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert out[0]["n_lines"] == 4 and out[0]["n_dup_lines"] == 2
    assert out[0]["dup_line_frac"] == 0.5
    assert out[0]["dup_char_frac"] == 0.5  # 4 chars total, 2 in dup copies
    assert out[1]["n_dup_lines"] == 0 and out[1]["dup_char_frac"] == 0.0
    assert out[2]["dup_char_frac"] == 0.0  # zero-char guard


def test_chained_conjunction_parity(spark):
    """Regression (round-3 code review): chained relations where the word
    after 'and' starts a NEW sentence must keep every triple — a greedy
    optional conjunction tail on the active pattern would consume the next
    subject and lose (gamma, uses, delta)."""
    from coco_search_spark.reference_extractor import extract_triples_from_text

    text = "alpha uses beta and gamma uses delta ."
    ref = set(extract_triples_from_text(text))
    assert ("gamma", "uses", "delta") in ref
    t = _tdf(spark, [("ch0", 0, text)])
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in extract_triples(segment_turns(t)).collect()
    }
    assert got == ref


def test_incremental_resume_keeps_all_fact_families(spark, tmp_path):
    """Regression (round-3 code review): an incremental run must restore
    standalone mentions and alias bindings of UNCHANGED conversations, not
    just their triples — otherwise degree-0 nodes vanish and binding-driven
    cluster merges are lost on resume."""
    from coco_search_spark.pipeline import run_pipeline

    rows_a = [
        ("convA", 0, "core_svc uses payment_gateway as zz9 ."),
        ("convA", 1, "side note . see orphan_service ."),
    ]
    rows_b1 = [("convB", 0, "billing_engine calls ledger_store .")]
    rows_b2 = [("convB", 0, "billing_engine calls audit_store .")]  # changed

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    r1 = run_pipeline(spark, _tdf(spark, rows_a + rows_b1), out_dir=out, state_dir=state)
    nodes1 = {r["entity_id"] for r in r1.nodes.collect()}
    canon1 = {r["surface"]: r["canon_id"] for r in r1.canon.collect()}
    assert "orphan_service" in nodes1
    assert canon1["zz9"] == canon1["payment_gateway"]

    r2 = run_pipeline(spark, _tdf(spark, rows_a + rows_b2), out_dir=out, state_dir=state)
    assert r2.metrics["n_unchanged_convs"] == 1  # convA restored, not re-extracted
    nodes2 = {r["entity_id"] for r in r2.nodes.collect()}
    canon2 = {r["surface"]: r["canon_id"] for r in r2.canon.collect()}
    # convA's relation-free node and binding-driven merge both survive
    assert "orphan_service" in nodes2
    assert canon2["zz9"] == canon2["payment_gateway"]
    # convB's change is reflected
    assert any("audit" in n for n in nodes2)


def test_boilerplate_null_text_survives(spark):
    from coco_search_spark.ops.clean import remove_boilerplate_lines

    df = spark.createDataFrame(
        [(0, "real content here"), (1, None)], "doc_id int, text string"
    )
    out = {r["doc_id"]: r["clean_text"] for r in remove_boilerplate_lines(df, ["doc_id"], "text", 0.9).collect()}
    assert out[1] == ""  # null text survives as empty, not dropped
    assert out[0] == "real content here"
