"""EngineConfig: typed config surface + snapshot provenance gate.

Reference analog: config/generator.py + config/resolver.py (operational
config without editing source) and management/metadata.py:29-50 (stamping
the producing identity onto each index)."""

from __future__ import annotations

import dataclasses
import json

import pytest

from coco_search_spark import fixtures
from coco_search_spark.config import EngineConfig
from coco_search_spark.pipeline import run_pipeline
from coco_search_spark.state import StateStore


def test_defaults_mirror_module_constants():
    """EngineConfig() must change nothing: every default equals the module
    constant it mirrors (drift guard — a constant edited without updating
    the config default would silently fork the two surfaces)."""
    from coco_search_spark.operators import canonicalize as cz
    from coco_search_spark.operators import linking as lk

    c = EngineConfig()
    assert c.rrf_k == lk.RRF_K
    assert c.exact_match_boost == lk.EXACT_MATCH_BOOST
    assert c.max_prefetch == lk.MAX_PREFETCH
    assert c.n_hashes == cz.N_HASHES
    assert c.n_bands == cz.N_BANDS
    assert c.jaccard_threshold == cz.JACCARD_THRESHOLD
    assert c.max_cc_iterations == cz.MAX_CC_ITERATIONS
    from coco_search_spark import pipeline as pl
    from coco_search_spark import state as st

    assert c.compact_parts_after == st.COMPACT_PARTS_AFTER
    assert c.broadcast_surface_limit == pl.BROADCAST_SURFACE_LIMIT


def test_validation_collects_all_problems_at_once():
    with pytest.raises(ValueError) as ei:
        EngineConfig(embed_dim=0, jaccard_threshold=1.5, n_bands=-1).validate()
    msg = str(ei.value)
    assert "embed_dim" in msg and "jaccard_threshold" in msg and "n_bands" in msg
    assert "3 problems" in msg


def test_unknown_keys_rejected_with_known_list():
    with pytest.raises(ValueError) as ei:
        EngineConfig.from_dict({"rrf_k": 60, "typo_key": 1})
    assert "typo_key" in str(ei.value) and "rrf_k" in str(ei.value)


def test_bands_must_divide_hashes():
    with pytest.raises(ValueError, match="divisible"):
        EngineConfig(n_hashes=10, n_bands=4).validate()


def test_from_file_json_roundtrip(tmp_path):
    p = tmp_path / "engine.json"
    p.write_text(json.dumps({"jaccard_threshold": 0.5, "rrf_k": 30}))
    c = EngineConfig.from_file(str(p))
    assert c.jaccard_threshold == 0.5 and c.rrf_k == 30
    # untouched keys keep defaults; hash differs from default identity
    assert c.embed_dim == EngineConfig().embed_dim
    assert c.config_hash() != EngineConfig().config_hash()
    assert EngineConfig.from_dict(c.to_dict()) == c


def test_pipeline_runs_from_config_file_and_stamps_provenance(
    spark, fx, tmp_path
):
    p = tmp_path / "engine.json"
    p.write_text(json.dumps({"embed_dim": 64}))  # explicit defaults
    cfg = EngineConfig.from_file(str(p))
    state = str(tmp_path / "state")
    sdf = fixtures.transcripts_sdf(spark, fx)
    res = run_pipeline(
        spark, sdf, out_dir=str(tmp_path / "o"), state_dir=state, config=cfg
    )
    assert res.metrics["n_triples"] > 0
    snap = StateStore(state).last_snapshot()
    assert snap["config_hash"] == cfg.config_hash()
    assert snap["engine_version"] and snap["grammar_version"]
    assert snap["config"]["embed_dim"] == 64
    # defaults-equivalence: a from-file default config is identity-equal to
    # EngineConfig() — all oracle-checked behavior unchanged
    assert cfg.config_hash() == EngineConfig().config_hash()


def test_resume_refuses_foreign_config(spark, fx, tmp_path, recwarn):
    """Facts produced under config A must not be reused by a run under
    config B: the resume warns and fully re-extracts; a further run under B
    is incremental again (B's own snapshot now matches)."""
    state = str(tmp_path / "state")
    sdf = fixtures.transcripts_sdf(spark, fx)
    r1 = run_pipeline(spark, sdf, out_dir=str(tmp_path / "o1"), state_dir=state)
    cfg_b = EngineConfig(jaccard_threshold=0.5)
    r2 = run_pipeline(
        spark, sdf, out_dir=str(tmp_path / "o2"), state_dir=state, config=cfg_b
    )
    assert r2.metrics["n_unchanged_convs"] == 0  # full re-extract
    assert any("config" in str(w.message) for w in recwarn.list)
    assert r2.metrics["n_triples"] == r1.metrics["n_triples"]
    r3 = run_pipeline(
        spark, sdf, out_dir=str(tmp_path / "o3"), state_dir=state, config=cfg_b
    )
    assert r3.metrics["n_unchanged_convs"] > 0  # compatible again


def test_grammar_version_changes_identity(monkeypatch):
    from coco_search_spark.operators import extract

    h1 = EngineConfig().config_hash()
    monkeypatch.setattr(extract, "GRAMMAR_VERSION", extract.GRAMMAR_VERSION + 1)
    assert EngineConfig().config_hash() != h1


def test_config_is_frozen():
    with pytest.raises(dataclasses.FrozenInstanceError):
        EngineConfig().rrf_k = 1  # type: ignore[misc]


def test_operational_knobs_excluded_from_config_identity():
    """compact_parts_after changes state layout cadence, never results —
    tuning it between runs must NOT flip config_hash (which would trigger
    a spurious full re-extract on resume), while any semantic tunable
    must."""
    base = EngineConfig()
    assert EngineConfig(compact_parts_after=3).config_hash() == base.config_hash()
    assert EngineConfig(rrf_k=30).config_hash() != base.config_hash()
