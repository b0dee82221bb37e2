"""Typed engine configuration — the operational config surface.

The reference ships a full config subsystem (reference:
src/cocosearch/config/generator.py + config/resolver.py, ~900 LoC:
discovery, generation, validation of per-index config files) so an
operator can tune an index without editing source. This module is its
engine-sized analog: every tunable the pipeline hard-codes as a module
constant is exposed on one frozen dataclass, loadable from JSON (or YAML
when a parser is available), validated all-at-once (the reference collects
every violation before raising — preflight.py:96-105 style), and hashed
into a **config identity** that the state manifest records per snapshot
(reference: management/metadata.py:29-50 + management/git.py stamp the
producing code/config onto each index) so a resume can detect that the
producing configuration differs from the current one.

Defaults are EXACTLY the module constants they mirror (a drift test pins
this), so constructing ``EngineConfig()`` changes nothing.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, fields


@dataclass(frozen=True)
class EngineConfig:
    # embedding (embedder.py:79-96 dimension resolution analog)
    embed_dim: int = 64
    # linking (hybrid.py:29 RRF_K, :33 boost, :37 prefetch)
    rrf_k: int = 60
    exact_match_boost: float = 2.0
    max_prefetch: int = 100
    min_link_score: float = 0.0
    # canonicalization (LSH/MinHash blocking + CC)
    n_hashes: int = 12
    n_bands: int = 4
    jaccard_threshold: float = 0.6
    max_cc_iterations: int = 20
    # OPERATIONAL knobs (affect performance/layout, never results —
    # excluded from the config identity so tuning them can't trigger a
    # spurious full re-extract on resume)
    compact_parts_after: int = 8
    broadcast_surface_limit: int = 5_000_000
    # input-manifest scan pruning (operators/scan_pruning.py): warm runs
    # re-read only changed files + affected conversations' home files.
    # Escape hatch for sources that mutate files in place preserving
    # (size, mtime) — turn off to force the full hash scan every run.
    incremental_scan: bool = True

    # ---- validation ----------------------------------------------------
    _POSITIVE = (
        "embed_dim",
        "rrf_k",
        "max_prefetch",
        "n_hashes",
        "n_bands",
        "max_cc_iterations",
        "compact_parts_after",
        "broadcast_surface_limit",
    )
    # knobs that change HOW state is laid out / how fast the run is, but
    # never WHAT any query returns — kept out of config_hash
    _OPERATIONAL = (
        "compact_parts_after",
        "broadcast_surface_limit",
        "incremental_scan",
    )
    _FRACTION = ("jaccard_threshold", "min_link_score")

    def validate(self) -> "EngineConfig":
        """Collect EVERY violation before raising (reference all-at-once
        failure style) — one round trip for the operator."""
        problems: list[str] = []
        for name in self._POSITIVE:
            v = getattr(self, name)
            if not isinstance(v, int) or isinstance(v, bool) or v <= 0:
                problems.append(f"{name} must be a positive int, got {v!r}")
        for name in self._FRACTION:
            v = getattr(self, name)
            if not isinstance(v, (int, float)) or isinstance(v, bool) or not (
                0.0 <= float(v) <= 1.0
            ):
                problems.append(f"{name} must be in [0, 1], got {v!r}")
        if not isinstance(self.exact_match_boost, (int, float)) or (
            self.exact_match_boost < 1.0
        ):
            problems.append(
                f"exact_match_boost must be >= 1.0, got {self.exact_match_boost!r}"
            )
        if (
            isinstance(self.n_bands, int)
            and self.n_bands > 0
            and isinstance(self.n_hashes, int)
            and self.n_hashes % self.n_bands != 0
        ):
            problems.append(
                f"n_hashes ({self.n_hashes}) must be divisible by n_bands"
                f" ({self.n_bands})"
            )
        if not isinstance(self.incremental_scan, bool):
            problems.append(
                f"incremental_scan must be a bool, got {self.incremental_scan!r}"
            )
        if problems:
            raise ValueError(
                f"invalid EngineConfig ({len(problems)} problems): "
                + "; ".join(problems)
            )
        return self

    # ---- construction --------------------------------------------------
    @classmethod
    def from_dict(cls, d: dict) -> "EngineConfig":
        known = {f.name for f in fields(cls)}
        unknown = sorted(set(d) - known)
        if unknown:
            raise ValueError(
                f"unknown config keys: {unknown}; known keys: {sorted(known)}"
            )
        return cls(**d).validate()

    @classmethod
    def from_file(cls, path: str) -> "EngineConfig":
        """Load from JSON; .yaml/.yml is parsed with PyYAML when importable
        (import-gated — the sandbox has no YAML parser, JSON always works)."""
        with open(path) as f:
            raw = f.read()
        if path.endswith((".yaml", ".yml")):
            try:
                import yaml  # type: ignore
            except ImportError as exc:  # pragma: no cover - env-dependent
                raise ValueError(
                    f"{path}: YAML config requires PyYAML; use JSON instead"
                ) from exc
            data = yaml.safe_load(raw)
        else:
            data = json.loads(raw)
        if not isinstance(data, dict):
            raise ValueError(f"{path}: config must be a mapping, got {type(data)}")
        return cls.from_dict(data)

    # ---- identity -------------------------------------------------------
    def to_dict(self) -> dict:
        return asdict(self)

    def config_hash(self) -> str:
        """Stable identity of (engine version, grammar version, tunables) —
        what the state manifest stamps per snapshot so a resume knows
        whether the stored facts were produced by a compatible config."""
        from coco_search_spark import __version__
        from coco_search_spark.operators.extract import GRAMMAR_VERSION

        semantic = {
            k: v for k, v in self.to_dict().items() if k not in self._OPERATIONAL
        }
        payload = json.dumps(
            {
                "engine_version": __version__,
                "grammar_version": GRAMMAR_VERSION,
                "config": semantic,
            },
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]
