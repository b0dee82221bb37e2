"""End-to-end KG-construction pipeline.

transcripts → segment → extract triples → link mentions (hybrid RRF) →
canonicalize (LSH + connected components) → materialize node/edge tables,
with per-stage state commits so a killed run resumes from the last snapshot.

This is the Spark re-expression of the reference's ``run_index`` driver loop
(reference: flow.py:236-511 — validate → preflight → diff → per-file chunk/
embed/extract/upsert → delete removed → parse-tracking) as ONE declarative
DAG per stage, not a Python loop over files. Incremental semantics follow
the reference's correctness rule: extraction is per-conversation
incremental, linking + canonicalization re-run globally
(extractor.py:8-12, 374-399).

``run_pipeline`` is a sequence of stage functions over one ``_Run``
context: scope/diff → extract+vocab → link/canon → edges → nodes → sinks →
commit. Every reuse decision is made once, right after the diff, into the
frozen ``Gates`` record that each prefetch and its consumer both read, and
every background task goes through ``_Run.bg``.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from coco_search_spark.operators.canonicalize import canonicalize_surfaces
from coco_search_spark.operators.extract import extract_all, split_extracted
from coco_search_spark.operators.linking import link_surfaces
from coco_search_spark.operators.materialize import build_nodes, resolve_edges
from coco_search_spark.operators.segments import segment_turns
from coco_search_spark.operators.validate import split_quarantine
from coco_search_spark.state import (
    POINTER_COLS,
    PUSHDOWN_LIMIT,
    IdSet,
    StateStore,
    conversation_hashes,
    diff_against_state,
    resolve_parts,
)

# A run's background pool (guide §2.6: overlap independent jobs). Its
# threads carry this name prefix. It is sized to the most tasks that can be
# in flight at once — facts sink, quarantine sink, replaced-edges prefetch,
# node resolution, state rows and the six write-stage sinks — because a
# queued submission would serialize an overlap.
BG_THREAD_PREFIX = "coco-pipeline"
BG_WORKERS = 12

# identity columns of a current-hash row (plus stored_errors, carried)
_HASH_COLS = ("conv_id", "content_hash", "rows_in", "src_files")


def _parts_ok(parts: list[dict] | None) -> bool:
    return bool(parts) and all(os.path.exists(p["path"]) for p in parts)


def _live_path(snap: dict | None, key: str) -> str | None:
    """The snapshot's ``key`` path when it is set and still on disk."""
    path = snap.get(key) if snap else None
    return path if path and os.path.exists(path) else None


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


@dataclass
class PipelineResult:
    triples: DataFrame
    links: DataFrame
    canon: DataFrame
    edges: DataFrame
    nodes: DataFrame
    metrics: dict


class _Run:
    """One run's context: config, store handles, the stage clock and the
    background pool.

    ``stamp(name)`` closes a stage window: ``stage_timings[name]`` is the
    time since the previous stamp, and perfbench assigns unlabelled jobs to
    these windows. ``fine(name)`` records a sub-stage mark ``f_<name>``,
    the time since the previous mark of either kind. Both are perf_counter
    reads and launch no Spark job."""

    def __init__(self, spark, cfg, out_dir, catalog, state_dir, branch, upsert_only):
        self.spark, self.cfg, self.cfg_hash = spark, cfg, cfg.config_hash()
        self.out_dir, self.catalog, self.upsert_only = out_dir, catalog, upsert_only
        self.timings: dict[str, float] = {}
        self._stage_t = self._mark_t = time.perf_counter()
        # threads start on the first submission; close() joins them
        self._pool = ThreadPoolExecutor(BG_WORKERS, thread_name_prefix=BG_THREAD_PREFIX)
        self.store = StateStore(state_dir, ref=branch) if state_dir else None
        self.snap = self.store.last_snapshot() if self.store else None
        # staleness metric (stats.py:642 analog): age of the state we resume
        # from, surfaced BEFORE this run commits a fresh snapshot
        self.snapshot_age = self.store.staleness_seconds() if self.store else None
        # cached: the state table is consulted by scan pruning, the diff, part
        # reloads, and the pointer join — conversation-count-sized (one row per
        # conversation, no content), so pinning it is cheap and saves a parquet
        # re-read per consumer
        self.stored = self.store.read(spark).cache() if self.store else None
        # one version for every versioned part of the run (single-writer; the
        # commit's expected_version still guards concurrent writers)
        self.version = 1
        self._cached: list[DataFrame] = [] if self.stored is None else [self.stored]

    def stamp(self, name: str) -> None:
        now = time.perf_counter()
        self.timings[name] = round(now - self._stage_t, 2)
        self._stage_t = self._mark_t = now

    def fine(self, name: str) -> None:
        now = time.perf_counter()
        self.timings["f_" + name] = round(now - self._mark_t, 3)
        self._mark_t = now

    def bg(self, name: str, label: str | None, fn) -> Future:
        """Run ``fn`` on the background pool. Spark local properties are
        per-thread, so the worker thread itself sets ``label`` as the job
        description of every job ``fn`` launches (None: unlabelled, the
        jobs count toward the stage window they start in) and clears it in
        ``finally`` — a failed task leaves no stale label on the pooled
        thread. The task's wall time, failure included, is ``f_<name>``."""
        sc = self.spark.sparkContext

        def task():
            t = time.perf_counter()
            sc.setJobDescription(label)
            try:
                return fn()
            finally:
                sc.setJobDescription(None)
                self.timings["f_" + name] = round(time.perf_counter() - t, 3)

        return self._pool.submit(task)

    def part(self, kind: str) -> str:
        """This run's versioned part dir for ``kind``: never the dir a lazy
        plan over the previous snapshot may still be reading."""
        return f"{self.out_dir}/{kind}_v{self.version:06d}"

    def cache(self, df: DataFrame) -> DataFrame:
        """Cache a run-scoped frame; close() drops it."""
        self._cached.append(df)
        return df.cache()

    def close(self) -> None:
        """Wait for running background tasks (queued ones are cancelled),
        then drop the run-scoped caches. A failed run thereby leaves no
        pipeline thread running. The caches never outlive the run, and
        leaving them is a CORRECTNESS hazard for the next run in the same
        session: cur_hashes' plan on a full-scan run is just
        conversation_hashes(<input scan>) — state-independent — so Spark's
        CacheManager would match a later run's identical plan and serve THIS
        run's hashes even after the input files changed. Result-exposed
        caches (edges, nodes, freshly computed canon labels) stay: their
        plans read this run's own checkpoints (extraction, link map,
        surfaces), which never collide. Reused canon labels are never
        cached: they are read lazily from the persisted part, so a later
        run reusing the same part finds nothing of this run's in the
        cache."""
        self._pool.shutdown(wait=True, cancel_futures=True)
        for df in self._cached:
            df.unpersist()


@dataclass
class _Scope:
    """What the run reads and what it can reuse: the scoped input, its diff
    against the stored state, and the previous facts and links."""

    transcripts: DataFrame
    quarantined: DataFrame
    prune: object | None
    cur_manifest: list | None
    dirty: DataFrame
    cur_hashes: DataFrame | None = None
    diff: DataFrame | None = None
    # (conv_id, status) of every conversation that is not 'unchanged', from
    # the diff stage's one capped collect; None above PUSHDOWN_LIMIT
    status_rows: list | None = None
    dirty_ids: IdSet | None = None
    # (conv_id, written_version) of the unchanged conversations: the part
    # pointers their reloaded facts/chunks resolve against
    unchanged_versions: DataFrame | None = None
    n_unchanged: int = 0
    n_dirty: int = 0
    n_deleted: int = 0
    config_compatible: bool = True
    prev_facts: DataFrame | None = None
    prev_links: DataFrame | None = None
    catalog_fp: str | None = None
    facts_parts: list | None = None
    chunks_parts: list | None = None
    edges_parts: list | None = None
    _id_sets: dict = field(default_factory=dict)

    def ids(self, *statuses: str) -> IdSet:
        """The conversations with these diff statuses: the listed ids under
        the cap, a conv_id frame over the diff above it. One IdSet per
        status combination, so each set's predicate is built once however
        many reads apply it."""
        key = frozenset(statuses)
        if key not in self._id_sets:
            if self.status_rows is not None:
                ids = IdSet(ids=[c for c, st in self.status_rows if st in key])
            else:
                ids = IdSet(frame=self.diff.filter(F.col("status").isin(*key)).select("conv_id"))
            self._id_sets[key] = ids
        return self._id_sets[key]


@dataclass(frozen=True)
class Gates:
    """Every reuse decision of a run, made once right after the diff. Each
    background prefetch and the stage that consumes it read the same field,
    so a prefetch runs only when its consumer's gate holds."""

    delta: bool  # unchanged conversations' facts reload; only dirty ones extract
    noop: bool  # delta run with zero dirty conversations: no part is written
    compact: bool  # delta run whose part lists fold into one full part
    vocab_delta: bool  # vocabulary maintained from the delta; replaced facts prefetched
    edge_delta: bool  # edge-delta preconditions hold; replaced edges prefetched
    nodes_provenance: bool  # {out}/nodes holds the resumed snapshot's degrees


@dataclass
class _Facts:
    dirty_facts: DataFrame
    combined: DataFrame
    triples: DataFrame
    standalone: DataFrame
    bindings: DataFrame
    vocab: DataFrame | None  # refcounted vocabulary, set ⇔ vocab_mode "delta"
    vocab_mode: str | None  # None (storeless) | "full" | "delta"
    kind_counts: dict
    lean_facts: bool


@dataclass
class _Linked:
    surfaces: DataFrame
    n_surfaces: int
    links_small: bool
    surface_links: DataFrame
    n_links_fresh: int
    n_links_reused: int
    canon: DataFrame
    canon_in_fp: str | None
    canon_reused: bool
    # the canon-input fingerprint matched AND the previous link table is
    # reusable: the surface set, every canon label and every link row are
    # the previous run's, so the links, the link map and the links_path
    # pointer are reused as they are, with no job to prove it
    identity_reuse: bool


@dataclass
class _Edges:
    link_map: DataFrame
    edges: DataFrame
    standalone_ids: DataFrame
    edge_dirty_ids: IdSet | None
    n_edge_dirty: int | None
    n_moved: int | None
    edges_dirty: DataFrame | None

    @property
    def carry(self) -> bool:
        return self.edge_dirty_ids is not None and self.n_edge_dirty == 0


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: DataFrame | None = None,
    out_dir: str | None = None,
    state_dir: str | None = None,
    embed_dim: int = 64,
    config: "EngineConfig | None" = None,
    upsert_only: bool = False,
    branch: str | None = None,
) -> PipelineResult:
    """Full batch run. When ``state_dir`` is given, unchanged conversations
    (same content hash as the stored state) skip extraction; triples for
    them are reloaded from the previous materialized output, while linking /
    canonicalization always re-run globally over the merged triple set.

    ``config``: an EngineConfig carrying every tunable (load one with
    ``EngineConfig.from_file``); when given it wins over the ``embed_dim``
    argument. Each state commit stamps the config identity hash (plus
    engine/grammar versions) into the manifest, and a resume whose stored
    facts were produced under a DIFFERENT config identity warns and falls
    back to a full re-extract — mixing facts from two configs in one
    snapshot would be silently wrong (provenance rule; reference:
    management/metadata.py:29-50, management/git.py).

    ``upsert_only``: the input is a PARTIAL corpus — new and changed
    conversations only (a streaming micro-batch, a partner drop, a
    backfill shard). Conversations in the stored state but absent from the
    input are CARRIED (content hash, lineage, version pointers — all kept)
    instead of read as deletions; nothing is ever deleted by an upsert
    run. Granularity is the conversation: a conversation present in the
    input replaces its stored rows entirely, so each batch must carry
    whole conversations, not turn fragments. Scan pruning is skipped and
    no input manifest is recorded — a partial input's file set must not
    become the next run's pruning baseline (the next full-corpus run
    simply re-hashes; correct, just not file-pruned).

    ``branch``: commit this run to a named branch (``StateStore.
    create_branch`` first) instead of main — the write-audit-publish
    staging pattern (Iceberg ``spark.wap.branch``). The run resumes from
    the BRANCH head (diff, reuse gates, part resolution all against it),
    writes its part dirs under globally-unique versions, and advances only
    the branch pointer; main's readers see nothing until
    ``StateStore.publish`` fast-forwards main after audit.

    A run that raises commits nothing: the store stays at its previous
    snapshot, and every background task has ended before the error
    propagates.
    """
    from coco_search_spark.config import EngineConfig

    cfg = config if config is not None else EngineConfig(embed_dim=embed_dim)
    cfg.validate()
    if branch is not None and not state_dir:
        raise ValueError("branch= requires state_dir (branches live in the store)")
    run = _Run(spark, cfg, out_dir, catalog, state_dir, branch, upsert_only)
    try:
        return _run_stages(run, transcripts)
    finally:
        run.close()


def _run_stages(run: _Run, transcripts: DataFrame) -> PipelineResult:
    spark, store, out_dir = run.spark, run.store, run.out_dir
    scope = _scope(run, transcripts)
    gates = _gates(run, scope)
    if store is not None:
        run.version = store.next_version()
    # the replaced conversations' PREVIOUS facts (the vocab-delta
    # subtrahend) depend only on the diff and the committed parts — fetch
    # them while extraction saturates the cores
    old_rep_f = None
    if gates.vocab_delta:
        old_rep_f = _prefetch(
            run, "prefetch: replaced facts", "facts", scope.facts_parts,
            scope.ids("changed", "deleted"),
        )
    # segments feed BOTH the extraction and the chunk projection. On DELTA
    # runs the table is delta-sized and one materialization saves the
    # second segmentation pass outright. On FULL runs it must stay lazy:
    # storing the exploded corpus-sized segment table costs more than the
    # two consumers' recompute (interleaved A/B at bench scale: eager
    # checkpoint ~2341 normalized unit-sec vs lazy ~1611 — the explode is
    # codegen-cheap, the materialized rows are wide).
    segments = segment_turns(scope.dirty, with_offsets=True)
    if gates.delta:
        segments = segments.localCheckpoint(eager=True)
    run.stamp("segment")
    facts = _extract(run, scope, gates, segments, old_rep_f)
    run.stamp("extract")

    # ---- overlapped sinks (guide §2.6) ----------------------------------
    # Submitted only NOW, after the extraction checkpoint: extraction
    # saturates every core, so overlapping the (equally CPU-bound) chunk
    # projection with it buys nothing, while the linking/canonicalization
    # stage that follows is scheduling-bound over vocabulary-sized tables
    # and leaves most cores idle — that idle capacity is what these
    # corpus-sized writes soak up (measured: submit-at-start left the
    # headline wall unchanged). Each writes this run's plain versioned part
    # — the full table on a full run, the dirty delta on a delta run, the
    # fold of every previous part on a compaction run; a no-op run writes
    # nothing and carries the previous parts.
    chunks_f = facts_f = None
    if out_dir and not gates.noop:
        chunks = _chunks(segments, run.cfg.embed_dim)
        if gates.compact:
            # fold unchanged conversations' rows from every previous part
            # (embeddings reloaded, never re-derived)
            chunks = chunks.unionByName(
                resolve_parts(spark, scope.chunks_parts, scope.unchanged_versions),
                allowMissingColumns=True,
            )
        chunks_path = run.part("chunks")
        chunks_f = run.bg(
            "chunks_sink", "chunks: tokenize+embed+write", lambda: _write(chunks, chunks_path)
        )
        # the delta IS the extraction checkpoint (on a full run combined ==
        # dirty_facts); compaction writes the materialized union
        facts_out = facts.combined if gates.compact else facts.dirty_facts
        facts_path = run.part("facts")
        facts_f = run.bg("facts_sink", "facts sink", lambda: _write(facts_out, facts_path))
    quarantine_f = run.bg("quarantine_sink", "quarantine sink", lambda: _quarantine(run, scope))
    # speculative prefetch of the replaced conversations' PREVIOUS edges —
    # the node-delta subtrahend. When no surface moves (the steady-state
    # path), the node path's replaced set is exactly new ∪ changed ∪
    # deleted, which is known NOW; the read overlaps the link/canon window.
    # The node delta uses it only when n_moved == 0 (where the speculation
    # is provably exact); a moved-surface run discards it (read-only waste).
    prev_edges_f = None
    if gates.edge_delta:
        prev_edges_f = _prefetch(
            run, "prefetch: replaced edges", "edges", scope.edges_parts,
            scope.ids("new", "changed", "deleted"),
        )

    linked = _link_canon(run, scope, facts)
    run.stamp("link_canonicalize")
    edges = _edges(run, scope, gates, facts, linked)
    nodes_f, nodes = _nodes(run, scope, gates, edges, prev_edges_f)
    run.stamp("resolve_nodes")
    manifest, state_rows_f = {}, None
    if out_dir:
        manifest, state_rows_f = _sinks(
            run, scope, gates, facts, linked, edges, (chunks_f, facts_f, quarantine_f, nodes_f)
        )

    n_quarantined, _ = quarantine_f.result()
    if nodes_f is not None:
        nodes, nodes_mode, n_nodes = nodes_f.result()
    else:
        # carry runs count the (current) on-disk table instead of forcing
        # the lazy full rebuild held for res.nodes consumers
        nodes_mode = "carry"
        n_nodes = spark.read.parquet(os.path.join(out_dir, "nodes")).count()
    prune = scope.prune
    metrics = {
        "n_triples": facts.kind_counts.get("triple", 0),
        "n_standalone_mentions": facts.kind_counts.get("mention", 0),
        "snapshot_age_sec": run.snapshot_age,
        "n_unchanged_convs": scope.n_unchanged,
        "n_quarantined_turns": n_quarantined,
        "n_surfaces": linked.n_surfaces,
        "n_table_parts": len(manifest["facts_parts"]) if manifest else None,
        "compacted": gates.compact,
        "n_links_fresh": linked.n_links_fresh,
        "n_links_reused": linked.n_links_reused,
        "canon_reused": linked.canon_reused,
        # edge-delta receipt: None ⇒ full edge rewrite (cold run, no
        # persisted link map, or vocabulary-scale cluster churn)
        "n_edge_dirty_convs": edges.n_edge_dirty,
        "n_link_moved_surfaces": edges.n_moved,
        "n_edge_parts": len(manifest["edges_parts"]) if "edges_parts" in manifest else None,
        # scan-pruning receipt: None ⇒ full scan (cold run, non-file input,
        # or a pruning gate declined)
        "n_files_scanned": len(prune.scanned_files) if prune is not None else None,
        "n_files_total": prune.n_files_total if prune is not None else None,
        "n_files_changed": prune.n_changed_files if prune is not None else None,
        "n_nodes": n_nodes,
        "nodes_mode": nodes_mode,
        # vocabulary receipt: "delta" ⇒ surfaces/bindings/standalone sets
        # and kind totals were maintained from the delta (no corpus-union
        # scan); "full" ⇒ recomputed; None ⇒ storeless
        "vocab_mode": facts.vocab_mode,
        # lean ⇒ the corpus-wide fact union was never materialized this
        # run (dirty checkpoint + lazy part reads only)
        "lean_facts": facts.lean_facts,
        "stage_timings": run.timings,
    }
    if store is not None:
        # rows were materialized concurrently with the sinks when there
        # were sinks; the commit then writes the checkpointed rows
        state_rows = (
            state_rows_f.result()
            if state_rows_f is not None
            else _state_rows(run, scope, gates, facts, edges, quarantine_f, None)
        )
        metrics["snapshot_id"] = _commit(
            run, scope, facts, linked, manifest, state_rows, nodes_f is not None
        )
    return PipelineResult(
        triples=facts.triples,
        links=linked.surface_links,
        canon=linked.canon,
        edges=edges.edges,
        nodes=nodes,
        metrics=metrics,
    )


def _prefetch(run: _Run, label: str, kind: str, parts: list, ids: IdSet) -> Future:
    """Background indexed fetch of the replaced conversations' previous
    ``kind`` rows, checkpointed: delta-sized, and consumed more than once.
    The part pointers come from the run's cached state table (no re-read of
    the state parquet) and ``ids`` from the diff stage's collect (no
    second one)."""
    versions = run.stored.select(
        "conv_id", F.col(POINTER_COLS[kind]).alias("written_version")
    )
    return run.bg(
        "prefetch_" + kind,
        label,
        lambda: resolve_parts(run.spark, parts, versions, ids).localCheckpoint(eager=True),
    )


# ---- stage: scope/diff --------------------------------------------------


def _scope(run: _Run, transcripts: DataFrame) -> _Scope:
    """Which input the run reads, its diff against the stored state, and the
    previous facts/links it can reload. Closes the ``diff_scan`` window."""
    spark, cfg, store, snap, stored = run.spark, run.cfg, run.store, run.snap, run.stored
    raw_transcripts = transcripts
    # ---- input-manifest scan pruning (VERDICT r4 #2) --------------------
    # When the input is a plain file scan, diff its per-file (size, mtime)
    # manifest against the previous snapshot's and re-read ONLY changed
    # files plus affected conversations' home files; everyone else carries
    # their stored hash forward. Any gate failure → full scan (correct,
    # just not incremental). The quarantine split runs AFTER the scope
    # decision: under pruning only the re-read files are re-validated.
    cur_manifest = prune = None
    if store is not None and cfg.incremental_scan and not run.upsert_only:
        from coco_search_spark.operators.scan_pruning import (
            input_manifest,
            plan_pruned_scan,
        )

        cur_manifest = input_manifest(transcripts)
        if cur_manifest is not None and snap is not None:
            prune = plan_pruned_scan(
                spark,
                transcripts,
                cur_manifest,
                snap.get("input_manifest"),
                stored,
                src_files_complete=bool(snap.get("src_files_complete")),
            )
            run.fine("prune_plan")

    # parse-status gate (parse_tracking.py:58-111 analog): malformed turns
    # are quarantined and counted per conversation into state `errors`;
    # the pipeline proceeds over clean rows instead of failing
    transcripts, quarantined = split_quarantine(
        prune.scoped_raw if prune is not None else transcripts
    )
    s = _Scope(transcripts, quarantined, prune, cur_manifest, dirty=transcripts)
    if store is None:
        return s
    # pruned runs re-hash only the candidates from the scoped re-read;
    # everyone else carries the stored hash (+ home set + advisory error
    # count). Input that is not a plain file scan has no home sets.
    hashed = conversation_hashes(
        transcripts,
        with_files=cur_manifest is not None,
        ids=prune.cand_ids if prune is not None else None,
    )
    if cur_manifest is None:
        hashed = hashed.withColumn("src_files", F.lit(None).cast("array<string>"))
    cur_hashes = hashed.select(
        *_HASH_COLS,
        F.lit(None).cast("bigint").alias("stored_errors"),
        F.lit(False).alias("carried"),
    )
    if prune is not None:
        cur_hashes = cur_hashes.unionByName(
            prune.carried.withColumn("carried", F.lit(True)).select(
                *_HASH_COLS, "stored_errors", "carried"
            )
        )
    cur_hashes = run.cache(cur_hashes)
    if run.upsert_only:
        # upsert contract: conversations absent from the partial input
        # are carried, never deleted — union their STORED identity rows
        # into the current set (hash == stored hash ⇒ the diff below
        # reads them as 'unchanged', so every downstream reuse path —
        # facts reload, pointer carry, vocab/node deltas — applies
        # unmodified and 'deleted' cannot occur)
        absent = stored.join(
            cur_hashes.select("conv_id"), "conv_id", "left_anti"
        ).select(
            *_HASH_COLS,
            F.col("errors").alias("stored_errors"),
            F.lit(True).alias("carried"),
        )
        cur_hashes = run.cache(cur_hashes.unionByName(absent))
    s.cur_hashes = cur_hashes
    s.diff = diff = run.cache(diff_against_state(cur_hashes, stored))
    if snap is None:
        # FIRST commit into an empty store: every conversation is 'new' by
        # construction, so the (corpus-sized) content-hash job has exactly
        # one real consumer — the commit's state rows, which materialize on
        # a background thread overlapped with the write-stage sinks.
        # Running it here as a foreground diff stage cost the cold
        # incremental run a full corpus pass of wall for numbers that are
        # all statically known.
        s.n_dirty = -1  # unknown; only ever compared under a delta run
    else:
        # ONE capped aggregation answers every diff-status count AND lists
        # the conversations that are not unchanged: one row per such
        # conversation plus one count row for the unchanged ones (warm-run
        # latency is job-count-bound). The listed ids feed every later id
        # restriction of the run — the dirty scan, both prefetches, the
        # edge-dirty set and the state rows — as pushed predicates. Above
        # PUSHDOWN_LIMIT rows the listing is dropped: the counts come from a
        # plain status aggregation and the id sets stay diff frames.
        tally = diff.groupBy(
            "status",
            F.when(F.col("status") != "unchanged", F.col("conv_id")).alias("conv_id"),
        ).agg(F.count(F.lit(1)).alias("n"))
        # at most one row (the unchanged count) has no conv_id, so a
        # truncated take always lists more than PUSHDOWN_LIMIT ids
        rows = tally.take(PUSHDOWN_LIMIT + 2)
        listed = [(r["conv_id"], r["status"]) for r in rows if r["conv_id"] is not None]
        if len(listed) <= PUSHDOWN_LIMIT:
            s.status_rows = listed
        else:
            rows = diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
        counts: dict[str, int] = {}
        for r in rows:
            counts[r["status"]] = counts.get(r["status"], 0) + r["n"]
        run.fine("diff_counts")
        s.n_unchanged = counts.get("unchanged", 0)
        s.n_dirty = counts.get("new", 0) + counts.get("changed", 0)
        s.n_deleted = counts.get("deleted", 0)
        s.dirty_ids = s.ids("new", "changed")
        s.dirty = s.dirty_ids.keep(transcripts)
    run.stamp("diff_scan")
    # provenance gate: stored facts produced under a different config /
    # grammar identity must not be mixed into this run's output.
    # Snapshots from before the stamp existed (no config_hash) are
    # treated as compatible — unknown is not known-different.
    s.config_compatible = snap is None or snap.get("config_hash") in (None, run.cfg_hash)
    # incremental LINK reuse (one level up from the extraction diff):
    # link(surface) is pure in (surface, catalog, config), so when both
    # identities match the previous snapshot, per-surface links are
    # exactly reusable and only the vocabulary delta needs scoring.
    # Any mismatch (or a pre-links snapshot) falls back to a full
    # re-link — unknown is not known-different here either.
    if run.catalog is not None:
        from coco_search_spark.operators.link_state import catalog_fingerprint

        s.catalog_fp = catalog_fingerprint(run.catalog)
        links_path = _live_path(snap, "links_path")
        if s.config_compatible and links_path and snap.get("catalog_fp") == s.catalog_fp:
            s.prev_links = spark.read.parquet(links_path)
    if not s.config_compatible and s.n_unchanged > 0:
        import warnings

        warnings.warn(
            f"state snapshot was produced under config {snap.get('config_hash')}"
            f" != current {run.cfg_hash}; falling back to full re-extract"
        )
    s.facts_parts, s.chunks_parts, s.edges_parts = (
        store.table_parts(kind) for kind in ("facts", "chunks", "edges")
    )
    if s.n_unchanged == 0:
        return s
    # facts/chunks are DELTA-WRITTEN (Iceberg MERGE analog): each run's dir
    # holds only its dirty conversations' rows, and a conversation's
    # authoritative rows live in the dir matching its written_version state
    # column. Reload requires every part dir to exist; the chunks relation
    # must additionally be reloadable whenever out_dir is set — an
    # incremental run that cannot restore unchanged conversations' chunks
    # would publish an incomplete chunks table.
    chunks_reloadable = run.out_dir is None or _parts_ok(s.chunks_parts)
    if s.config_compatible and chunks_reloadable and _parts_ok(s.facts_parts):
        # restore EVERY fact family of unchanged conversations — triples
        # alone would silently drop their standalone mentions (degree-0
        # nodes) and alias bindings (cluster merges) from this run's output.
        # Previous CHUNKS are read only by a compaction run.
        # every stored conversation is unchanged, changed or deleted
        s.unchanged_versions = s.ids("changed", "deleted").keep(
            stored.select("conv_id", "written_version"), anti=True
        )
        s.prev_facts = resolve_parts(spark, s.facts_parts, s.unchanged_versions)
        return s
    # unchanged conversations exist but their previous facts are not
    # reloadable (prior run committed state without an out_dir, a pre-facts
    # snapshot, or a deleted path): proceeding with the pruned set would
    # silently drop their facts from the output — fall back to a full
    # re-extract (correct, just not incremental this run)
    if prune is not None:
        # the pruned scan covers only candidate files; a full re-extract
        # needs the whole corpus back. Carried hashes in cur_hashes stay
        # valid (unchanged files), but quarantine/error bookkeeping reverts
        # to the full-scan path.
        s.transcripts, s.quarantined = split_quarantine(raw_transcripts)
        s.prune = None
    s.dirty = s.transcripts
    s.n_unchanged = 0
    return s


def _gates(run: _Run, s: _Scope) -> Gates:
    """Decide every reuse gate of the run once, from the diff and the
    resumed snapshot. Any doubt declines: unknown is not known-unchanged."""
    cfg, snap, out_dir = run.cfg, run.snap, run.out_dir
    # facts and edges part lists share one bound
    max_parts = cfg.compact_parts_after
    delta = s.prev_facts is not None
    # a run with ZERO dirty conversations (cron re-ingestion of an
    # unchanged corpus) writes nothing: empty delta parts would grow the
    # part list run after run and trigger pointless compaction rewrites.
    noop = delta and s.n_dirty == 0
    # once the part list hits COMPACT_PARTS_AFTER, one compaction run folds
    # everything into a single full part (bounding reader fan-in)
    compact = delta and not noop and len(s.facts_parts) + 1 > max_parts
    # provenance gate on the on-disk node table (ADVICE r5, high): the
    # carry/delta node paths assume {out}/nodes holds exactly the degrees
    # the resumed snapshot committed — but the sink dir is shared across
    # refs (a branch run, a rollback, any other writer overwrites it). The
    # producing snapshot's global version is stamped both into the manifest
    # (`nodes_version`) and as a sidecar in the dir; any mismatch (or a
    # pre-stamp table) falls back to a full node rebuild.
    nodes_provenance = False
    nodes_path = os.path.join(out_dir, "nodes") if out_dir else None
    if nodes_path and run.store is not None and os.path.exists(nodes_path):
        from coco_search_spark.operators.materialize import nodes_version_on_disk

        stamped = snap.get("nodes_version") if snap else None
        nodes_provenance = (
            stamped is not None and nodes_version_on_disk(nodes_path) == stamped
        )
    return Gates(
        delta=delta,
        noop=noop,
        compact=compact,
        # the refcounted vocabulary and per-kind totals of the snapshot
        vocab_delta=bool(
            out_dir
            and delta
            and isinstance(snap.get("fact_kind_counts"), dict)
            and _live_path(snap, "vocab_path")
        ),
        # a persisted link map to diff against and an edge part list below
        # the compaction bound
        edge_delta=bool(
            out_dir
            and delta
            and not compact
            and _parts_ok(s.edges_parts)
            and len(s.edges_parts) + 1 <= max_parts
            and _live_path(snap, "linkmap_path")
        ),
        nodes_provenance=nodes_provenance,
    )


# ---- stage: extract + vocabulary ----------------------------------------


def _chunks(segments: DataFrame, embed_dim: int) -> DataFrame:
    """The chunks table — the reference's chunk relation parity
    (flow.py:61-84: text, tokens (tsvector input), embedding per chunk).
    Tokenization is pure Catalyst; the embedding is the Arrow-batched stage
    (embedder analog, 128-text RPC batches → Arrow batches)."""
    from coco_search_spark.functions.embed import make_embed_udf
    from coco_search_spark.functions.text import (
        classify_block_col,
        section_col,
        tokenize_col,
    )

    embed = make_embed_udf(embed_dim)
    # embedding input gets a context prefix (conversation + role) while
    # the stored text stays raw — the reference's add_filename_context
    # rule (embedder.py:58-76: "File: {path}\n" prepended only for the
    # embedding)
    embed_input = F.concat_ws(
        "\n",
        F.concat(F.lit("Conv: "), F.col("conv_id"), F.lit(" role: "), F.col("role")),
        F.col("seg_text"),
    )
    return segments.select(
        "conv_id",
        "turn_idx",
        "seg_idx",
        "role",
        "tool",
        "start_word",
        "end_word",
        "seg_text",
        # X3 metadata: structural block typing + innermost section
        # heading (ChunkMetadata{block_type, hierarchy} analog,
        # handlers/__init__.py:36-42)
        classify_block_col(F.col("seg_text"), F.col("tool")).alias("block_type"),
        section_col(F.col("seg_text")).alias("section"),
        # stored as one text column exactly like the reference's
        # content_tsv_input (flow.py:69) — consumers re-split on space
        F.array_join(tokenize_col(F.col("seg_text")), " ").alias("tsv_input"),
        embed(embed_input).alias("embedding"),
    )


def _extract(
    run: _Run, s: _Scope, g: Gates, segments: DataFrame, old_rep_f: Future | None
) -> _Facts:
    """Extract this run's facts, maintain the vocabulary, and assemble the
    run's full fact set."""
    # ONE corpus scan + ONE shuffle extracts every fact family (triples
    # with provenance, standalone mentions, alias bindings) — at 10^12
    # turns the scan dominates, so the pipeline must not pay it per family.
    # This run's output alone: the FULL corpus facts on a full run, the
    # dirty conversations' facts on a delta run. localCheckpoint stores the
    # deduped fact rows once; family splits below are cheap filters over it.
    dirty_facts = extract_all(segments).localCheckpoint(eager=True)
    run.fine("extract_ckpt")
    vocab = vocab_mode = kind_counts = None
    # ---- refcounted vocabulary maintenance ------------------------------
    # The surface/binding/standalone sets are per-conversation-distinct
    # unions over the facts, so a warm run maintains their refcounts from
    # the delta (vocab_state.py) instead of re-scanning the corpus union —
    # the same delta rule node degrees use. Any gate miss → full recompute.
    if run.store is not None and run.out_dir:
        vocab_mode = "full"
        if g.vocab_delta:
            from coco_search_spark.operators.vocab_state import (
                apply_vocab_signed,
                vocab_contrib_delta,
            )

            old_vocab = run.spark.read.parquet(run.snap["vocab_path"])
            old_rep = old_rep_f.result()
            run.fine("old_rep_fetch")
            # fused signed delta (vocab_contrib_delta): 2 shuffles instead
            # of the add/sub pair's 5 — warm-floor job count
            cand = apply_vocab_signed(
                old_vocab, vocab_contrib_delta(dirty_facts, old_rep)
            ).localCheckpoint(eager=True)
            run.fine("vocab_delta_ckpt")
            # per-kind fact totals by the same delta arithmetic — ONE
            # signed aggregation instead of a corpus groupBy; the same job
            # counts the negative refcounts for the invariant below
            rows = (
                dirty_facts.select("kind", F.lit(1).alias("sgn"), F.lit(0).alias("neg"))
                .unionAll(old_rep.select("kind", F.lit(-1).alias("sgn"), F.lit(0).alias("neg")))
                .unionAll(
                    cand.filter(F.col("cnt") < 0).select(
                        F.lit(None).cast("string").alias("kind"),
                        F.lit(0).alias("sgn"),
                        F.lit(1).alias("neg"),
                    )
                )
                .groupBy("kind")
                .agg(F.sum("sgn").alias("net"), F.sum("neg").alias("neg"))
                .collect()
            )
            net = {r["kind"]: r["net"] for r in rows}
            run.fine("kind_net")
            # loud invariant: a negative refcount means the subtracted
            # facts were not what the snapshot held — recompute from the
            # corpus rather than persist a corrupt vocabulary
            if sum(r["neg"] for r in rows) > 0:
                cand.unpersist()
            else:
                vocab = cand.filter(F.col("cnt") > 0)
                vocab_mode = "delta"
                prev_totals = run.snap["fact_kind_counts"]
                kind_counts = {
                    k: int(prev_totals.get(k, 0)) + int(net.get(k, 0))
                    for k in set(prev_totals) | set(net)
                }
    # lean mode: with a delta-maintained vocabulary nothing downstream
    # needs a materialized corpus-wide fact union — surfaces, binding
    # pairs, standalone mentions and kind totals all derive from the
    # vocab table, the facts sink writes the dirty checkpoint, and the
    # dirty-edge resolve pre-filters from it. Compaction runs fold old
    # parts into a full one, so they keep the materialized union.
    lean_facts = vocab is not None and not g.compact
    combined = dirty_facts
    if g.delta:
        # allowMissingColumns: snapshots written before newer fact columns
        # existed reload with NULLs instead of failing (the schema-evolution
        # rule — see state.ensure_columns)
        combined = dirty_facts.unionByName(s.prev_facts, allowMissingColumns=True)
        if not lean_facts:
            combined = combined.localCheckpoint(eager=True)
    triples, standalone, bindings = split_extracted(combined)
    if kind_counts is None:
        # ONE aggregation for both family counts (two filtered counts pay
        # two scheduler round-trips over the same table)
        kind_counts = {
            r["kind"]: r["n"]
            for r in combined.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    return _Facts(
        dirty_facts,
        combined,
        triples,
        standalone,
        bindings,
        vocab,
        vocab_mode,
        kind_counts,
        lean_facts,
    )


def _quarantine(run: _Run, s: _Scope) -> tuple[int, DataFrame | None]:
    """Quarantine sink (carry-forward + write + count). Rows carry their
    source file so a PRUNED run can carry forward the quarantine of files it
    did not re-scan (their malformed rows are still in the corpus)."""
    q = s.quarantined.withColumn("src_file", F.input_file_name())
    if not run.out_dir:
        return q.count(), None
    q_path = f"{run.out_dir}/quarantine"
    if s.prune is not None and os.path.exists(q_path):
        prev_q = run.spark.read.parquet(q_path)
        if "src_file" in prev_q.columns:
            # drop re-scanned files' rows (re-detected this run) and
            # removed files' rows (no longer in the corpus); both exclusion
            # lists are delta-sized
            gone = list(s.prune.scanned_files) + list(s.prune.removed_files)
            q = q.unionByName(
                prev_q.filter(~F.col("src_file").isin(gone)),
                allowMissingColumns=True,
            )
        # pre-upgrade quarantine without src_file: rows cannot be
        # attributed to files — re-detected on their next re-scan
    # materialize BEFORE the overwrite of the dir the carry-forward may
    # still be lazily reading; always overwrite (even when empty): a rerun
    # after the data was fixed must not leave the previous run's rows
    # contradicting n_quarantined_turns=0
    q = q.localCheckpoint(eager=True)
    # the write itself counts the rows (an observed metric: no extra job)
    written = Observation()
    _write(q.observe(written, F.count(F.lit(1)).alias("n")), q_path)
    # hand the checkpoint to the state-row builder: its per-conv error
    # counts would otherwise re-scan the corpus. Carried prev rows belong
    # only to carried conversations (their files were not re-scanned),
    # whose errors_col reads stored_errors — so counting from this table
    # is value-identical.
    return written.get["n"], q


# ---- stage: link + canonicalize -----------------------------------------


def _link_canon(run: _Run, s: _Scope, f: _Facts) -> _Linked:
    """Build the surface vocabulary, then link it and canonicalize it
    concurrently."""
    spark, cfg, snap = run.spark, run.cfg, run.snap
    if f.vocab is not None:
        # vocabulary straight from the delta-maintained refcounts — a
        # vocabulary-sized scan; the corpus union is never touched
        from coco_search_spark.operators.vocab_state import (
            vocab_binding_pairs,
            vocab_surfaces,
        )

        surfaces = vocab_surfaces(f.vocab).localCheckpoint(eager=True)
        run.fine("surfaces_ckpt")
    else:
        # vocabulary-sized surface table in ONE pass over the fact
        # checkpoint: every family's surface column (triple subj/obj,
        # standalone mention, both binding sides — an alias bound in text
        # but never mentioned elsewhere must still canonicalize into its
        # target's cluster) explodes from one kind-gated array, nulls
        # filtered, ONE distinct shuffle with map-side partial aggregation.
        surfaces = (
            f.combined.select(
                F.explode(
                    F.array(
                        F.when(F.col("kind") == "triple", F.col("subj")),
                        F.when(F.col("kind") == "triple", F.col("obj")),
                        F.when(F.col("kind") == "mention", F.col("mention")),
                        F.when(F.col("kind") == "binding", F.col("target")),
                        F.when(F.col("kind") == "binding", F.col("alias")),
                    )
                ).alias("surface")
            )
            .filter(F.col("surface").isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
    # distinct binding pairs: vocabulary-sized from the maintained
    # refcounts on delta runs; a corpus-union distinct otherwise. Both the
    # canon fingerprint and the CC extra edges consume this — duplicates
    # carry no information for either (the label function sees sets).
    binding_pairs = (
        vocab_binding_pairs(f.vocab)
        if f.vocab is not None
        else f.bindings.select("target", "alias").distinct()
    )
    # ---- canonicalization reuse -----------------------------------------
    # canonicalize_surfaces is PURE in (surface set, binding-pair set,
    # canon config): a warm run whose canon-input fingerprint matches the
    # previous snapshot's reloads the persisted labels instead of re-running
    # MinHash + CC — the same purity rule link_state applies to linking.
    # Config identity rides the facts provenance gate; any mismatch,
    # missing table, or fingerprint drift recomputes. The fingerprint is
    # the catalog gate's two-fold content identity over 's:'-tagged
    # surfaces plus 'b:'-tagged DISTINCT binding pairs.
    #
    # n_surfaces is counted once (reused in metrics): it gates the
    # count-based broadcast hints — under the budget the vocabulary tables
    # get an explicit broadcast (no AQE conversion overhead); over it (the
    # 10^9-surface contingency) every join keeps its sort-merge fallback.
    # With a store, the fingerprint's aggregation counts it too.
    canon_in_fp = prev_canon = None
    if run.store is not None:
        from coco_search_spark.operators.link_state import fingerprint_and_count

        # distinct AFTER the concat: the fingerprint folds the tagged
        # STRING set, and two distinct pairs can collide as strings — both
        # derivation modes must fold the identical row set or the reuse
        # gate would never match across a mode switch
        canon_in_fp, n_surfaces = fingerprint_and_count(
            surfaces.select(F.concat(F.lit("s:"), F.col("surface")).alias("k")).unionByName(
                binding_pairs.select(
                    F.concat_ws("→", F.lit("b:"), "target", "alias").alias("k")
                ).distinct()
            ),
            F.col("k").startswith("s:"),
        )
        canon_path = _live_path(snap, "canon_path")
        if s.config_compatible and canon_path and snap.get("canon_fp") == canon_in_fp:
            prev_canon = spark.read.parquet(canon_path)
    else:
        n_surfaces = surfaces.count()
    run.fine("n_surfaces")
    # linking and canonicalization are INDEPENDENT consumers of the same
    # checkpointed surface table — run both on the pool so Spark
    # interleaves their (vocabulary-sized, scheduling-bound) jobs. Each
    # materializes its result, so the overlap is real. Unlabelled: their
    # jobs belong to the link_canonicalize window.
    identity_reuse = prev_canon is not None and s.prev_links is not None
    links_f = run.bg(
        "link", None, lambda: _link(run, s.prev_links, surfaces, n_surfaces, identity_reuse)
    )
    canon_f = run.bg("canon", None, lambda: _canon(cfg, surfaces, binding_pairs, prev_canon))
    surface_links, n_fresh, n_reused = links_f.result()
    return _Linked(
        surfaces,
        n_surfaces,
        n_surfaces <= cfg.broadcast_surface_limit,
        surface_links,
        n_fresh,
        n_reused,
        canon_f.result(),
        canon_in_fp,
        prev_canon is not None,
        identity_reuse,
    )


def _link(
    run: _Run,
    prev_links: DataFrame | None,
    surfaces: DataFrame,
    n_surfaces: int,
    identity_reuse: bool,
) -> tuple[DataFrame, int, int]:
    """→ (links, n_fresh, n_reused). With a reusable previous link table
    (catalog fp + config identity both matched), only the vocabulary delta
    is scored; reused rows are value-identical to a re-score by per-surface
    purity, so the merged output equals a full re-link row for row
    (test_link_state asserts it). ``identity_reuse``: see
    :class:`_Linked`."""
    if run.catalog is None:
        return (
            surfaces.select(
                F.col("surface").alias("mention"),
                F.lit(None).cast("string").alias("entity_id"),
                F.lit(None).cast("double").alias("link_score"),
                F.lit(None).cast("string").alias("match_type"),
            ),
            0,
            0,
        )
    if identity_reuse:
        # the persisted table holds one row per previous surface (no-link
        # rows included) and the surface set is unchanged, so the delta
        # split would find nothing to score and keep every row. Read
        # lazily; _edges checkpoints the link map.
        return prev_links.filter(F.col("entity_id").isNotNull()), 0, n_surfaces
    cfg = run.cfg
    mentions = surfaces.select(F.col("surface").alias("mention"))
    reusable = None
    if prev_links is not None:
        from coco_search_spark.operators.link_state import split_link_work

        mentions, reusable = split_link_work(mentions, prev_links)
        # delta-sized checkpoint: consumed twice (count + scoring)
        mentions = mentions.localCheckpoint(eager=True)
    n_fresh = mentions.count() if reusable is not None else n_surfaces
    if reusable is not None and n_fresh == 0:
        # empty vocabulary delta: every link is reused — skip the scoring
        # jobs entirely (the common cron-re-run case)
        links = reusable.filter(F.col("entity_id").isNotNull())
        return links.localCheckpoint(eager=True), 0, n_surfaces
    links = link_surfaces(
        mentions,
        run.catalog,
        embed_dim=cfg.embed_dim,
        prefetch=cfg.max_prefetch,
        rrf_k=cfg.rrf_k,
        min_score=cfg.min_link_score,
        boost=cfg.exact_match_boost,
    )
    if reusable is not None:
        from coco_search_spark.operators.link_state import merge_links

        # the persisted table carries one row per previous surface
        # including the no-link ones (entity_id NULL) so the delta
        # anti-join is exact; a full re-link emits no row for those, so
        # drop them from the merged output for value parity
        links = merge_links(links, reusable.filter(F.col("entity_id").isNotNull()))
    return links.localCheckpoint(eager=True), n_fresh, n_surfaces - n_fresh


def _canon(cfg, surfaces: DataFrame, binding_pairs: DataFrame, prev: DataFrame | None):
    if prev is not None:
        # reused labels are read lazily: their one consumer in the run is
        # the link map, which _edges checkpoints
        return prev
    # in-text alias bindings ("TARGET as ALIAS") are explicit same-entity
    # evidence fed into the similarity graph — they merge surfaces sharing
    # no shingles/tokens (the aliased-import analog)
    c = canonicalize_surfaces(
        surfaces,
        extra_edges=binding_pairs.select(
            F.col("target").alias("a"), F.col("alias").alias("b")
        ),
        max_cc_iterations=cfg.max_cc_iterations,
        n_hashes=cfg.n_hashes,
        n_bands=cfg.n_bands,
        jaccard_threshold=cfg.jaccard_threshold,
    ).cache()
    c.count()
    return c


# ---- stage: edges --------------------------------------------------------


def _edges(run: _Run, s: _Scope, g: Gates, f: _Facts, L: _Linked) -> _Edges:
    """Resolve the edge plan and decide which conversations' edges this run
    rewrites."""
    spark, cfg = run.spark, run.cfg
    # canonical id: linked entity id wins, else the surface's canonical
    # form. Vocabulary-sized and read by every later vocabulary consumer
    # (the edge resolves, the standalone ids, the move diff, the link-map
    # sink): materialized once instead of re-planned by each.
    link_map = (
        L.canon.withColumnRenamed("surface", "mention")
        .join(L.surface_links.select("mention", "entity_id"), "mention", "left")
        .select("mention", F.coalesce("entity_id", "canon_id").alias("canon_id"))
        .localCheckpoint(eager=True)
    )
    # lazy full edge plan: the cold path and res.edges consumers force it;
    # warm delta runs never materialize the corpus-wide join (dirty edges
    # resolve from a pre-filtered triple set below)
    edges = resolve_edges(f.triples, link_map, links_small=L.links_small).cache()
    # relation-free entities (X2): canonical ids of standalone mentions
    # become degree-0 nodes unless they also appear as edge endpoints.
    # Broadcast is count-gated (links_small), never unconditionally forced:
    # at the 10^9-surface contingency in SCALE.md the link map cannot
    # broadcast and the join must keep its sort-merge fallback.
    if f.vocab is not None:
        # distinct standalone-mention surfaces from the maintained
        # refcounts — vocabulary-sized, no corpus scan
        from coco_search_spark.operators.vocab_state import vocab_standalone_mentions

        standalone_mention_set = vocab_standalone_mentions(f.vocab)
    else:
        standalone_mention_set = f.standalone.select(F.col("mention")).distinct()
    standalone_ids = (
        standalone_mention_set.join(
            F.broadcast(link_map) if L.links_small else link_map, "mention"
        )
        .select(F.col("canon_id").alias("entity_id"))
        .distinct()
    )
    out = _Edges(link_map, edges, standalone_ids, None, None, None, None)
    if not g.edge_delta:
        return out
    # ---- edge-delta gate (VERDICT r4 #3: O(delta) edge/node work) -------
    # An edge row is PURE in (its conversation's triples, link_map), so a
    # conversation's stored edges remain valid across runs unless its
    # content changed OR the canonical id of a surface it mentions moved.
    # The gate diffs this run's link_map against the previous snapshot's
    # persisted copy (value-based — no fingerprint collision class); the
    # decision feeds BOTH the edge sink (delta part vs full rewrite) and
    # the node resolution (incremental degree maintenance vs full rebuild).
    # A vocabulary-scale move set falls back to the full paths.
    if L.identity_reuse:
        # link_map = canon ⋈ per-surface links, both the previous run's:
        # the composed map is value-identical by construction, so the move
        # set is empty with no job to diff it
        out.n_moved = 0
    else:
        old_map = spark.read.parquet(run.snap["linkmap_path"])
        # surfaces whose canonical id differs from the previous run —
        # including surfaces added to / removed from the vocabulary
        moved = (
            link_map.select("mention", F.col("canon_id").alias("new_id"))
            .join(
                old_map.select("mention", F.col("canon_id").alias("old_id")),
                "mention",
                "full_outer",
            )
            .filter(~F.col("new_id").eqNullSafe(F.col("old_id")))
            .select("mention")
            .localCheckpoint(eager=True)
        )
        out.n_moved = moved.count()
    run.fine("linkmap_diff")
    if out.n_moved == 0:
        out.edge_dirty_ids = (
            s.dirty_ids
            if s.dirty_ids.frame is None
            else IdSet(frame=s.dirty_ids.frame.localCheckpoint(eager=True))
        )
        out.n_edge_dirty = s.n_dirty
    elif out.n_moved <= cfg.broadcast_surface_limit:
        # conversations whose triples mention a moved surface: two
        # broadcast semi-joins over the (already loaded) full triple set —
        # a removed surface matches no triple, harmlessly
        affected = (
            f.triples.join(
                F.broadcast(moved.withColumnRenamed("mention", "subj")), "subj", "left_semi"
            )
            .select("conv_id")
            .unionByName(
                f.triples.join(
                    F.broadcast(moved.withColumnRenamed("mention", "obj")),
                    "obj",
                    "left_semi",
                ).select("conv_id")
            )
        )
        edge_dirty = (
            s.dirty_ids.as_frame(spark)
            .unionByName(affected)
            .distinct()
            .localCheckpoint(eager=True)
        )
        out.edge_dirty_ids = IdSet(frame=edge_dirty)
        out.n_edge_dirty = edge_dirty.count()
        run.fine("edge_dirty_ids")
    else:
        # move set beyond the broadcast budget — cluster churn at that
        # scale means most edges move anyway; full paths
        return out
    # the edge-dirty conversations' CURRENT edges — delta-sized by
    # construction (triples pre-filtered BEFORE the link join, so the
    # resolve never touches the unchanged corpus); used by the delta sink
    # and the incremental node update
    if f.lean_facts:
        # lean: dirty conversations' triples come straight from this run's
        # extraction checkpoint (delta-sized) — never a semi-join over the
        # corpus union. When surfaces moved, the extra (unchanged) affected
        # conversations' triples come from the indexed facts fetch.
        dirty_triples = split_extracted(f.dirty_facts)[0]
        if out.n_moved:
            extra = run.store.read_convs(
                spark, "facts", s.dirty_ids.keep(out.edge_dirty_ids.frame, anti=True)
            )[0]
            dirty_triples = dirty_triples.unionByName(
                split_extracted(extra)[0], allowMissingColumns=True
            )
    else:
        dirty_triples = out.edge_dirty_ids.keep(f.triples)
    # delta-sized, and read by both the edge sink and the degree delta
    out.edges_dirty = resolve_edges(
        dirty_triples, link_map, links_small=L.links_small
    ).localCheckpoint(eager=True)
    return out


# ---- stage: nodes --------------------------------------------------------


def _nodes(
    run: _Run, s: _Scope, g: Gates, e: _Edges, prev_edges_f: Future | None
) -> tuple[Future | None, DataFrame | None]:
    """Node resolution: carry / incremental / full. → (background future of
    (nodes, mode), None) or, on a carry run, (None, lazy nodes for res).

    Degrees are pure sums over edge rows, so warm runs maintain the node
    table from the delta instead of re-aggregating the corpus: new = old −
    contrib(replaced conversations' previous edges) + contrib(their current
    edges), membership refreshed from the current standalone set. The
    non-carry resolution runs in the background, joined by the write-stage
    nodes sink (and metrics): the ``resolve_nodes`` window measures only the
    foreground part (the shared-edges materialization on full runs)."""
    if (
        g.nodes_provenance
        and e.carry
        and e.n_moved == 0
        # a deletion can leave the vocabulary (and so n_moved) unchanged
        # while still retiring its conversation's degree contributions —
        # carrying the node table would go stale
        and s.n_deleted == 0
    ):
        # value-identical link map and zero replaced conversations: the
        # on-disk node table is already current
        return None, build_nodes(e.edges, extra_entities=e.standalone_ids)
    # NOTE the delta path does NOT require n_moved == 0: edge_dirty_ids
    # covers every conversation whose edges a surface move touches (the
    # edge-delta contract, oracle-proven by kg_edge_delta), so subtracting
    # the replaced conversations' old contributions retires moved-away
    # canonical ids and the additions introduce the new ones.
    if g.nodes_provenance and e.edge_dirty_ids is not None:
        return (
            run.bg(
                "nodes",
                "nodes: degree delta",
                lambda: _nodes_delta(run, s, e, prev_edges_f),
            ),
            None,
        )
    if run.out_dir:
        # full rebuild with sinks ahead: the nodes aggregation and the
        # edge sink share `edges` — materialize the cached corpus join
        # ONCE in the foreground so the two concurrent consumers read the
        # filled cache instead of racing (and duplicating) the fill
        e.edges.count()
    return run.bg("nodes", "nodes: full build", lambda: _nodes_full(e)), None


def _nodes_full(e: _Edges) -> tuple[DataFrame, str, int]:
    n = build_nodes(e.edges, extra_entities=e.standalone_ids).cache()
    return n, "full", n.count()


def _nodes_delta(
    run: _Run, s: _Scope, e: _Edges, prev_edges_f: Future
) -> tuple[DataFrame, str, int]:
    from coco_search_spark.operators.materialize import apply_degree_delta, degree_delta

    if e.n_moved == 0:
        # the speculative prefetch's id set (every non-unchanged
        # conversation) EQUALS deleted ∪ edge_dirty_ids here, because with
        # zero moved surfaces edge_dirty_ids is exactly the dirty set
        prev_edges = prev_edges_f.result()
    else:
        prev_edges = run.store.read_convs(
            run.spark,
            "edges",
            s.ids("deleted")
            .as_frame(run.spark)
            .unionByName(e.edge_dirty_ids.as_frame(run.spark))
            .distinct(),
        )[0]
    # ONE signed aggregation for the degree delta (contrib(new) −
    # contrib(old) over the signed endpoint union); materialized BEFORE the
    # nodes sink overwrites the old nodes dir this plan lazily reads — the
    # sink consumes THIS task's result before it writes
    cand = apply_degree_delta(
        run.spark.read.parquet(os.path.join(run.out_dir, "nodes")),
        degree_delta(e.edges_dirty, prev_edges),
        e.standalone_ids,
    ).localCheckpoint(eager=True)
    # loud invariant: a negative degree means the subtracted edge set was
    # not what the snapshot held — rebuild instead of persisting a corrupt
    # table. One aggregation over the checkpoint counts both the negative
    # rows and the nodes (the n_nodes metric).
    negative = (F.col("out_degree") < 0) | (F.col("in_degree") < 0)
    probe = cand.agg(
        F.count(F.when(negative, 1)).alias("negative"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if probe["negative"] > 0:
        return _nodes_full(e)
    return cand, "delta", probe["n"]


# ---- stage: sinks --------------------------------------------------------


def _parts_after(prev: list | None, g: Gates, path: str, version: int) -> list[dict]:
    """A delta-written table's part list after this run: carried verbatim
    by a no-op run, one appended delta part on a delta run, one full part
    otherwise (full and compaction runs)."""
    if g.noop:
        return list(prev)
    new = {"path": path, "version": version}
    return list(prev) + [new] if g.delta and not g.compact else [new]


def _sinks(
    run: _Run, s: _Scope, g: Gates, f: _Facts, L: _Linked, e: _Edges, futures: tuple
) -> tuple[dict, Future | None]:
    """Join the overlapped chunk sink, then write the graph tables
    concurrently. → (the manifest entries of the written tables, the
    background state-row build)."""
    from coco_search_spark.operators.materialize import write_edges, write_nodes

    chunks_f, facts_f, quarantine_f, nodes_f = futures
    out_dir, snap, version = run.out_dir, run.snap, run.version
    if chunks_f is not None:
        # raises on failure; the write_chunks window is the residual wait
        chunks_f.result()
    chunks_parts = _parts_after(s.chunks_parts, g, run.part("chunks"), version)
    facts_parts = _parts_after(s.facts_parts, g, run.part("facts"), version)
    manifest = {
        "chunks_path": chunks_parts[-1]["path"],
        "chunks_parts": chunks_parts,
        # the COMBINED fact table (triples + standalone mentions +
        # bindings, kind-tagged) is the resume unit — restoring triples
        # alone would drop the other families for unchanged convs
        "facts_path": facts_parts[-1]["path"],
        "facts_parts": facts_parts,
    }
    run.stamp("write_chunks")
    # independent sinks, each writing its own directory from inputs already
    # materialized (or delta-sized): the write stage costs ≈max(sink) wall
    # instead of sum(sink)
    sinks = {}
    if run.store is None:
        # storeless layout: one full edges dir + nodes, no manifest to version
        # against, no indexed reader → no conv_id sort
        sinks["edges"] = lambda: write_edges(e.edges, f"{out_dir}/edges", sort_by_conv=False)
        sinks["nodes"] = lambda: write_nodes(nodes_f.result()[0], out_dir)
    else:
        epath = run.part("edges")
        if e.carry:
            manifest["edges_parts"] = list(s.edges_parts)
        elif e.edge_dirty_ids is not None:
            sinks["edges"] = lambda: write_edges(e.edges_dirty, epath, delta_sized=True)
            manifest["edges_parts"] = list(s.edges_parts) + [
                {"path": epath, "version": version}
            ]
        else:
            sinks["edges"] = lambda: write_edges(e.edges, epath)
            manifest["edges_parts"] = [{"path": epath, "version": version}]
        if nodes_f is not None:  # ⇔ not a carry run
            # joins the background node resolution (delta checkpoint or
            # full build), THEN overwrites the dir — the old-nodes read the
            # delta plan needs is materialized first
            sinks["nodes"] = lambda: write_nodes(nodes_f.result()[0], out_dir, version=version)
        # vocabulary-sized tables are fully rewritten per run when they
        # changed, and their pointer is carried when they are provably
        # value-identical to the persisted copy
        if L.canon_reused:
            manifest["canon_path"] = snap["canon_path"]
        else:
            # persisted canon labels: what the next run reloads when its
            # canon-input fingerprint matches
            manifest["canon_path"] = canon_path = run.part("canon")
            sinks["canon"] = lambda: _write(L.canon, canon_path)
        if g.noop and s.n_deleted == 0 and snap.get("vocab_path") and isinstance(
            snap.get("fact_kind_counts"), dict
        ):
            # identical corpus (no dirty, no deleted)
            manifest["vocab_path"] = snap["vocab_path"]
        else:
            # refcounted vocabulary for next-run delta maintenance: seeded
            # from the corpus union on full/fallback runs, carried forward
            # arithmetically on delta runs
            from coco_search_spark.operators.vocab_state import vocab_contrib

            vocab = f.vocab if f.vocab is not None else vocab_contrib(f.combined)
            manifest["vocab_path"] = vocab_path = run.part("vocab")
            sinks["vocab"] = lambda: _write(vocab, vocab_path)
        if e.n_moved == 0:
            manifest["linkmap_path"] = snap.get("linkmap_path")
        else:
            # persisted mention→canon map: the value the next run's
            # edge-delta gate diffs against
            manifest["linkmap_path"] = linkmap_path = run.part("linkmap")
            sinks["linkmap"] = lambda: _write(e.link_map, linkmap_path)
    if run.catalog is not None:
        if L.identity_reuse or (g.noop and s.prev_links is not None and L.n_links_fresh == 0):
            # Exactness needs the SURFACE SET unchanged, not just zero fresh
            # scores (a shrunk vocabulary leaves n_fresh at 0 while the old
            # table holds stale extra rows): noop gives it by identical
            # corpus, identity_reuse by canon-input fingerprint match (which
            # covers the surface set).
            manifest["links_path"] = snap.get("links_path")
        else:
            # per-surface link table for next-run reuse: one row per
            # CURRENT vocabulary surface, entity_id NULL where linking
            # produced no row — the completeness makes the next run's delta
            # anti-join exact
            manifest["links_path"] = links_path = run.part("links")
            links = L.surfaces.select(F.col("surface").alias("mention")).join(
                L.surface_links, "mention", "left"
            )
            sinks["links"] = lambda: _write(links, links_path)
    state_rows_f = None
    if run.store is not None:
        # every input of the state-table rows (diff, version pointers,
        # edge-dirty flags, quarantine error counts) is final here —
        # materialize them concurrently with the sinks so the commit after
        # the write stage only writes the checkpointed rows
        edges_parts = manifest.get("edges_parts")
        state_rows_f = run.bg(
            "state_rows",
            None,
            lambda: _state_rows(run, s, g, f, e, quarantine_f, edges_parts).localCheckpoint(
                eager=True
            ),
        )
    running = [run.bg("sink_" + name, "sink: " + name, fn) for name, fn in sinks.items()]
    if facts_f is not None:
        running.append(facts_f)
    for fut in running:
        fut.result()
    run.stamp("write_graph_triples")
    return {k: v for k, v in manifest.items() if v}, state_rows_f


# ---- stage: commit -------------------------------------------------------


def _state_rows(
    run: _Run,
    s: _Scope,
    g: Gates,
    f: _Facts,
    e: _Edges,
    quarantine_f: Future,
    edges_parts: list | None,
) -> DataFrame:
    # the quarantine sink's checkpoint (when available) replaces a second
    # corpus scan for the per-conversation error counts
    _qn, q_src = quarantine_f.result()
    err_by_conv = (
        (q_src if q_src is not None else s.quarantined)
        .filter(F.col("conv_id").isNotNull())
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("errors"))
    )
    base = s.cur_hashes.join(err_by_conv, "conv_id", "left")
    # pruned runs did not re-scan carried conversations' files — their
    # advisory error counts carry forward from the stored state
    errors_col = (
        F.when(F.col("carried"), F.coalesce(F.col("stored_errors"), F.lit(0)))
        .otherwise(F.coalesce(F.col("errors"), F.lit(0)))
        if (s.prune is not None or run.upsert_only)
        else F.coalesce(F.col("errors"), F.lit(0))
    )
    version = run.version
    wv_col = ewv_col = F.lit(version)
    if g.delta and not g.compact:
        # written_version: dirty conversations' rows went into THIS run's
        # part; unchanged ones keep the version of the part that last
        # wrote them — the pointer state.resolve_parts resolves against
        base = s.dirty_ids.flag(base, "_dirty").join(
            run.stored.select(
                "conv_id",
                F.col("written_version").alias("prev_wv"),
                F.col("edges_wv").alias("prev_ewv"),
            ),
            "conv_id",
            "left",
        )
        # legacy upgrade path (ADVICE r4, high): a pre-delta snapshot has
        # no written_version column, so prev_wv is NULL for unchanged
        # conversations — carrying that NULL forward would make version
        # resolution drop their rows on the NEXT run. Their facts live in
        # the legacy full part, which table_parts surfaces as parts[0];
        # coalesce the pointer to its version.
        wv_col = F.when(F.col("_dirty"), F.lit(version)).otherwise(
            F.coalesce(F.col("prev_wv"), F.lit(s.facts_parts[0]["version"]))
        )
    # edges pointer: NULL when no versioned edge parts exist (out_dir
    # unset); the run's version on a full rewrite; per-conversation on a
    # delta/carry run — this run's version for edge-dirty conversations,
    # the previous pointer otherwise (coalesced to the oldest part for
    # pre-pointer snapshots, the same legacy rule as written_version)
    if edges_parts is None:
        ewv_col = F.lit(None)
    elif e.edge_dirty_ids is not None:
        base = e.edge_dirty_ids.flag(base, "_edirty")
        ewv_col = F.when(F.col("_edirty"), F.lit(version)).otherwise(
            F.coalesce(F.col("prev_ewv"), F.lit(s.edges_parts[0]["version"]))
        )
    return base.select(
        "conv_id",
        "content_hash",
        F.lit("materialize").alias("stage"),
        F.lit("pending").alias("snapshot_id"),
        F.col("rows_in"),
        F.lit(f.kind_counts.get("triple", 0)).alias("rows_out"),
        errors_col.cast("bigint").alias("errors"),
        wv_col.cast("bigint").alias("written_version"),
        ewv_col.cast("bigint").alias("edges_wv"),
        F.col("src_files"),
    )


def _commit(
    run: _Run,
    s: _Scope,
    f: _Facts,
    L: _Linked,
    manifest: dict,
    state_rows: DataFrame,
    nodes_rewritten: bool,
) -> str:
    """Commit the state rows and the manifest entries in ONE atomic manifest
    write — a separate post-commit patch would reopen the torn-write
    window."""
    from coco_search_spark import __version__
    from coco_search_spark.operators.extract import GRAMMAR_VERSION

    extra = {
        "config_hash": run.cfg_hash,
        "engine_version": __version__,
        "grammar_version": GRAMMAR_VERSION,
        "config": run.cfg.to_dict(),
    }
    if run.out_dir:
        # node-table provenance (ADVICE r5, high): the version whose run
        # produced {out}/nodes — this run's on a rewrite, carried on a
        # carry (the disk sidecar still matches it)
        extra["nodes_version"] = (
            run.version if nodes_rewritten else run.snap.get("nodes_version")
        )
    extra.update(manifest)
    if "canon_path" in manifest:
        extra["canon_fp"] = L.canon_in_fp
    if "vocab_path" in manifest:
        # the refcounted vocabulary + per-kind fact totals the next run's
        # delta maintenance starts from (vocab_state.py)
        extra["fact_kind_counts"] = {k: int(v) for k, v in f.kind_counts.items()}
    if s.cur_manifest is not None:
        # per-file (size, mtime_ns) fingerprints: the next run's scan-
        # pruning baseline (Iceberg-snapshot analog — one entry per data
        # file). Every state row this commit writes carries a home set
        # (hashed with_files=True, or carried from a snapshot that passed
        # the same gate) — recording it lets the next run skip the per-run
        # null-scan over the state table.
        extra["input_manifest"] = s.cur_manifest
        extra["src_files_complete"] = True
    if s.catalog_fp:
        extra["catalog_fp"] = s.catalog_fp
    # expected_version: the versioned part dirs were sized for `version` —
    # a concurrent commit since the run started would make this manifest
    # reference a mix of two runs' files (optimistic concurrency; commit
    # raises instead of publishing)
    snapshot_id = run.store.commit(
        state_rows, stage="materialize", extra=extra, expected_version=run.version
    )
    run.fine("commit")
    return snapshot_id
