"""Incremental state / lineage / resume.

The analog of the reference's tracking tables and incremental diff
(reference: flow.py:87-98 tracking table, :343-361 sha256 diff new/changed/
deleted, :436-448 per-file commit so a cancelled run resumes; deps twin
extractor.py:158-178, :264-428). Semantics preserved:

- **unit of tracking** = conv_id (the reference's filename), identity =
  sha256 over the ordered turn texts (content-hash identity, flow.py:348);
- **diff** = full-outer join current vs stored → status ∈ {new, changed,
  unchanged, deleted} (the reference's set ops, re-expressed as joins —
  SURVEY §2.3 J2);
- **per-partition lineage + metrics** rows committed per stage (parse
  tracking analog, parse_tracking.py:114-201 / schema_migration.py:250-263);
- **global re-resolution rule**: extraction is incremental, but linking /
  canonicalization re-run over the full mention set whenever anything
  changed — correctness rule inherited from the reference
  (extractor.py:8-12, 374-399: "re-extract changed, re-resolve all").

Storage is a parquet state directory with an atomically-renamed JSON
manifest (Iceberg snapshot analog; swap for a real Iceberg state table on a
cluster — ``MERGE INTO`` keyed by conv_id + content_hash).
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATE_SCHEMA = (
    "conv_id string, content_hash string, stage string, snapshot_id string, "
    "rows_in bigint, rows_out bigint, errors bigint, written_version bigint, "
    "edges_wv bigint, src_files array<string>"
)

# Per-kind version-pointer column: facts and chunks share written_version
# (both are rewritten exactly when a conversation's CONTENT changes); edges
# carry their own pointer because an edge rewrite can also be triggered by a
# link-map move with no content change (and vice versa a full edge rewrite
# can coincide with a facts delta).
POINTER_COLS = {
    "facts": "written_version",
    "chunks": "written_version",
    "edges": "edges_wv",
}

# Max conversation ids collected to the driver for a pushed
# `conv_id isin(...)` predicate (StateStore.read_convs; ~100 bytes/id →
# ≤ ~10 MB driver-side). Above it the read keeps the semi-join form.
PUSHDOWN_LIMIT = 100_000

# Delta-written tables (facts, chunks) fold back into one full part once
# the part list reaches this length: bounds reader fan-in (and file-listing
# cost) at a constant, amortizing today's full-rewrite cost over
# COMPACT_PARTS_AFTER delta runs.
COMPACT_PARTS_AFTER = 8


def ensure_columns(df: DataFrame, schema: str) -> DataFrame:
    """Idempotent schema migration (reference: schema_migration.py:138-199
    ensure-column-if-missing + query.py:362-377 capability probe): any
    column of ``schema`` absent from ``df`` is added as a typed NULL, so
    state directories written by an older engine version read cleanly after
    an upgrade instead of failing on the first missing-column reference.
    Columns are returned in schema order (extras, if any, trail)."""
    from pyspark.sql.types import _parse_datatype_string

    target = _parse_datatype_string(schema)  # DDL "name type, ..." → StructType
    have = set(df.columns)
    out = df
    for field in target.fields:
        if field.name not in have:
            out = out.withColumn(field.name, F.lit(None).cast(field.dataType))
    ordered = [f.name for f in target.fields]
    extras = [c for c in df.columns if c not in ordered]
    return out.select(*ordered, *extras)


def _map_cols(df: DataFrame) -> list[str]:
    from pyspark.sql.types import MapType

    return [f.name for f in df.schema.fields if isinstance(f.dataType, MapType)]


def _encode_maps(df: DataFrame, cols: list[str]) -> DataFrame:
    """Spark set operations (exceptAll) reject MAP columns — maps have no
    canonical order. Encode each as a key-sorted entries array (orderable,
    set-op-safe, value-faithful); :func:`_decode_maps` restores the type."""
    for c in cols:
        df = df.withColumn(c, F.array_sort(F.map_entries(F.col(c))))
    return df


def _decode_maps(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.map_from_entries(F.col(c)))
    return df


def _align_columns(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Align two frames to the union of their columns (missing ones become
    typed NULLs, typed from the side that has them) in one shared order —
    the pairwise form of :func:`ensure_columns`, used by ``diff_table`` so
    ``exceptAll`` works across snapshots whose schemas evolved."""
    for f in b.schema.fields:
        if f.name not in a.columns:
            a = a.withColumn(f.name, F.lit(None).cast(f.dataType))
    for f in a.schema.fields:
        if f.name not in b.columns:
            b = b.withColumn(f.name, F.lit(None).cast(f.dataType))
    cols = b.columns + [c for c in a.columns if c not in b.columns]
    return a.select(*cols), b.select(*cols)


def conversation_hashes(transcripts: DataFrame, with_files: bool = False) -> DataFrame:
    """(conv_id, content_hash): sha256 over the ordered concatenation of
    PER-TURN sha256 hashes — stable under (conv_id, turn_idx) ordering
    (flow.py:348-351 content-identity analog, Merkle-style).

    Hashing per turn BEFORE the aggregation keeps the buffer at a constant
    64 bytes per turn regardless of turn text size: concatenating raw texts
    would make one pathological conversation (10^6 turns × 1 MB) a multi-GB
    aggregation buffer on a single task at 100× scale. Null texts contribute
    nothing on either engine (sha256(NULL) is NULL; array_join and
    string_agg both skip NULLs). The identical form in DuckDB is
    ``sha256(string_agg(sha256(text), '' ORDER BY turn_idx))``.

    ``with_files``: additionally collect the conversation's home-file set
    (``src_files``, sorted) from ``input_file_name()`` — the per-conversation
    side of the input-manifest scan pruning (operators/scan_pruning.py).
    Spark rejects non-deterministic expressions inside aggregate functions,
    so the file name is projected into a column first."""
    src = (
        transcripts.withColumn("_src_file", F.input_file_name())
        if with_files
        else transcripts
    )
    aggs = [
        F.sha2(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "turn_idx",
                                F.sha2(F.col("text"), 256).alias("turn_sha"),
                            )
                        )
                    ),
                    lambda s: s["turn_sha"],
                ),
                "",
            ),
            256,
        ).alias("content_hash"),
        F.count(F.lit(1)).alias("rows_in"),
    ]
    if with_files:
        aggs.append(F.sort_array(F.collect_set("_src_file")).alias("src_files"))
    return src.groupBy("conv_id").agg(*aggs)


def diff_against_state(current: DataFrame, stored: DataFrame) -> DataFrame:
    """full-outer diff → (conv_id, status, content_hash, rows_in).

    status: new (no stored row), changed (hash differs), unchanged,
    deleted (stored but not current) — flow.py:353-361 semantics.
    """
    cur = current.select(
        "conv_id",
        F.col("content_hash").alias("cur_hash"),
        "rows_in",
    )
    st = stored.select("conv_id", F.col("content_hash").alias("old_hash"))
    return cur.join(st, "conv_id", "full_outer").select(
        "conv_id",
        F.when(F.col("cur_hash").isNull(), "deleted")
        .when(F.col("old_hash").isNull(), "new")
        .when(F.col("cur_hash") != F.col("old_hash"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("cur_hash", "old_hash").alias("content_hash"),
        "rows_in",
    )


def resolve_parts(
    spark: SparkSession,
    parts: list[dict],
    versions: DataFrame,
    restrict=None,
) -> DataFrame:
    """Current rows of a delta-written table for the conversations in
    ``versions`` (conv_id, written_version): each conversation's
    authoritative rows live in the part whose version equals its pointer,
    so resolution is one semi-join per part (parts are bounded by
    COMPACT_PARTS_AFTER) and stale rows of since-changed conversations in
    older parts are skipped. A single part holds at LEAST those rows but
    can hold more — a no-op run after deletions carries the part forward,
    so since-deleted conversations' rows are still in the files — and the
    semi-join against ``versions`` drops them. ``restrict`` (a Column) is
    pushed into every part scan and into ``versions``."""
    if restrict is not None:
        versions = versions.filter(restrict)

    def scan(path: str) -> DataFrame:
        rows = spark.read.parquet(path)
        return rows if restrict is None else rows.filter(restrict)

    if len(parts) == 1:
        return scan(parts[0]["path"]).join(versions.select("conv_id"), "conv_id", "left_semi")
    out = None
    for p in parts:
        rows = scan(p["path"]).join(
            versions.filter(F.col("written_version") == p["version"]).select("conv_id"),
            "conv_id",
            "left_semi",
        )
        # allowMissingColumns: parts written by different engine versions
        # may differ in columns (same evolution rule as ensure_columns)
        out = rows if out is None else out.unionByName(rows, allowMissingColumns=True)
    return out


class StateStore:
    """Parquet + manifest state store. One directory per pipeline run chain;
    each commit writes a new versioned parquet snapshot and atomically
    renames manifest.json — crash-safe resume reads the last manifest."""

    def __init__(self, path: str, ref: str | None = None):
        """``ref``: the branch this handle views and commits on — the
        Iceberg branch-ref analog. None (or "main") is the main lineage
        (``manifest.json``); a branch name makes ``last_snapshot`` return
        the branch head and ``commit``/``rollback`` advance the branch
        pointer in ``branches.json`` instead of the main pointer, so a
        whole pipeline run can execute write-audit-publish: run on a
        branch, validate its snapshot, then ``publish`` fast-forwards
        main. Versions are GLOBAL across refs (one monotone counter), so
        part dirs and archives never collide between branches."""
        self.path = path
        self.ref = None if ref in (None, "main") else ref
        os.makedirs(path, exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _archive_path(self, version: int) -> str:
        return os.path.join(self.path, f"manifest_v{version:06d}.json")

    @staticmethod
    def _load_json(path: str) -> dict | None:
        try:
            with open(path) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            return None

    def snapshots(self) -> list[dict]:
        """Snapshot history, oldest first — the Iceberg snapshot-log analog
        (reference twin: the per-commit tracking rows, flow.py:436-448).
        Each ``commit`` archives its manifest as ``manifest_vNNNNNN.json``
        next to the ``manifest.json`` pointer, so the chain of commits
        stays enumerable (version, stage, committed_at, config provenance,
        table parts) and any listed snapshot is time-travel readable via
        ``read``/``read_table(version=)`` until ``vacuum`` expires it.
        Archives with a version NEWER than the current pointer (a crash
        between the archive write and the pointer swap, or another ref's
        commits) are ignored — the same in-flight rule vacuum applies.
        Legacy stores (pre-archive commits) list only the current snapshot.

        Lineage: commits record ``parent_version``, so with branches in
        play (global version counter, interleaved archives) the history of
        THIS handle's ref is the parent chain from its head — another
        branch's commits never appear in it. Manifests predating the
        parent pointer fall back to the version-order prefix (linear
        history was the only possibility then)."""
        import glob

        cur = self.last_snapshot()
        if cur is None:
            return []
        out = [cur]
        node = cur
        while node.get("parent_version"):
            parent = self._load_json(self._archive_path(node["parent_version"]))
            if parent is None:
                # expired by vacuum (or pre-archive legacy) — chain ends
                node = None
                break
            out.append(parent)
            node = parent
        if node is not None and "parent_version" not in node:
            # legacy prefix: everything older than the oldest chained node
            # (single-lineage era — version order IS lineage order)
            for p in sorted(glob.glob(os.path.join(self.path, "manifest_v*.json"))):
                snap = self._load_json(p)
                if snap is not None and snap.get("version", 0) < node["version"]:
                    out.append(snap)
        return sorted(out, key=lambda s: s.get("version", 0))

    def snapshot(self, version: int | str) -> dict | None:
        """The manifest of a specific committed version: the current one,
        or an archived (still unexpired) historical one; None when that
        version was never committed or ``vacuum`` expired it. A string is
        resolved as a tag name (or a digit string); an unknown tag is None
        — same contract as an unknown version."""
        if isinstance(version, str):
            try:
                version = self.resolve_version(version)
            except FileNotFoundError:
                return None
        cur = self._main_snapshot()
        if cur is not None and cur.get("version") == version:
            return cur
        return self._load_json(self._archive_path(version))

    def _tags_path(self) -> str:
        return os.path.join(self.path, "tags.json")

    def tags(self) -> dict[str, int]:
        """Named snapshots — the Iceberg tag analog: ``{name: version}``.
        A tagged snapshot is PROTECTED from ``vacuum``'s history expiry
        (its archive, state dir and referenced parts are all kept), so a
        tag pins a known-good version for as-of reads and ``rollback``
        indefinitely; ``untag`` releases it to the next vacuum."""
        raw = self._load_json(self._tags_path()) or {}
        return {str(k): int(v) for k, v in raw.items()}

    def _write_tags(self, tags: dict[str, int]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".json")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(tags))
        os.replace(tmp, self._tags_path())

    def tag(self, name: str, version: int | None = None) -> int:
        """Name a committed snapshot (default: the current one); returns
        the pinned version. Re-tagging an existing name moves it; tagging
        an unknown/expired version raises — a tag must always be
        dereferenceable the moment it is created."""
        if version is None:
            cur = self.last_snapshot()
            if cur is None:
                raise FileNotFoundError(f"no snapshot committed in {self.path}")
            version = cur["version"]
        if name.isdigit():
            raise ValueError(f"tag name {name!r} would shadow a version number")
        if name in self.branches() or name == "main":
            raise ValueError(f"tag name {name!r} would shadow a branch")
        if self.snapshot(version) is None:
            raise FileNotFoundError(
                f"snapshot v{version} unknown or expired in {self.path}"
            )
        tags = self.tags()
        tags[name] = int(version)
        self._write_tags(tags)
        return int(version)

    def untag(self, name: str) -> int:
        """Drop a tag (returns the version it pinned); the snapshot stays
        readable until the next ``vacuum`` expires it like any other."""
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"unknown tag {name!r} in {self.path}")
        version = tags.pop(name)
        self._write_tags(tags)
        return version

    def resolve_version(self, ref: int | str) -> int:
        """Tag name, branch name, or version literal → version int (a
        branch resolves to its CURRENT head — mutable, unlike a tag).
        Digit strings pass through as versions; an unknown name raises
        (never a silent fallback to current). Tag/branch namespaces are
        kept collision-free at creation time, so order here is moot."""
        if isinstance(ref, int):
            return ref
        tags = self.tags()
        if ref in tags:
            return tags[ref]
        branches = self.branches()
        if ref in branches:
            return branches[ref]["version"]
        if ref == "main":
            cur = self._main_snapshot()
            if cur is None:
                raise FileNotFoundError(f"no snapshot committed in {self.path}")
            return cur["version"]
        if ref.isdigit():
            return int(ref)
        raise FileNotFoundError(f"unknown tag or branch {ref!r} in {self.path}")

    # ---- branches (Iceberg branch refs + write-audit-publish) ----

    def _branches_path(self) -> str:
        return os.path.join(self.path, "branches.json")

    def branches(self) -> dict[str, dict]:
        """Named mutable lineages — the Iceberg branch-ref analog:
        ``{name: {"version": head, "base": fork_version}}``. A branch is a
        pointer into the SAME global snapshot chain (one monotone version
        counter across refs); commits made through a ``StateStore(path,
        ref=name)`` handle advance it without touching main. Branch heads
        (and every snapshot on their parent chains that main still needs)
        are protected from ``vacuum`` like tags; ``drop_branch`` releases
        them. ``main`` is implicit — the ``manifest.json`` pointer — and
        never listed here."""
        raw = self._load_json(self._branches_path()) or {}
        return {
            str(k): {"version": int(v["version"]), "base": int(v["base"])}
            for k, v in raw.items()
        }

    def _write_branches(self, branches: dict[str, dict]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".json")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(branches))
        os.replace(tmp, self._branches_path())

    def create_branch(self, name: str, version: int | str | None = None) -> int:
        """Fork a branch at a committed snapshot (default: this handle's
        current head) and return the fork version. The branch starts as a
        pure pointer — zero data copied; runs against ``StateStore(path,
        ref=name)`` then commit NEW global versions that only this branch
        references, which is the write-audit-publish staging pattern
        (Iceberg's ``spark.wap.branch``): index on the branch, audit its
        snapshot via as-of reads, ``publish`` to fast-forward main.
        Name rules mirror tags (no digits, no shadowing main or an
        existing tag/branch); the fork snapshot must be dereferenceable
        the moment the branch exists — on a legacy store whose current
        manifest was never archived, the archive is backfilled here so the
        branch head always has one."""
        if name.isdigit():
            raise ValueError(f"branch name {name!r} would shadow a version number")
        if name == "main":
            raise ValueError("branch name 'main' is reserved for the main lineage")
        if name in self.tags():
            raise ValueError(f"branch name {name!r} would shadow a tag")
        if name in self.branches():
            raise ValueError(f"branch {name!r} already exists in {self.path}")
        if version is None:
            cur = self.last_snapshot()
            if cur is None:
                raise FileNotFoundError(f"no snapshot committed in {self.path}")
            version = cur["version"]
        else:
            version = self.resolve_version(version)
        snap = self.snapshot(version)
        if snap is None:
            raise FileNotFoundError(
                f"snapshot v{version} unknown or expired in {self.path}"
            )
        if self._load_json(self._archive_path(version)) is None:
            # legacy backfill: branch heads resolve through archives
            self._write_json_atomic(self._archive_path(version), snap)
        branches = self.branches()
        branches[name] = {"version": int(version), "base": int(version)}
        self._write_branches(branches)
        return int(version)

    def drop_branch(self, name: str) -> int:
        """Remove a branch ref (returns its head version). Its snapshots
        stay time-travel readable by version number until the next
        ``vacuum`` expires whatever main's lineage no longer protects."""
        branches = self.branches()
        if name not in branches:
            raise KeyError(f"unknown branch {name!r} in {self.path}")
        head = branches.pop(name)["version"]
        self._write_branches(branches)
        return head

    def _is_ancestor(self, version: int, head: dict) -> bool:
        """True when ``version`` is on ``head``'s parent chain (or IS
        head). The walk stops at expired/legacy parents — unknowable
        lineage is treated as not-an-ancestor (publish then refuses:
        conservative, never a silent history rewrite)."""
        node: dict | None = head
        while node is not None:
            if node.get("version") == version:
                return True
            pv = node.get("parent_version")
            node = self._load_json(self._archive_path(pv)) if pv else None
        return False

    def publish(self, name: str) -> dict:
        """Fast-forward main to a branch's head — the audit-passed half of
        write-audit-publish (Iceberg ``fast_forward('main', branch)``).
        Requires main's current snapshot to be an ANCESTOR of the branch
        head: if main committed independently since the fork, fast-forward
        would silently discard those commits, so publish raises and the
        operator re-branches from the new main instead (same
        loud-conflict stance as ``commit(expected_version=)``). The
        pointer swap is the entire cost — the branch's snapshots and part
        dirs are already on disk and become main's history verbatim
        (``parent_version`` chain included). The branch ref survives,
        re-based at the published head, ready for the next staging run."""
        branches = self.branches()
        if name not in branches:
            raise KeyError(f"unknown branch {name!r} in {self.path}")
        head_v = branches[name]["version"]
        head = self.snapshot(head_v)
        if head is None:
            raise FileNotFoundError(
                f"branch {name!r} head v{head_v} unknown or expired in {self.path}"
            )
        cur = self._main_snapshot()
        cur_v = cur["version"] if cur else 0
        if head_v == cur_v:
            raise ValueError(
                f"branch {name!r} has no commits ahead of main (both at "
                f"v{cur_v}); nothing to publish"
            )
        if cur is not None and not self._is_ancestor(cur_v, head):
            raise RuntimeError(
                f"main advanced to v{cur_v} since branch {name!r} forked — "
                "fast-forward would discard main's commits; re-branch from "
                "the current main and re-run instead"
            )
        self._write_json_atomic(self._manifest_path(), head)
        branches[name] = {"version": head_v, "base": head_v}
        self._write_branches(branches)
        return head

    def last_snapshot(self) -> dict | None:
        """Head snapshot of this handle's ref: the branch head when the
        store was opened with ``ref=<branch>`` (its archived manifest —
        every branchable commit is archive-backed), else the main
        pointer. An unknown branch raises — silently reading main under a
        branch handle would commit the wrong lineage."""
        if self.ref is not None:
            heads = self.branches()
            if self.ref not in heads:
                raise KeyError(f"unknown branch {self.ref!r} in {self.path}")
            head = heads[self.ref]["version"]
            snap = self._load_json(self._archive_path(head))
            if snap is None:
                cur = self._main_snapshot()
                if cur is not None and cur.get("version") == head:
                    return cur
                raise FileNotFoundError(
                    f"branch {self.ref!r} head v{head} archive missing in "
                    f"{self.path} (vacuumed or damaged)"
                )
            return snap
        return self._main_snapshot()

    def _main_snapshot(self) -> dict | None:
        """The main-lineage pointer (``manifest.json``), ref-independent —
        vacuum and cross-ref plumbing read this directly."""
        mp = self._manifest_path()
        if not os.path.exists(mp):
            return None
        try:
            with open(mp) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError) as exc:
            # a corrupt/truncated manifest must degrade to "no snapshot"
            # (full re-extract — correct, just not incremental), never to a
            # permanently-wedged store that raises on every subsequent run.
            # commit() writes via tempfile+os.replace so this only occurs on
            # external damage (disk fault, manual edit).
            import warnings

            warnings.warn(
                f"state manifest {mp} unreadable ({exc}); "
                "treating as no snapshot — this run will fully re-extract"
            )
            return None

    def _resolve_snapshot(self, version: int | str | None) -> dict | None:
        """Current manifest, or — time travel — a specific archived one
        (by version int, digit string, or tag name). A requested version
        that is unknown or vacuum-expired raises (silently reading the
        current state instead would be wrong)."""
        if version is None:
            return self.last_snapshot()
        if isinstance(version, str):
            version = self.resolve_version(version)  # unknown tag raises
        snap = self.snapshot(version)
        if snap is None:
            raise FileNotFoundError(
                f"snapshot v{version} unknown or expired in {self.path}"
            )
        return snap

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        snap = self._resolve_snapshot(version)
        if snap is None:
            return spark.createDataFrame([], STATE_SCHEMA)
        # ensureSchema on read: snapshots from an older engine version gain
        # any newer columns as typed NULLs (schema_migration.py analog)
        return ensure_columns(spark.read.parquet(snap["data_path"]), STATE_SCHEMA)

    def table_parts(self, kind: str, version: int | None = None) -> list[dict] | None:
        """Version-dir list for a delta-written table (``facts`` /
        ``chunks``): ``[{"path": ..., "version": int}, ...]``. Falls back
        to the legacy single-path manifest key as a one-element list; None
        when the snapshot carries neither. ``version``: resolve against a
        historical snapshot instead of the current one (time travel)."""
        snap = self._resolve_snapshot(version)
        if snap is None:
            return None
        parts = snap.get(f"{kind}_parts")
        if parts:
            return parts
        legacy = snap.get(f"{kind}_path")
        if legacy:
            return [{"path": legacy, "version": snap["version"]}]
        return None

    def read_table(
        self,
        spark: SparkSession,
        kind: str,
        conv_ids: list[str] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Resolve a delta-written table (``facts`` / ``chunks``) to its
        CURRENT full contents — the external-reader contract.

        Each run writes only the dirty conversations' rows into a new
        version dir (Iceberg MERGE analog); ``resolve_parts`` picks each
        conversation's rows from the dir matching its pointer in the state
        table. Deleted conversations drop out naturally — they have no
        state row.

        ``conv_ids``: optional restriction to a known id set. Unlike a
        semi-join (whose build side Parquet never sees), an ``isin`` filter
        reaches the scan as a pushed predicate, so files whose row-group
        conv_id min/max stats miss the set are skipped without reading —
        write_edges sorts within partitions by conv_id precisely to keep
        those stats tight. This is how a delta run fetches the replaced
        conversations' previous edges as an indexed read instead of an
        O(all-edges) scan (the Iceberg metadata-pruned MERGE source analog).

        ``version``: resolve the table AS OF a historical snapshot (time
        travel) — pointer resolution runs against THAT snapshot's state
        table and part list, so the result is exactly what read_table
        returned when that snapshot was current; valid until ``vacuum``
        expires the snapshot (the Iceberg expire_snapshots trade)."""
        parts = self.table_parts(kind, version=version)
        if not parts:
            raise FileNotFoundError(f"snapshot carries no {kind} table")
        pointer = POINTER_COLS.get(kind, "written_version")
        versions = self.read(spark, version=version).select(
            "conv_id", F.col(pointer).alias("written_version")
        )
        restrict = F.col("conv_id").isin(conv_ids) if conv_ids is not None else None
        return resolve_parts(spark, parts, versions, restrict)

    def read_convs(
        self,
        spark: SparkSession,
        kind: str,
        ids: DataFrame,
        versions: tuple = (None,),
    ) -> list[DataFrame]:
        """The ``kind`` rows of the conversations in ``ids`` (a ``conv_id``
        frame), one frame per entry of ``versions`` (None: the current
        snapshot).

        The ids are collected ONCE, capped at PUSHDOWN_LIMIT (the driver-
        memory guard), and pushed into every read as an ``isin`` predicate:
        row groups whose conv_id stats miss the set are skipped unread — an
        indexed fetch instead of an O(table) scan. Above the cap each read
        semi-joins ``ids`` instead: correct, just not row-group-pruned."""
        sample = ids.take(PUSHDOWN_LIMIT + 1)
        if len(sample) > PUSHDOWN_LIMIT:
            return [
                self.read_table(spark, kind, version=v).join(ids, "conv_id", "left_semi")
                for v in versions
            ]
        conv_ids = [r["conv_id"] for r in sample]
        return [self.read_table(spark, kind, conv_ids=conv_ids, version=v) for v in versions]

    def changed_convs(
        self, spark: SparkSession, kind: str, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Conversations whose ``kind`` rows can differ between two
        snapshots — the pruning core of :meth:`diff_table`.

        A conversation whose version pointer is EQUAL and NON-NULL in both
        snapshots resolves to the same version dir in both reads, hence
        byte-identical rows — it cannot contribute diff rows and is pruned
        without touching the table. Everything else survives: convs present
        on only one side (created/deleted), pointer moved (rewritten), or a
        NULL pointer on either side (pre-upgrade snapshots carry no pointer
        → conservative full comparison for that conv)."""
        pointer = POINTER_COLS.get(kind, "written_version")
        s_from = self.read(spark, version=v_from).select(
            "conv_id", F.col(pointer).alias("_pf"), F.lit(True).alias("_inf")
        )
        s_to = self.read(spark, version=v_to).select(
            "conv_id", F.col(pointer).alias("_pt"), F.lit(True).alias("_int")
        )
        j = s_from.join(s_to, "conv_id", "full_outer")
        same = (
            F.col("_inf").isNotNull()
            & F.col("_int").isNotNull()
            & F.col("_pf").isNotNull()
            & F.col("_pt").isNotNull()
            & (F.col("_pf") == F.col("_pt"))
        )
        return j.filter(~same).select("conv_id")

    def diff_table(
        self, spark: SparkSession, kind: str, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """CDC changelog between two committed snapshots: the ``kind`` rows
        inserted or deleted going from ``v_from`` to ``v_to`` (default: the
        current snapshot), tagged with a ``change`` column
        (``'insert'``/``'delete'``; an updated row appears as delete +
        insert). The Iceberg changelog-read / ``create_changelog_view``
        analog — the reference's tracking table (flow.py:436-448) can only
        be replayed forward, never diffed between two arbitrary commits.

        O(delta), not O(table): pointer-equal conversations are pruned up
        front (:meth:`changed_convs` — same part dir on both sides, so
        byte-identical rows), the survivors are fetched with the indexed
        ``conv_ids`` pushdown (bounded collect, semi-join fallback above
        the cap), and only those delta-sized frames are ``exceptAll``-ed.
        Schema evolution between the snapshots is absorbed by aligning both
        sides to the union of their columns with typed NULLs (the
        ensure-columns rule applied pairwise); MAP columns (which Spark set
        operations reject) are compared as key-sorted entry arrays and
        restored afterwards. Either endpoint may be a tag name."""
        if isinstance(v_from, str):
            v_from = self.resolve_version(v_from)
        if v_to is None:
            cur = self.last_snapshot()
            if cur is None:
                raise FileNotFoundError(f"no snapshot committed in {self.path}")
            v_to = cur["version"]
        elif isinstance(v_to, str):
            v_to = self.resolve_version(v_to)
        empty = (
            self.read_table(spark, kind, conv_ids=[], version=v_to)
            .withColumn("change", F.lit(""))
            .limit(0)
        )
        if v_from == v_to:
            return empty
        changed = self.changed_convs(spark, kind, v_from, v_to)
        rows_from, rows_to = self.read_convs(spark, kind, changed, versions=(v_from, v_to))
        rows_from, rows_to = _align_columns(rows_from, rows_to)
        maps = _map_cols(rows_to)
        rows_from, rows_to = _encode_maps(rows_from, maps), _encode_maps(rows_to, maps)
        return _decode_maps(
            rows_to.exceptAll(rows_from)
            .withColumn("change", F.lit("insert"))
            .unionByName(
                rows_from.exceptAll(rows_to).withColumn("change", F.lit("delete"))
            ),
            maps,
        )

    def vacuum(
        self,
        out_dir: str,
        dry_run: bool = False,
        retain_last: int = 1,
        older_than: float | None = None,
    ) -> list[str]:
        """Delete version dirs in ``out_dir`` that the current manifest no
        longer references — superseded parts left behind by compaction and
        orphans from crashed runs (the Iceberg ``expire_snapshots`` +
        ``remove_orphan_files`` analog; reference delete/cleanup command:
        management/delete.py).

        Like Iceberg snapshot expiry this is the operator's explicit
        "no concurrent readers of old snapshots" action — a lazy DataFrame
        still bound to a superseded part must be materialized first.
        Version dirs NEWER than the current manifest are also kept
        (ADVICE r4: an in-flight run writes its part dirs BEFORE committing
        its manifest — deleting them would corrupt that run's snapshot);
        only dirs the manifest chain has provably superseded are removed.
        Never touches paths outside ``out_dir``/the state dir, or
        non-versioned sinks (nodes/quarantine; a legacy unversioned
        ``edges`` dir is removed only once the manifest carries versioned
        ``edges_parts`` that supersede it). Returns the deleted (or, with
        ``dry_run``, deletable) paths.

        Snapshot expiry: vacuum also retires TIME TRAVEL to pre-current
        snapshots — the out_dir parts they reference are being deleted, so
        their archived manifests (``manifest_vNNNNNN.json``) and state data
        dirs (``state_vNNNNNN``) older than the current version go with
        them (exactly Iceberg's expire_snapshots trade: history reads are
        valid until expiry, never silently wrong after it — ``snapshot()``
        returns None once expired). The current snapshot's archive, data
        and any in-flight (newer) versions are kept, and so is every
        TAGGED snapshot (``StateStore.tag`` — the Iceberg tag retention
        rule): its archive, state dir and referenced parts survive until
        ``untag`` releases them.

        Retention knobs (the Iceberg ``expire_snapshots`` arguments):
        ``retain_last=N`` keeps the N most recent snapshots of main's
        LINEAGE (the ``parent_version`` chain from the current head — a
        sibling branch's interleaved versions don't count toward N)
        readable, not just the current one; ``older_than=ts`` (epoch
        seconds) additionally protects every snapshot committed at or
        after ``ts`` regardless of position. Both only widen the keep-set;
        the default (``retain_last=1``, no ``older_than``) is the original
        current-plus-refs behavior."""
        import re
        import shutil

        if retain_last < 1:
            raise ValueError(f"retain_last must be >= 1, got {retain_last}")
        snap = self._main_snapshot()
        keep: set[str] = set()
        cur_version = snap["version"] if snap else 0
        # tagged snapshots and BRANCH HEADS are protected from expiry (the
        # Iceberg tag/branch retention rule): their archives, state dirs
        # and referenced parts all survive until untag/drop_branch. Branch
        # commits NEWER than main are additionally covered by the
        # in-flight rule below, like any not-yet-published version.
        protected: dict[int, dict] = {}
        ref_versions = set(self.tags().values()) | {
            b["version"] for b in self.branches().values()
        }
        for v in ref_versions:
            pinned = self.snapshot(v)
            if pinned is not None and v != cur_version:
                protected[v] = pinned
        # retention: the last N snapshots of main's lineage (parent chain
        # from the head — NOT a version-range, so a sibling branch's
        # interleaved versions neither count toward N nor get kept by it),
        # plus everything committed at/after older_than
        if snap is not None and retain_last > 1:
            node = snap
            for _ in range(retain_last - 1):
                pv = node.get("parent_version")
                node = self._load_json(self._archive_path(pv)) if pv else None
                if node is None:
                    break
                if node["version"] != cur_version:
                    protected[node["version"]] = node
        if older_than is not None:
            for hist in self.snapshots():
                if (
                    hist.get("committed_at", 0) >= older_than
                    and hist["version"] != cur_version
                ):
                    protected[hist["version"]] = hist
        for live in ([snap] if snap else []) + list(protected.values()):
            for kind in ("facts", "chunks", "edges"):
                for p in self.table_parts(kind, version=live["version"]) or []:
                    keep.add(os.path.realpath(p["path"]))
            for key in ("links_path", "linkmap_path", "canon_path", "vocab_path"):
                if live.get(key):
                    keep.add(os.path.realpath(live[key]))
        victims = []
        for name in sorted(os.listdir(out_dir)):
            if name == "edges" and snap and snap.get("edges_parts"):
                # legacy unversioned edges dir superseded by versioned parts
                # (post-upgrade orphan); storeless layouts never have a
                # manifest here, so live legacy sinks are untouched
                victims.append(os.path.realpath(os.path.join(out_dir, name)))
                continue
            if not (
                name.startswith("facts_v")
                or name.startswith("chunks_v")
                or name.startswith("links_v")
                or name.startswith("linkmap_v")
                or name.startswith("canon_v")
                or name.startswith("vocab_v")
                or name.startswith("edges_v")
            ):
                continue
            m = re.search(r"_v(\d+)$", name)
            if m and int(m.group(1)) > cur_version:
                # candidate part of a not-yet-committed (in-flight) run
                continue
            full = os.path.realpath(os.path.join(out_dir, name))
            if full not in keep:
                victims.append(full)
        # snapshot expiry: archived manifests + state data dirs older than
        # the current version (their out_dir parts are going away above)
        expired_files = []
        if snap is not None:
            # exempt the state data dir of EVERY kept snapshot, not just
            # the current one (ADVICE r5, medium): a rollback commit vN
            # aliases its data_path to the target's state_vK (K < N), so a
            # protected rollback snapshot must keep state_vK alive even
            # though K itself is neither current nor in the protected set.
            kept_data = {
                os.path.realpath(live["data_path"])
                for live in ([snap] if snap else []) + list(protected.values())
                if live.get("data_path")
            }
            for name in sorted(os.listdir(self.path)):
                m = re.fullmatch(r"manifest_v(\d+)\.json", name) or re.fullmatch(
                    r"state_v(\d+)", name
                )
                if (
                    m is None
                    or int(m.group(1)) >= cur_version
                    or int(m.group(1)) in protected
                ):
                    continue
                full = os.path.realpath(os.path.join(self.path, name))
                if full not in kept_data:
                    victims.append(full)
                    if name.endswith(".json"):
                        expired_files.append(full)
        if not dry_run:
            for v in victims:
                if v in expired_files:
                    try:
                        os.remove(v)
                    except OSError:
                        pass
                else:
                    shutil.rmtree(v, ignore_errors=True)
        return victims

    def compact(
        self,
        spark: SparkSession,
        out_dir: str,
        kinds: tuple[str, ...] = ("facts", "chunks", "edges"),
        dry_run: bool = False,
    ) -> dict:
        """Explicit maintenance compaction — the Iceberg
        ``rewrite_data_files`` analog, operator-invoked (off-peak) instead
        of waiting for the pipeline's automatic COMPACT_PARTS_AFTER fold.

        Every ``kind`` whose part list has >1 dir is resolved to its
        current full contents (``read_table`` — embeddings reloaded, never
        recomputed) and rewritten as ONE new-version part; the state
        table's version pointers for that kind all move to the new part.
        Everything else in the manifest — reuse fingerprints, link/canon/
        vocab pointers, input manifest — carries verbatim: compaction
        changes layout, never content, so every warm-run reuse gate
        survives it. The commit is a normal snapshot (``stage='compact'``):
        the pre-compact snapshot stays time-travel readable until
        ``vacuum`` expires it (at which point the old fragmented parts are
        deleted). Single-part tables are skipped; if nothing needs folding
        the call is a no-op and commits nothing.

        Returns ``{"compacted": [kinds], "version": int, "parts_before":
        {kind: n}}`` (with ``dry_run`` nothing is written)."""
        cur = self.last_snapshot()
        if cur is None:
            raise FileNotFoundError(f"no snapshot committed in {self.path}")
        parts_before = {
            k: len(self.table_parts(k) or []) for k in kinds
        }
        todo = [k for k in kinds if parts_before[k] > 1]
        if dry_run or not todo:
            return {
                "compacted": todo,
                "version": cur["version"],
                "parts_before": parts_before,
                "committed": False,
            }
        from coco_search_spark.operators.materialize import write_edges

        version = self.next_version()
        manifest = {
            k: v
            for k, v in cur.items()
            if k
            not in (
                "version", "snapshot_id", "stage", "data_path", "committed_at",
                "rolled_back_to", "rolled_back_from",
            )
        }
        state = self.read(spark)
        for kind in todo:
            path = os.path.join(out_dir, f"{kind}_v{version:06d}")
            full = self.read_table(spark, kind)
            if kind == "edges":
                # same layout contract as the pipeline's edge sink: salted
                # repartition + conv_id row-group stats for the indexed
                # delta fetch (_attach_metadata is a no-op on resolved
                # rows — they already carry the metadata map)
                write_edges(full, path)
            else:
                full.write.mode("overwrite").parquet(path)
            manifest[f"{kind}_parts"] = [{"path": path, "version": version}]
            if manifest.get(f"{kind}_path"):
                manifest[f"{kind}_path"] = path
            pointer = POINTER_COLS.get(kind, "written_version")
            # pointer moves only where it was set: a NULL pointer (conv
            # tracked before that table existed) must stay NULL
            state = state.withColumn(
                pointer,
                F.when(F.col(pointer).isNotNull(), F.lit(version)).otherwise(
                    F.col(pointer)
                ),
            )
        self.commit(
            state.drop("snapshot_id"),
            stage="compact",
            extra=manifest,
            expected_version=version,
        )
        return {
            "compacted": todo,
            "version": version,
            "parts_before": parts_before,
            "committed": True,
        }

    def delete_convs(self, spark: SparkSession, conv_ids: list[str]) -> dict:
        """Targeted deletion (the reference's ``delete`` verb,
        management/delete.py, at engine granularity): remove conversations
        from the index as a NEW snapshot, without touching a data file.

        Deletion is pointer-level: every delta-written table (facts,
        chunks, edges) resolves through a semi-join against the state
        table, so committing a state table minus the ids makes their rows
        vanish from every ``read_table`` immediately — O(state) cost, zero
        data rewritten (the GDPR-takedown shape at 100 TB: delete by
        pointer now, reclaim bytes at the next compact+vacuum). Derived
        corpus-level tables (vocabulary refcounts, canon labels, link map,
        nodes) are NOT incrementally adjusted; their manifest pointers and
        reuse fingerprints are dropped from the new snapshot so the next
        pipeline run recomputes them from the remaining corpus (loud
        full-recompute gates — conservative, never stale). Until then the
        authoritative per-conversation tables are already correct.

        Recoverable: the pre-delete snapshot stays time-travel readable
        and ``rollback`` restores it, until ``vacuum`` expires history.
        Re-indexing a corpus that still CONTAINS the deleted conversations
        re-adds them (same rule as the reference: delete removes index
        entries, not source data). Unknown ids are ignored (idempotent);
        deleting nothing raises rather than committing an empty change."""
        cur = self.last_snapshot()
        if cur is None:
            raise FileNotFoundError(f"no snapshot committed in {self.path}")
        state = self.read(spark)
        hit = state.filter(F.col("conv_id").isin(conv_ids))
        n_removed = hit.count()
        if n_removed == 0:
            raise KeyError(
                f"none of the {len(conv_ids)} conversation ids exist in "
                f"{self.path}; nothing to delete"
            )
        remaining = state.filter(~F.col("conv_id").isin(conv_ids))
        version = self.next_version()
        manifest = {
            k: v
            for k, v in cur.items()
            if k
            not in (
                "version", "snapshot_id", "stage", "data_path", "committed_at",
                "rolled_back_to", "rolled_back_from",
                # derived-table pointers + reuse fingerprints: dropped so
                # the next pipeline run recomputes vocabulary / canon /
                # links / nodes from the remaining corpus instead of
                # reusing values that still include the deleted rows
                "vocab_path", "fact_kind_counts",
                "canon_path", "canon_fp",
                "linkmap_path", "links_path", "catalog_fp",
                "input_manifest", "src_files_complete",
            )
        }
        manifest["deleted_conv_count"] = int(n_removed)
        self.commit(
            remaining.drop("snapshot_id"),
            stage="delete",
            extra=manifest,
            expected_version=version,
        )
        return {"version": version, "n_removed": int(n_removed)}

    def files(self, version: int | str | None = None) -> list[dict]:
        """The Iceberg ``files``/``manifests`` metadata-table analog,
        driver-side: every data directory the resolved snapshot references
        — state table, per-kind versioned parts, derived-table pointers —
        with file counts and byte sizes (checksum sidecars excluded). One
        row per directory: ``{"kind", "version", "path", "n_files",
        "bytes"}``. Accepts a version/tag/branch like every other as-of
        surface; storage questions ("which parts does the audit branch pin
        that main doesn't?", "how fragmented is facts?") become list
        comprehensions over two calls. Paths missing on disk (externally
        damaged) report ``n_files=0, bytes=0`` rather than raising —
        this is an inspection surface, reads are where loud failure
        belongs."""
        snap = self._resolve_snapshot(version)
        if snap is None:
            return []

        def _du(p: str) -> tuple[int, int]:
            n = b = 0
            for root, _, names in os.walk(p):
                for f in names:
                    if f.endswith(".crc"):
                        continue
                    n += 1
                    try:
                        b += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            return n, b

        rows: list[dict] = []

        def _add(kind: str, ver, path: str | None) -> None:
            if not path:
                return
            n, b = _du(path)
            rows.append(
                {"kind": kind, "version": ver, "path": path,
                 "n_files": n, "bytes": b}
            )

        _add("state", snap.get("version"), snap.get("data_path"))
        for kind in ("facts", "chunks", "edges"):
            for part in self.table_parts(kind, version=snap["version"]) or []:
                _add(kind, part["version"], part["path"])
        for key in ("links_path", "linkmap_path", "canon_path", "vocab_path"):
            _add(key[: -len("_path")], snap.get("version"), snap.get(key))
        return rows

    def staleness_seconds(self) -> float | None:
        """Age of the last committed snapshot in seconds, or None when no
        snapshot exists — the check_staleness analog (reference:
        management/stats.py:642, 526): surfaces how out-of-date the stored
        state is so operators can alert on stuck ingestion."""
        snap = self.last_snapshot()
        if snap is None or "committed_at" not in snap:
            return None
        return max(0.0, time.time() - float(snap["committed_at"]))

    def next_version(self) -> int:
        """One more than the highest version ANY ref has committed — the
        global monotone counter. Scanning the archive names (plus the main
        pointer, for legacy stores that never archived) instead of this
        ref's head keeps versions unique across branches: a branch commit
        must never reuse — and its archive never clobber — a version main
        or a sibling branch already took."""
        import glob
        import re

        snap = self._main_snapshot()
        mx = snap.get("version", 0) if snap else 0
        for p in glob.glob(os.path.join(self.path, "manifest_v*.json")):
            m = re.search(r"manifest_v(\d+)\.json$", p)
            if m:
                mx = max(mx, int(m.group(1)))
        return mx + 1

    def rollback(self, version: int | str) -> dict:
        """Roll the CURRENT pointer back to an earlier committed snapshot —
        the Iceberg ``rollback_to_snapshot`` analog. Never rewrites
        history: rollback is a NEW commit (``stage='rollback'``, version =
        ``next_version()``) whose table references — state ``data_path``,
        part lists, reuse fingerprints — are the target snapshot's,
        verbatim. Readers see exactly what the target committed (including
        every warm-run reuse gate: the next pipeline run diffs against the
        rolled-back world); the rolled-past snapshots stay in the history,
        time-travel readable until ``vacuum`` expires them (after which
        their now-unreferenced parts are deleted).

        Loud failure modes: rolling back to the current version (no-op ≠
        rollback — ValueError), to an unknown/expired version, or to a
        snapshot whose data dirs vacuum already removed (both
        FileNotFoundError) — never a silent partial revert. ``version``
        may be a tag name (``StateStore.tag``)."""
        cur = self.last_snapshot()
        if cur is None:
            raise FileNotFoundError(f"no snapshot committed in {self.path}")
        if isinstance(version, str):
            version = self.resolve_version(version)
        if version == cur["version"]:
            raise ValueError(f"snapshot v{version} is already current")
        target = self.snapshot(version)
        if target is None:
            raise FileNotFoundError(
                f"snapshot v{version} unknown or expired in {self.path}"
            )
        missing = [
            p
            for p in (
                [target.get("data_path")]
                + [
                    part["path"]
                    for kind in ("facts", "chunks", "edges")
                    for part in (self.table_parts(kind, version=version) or [])
                ]
                + [
                    target[key]
                    for key in (
                        "links_path", "linkmap_path", "canon_path", "vocab_path"
                    )
                    if target.get(key)
                ]
            )
            if p and not os.path.isdir(p)
        ]
        if missing:
            raise FileNotFoundError(
                f"snapshot v{version} data no longer on disk "
                f"(vacuumed or damaged): {missing}"
            )
        new_version = self.next_version()
        manifest = dict(target)
        manifest.update(
            {
                "version": new_version,
                "snapshot_id": f"v{new_version:06d}",
                "stage": "rollback",
                "committed_at": time.time(),
                "rolled_back_to": version,
                "rolled_back_from": cur["version"],
                # lineage: the rollback commit's parent is the head it
                # reverted FROM (not the target it reuses) — history stays
                # a chain, never a rewrite
                "parent_version": cur["version"],
            }
        )
        self._write_manifest(manifest)
        return manifest

    def commit(
        self,
        state_rows: DataFrame,
        stage: str,
        extra: dict | None = None,
        expected_version: int | None = None,
    ) -> str:
        """Write a new state snapshot; returns snapshot id. Atomic via
        tempfile + os.replace (the single-writer analog of an Iceberg
        snapshot commit).

        ``extra``: additional manifest fields (e.g. ``facts_path``, config
        provenance) folded into the SAME atomic write — a post-commit patch
        of the manifest would reopen the torn-write window the tempfile
        rename exists to close (round-3 verdict #2).

        ``expected_version``: optimistic concurrency (the Iceberg commit-
        conflict rule). A writer that sized its versioned part dirs against
        a snapshot passes the version it assumed it would commit; if
        another writer committed meanwhile, next_version() has moved and
        publishing would reference part dirs that interleave two runs'
        files — raise loudly instead (the caller re-runs against the new
        snapshot; its orphaned part dirs are in-flight-protected from
        vacuum only while newest, so re-run before vacuuming). None skips
        the check (single-writer callers)."""
        version = self.next_version()
        if expected_version is not None and version != expected_version:
            raise RuntimeError(
                f"concurrent commit detected in {self.path}: this run wrote "
                f"its parts for v{expected_version} but v{version - 1} is "
                "now current — refusing to publish a mixed snapshot; re-run "
                "against the new snapshot"
            )
        snapshot_id = f"v{version:06d}"
        data_path = os.path.join(self.path, f"state_{snapshot_id}")
        state_rows.withColumn("snapshot_id", F.lit(snapshot_id)).write.mode(
            "overwrite"
        ).parquet(data_path)
        manifest = dict(extra or {})
        manifest.update(
            {
                "version": version,
                "snapshot_id": snapshot_id,
                "stage": stage,
                "data_path": data_path,
                "committed_at": time.time(),
            }
        )
        parent = self.last_snapshot()
        if parent is not None:
            # lineage pointer: snapshots()/publish walk parent chains so
            # interleaved global versions still yield per-ref histories
            manifest["parent_version"] = parent["version"]
        self._write_manifest(manifest)
        return snapshot_id

    def _write_manifest(self, manifest: dict) -> None:
        """Archive FIRST, pointer swap second: a crash in between leaves an
        orphan archive with version > the current pointer, which
        snapshots()/vacuum ignore under the in-flight rule — the reverse
        order would leave a committed snapshot missing from the history.
        All writes are atomic via tempfile + os.replace. The pointer this
        swap moves is the handle's ref: ``manifest.json`` on main, the
        branch's ``branches.json`` entry otherwise (main's pointer is
        untouched by branch commits — that isolation IS the branch)."""
        self._write_json_atomic(self._archive_path(manifest["version"]), manifest)
        if self.ref is None:
            self._write_json_atomic(self._manifest_path(), manifest)
        else:
            branches = self.branches()
            if self.ref not in branches:
                raise KeyError(
                    f"unknown branch {self.ref!r} in {self.path} — create it "
                    "with create_branch before committing to it"
                )
            branches[self.ref]["version"] = manifest["version"]
            self._write_branches(branches)

    def _write_json_atomic(self, target: str, payload: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".json")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(payload))
        os.replace(tmp, target)
