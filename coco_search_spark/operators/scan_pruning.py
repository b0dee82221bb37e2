"""Input-file manifest pruning: an O(delta) warm-path content-hash scan.

Without this, every warm run re-reads and re-hashes the ENTIRE corpus just
to compute the conversation diff (the r4 verdict's O(corpus) read floor) —
at 100 TB the steady-state incremental cost is then the cold cost. This
module is the sandbox analog of an Iceberg/CDC incremental read (reference
analog: the tracking-table diff, flow.py:343-361 — likewise one level
coarser than re-hashing content): fingerprint every input FILE by
(size, mtime_ns), diff against the file manifest stored in the previous
snapshot, and re-read/re-hash only

- files whose fingerprint changed or that are new, plus
- the stored home files of every candidate conversation — one that
  previously had rows in a changed/removed file OR that has rows inside a
  changed/new file (a conversation may span files, and its content hash
  must cover its FULL current row set — e.g. a new data file appending
  turns to an existing conversation must pull that conversation's old,
  untouched files back into the scan).

Every other conversation carries its stored hash forward — a file whose
(path, size, mtime_ns) is unchanged holds the same rows it did.

Safety gates — any failure returns ``None`` and the caller performs the
full scan (correct, just not incremental):

- the transcripts DataFrame must be a PLAIN file scan (a single ``Relation``
  node in the analyzed plan): under a filter/join/projection the raw
  file rows would not equal the DataFrame's rows and file-level attribution
  would hash the wrong row set;
- every input file must be a local ``file://`` path this process can stat;
- every stored conversation must carry its ``src_files`` home set
  (snapshots from before that column existed cannot scope the read).

Known approximations, both conservative-or-advisory:

- fingerprints are (size, mtime_ns): in-place mutation preserving both is
  undetectable — the standard immutable-data-files assumption every
  snapshot-based table format makes (a real deployment reads the Iceberg
  snapshot log instead, where this is exact);
- ``src_files`` covers a conversation's CLEAN rows (hash identity covers
  clean rows only, so carried hashes stay exact); a change that only
  removes a conversation's quarantined row from an otherwise-untouched
  file can leave its advisory ``errors`` count stale until its clean rows
  next change.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coco_search_spark.state import IdSet

# When more than this fraction of the input files changed, pruning is a
# net loss: the scoped path list approaches the whole manifest, and the
# scoping itself costs extra scheduler round-trips (changed-file id scan,
# home-set explode/collect) that the full scan never pays. Above the
# threshold plan_pruned_scan declines (returns None) and the caller runs
# the ordinary full scan — correct either way, this only picks the
# cheaper plan. New files count as changed, so a bulk historical load
# (most files new) also takes the full-scan path.
MAX_DIRTY_FILE_FRACTION = 0.5

# Cap on the fused candidate collect (ids + home sets in one job): ~100
# bytes per id plus the home list keeps the driver transfer ≤ tens of MB.
# Above it the two-job plan (checkpoint ids, collect home files) runs
# instead — same answer, bounded driver memory.
MAX_FUSED_CAND_IDS = 100_000


def _local_path(uri: str) -> str | None:
    """file:// URI (or bare path) → local filesystem path; None when the
    URI points at a non-local authority or another scheme (same rule as
    preflight's URI handling)."""
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    if parsed.netloc not in ("", "localhost"):
        return None
    return unquote(parsed.path) if parsed.scheme else uri


def input_manifest(df: DataFrame) -> dict[str, str] | None:
    """{file_uri: "size:mtime_ns"} for a plain file-scan DataFrame; None
    when the plan is not a bare scan or any file cannot be statted."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # Connect-style sessions: no _jdf — no pruning
        return None
    lines = [ln for ln in plan.strip().splitlines() if ln.strip()]
    if len(lines) != 1 or not lines[0].startswith("Relation"):
        return None
    files = df.inputFiles()
    if not files:
        return None
    out: dict[str, str] = {}
    for uri in files:
        path = _local_path(uri)
        if path is None:
            return None
        try:
            st = os.stat(path)
        except OSError:
            return None
        out[uri] = f"{st.st_size}:{st.st_mtime_ns}"
    return out


@dataclass
class PrunedScan:
    scoped_raw: DataFrame  # raw rows of every file that must be re-read
    cand_ids: IdSet  # conv_ids whose hash must be recomputed
    # stored rows carried forward verbatim:
    # (conv_id, content_hash, rows_in, src_files, stored_errors)
    carried: DataFrame
    scanned_files: list[str]
    removed_files: list[str]
    n_files_total: int
    n_changed_files: int
    n_removed_files: int


def plan_pruned_scan(
    spark: SparkSession,
    transcripts: DataFrame,
    cur_manifest: dict[str, str],
    prev_manifest: dict[str, str] | None,
    stored: DataFrame,
    src_files_complete: bool = False,
) -> PrunedScan | None:
    """Decide the minimal file set to re-read. The candidate conversations
    are (a) everything present in a changed/new file — read O(changed)
    files to list them — and (b) everything whose stored home set touches a
    changed or removed file; the re-read covers the changed files plus the
    candidates' home files, which by construction holds the candidates'
    full current row sets."""
    if not cur_manifest or not prev_manifest:
        return None
    if "src_files" not in stored.columns:
        return None
    # a single stored row without a home set means the read cannot be
    # scoped for that conversation — the whole run falls back (the column
    # self-heals: this run's commit writes src_files for every conversation).
    # Snapshots committed with the src_files_complete manifest flag proved
    # this at WRITE time, so the per-run scan over the state table is
    # skipped; the scan remains for flag-less (older) snapshots.
    if not src_files_complete:
        if stored.filter(F.col("src_files").isNull()).limit(1).count() > 0:
            return None
    changed = sorted(p for p, fp in cur_manifest.items() if prev_manifest.get(p) != fp)
    removed = sorted(set(prev_manifest) - set(cur_manifest))
    if len(changed) + len(removed) > MAX_DIRTY_FILE_FRACTION * len(cur_manifest):
        return None
    schema = transcripts.schema
    affected = changed + removed
    # (conv_id, src_files) of every candidate with a stored row. A stored
    # home set touching an affected file is a driver-known predicate (no
    # join); conversations inside a changed/new file are listed from that
    # file alone and looked up in the state.
    homes = stored.select("conv_id", "src_files")
    cand = homes.filter(
        F.arrays_overlap(F.col("src_files"), F.array(*[F.lit(f) for f in affected]))
        if affected
        else F.lit(False)
    )
    if changed:
        new_ids = (
            spark.read.schema(schema)
            .parquet(*changed)
            .filter(F.col("conv_id").isNotNull())
            .select("conv_id")
            .distinct()
        )
        cand = cand.unionByName(new_ids.join(homes, "conv_id", "left"))
    # Home files must cover EVERY candidate with stored rows — including
    # conversations discovered only inside a changed/new file (a new data
    # file appending turns to an existing conversation is the common
    # incremental shape): their full current row set spans their old,
    # untouched home files too, and hashing/re-extracting from the changed
    # file alone would silently drop the old rows' facts.
    #
    # ONE capped collect returns both the candidate id set and the home
    # sets (a conversation found both ways comes back twice). Under the
    # cap the ids become an IdSet (a driver list up to PUSHDOWN_LIMIT,
    # which every downstream consumer applies as one pushed predicate);
    # over it the ids are checkpointed and joined (correct, just not fused).
    cand_rows = cand.take(MAX_FUSED_CAND_IDS + 1)
    if len(cand_rows) <= MAX_FUSED_CAND_IDS:
        home_files = sorted(
            {f for r in cand_rows if r["src_files"] for f in r["src_files"]}
        )
        cand_ids = IdSet.of(spark, sorted({r["conv_id"] for r in cand_rows}))
    else:
        # delta-sized; consumed by several joins downstream
        cand_ids = IdSet(frame=cand.select("conv_id").distinct().localCheckpoint(eager=True))
        home_files = [
            r["f"]
            for r in cand_ids.keep(stored)
            .select(F.explode("src_files").alias("f"))
            .distinct()
            .collect()
        ]
    files_needed = sorted((set(changed) | set(home_files)) & set(cur_manifest))
    if files_needed:
        scoped_raw = spark.read.schema(schema).parquet(*files_needed)
    else:
        scoped_raw = spark.createDataFrame([], schema)
    carried = cand_ids.keep(stored, anti=True).select(
        "conv_id",
        "content_hash",
        "rows_in",
        "src_files",
        F.col("errors").alias("stored_errors"),
    )
    return PrunedScan(
        scoped_raw=scoped_raw,
        cand_ids=cand_ids,
        carried=carried,
        scanned_files=files_needed,
        removed_files=removed,
        n_files_total=len(cur_manifest),
        n_changed_files=len(changed),
        n_removed_files=len(removed),
    )
