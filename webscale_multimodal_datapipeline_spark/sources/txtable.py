"""Minimal transactional table format — versioned parquet snapshots with
an append-only JSON commit log (the open Delta-protocol shape: a
``_txlog/`` of numbered commit files whose replay defines the snapshot;
see delta.io PROTOCOL.md for the public design this follows).

The reference's W2 Iceberg writer (``writers/iceberg_writer.py:28-207``)
buffers parquet under a table path and never commits to a real catalog;
Spark's real ``writeTo`` path stays jar-gated in this container
(``sinks.py``). This module supplies what that leaves missing — ACID
table semantics testable with nothing but a filesystem:

- **Atomic commits.** A commit is ONE ``os.open(..., O_CREAT | O_EXCL)``
  of ``_txlog/<version>.json``: either the file is created (commit wins)
  or the version is taken (conflict). POSIX gives the atomicity; no
  locks, no rename dance.
- **Optimistic concurrency.** On conflict an ``append`` re-reads the log
  and retries at the next version (appends commute); an ``overwrite``
  raises ``CommitConflict`` (it invalidates what the loser read).
- **Snapshot isolation.** Readers resolve the file list from the commit
  log only — parquet written by an in-flight (uncommitted) writer is
  invisible because data files live in per-commit directories that only
  a committed log entry references. A reader holding version N is
  unaffected by later commits.
- **Time travel.** ``read(spark, path, version=k)`` replays the log to
  k. ``history`` exposes the log for audit.

Scale notes: the log is O(commits) JSON files — the known small-file
bottleneck of log-structured tables at high commit rates; production
formats checkpoint the log periodically, and ``compact_parquet``
(``sinks.py``) is this repo's data-file-side answer. Data files are
whatever Spark's distributed writer produced — the driver only ever
lists filenames (bounded by files-per-commit), never rows.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from webscale_multimodal_datapipeline_spark.session import local_frame

_LOG_DIR = "_txlog"


class CommitConflict(RuntimeError):
    """Another writer committed the version this transaction targeted."""


@dataclass(frozen=True)
class Commit:
    version: int
    action: str  # "append" | "overwrite"
    files: tuple[str, ...]
    schema_json: str
    # per-file column stats for file-level data skipping:
    # {file: {col: [min, max]}} over numeric/string leaf columns
    stats: dict | None = None
    # application-assigned idempotence token (e.g. a streaming epoch id):
    # a retried commit with an already-committed epoch is a no-op
    app_epoch: str | None = None


def _log_path(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def _commit_file(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:08d}.json")


def read_log(table: str) -> list[Commit]:
    """Parse the commit log in version order; missing log -> empty table."""
    log = _log_path(table)
    if not os.path.isdir(log):
        return []
    commits = []
    for name in sorted(os.listdir(log)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log, name)) as f:
            d = json.load(f)
        commits.append(
            Commit(
                d["version"],
                d["action"],
                tuple(d["files"]),
                d["schema"],
                d.get("stats"),
                d.get("app_epoch"),
            )
        )
    return commits


def latest_version(table: str) -> int:
    """Highest committed version, -1 for an empty/absent table."""
    log = read_log(table)
    return log[-1].version if log else -1


def snapshot_files(table: str, version: int | None = None) -> list[str]:
    """Replay the log to ``version`` (default: latest): overwrite resets
    the file set, append extends it."""
    files: list[str] = []
    for c in read_log(table):
        if version is not None and c.version > version:
            break
        if c.action == "overwrite":
            files = list(c.files)
        else:
            files.extend(c.files)
    return files


def _file_stats(path: str) -> dict:
    """Per-column [min, max] for one parquet file from its footer (merged
    across row groups) — collected at WRITE time so readers can skip
    whole files without touching them (the Delta/Iceberg data-skipping
    shape; at 100 TB the win is that a selective read never even lists
    irrelevant files into the scan)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {}
    # Columns with ANY row group lacking usable min/max are dropped from
    # the file's stats ENTIRELY (ADVICE r5): merging only the usable row
    # groups would commit a [min, max] that under-covers the file, and
    # ``pruned_files``/``read(between=...)`` could then skip a file that
    # holds matching rows — breaking the documented "identical to
    # filter(...)" contract. No stats for a column == conservatively kept.
    unusable: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if st is None or not st.has_min_max:
                unusable.add(name)
                continue
            try:
                lo, hi = st.min, st.max
            except Exception:
                # pyarrow raises ArrowNotImplementedError extracting stats
                # for some physical types (e.g. DECIMAL): no stats for the
                # column == conservatively kept, same as the has_min_max
                # branch — an append must never fail on a column's TYPE
                unusable.add(name)
                continue
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    unusable.add(name)
                    continue
            if name in out:
                out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
            else:
                out[name] = [lo, hi]
    for name in unusable:
        out.pop(name, None)
    return out


def _write_data(df: DataFrame, table: str) -> tuple[list[str], str, dict]:
    """Stage the DataFrame as parquet under a unique per-commit directory;
    only a committed log entry will ever make these files visible.
    Returns (files, schema_json, per-file stats)."""
    stage = f"data-{uuid.uuid4().hex[:12]}"
    out = os.path.join(table, stage)
    df.write.option("compression", "snappy").parquet(out)
    files = [
        os.path.join(stage, f)
        for f in sorted(os.listdir(out))
        if f.endswith(".parquet")
    ]
    stats = {f: _file_stats(os.path.join(table, f)) for f in files}
    return files, df.schema.json(), stats


def _discard_staged(table: str, files: list[str]) -> None:
    """Remove the per-commit staging directory behind ``files`` (all files
    of one ``_write_data`` call share one ``data-<uuid>`` dir). Called on
    every non-commit exit path (ADVICE r5: staged data survived failed/
    abandoned commit attempts, so contended tables leaked storage without
    bound). Best-effort — a vacuum() sweep catches anything missed."""
    import shutil

    if not files:
        return
    stage = os.path.join(table, files[0].split(os.sep)[0])
    # never touch the log, and only ever remove a staging-shaped dir
    if os.path.basename(stage).startswith("data-"):
        shutil.rmtree(stage, ignore_errors=True)


def vacuum(table: str, min_age_seconds: float = 24 * 3600.0) -> list[str]:
    """Remove ``data-*`` staging directories not referenced by ANY
    committed log entry (orphans from crashed or conflict-abandoned
    writers) and older than ``min_age_seconds`` (mtime guard so an
    IN-FLIGHT writer's freshly staged data is never swept — the same
    retention rule as Delta's VACUUM). Committed data dirs are kept even
    when only historical versions reference them (time travel stays
    intact). Returns the removed directory names."""
    import shutil
    import time

    referenced = {
        f.split(os.sep)[0] for c in read_log(table) for f in c.files
    }
    removed: list[str] = []
    now = time.time()
    for name in sorted(os.listdir(table)):
        full = os.path.join(table, name)
        if (
            name.startswith("data-")
            and os.path.isdir(full)
            and name not in referenced
            and now - os.path.getmtime(full) >= min_age_seconds
        ):
            shutil.rmtree(full, ignore_errors=True)
            removed.append(name)
    return removed


def _try_commit(table: str, commit: Commit) -> bool:
    """Atomically claim ``_txlog/<version>.json``; False if taken."""
    os.makedirs(_log_path(table), exist_ok=True)
    path = _commit_file(table, commit.version)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        json.dump(
            {
                "version": commit.version,
                "action": commit.action,
                "files": list(commit.files),
                "schema": commit.schema_json,
                "stats": commit.stats,
                "app_epoch": commit.app_epoch,
            },
            f,
        )
    return True


def _commit_schema(table: str, schema_json: str) -> str | None:
    """Append gate: returns the schema_json the commit should RECORD, or
    None if the append is incompatible. Same field names/order/types are
    required; nullability is compared as a WIDENING, not an equality:
    writing non-nullable data into a nullable table slot is always safe,
    and the asymmetry is load-bearing — an expression-derived column
    (e.g. the CDC handlers' ``_bucket``, non-nullable by construction)
    must stay appendable after ``compact`` re-reads the table from
    parquet, where every column comes back nullable (round 8, found by
    ``rebuild_embdedup_index``'s post-rebuild-continue test). Nullable
    data into a non-nullable slot still refuses.

    On a widening-compatible (but unequal) append, the EXISTING slot
    schema is recorded, not the incoming data's — the slot schema is the
    wider of the two by construction, and recording the narrower one
    would make the gate order-dependent across writers: a non-nullable
    append would silently narrow the declared table schema, refusing a
    subsequent append of the table's original nullable shape until a
    compact rewrote it (round 9, ADVICE)."""
    log = read_log(table)
    if not log:
        return schema_json
    if log[-1].schema_json == schema_json:
        return schema_json
    import json

    def _type_fits(slot, data) -> bool:
        """data type writable into slot type (equal modulo nullability
        widening, recursively through array/map/struct)."""
        if isinstance(slot, dict) != isinstance(data, dict):
            return False
        if not isinstance(slot, dict):
            return slot == data
        if slot.get("type") != data.get("type"):
            return False
        t = slot.get("type")
        if t == "array":
            if data.get("containsNull") and not slot.get("containsNull"):
                return False
            return _type_fits(slot.get("elementType"), data.get("elementType"))
        if t == "map":
            if data.get("valueContainsNull") and not slot.get("valueContainsNull"):
                return False
            return _type_fits(slot.get("keyType"), data.get("keyType")) and \
                _type_fits(slot.get("valueType"), data.get("valueType"))
        if t == "struct":
            return _fields_fit(slot.get("fields", []), data.get("fields", []))
        return slot == data

    def _fields_fit(slot_fields, data_fields) -> bool:
        if len(slot_fields) != len(data_fields):
            return False
        for s, d in zip(slot_fields, data_fields):
            if s["name"] != d["name"]:
                return False
            if d.get("nullable") and not s.get("nullable"):
                return False  # nullable data into a non-nullable slot
            if not _type_fits(s["type"], d["type"]):
                return False
        return True

    fits = _fields_fit(
        json.loads(log[-1].schema_json)["fields"],
        json.loads(schema_json)["fields"],
    )
    return log[-1].schema_json if fits else None


def committed_epochs(table: str) -> set[str]:
    """All ``app_epoch`` idempotence tokens in the committed log."""
    return {c.app_epoch for c in read_log(table) if c.app_epoch is not None}


def append(
    df: DataFrame, table: str, max_retries: int = 10, app_epoch: str | None = None
) -> int:
    """Append-commit; retries past version conflicts (appends commute).
    With ``app_epoch`` set, an already-committed epoch is a no-op (exactly
    -once under at-least-once retries, e.g. foreachBatch re-delivery).
    Returns the committed version (the existing one on an epoch no-op)."""
    if app_epoch is not None and app_epoch in committed_epochs(table):
        return latest_version(table)
    files, schema_json, stats = _write_data(df, table)
    for _ in range(max_retries):
        # Re-resolved per retry: the latest slot schema may have advanced.
        commit_schema = _commit_schema(table, schema_json)
        if commit_schema is None:
            _discard_staged(table, files)
            raise ValueError(
                f"append schema does not match table schema at {table}"
            )
        if app_epoch is not None and app_epoch in committed_epochs(table):
            _discard_staged(table, files)  # a concurrent retry won the epoch
            return latest_version(table)
        version = latest_version(table) + 1
        if _try_commit(
            table,
            Commit(version, "append", tuple(files), commit_schema, stats, app_epoch),
        ):
            return version
    _discard_staged(table, files)
    raise CommitConflict(f"gave up after {max_retries} contended versions")


def overwrite(df: DataFrame, table: str) -> int:
    """Replace-the-table commit; a version conflict is surfaced, not
    retried (the overwrite was decided against a snapshot that no longer
    exists). Returns the committed version."""
    files, schema_json, stats = _write_data(df, table)
    version = latest_version(table) + 1
    if not _try_commit(
        table, Commit(version, "overwrite", tuple(files), schema_json, stats)
    ):
        _discard_staged(table, files)
        raise CommitConflict(f"version {version} was committed concurrently")
    return version


def compact(
    spark: SparkSession,
    table: str,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> int:
    """Small-file compaction as a transaction: rewrite the CURRENT
    snapshot into ``target_files`` files and commit as an overwrite
    pinned to the snapshot it read (a concurrent commit in between
    raises instead of being clobbered — rerun on a quiet table). Data is
    bit-identical; history keeps every pre-compaction version readable.
    This is the executable form of ``p_compaction_plan``'s advice and
    the data-file answer to the log-structured small-file problem.

    ``cluster_by`` turns the rewrite into the OPTIMIZE-ZORDER analog
    (Delta OPTIMIZE ZORDER BY / Iceberg sort orders): rows are
    range-partitioned + locally sorted on the Morton interleave of the
    given integer columns (``operators/scale.py::zorder_layout``), so
    each rewritten file covers a compact hyper-rectangle of the key
    space and the committed per-file min/max stats prune ``read(...,
    between=...)`` on ANY of the clustered columns at once — the
    measured x_skipping_benefit effect, made executable. Same
    transaction contract; row contents identical, order changed."""
    read_version = latest_version(table)
    if read_version < 0:
        raise FileNotFoundError(f"no committed table at {table}")
    snap = read(spark, table, version=read_version)
    if cluster_by:
        from webscale_multimodal_datapipeline_spark.operators.scale import (
            zorder_layout,
        )

        snap = zorder_layout(snap, cluster_by, target_files, zorder_bits).drop(
            "_zkey"
        )
    else:
        snap = snap.coalesce(target_files)
    files, schema_json, stats = _write_data(snap, table)
    target = read_version + 1
    if not _try_commit(
        table, Commit(target, "overwrite", tuple(files), schema_json, stats)
    ):
        _discard_staged(table, files)
        raise CommitConflict(
            f"version {target} was committed concurrently during compaction"
        )
    return target


def merge(
    spark: SparkSession,
    delta: DataFrame,
    table: str,
    key: str,
    max_retries: int = 10,
    app_epoch: str | None = None,
    _on_staged=None,
) -> int:
    """Transactional MERGE upsert (round-5 W2 closure): read the latest
    snapshot, apply ``operators/curation.py::merge_upsert`` (delta wins on
    key match, unmatched delta inserts, unmatched base carries over), and
    commit the merged result as an overwrite — so the CDC path the
    reference's Iceberg writer implies (``writers/iceberg_writer.py:28-207``)
    is ACID end-to-end here.

    Unlike ``append``, a merge's RESULT depends on the snapshot it read, so
    the commit must target exactly ``read_version + 1``: the target version
    is pinned BEFORE staging, and a concurrent commit at that version forces
    a full re-read + re-merge + re-stage retry (optimistic concurrency, the
    Delta-protocol "blind overwrites lose" rule). Plain ``overwrite`` would
    silently clobber an interleaved commit; this never does.

    Readers are never torn: they resolve file lists from committed log
    entries only, so any concurrent reader sees the pre-merge or post-merge
    snapshot, never a mix.

    ``_on_staged`` is a test seam: called after data staging, before the
    commit attempt (used to interleave a concurrent commit deterministically).

    Returns the committed version.
    """
    from webscale_multimodal_datapipeline_spark.operators.curation import merge_upsert

    for _ in range(max_retries):
        if app_epoch is not None and app_epoch in committed_epochs(table):
            return latest_version(table)  # retried epoch: already applied
        read_version = latest_version(table)
        if read_version < 0:
            raise FileNotFoundError(f"no committed table at {table}")
        base = read(spark, table, version=read_version)
        merged = merge_upsert(base, delta, key, check_unique_delta_keys=True)
        files, schema_json, stats = _write_data(merged, table)
        if _on_staged is not None:
            _on_staged()
        target = read_version + 1
        if _try_commit(
            table,
            Commit(target, "overwrite", tuple(files), schema_json, stats, app_epoch),
        ):
            return target
        # lost the version race: this iteration's staged result is stale
        # (it merged against a superseded snapshot) — reclaim it before
        # the re-read + re-merge + re-stage retry
        _discard_staged(table, files)
    raise CommitConflict(f"gave up after {max_retries} contended merges")


def snapshot_file_stats(table: str, version: int | None = None) -> dict:
    """{file: {col: [min, max]}} for the snapshot's files, replayed from
    the log (files from commits that predate stats collection map to {} —
    i.e. never skippable)."""
    all_stats: dict[str, dict] = {}
    for c in read_log(table):
        if version is not None and c.version > version:
            break
        if c.stats:
            all_stats.update(c.stats)
    return {f: all_stats.get(f, {}) for f in snapshot_files(table, version)}


def pruned_files(
    table: str, col: str, lo, hi, version: int | None = None
) -> list[str]:
    """Snapshot files that MAY contain rows with ``col`` in [lo, hi]:
    a file is skipped iff its committed [min, max] for ``col`` is
    disjoint from the range; files without stats are conservatively
    kept. Driver-side, log-only — no parquet footer is touched for a
    skipped file (at 100 TB this is the layer above Spark's row-group
    pruning: a selective read never even lists the cold files)."""
    out = []
    for f, st in snapshot_file_stats(table, version).items():
        mm = st.get(col)
        if mm is not None and (mm[1] < lo or mm[0] > hi):
            continue
        out.append(f)
    return out


def pruned_files_for_points(
    table: str, col: str, points, version: int | None = None
) -> list[str]:
    """Snapshot files that MAY contain a row whose ``col`` equals ANY of
    ``points`` — the multi-point generalization of :func:`pruned_files`
    (round 9 session 2, the span-CDC verify read): a file is kept iff
    some point falls inside its committed [min, max]. Driver-side,
    log-only, O(files * log(points)) via bisect over the sorted points.
    Files without stats are conservatively kept. On a hash-CLUSTERED
    table (``compact(..., cluster_by=[col])``) with few points this
    lists a handful of files out of the snapshot — the same file-level
    I/O shape as the stored-IVF probe."""
    import bisect

    pts = sorted(points)
    if not pts:
        return []
    out = []
    for f, st in snapshot_file_stats(table, version).items():
        mm = st.get(col)
        if mm is None:
            out.append(f)
            continue
        i = bisect.bisect_left(pts, mm[0])
        if i < len(pts) and pts[i] <= mm[1]:
            out.append(f)
    return out


def read_points(
    spark: SparkSession,
    table: str,
    col: str,
    points,
    version: int | None = None,
) -> DataFrame:
    """File-pruned snapshot read of the rows whose ``col`` may equal any
    of ``points`` (caller applies the exact membership test — typically
    a semi-join): only the :func:`pruned_files_for_points` files are
    listed/scanned. Empty point set -> empty DataFrame with the table's
    schema."""
    log = read_log(table)
    if not log:
        raise FileNotFoundError(f"no committed table at {table}")
    files = pruned_files_for_points(table, col, points, version)
    if not files:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(log[-1].schema_json))
        return local_frame(spark, [], schema)
    return spark.read.parquet(*[os.path.join(table, f) for f in files])


def read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    between: tuple | None = None,
) -> DataFrame:
    """Snapshot read at ``version`` (default latest). Empty table -> an
    empty DataFrame with the last committed schema (or an error if no
    schema was ever committed).

    ``between=(col, lo, hi)`` additionally applies file-level data
    skipping from committed stats AND the row-level filter — semantics
    identical to ``read(...).filter(col between lo and hi)``, minus the
    skipped files' I/O."""
    log = read_log(table)
    if not log:
        raise FileNotFoundError(f"no committed table at {table}")
    if between is not None:
        col, lo, hi = between
        files = pruned_files(table, col, lo, hi, version)
    else:
        files = snapshot_files(table, version)
    if not files:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(log[-1].schema_json))
        return local_frame(spark, [], schema)
    df = spark.read.parquet(*[os.path.join(table, f) for f in files])
    if between is not None:
        col, lo, hi = between
        from pyspark.sql import functions as F

        df = df.filter(F.col(col).between(lo, hi))
    return df


def history(table: str) -> list[dict]:
    """Commit history for audit: version, action, file count."""
    return [
        {"version": c.version, "action": c.action, "n_files": len(c.files)}
        for c in read_log(table)
    ]
