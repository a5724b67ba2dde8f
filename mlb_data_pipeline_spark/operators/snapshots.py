"""Lake transaction layer — snapshots, time travel, and pruned DML.

The layout family (operators/layout.py) gives a parquet directory the
READ-side lake behaviors: footer-stat manifests, file skipping, Bloom
probes, clustering maintenance. What it lacks is a WRITE-side commit
protocol: a plain ``mode("append")`` is visible the instant each part
file lands, a delete means rewriting everything, and there is no way to
ask "what did this table look like yesterday". This module adds the
Iceberg/Delta-shaped transaction log on top of the same directory:

* ``_snapshots/v{N}.json`` — each commit is ONE atomically-linked json
  listing the table's live data files (relative paths), its parent
  version, the operation, and a wall-clock timestamp. Readers resolve
  the latest version; ``layout._data_files`` honors the log, so every
  existing read path (pruned_read, lake_scan, lake_count, manifests,
  OPTIMIZE) sees only live files with no caller opt-in.
* **Time travel** — ``read_snapshot(spark, path, version=...)`` or
  ``version_as_of(path, ts)``: files removed by later commits stay on
  disk until ``vacuum_lake`` expires them, so historical reads are
  bit-exact, not best-effort.
* **Pruned DML** — ``lake_delete`` / ``lake_update`` / ``lake_merge``
  classify the live files from the per-file column stats the commit
  record carries (zero footer opens; a record written before the
  stats leg falls back to the footers) plus directory-encoded
  partition values before touching any data:

  - delete: files whose stats prove EVERY row matches drop from the
    snapshot without being opened (a metadata-only delete); files
    provably untouched keep their bytes; only BOUNDARY files rewrite
    (keeping rows where the predicate is FALSE or NULL).
  - update: SET expressions apply under a CASE rewriting only
    can-match files; updated columns cast back to their original type.
  - merge (upsert / delete-matched): only files whose key range can
    contain a source key rewrite; the rest of the lake is never read.
    Inserts land as new files.

  At 100 TB this is the difference between "DELETE = rewrite the
  table" and "DELETE = a json write plus the boundary surface".
* **Day-2 surface** — version TAGS (vacuum-protected read refs),
  ``read_changes`` (net row diff between versions from the FILE-SET
  diff alone — shared files cancel unopened; deletion-vector deltas
  surface as deletes/inserts reading only the delta-named files),
  ``snapshot_row_count`` (COUNT(*) from the commit's own per-file row
  counts minus mask counts, zero reads), ``lake_stats``
  (live/dead/unreferenced debt from metadata), and exactly-once
  VISIBLE streaming ingestion (streaming/jobs.lake_snapshot_stream).
* **Full schema evolution (round 12)** — the commit record's schema
  is authoritative for every read (``_read_files``: explicit read
  schema, zero footer-merge jobs), so ALTER TABLE is metadata-only:
  ``lake_drop_column``, ``lake_rename_column`` (coalesce-resolved
  name lineage), ``lake_widen_column`` (lossless promotions, parquet
  type promotion reads the narrow files).
* **Deletion vectors (round 12)** — ``lake_delete(use_dv=True)``
  masks matching positions via one parquet sidecar instead of
  rewriting boundary files; every reader anti-joins the mask; the
  next rewrite of a masked file materializes its deletes.
* **Branch refs / write-audit-publish (round 12)** —
  ``lake_branch_create/append``, ``read_branch``,
  ``lake_publish_branch`` (strict fast-forward or append rebase):
  stage a data drop invisible to main, audit it, publish atomically.
* **Round 13** — (a) NAME-REUSE GUARDS: dropped columns (and their
  rename-lineage aliases) tombstone in ``dropped_names``; the
  evolution paths reject reusing any tombstoned/lineage name (old
  files still hold those bytes — reuse would resurface them); a
  truncating overwrite resets tombstones/lineage/masks. (b) DV
  commits ship their mask as a DELTA merged into the head actually
  landed on — concurrent DV deletes merge, same-file masks raise.
  (c) DML ON BRANCHES: ``lake_delete/update/merge(branch=)`` run the
  pruned classification over the branch head and commit on the
  branch chain; ``read_changes(branch=)`` is the WAP audit primitive
  (net "what would publishing change" vs the fork);
  ``read_branch(version=)`` time travels within staging; the
  streaming snapshot sink takes ``branch=`` (stage a continuous
  feed, publish on cadence); publish carries branch DV deltas.
  (d) SHARDED SNAPSHOT MANIFESTS: above ``_MANIFEST_SHARD_THRESHOLD``
  files the commit json stays O(1) — the file list lives in
  immutable, REUSED parquet manifests + a removed list (append = one
  delta manifest; whole-file delete = none), compacted when dead
  weight piles up; ``snapshot_info`` resolves either representation,
  so every reader is representation-blind.

Concurrency model: optimistic, serializable at the file level, and
ONE protocol for every REF. A ref is a chain of immutable records in
its own log dir — main (``_snapshots/``, ``branch=None``) or a WAP
branch (``_snapshots/branches/<name>/``) — with a version lister
(``_versions``), a record reader that resolves sharded records
(``_ref_info``) and an exclusive put (``_put_record``: one winner per
version number, the last line of defense). ``commit_snapshot`` is the
only record builder: a commit carries ``parent=`` the version its plan
read, raises ``SnapshotConflictError`` when the ref's head moved, and
inherits every record key it is not given. The refs differ only in
data: only main has a head 0 (no commits yet — the plain parquet on
disk, adopted by the first DML), and a branch's records carry the
``fork_version`` of their v1 fork record. Losers resolve by commit
shape, identically on every ref:

* append-shaped commits (``lake_write`` append, ``lake_branch_append``,
  the streaming sink) re-read the new head's live set and re-union — a
  blind append never logically conflicts (``_commit_append``);
* DML/OPTIMIZE/publish commits rebase through ``_commit_filechange``: if
  every file the plan removed is still live in the new head and none
  of its new files collide, the commit replays as (new head − removed)
  ∪ added — equivalent to the serial order "this op first, the
  concurrent commit after". If a concurrent commit touched any file
  this plan read (rewrote or dropped it), that is a REAL conflict and
  the error propagates: re-plan against the new head.

Readers never lock: a snapshot json is immutable once linked.

Reference scope: the reference's lake is overwrite-only date-keyed
blobs (mlb_pipeline_dag.py:119 uploads `raw/{date}.json`; hw5's
load_csv.py:12-22 truncates and reloads) — versioned commits, time
travel, and row-level DML are beyond-reference scale surface
(SURVEY §2.15).

100 TB design notes
-------------------
* A commit writes ONE json (file list + op); no data file is ever
  mutated in place, so commits are O(metadata) regardless of table
  size. (At true 100 TB scale the file list itself would shard into
  Avro manifests exactly as Iceberg does; one json per commit keeps
  the protocol honest at this repo's scale without changing any
  reader semantics.)
* ``lake_delete``'s three-way classification reads only the commit
  record (driver-side, metadata-scale) — the same budget as
  ``pruned_read``'s planning collect. The rewrite job reads only the
  boundary files.
* ``lake_merge`` anti-joins the source key set over candidate files
  only — broadcast when the probe proved the key set small
  (<= _MERGE_KEY_PROBE_CAP distinct), plain shuffle above it (a
  corpus-scale source must never ship its keys to every executor);
  candidate selection is record stats + (for small key sets) a
  sorted-keys interval probe. Inserts never touch existing files.
* ``vacuum_lake`` is the ONLY operation that deletes data bytes, and
  it deletes strictly (on-disk) - (referenced by retained snapshots);
  never-committed ORPHANS get a mtime grace window (default 24 h) so
  vacuum can run beside in-flight writers without eating their staged
  files (round 12).
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .layout import (
    _all_data_files,
    _data_files,
    _dv_key_files,
    _dv_rows_by_file,
    _footer_stats,
    _lake_relpath,
    _partition_skippable,
    _partition_values,
    file_stats,
)

SNAP_DIRNAME = "_snapshots"

# distinct source keys up to this many are collected (sorted) so merge
# candidacy can use per-key interval probes instead of one wide box —
# bounded driver metadata, the same budget class as IVF centroids
_MERGE_KEY_PROBE_CAP = 100_000


from .logstore import get_log_store as _store  # metadata I/O seam (round 14)


class SnapshotConflictError(RuntimeError):
    """Another writer committed the same version first — re-plan
    against the new table head and retry (optimistic concurrency)."""


def _snap_dir(path: str) -> str:
    return os.path.join(os.path.abspath(path), SNAP_DIRNAME)


def _ref_dir(path: str, branch: str | None = None) -> str:
    """The log dir of a ref: main's ``_snapshots/`` or a branch's."""
    return _snap_dir(path) if branch is None else _branch_dir(path, branch)


def has_snapshots(path: str) -> bool:
    return any(
        re.fullmatch(r"v\d{12}\.json", n) for n in _store().list(_snap_dir(path))
    )


def _versions(path: str, branch: str | None = None) -> list[int]:
    out = []
    for n in _store().list(_ref_dir(path, branch)):
        m = re.fullmatch(r"v(\d{12})\.json", n)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(path: str) -> int | None:
    vs = _versions(path)
    return vs[-1] if vs else None


def _head_version(path: str, branch: str | None = None) -> int | None:
    """A ref's head version (None: no commits yet)."""
    if branch is None:
        return current_version(path)
    vs = _versions(path, branch)
    return vs[-1] if vs else None


def snapshot_info(path: str, version: int | str | None = None) -> dict:
    """The committed snapshot record (version, parent, op, ts, files,
    summary). ``version=None`` resolves the current head; a string
    resolves as a TAG name (``lake_tag``) — every reader downstream
    (snapshot_files, read_snapshot, lake_scan) inherits both forms."""
    if isinstance(version, str):
        version = resolve_version(path, version)
    return _ref_info(path, version)


def _ref_info(path: str, version: int | None = None, branch: str | None = None) -> dict:
    """The record at ``version`` of a ref (its head when None), sharded
    records resolved — the one record reader of both chains."""
    where = f"under {path!r}" if branch is None else f"on branch {branch!r}"
    if version is None:
        version = _head_version(path, branch)
        if version is None:
            raise ValueError(
                f"no snapshots under {path!r}" if branch is None
                else f"no branch {branch!r} under {path!r}"
            )
    fn = os.path.join(_ref_dir(path, branch), f"v{version:012d}.json")
    if not _store().exists(fn):
        raise ValueError(
            f"snapshot v{version} does not exist {where} "
            "(expired by vacuum_lake, or never committed)"
        )
    return _resolve_record(path, json.loads(_store().read(fn)))


def _put_record(path: str, record: dict, branch: str | None = None) -> int:
    """Exclusive create of a ref's record through the log-store seam:
    exactly one winner per version on any backend (POSIX hard-link
    here, conditional put on object storage — operators/logstore.py)."""
    fn = os.path.join(_ref_dir(path, branch), f"v{record['version']:012d}.json")
    try:
        _store().put_exclusive(fn, json.dumps(record).encode())
    except FileExistsError as exc:
        on = "" if branch is None else f"branch {branch!r} "
        raise SnapshotConflictError(
            f"{on}v{record['version']} was committed concurrently — re-plan and retry"
        ) from exc
    return record["version"]


# ---------------------------------------------------------------------------
# Sharded snapshot manifests (round 13, X47 — the Iceberg manifest-file
# shape). Below ``_MANIFEST_SHARD_THRESHOLD`` live files a commit
# embeds its file list + per-file row counts and column stats in the
# json (the simple, debuggable representation every earlier round
# used). Above it, the json stays O(1): the file list lives in
# IMMUTABLE parquet manifests under ``_snapshots/manifests/`` —
# columns (file, rows, stats), stats one json string per file — and the
# record carries ``manifest_refs`` (the manifests whose union covers
# the live set), ``removed_files`` (names subtracted from that union),
# and ``n_files``. Manifests are REUSED across commits: an append
# writes ONE delta manifest for its new files and inherits the
# parent's refs untouched, so on a million-file table the metadata
# WRITE cost of a commit is the commit's own churn, not the table.
# When dead weight accumulates (many refs or a removed list rivalling
# the live set) the commit compacts to one fresh manifest — the
# Iceberg manifest-rewrite maintenance step, folded in. Readers are
# unchanged: ``snapshot_info`` resolves a sharded record to the same
# (files, file_rows, file_stats) dict shape, cached per immutable
# (path, version).
# ---------------------------------------------------------------------------

_MANIFEST_SHARD_THRESHOLD = 2048
_MANIFEST_MAX_REFS = 32

_SNAP_RESOLVE_CACHE: dict[tuple, tuple] = {}
_MANIFEST_ROWS_CACHE: dict[tuple[str, str], tuple[dict, dict]] = {}


def _manifest_dir(path: str) -> str:
    return os.path.join(_snap_dir(path), "manifests")


def _manifest_rows(path: str, ref: str) -> tuple[dict[str, int], dict[str, dict]]:
    """(file -> rows, file -> column stats) for ONE manifest parquet;
    cached (manifests are immutable once a commit references them).
    Manifests written before the stats column carry rows only."""
    key = (os.path.abspath(path), ref)
    hit = _MANIFEST_ROWS_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(_manifest_dir(path), ref)).to_pylist()
    rows = {r["file"]: int(r["rows"]) for r in t}
    stats = {r["file"]: json.loads(r["stats"]) for r in t if r.get("stats") is not None}
    if len(_MANIFEST_ROWS_CACHE) > 64:
        _MANIFEST_ROWS_CACHE.clear()
    _MANIFEST_ROWS_CACHE[key] = (rows, stats)
    return rows, stats


def _write_manifest(
    path: str, names: list[str], file_rows: dict[str, int], file_stats: dict[str, dict]
) -> str:
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = _manifest_dir(path)
    os.makedirs(d, exist_ok=True)
    ref = f"m-{uuid.uuid4().hex[:16]}.parquet"
    names = sorted(names)
    t = pa.table(
        {
            "file": names,
            "rows": [int(file_rows[n]) for n in names],
            "stats": [json.dumps(file_stats[n]) if n in file_stats else None for n in names],
        },
        schema=pa.schema([("file", pa.string()), ("rows", pa.int64()), ("stats", pa.string())]),
    )
    pq.write_table(t, os.path.join(d, ref))
    return ref


def _resolve_record(path: str, record: dict) -> dict:
    """A PLAIN record passes through; a SHARDED one (manifest_refs)
    materializes files/file_rows/file_stats from its manifests minus
    the removed list. Cached by the resolution INPUTS (path, refs, removed) —
    always sound (two records with equal inputs resolve identically,
    whatever chain or lake incarnation they belong to), and a branch
    fork that copies main's refs verbatim is a cache HIT."""
    if "manifest_refs" not in record:
        return record
    key = (
        os.path.abspath(path),
        tuple(record["manifest_refs"]),
        tuple(record.get("removed_files") or ()),
    )
    hit = _SNAP_RESOLVE_CACHE.get(key)
    if hit is None:
        rows: dict[str, int] = {}
        stats: dict[str, dict] = {}
        for ref in record["manifest_refs"]:
            ref_rows, ref_stats = _manifest_rows(path, ref)
            rows.update(ref_rows)
            stats.update(ref_stats)
        removed = set(record.get("removed_files") or [])
        files = sorted(set(rows) - removed)
        hit = (files, {n: rows[n] for n in files}, {n: stats[n] for n in files if n in stats})
        if len(_SNAP_RESOLVE_CACHE) > 64:
            _SNAP_RESOLVE_CACHE.clear()
        _SNAP_RESOLVE_CACHE[key] = hit
    return {**record, "files": hit[0], "file_rows": hit[1], "file_stats": hit[2]}


def snapshot_files(path: str, version: int | str | None = None) -> list[str]:
    return sorted(snapshot_info(path, version)["files"])


def lake_history(path: str) -> list[dict]:
    """Every retained snapshot, oldest first — (version, parent, op,
    ts, n_files, summary) without the file lists."""
    out = []
    for v in _versions(path):
        info = snapshot_info(path, v)
        out.append(
            {
                "version": info["version"],
                "parent": info["parent"],
                "op": info["op"],
                "ts": info["ts"],
                "n_files": len(info["files"]),
                "summary": info.get("summary", {}),
            }
        )
    return out


def last_stream_batch_id(path: str, branch: str | None = None) -> int | None:
    """The latest ``summary.batch_id`` on the main chain (or a BRANCH
    chain) from a NEWEST-FIRST scan of the raw record jsons — the
    streaming replay guard's read (round 14, ADVICE r13 #5). Batch ids
    are monotonic, so the newest record carrying one holds the max;
    the scan stops there — O(1) json reads per micro-batch for a live
    stream instead of O(history), and it never resolves sharded
    manifests (only the summary is needed). None when no retained
    record carries a batch id."""
    d = _ref_dir(path, branch)
    names = sorted(
        (n for n in _store().list(d) if re.fullmatch(r"v\d{12}\.json", n)),
        reverse=True,
    )
    for n in names:
        try:
            record = json.loads(_store().read(os.path.join(d, n)))
        except (OSError, ValueError):
            continue  # expired mid-scan by a concurrent vacuum
        b = (record.get("summary") or {}).get("batch_id")
        if b is not None:
            return int(b)
    return None


def version_as_of(path: str, ts: float) -> int:
    """Latest retained version committed at or before ``ts`` (epoch
    seconds) — the AS OF TIMESTAMP resolution rule."""
    best = None
    for v in _versions(path):
        if snapshot_info(path, v)["ts"] <= ts:
            best = v
    if best is None:
        raise ValueError(f"no snapshot at or before ts={ts} under {path!r}")
    return best


# above this many NEW files in one commit, the footers are read by
# ONE distributed job over the staged files instead of a serial driver
# loop (a 10k-file ingest commit must not pay 10k serial opens)
_FOOTER_JOB_THRESHOLD = 64


def _footer_meta(
    path: str, names: list[str], spark: SparkSession | None = None
) -> tuple[dict[str, int], dict[str, dict]]:
    """(file -> parquet row count, file -> column stats) for ``names``
    (relative to ``path``) from ONE footer open per file, never data
    pages; the stats are ``layout._footer_stats`` over every column,
    keyed by physical name. Small batches read serially on the driver
    (O(delta), the common commit); above ``_FOOTER_JOB_THRESHOLD``
    files with a session available, the footers are opened in ONE
    distributed job, so a wide ingest commit's metadata harvest
    parallelizes across executors."""
    if spark is not None and len(names) > _FOOTER_JOB_THRESHOLD:
        return _footer_meta_job(path, names, spark)
    import pyarrow.parquet as pq

    rows, stats = {}, {}
    for n in names:
        md = pq.ParquetFile(_store().data_path(path, n)).metadata
        rows[n] = int(md.num_rows)
        stats[n] = _footer_stats(md)
    return rows, stats


def _footer_meta_job(
    path: str, names: list[str], spark: SparkSession
) -> tuple[dict[str, int], dict[str, dict]]:
    sc = spark.sparkContext
    # executor-openable locations come from the store (POSIX: a join;
    # an object-store impl returns URIs pyarrow opens directly)
    pairs = [(n, _store().data_path(path, n)) for n in names]
    n_slices = max(1, min(len(pairs) // 16 + 1, sc.defaultParallelism))

    def _meta(it):
        import pyarrow.parquet as pq

        for rel, full in it:
            md = pq.ParquetFile(full).metadata
            yield rel, int(md.num_rows), _footer_stats(md)

    got = sc.parallelize(pairs, n_slices).mapPartitions(_meta).collect()
    return {n: r for n, r, _ in got}, {n: st for n, _, st in got}


def _files_repr(
    path: str, prev: dict, files: list[str], file_rows: dict[str, int], file_stats: dict
) -> dict:
    """The files/file_rows/file_stats legs of a snapshot or branch
    record: plain below the shard threshold; above it, the parent's
    immutable manifests are reused, one delta manifest covers files
    they don't, the rest subtracts via removed_files, and the set
    compacts to a single fresh manifest when refs or dead weight pile
    up (X47)."""
    if len(files) <= _MANIFEST_SHARD_THRESHOLD:
        return {"files": sorted(files), "file_rows": dict(file_rows), "file_stats": dict(file_stats)}
    refs = list(prev.get("manifest_refs") or [])
    covered: set[str] = set()
    for ref in refs:
        covered.update(_manifest_rows(path, ref)[0])
    fresh = [n for n in files if n not in covered]
    if fresh:
        refs.append(_write_manifest(path, fresh, file_rows, file_stats))
        covered.update(fresh)
    removed = sorted(covered - set(files))
    if len(refs) > _MANIFEST_MAX_REFS or len(removed) > max(
        _MANIFEST_SHARD_THRESHOLD // 4, len(files) // 2
    ):
        refs = [_write_manifest(path, files, file_rows, file_stats)]
        removed = []
    return {"manifest_refs": refs, "removed_files": removed, "n_files": len(files)}


def commit_snapshot(
    path: str,
    files: list[str],
    op: str,
    summary: dict | None = None,
    parent: int | None = None,
    schema_json: str | None = None,
    renames: dict[str, list[str]] | None = None,
    dvs: list[str] | None = None,
    dv_rows: dict[str, int] | None = None,
    dropped_names: list[str] | None = None,
    dv_files: dict[str, list[str]] | None = None,
    spark: SparkSession | None = None,
    phys: dict[str, str] | None = None,
    branch: str | None = None,
    _new_meta: tuple[dict[str, int], dict[str, dict]] | None = None,
) -> int:
    """Commit ``files`` as the next version of a ref — main, or the
    WAP branch ``branch``. The one record builder of both chains.
    Atomic and single-winner: the record lands through the ref's
    exclusive put (``_put_record``) — if another writer got there
    first, ``SnapshotConflictError``. ``parent`` asserts the version
    the writer planned against; a mismatch with the ref's head is the
    same conflict, detected before any filesystem write. Every public
    commit path passes ``parent`` (round 12) — a stale plan can never
    silently build over a concurrent commit.

    Every commit also carries ``file_rows`` (per-file row counts) and
    ``file_stats`` (per-file {"min", "max", "nulls"} column stats keyed
    by physical name, ``layout._footer_stats``), inherited from the
    parent for carried-over files and read from ONE footer open for
    files new to this commit (O(delta) metadata reads; ``_new_meta``
    passes the (rows, stats) a caller already holds). ``COUNT(*)`` on
    a snapshot lake is therefore a pure metadata sum at any version,
    and DML, OPTIMIZE and publish plan without opening a footer (the
    Delta ``add.stats`` / Iceberg manifest-bounds shape). Files carried
    over from records written before the stats leg have no
    ``file_stats`` entry; readers fall back to their footers.

    Every other record key is INHERITED from the head unless the
    commit passes it; an empty value blocks inheritance (a truncating
    overwrite resets state that way):

    * ``schema_json`` (round 12) — the table schema as a Spark
      ``StructType.json()`` string, so an empty table (delete-all,
      truncating overwrite) stays readable with its true schema even
      after vacuum removed every dead data file;
    * ``renames`` — rename lineage {current column -> [prior names,
      newest first]}, so later commits keep resolving pre-rename files;
    * ``dvs`` / ``dv_rows`` — deletion-vector sidecars under
      ``_snapshots/dv/`` and {file -> deleted rows}, keyed by the
      lake-relative file name (the ``files`` entry; records written
      before that used the basename, resolved by ``_dv_key_files``);
      entries for files that left the live set are harmless (their
      anti-join matches nothing; row counting sums live files only);
    * ``dv_files`` (round 14) — {sidecar -> [masked file keys]}, pure
      pruning metadata: a rewrite removing every file a sidecar masks
      drops the sidecar, so vacuum reclaims it once the old versions
      expire. An entry lives exactly as long as its sidecar is in the
      record's ``dvs``; sidecars without one are retained
      conservatively;
    * ``dropped_names`` (round 13) — tombstones of dropped columns and
      their lineage aliases (old files still hold those bytes);
    * ``phys`` (round 14, column mapping) — {logical column ->
      PHYSICAL parquet name}, sparse (absent = identity), so a dropped
      or renamed-away name can be reused under a fresh physical name;
    * ``fork_version`` — a branch record's fork point on main."""
    head = _head_version(path, branch)
    if parent is not None and parent != (head or 0):
        raise SnapshotConflictError(
            f"planned against v{parent} but head is v{head} — re-plan and retry"
        )
    prev = _ref_info(path, head, branch) if head is not None else {}
    new_rows, new_stats = _new_meta or ({}, {})
    known_rows = {**new_rows, **prev.get("file_rows", {})}
    known_stats = {**new_stats, **prev.get("file_stats", {})}
    fresh = [n for n in files if n not in known_rows]
    if fresh:
        fresh_rows, fresh_stats = _footer_meta(path, fresh, spark)
        known_rows.update(fresh_rows)
        known_stats.update(fresh_stats)
    record = {
        "version": (head or 0) + 1,
        "parent": head,
        "op": op,
        "ts": time.time(),
        "summary": summary or {},
    }
    live_rows = {n: known_rows[n] for n in files if n in known_rows}
    live_stats = {n: known_stats[n] for n in files if n in known_stats}
    record.update(_files_repr(path, prev, files, live_rows, live_stats))
    given = {
        "schema": schema_json,
        "renames": renames,
        "dvs": dvs,
        "dv_rows": dv_rows,
        "dv_files": dv_files,
        "dropped_names": dropped_names,
        "phys": phys,
        "fork_version": None,
    }
    for k, v in given.items():
        v = v if v is not None else prev.get(k)
        if v:
            record[k] = v
    if "dropped_names" in record:
        record["dropped_names"] = sorted(set(record["dropped_names"]))
    kept = {
        s: bs for s, bs in record.pop("dv_files", {}).items() if s in record.get("dvs", ())
    }
    if kept:
        record["dv_files"] = kept
    return _put_record(path, record, branch)


def _head(path: str, branch: str | None = None) -> tuple[int, dict]:
    """(head version, its record) of a ref, read consistently: the
    record is the one the version listing resolved, so a commit
    landing in between cannot tear the pair. Only main has a head 0 —
    no snapshots yet, live = whatever plain parquet is on disk (the
    adoption inventory)."""
    head = _head_version(path, branch)
    if head is None and branch is None:
        return 0, {"files": _data_files(path)}
    info = _ref_info(path, head, branch)
    return info["version"], info


# bounded optimistic retries for the conflict-resolving commit paths —
# each retry re-reads the head, so livelock needs a writer committing
# faster than a json read five times in a row
_COMMIT_RETRIES = 5


def _commit_append(
    path: str,
    new_files: list[str],
    op: str,
    summary: dict | None = None,
    schema_json: str | None = None,
    spark: SparkSession | None = None,
    phys: dict[str, str] | None = None,
    require_meta: dict | None = None,
    branch: str | None = None,
) -> int:
    """Commit an APPEND on a ref: files = head's live set ∪
    ``new_files``. A blind append never logically conflicts with a
    concurrent commit (it reads no existing file), so a
    ``SnapshotConflictError`` here just means the head moved — re-read
    it and re-union (Delta treats appends the same way). Bounded
    retries; the final conflict propagates. The new files' footers are
    read once, before the loop.

    ``require_meta`` (round 14): an EVOLVING append computed its
    ``schema_json``/``phys`` against a specific head's evolution state
    — a blind retry over a concurrent ALTER would commit that stale
    metadata and silently revert the ALTER. The caller passes the
    evolution keys it planned against; if the head's no longer match,
    this raises instead of retrying (a real schema-evolution conflict
    — the caller re-plans, same contract as the DDL paths' parent
    assertion)."""
    new_meta = _footer_meta(path, list(new_files), spark)
    for attempt in range(_COMMIT_RETRIES + 1):
        head, cur = _head(path, branch)
        if require_meta is not None and head:
            stale = {
                k
                for k, v in require_meta.items()
                if (cur.get(k) or None) != (v or None)
            }
            if stale:
                raise SnapshotConflictError(
                    f"schema evolution planned against stale metadata "
                    f"({sorted(stale)} changed concurrently at v{head}) — "
                    "re-plan the evolving append and retry"
                )
        try:
            return commit_snapshot(
                path,
                sorted(set(cur["files"]) | set(new_files)),
                op,
                summary=summary,
                parent=head,
                schema_json=schema_json,
                spark=spark,
                phys=phys,
                branch=branch,
                _new_meta=new_meta,
            )
        except SnapshotConflictError:
            if attempt == _COMMIT_RETRIES:
                raise
    raise AssertionError("unreachable")


def _commit_filechange(
    path: str,
    planned_head: int,
    removed: set[str],
    added: set[str],
    op: str,
    summary: dict | None = None,
    schema_json: str | None = None,
    dv_add: list[str] | None = None,
    dv_rows_add: dict[str, int] | None = None,
    masked_files: set[str] | None = None,
    planned_dv_rows: dict[str, int] | None = None,
    dv_files_add: dict[str, list[str]] | None = None,
    spark: SparkSession | None = None,
    renames: dict[str, list[str]] | None = None,
    dropped_names: list[str] | None = None,
    require_schema: str | None = None,
    phys: dict[str, str] | None = None,
    branch: str | None = None,
    added_meta: tuple[dict[str, int], dict[str, dict]] | None = None,
) -> int:
    """Commit a DML/OPTIMIZE-shaped change on a ref, planned against
    ``planned_head``: drop ``removed`` from the live set, add
    ``added``. On a head-moved conflict, REBASE file-level (the Delta
    conflict-resolution shape): if every removed file is still live in
    the new head (no concurrent writer rewrote or dropped a file this
    plan READ) and no added file collides, replay the change on the
    new head's live set — equivalent to the serial order "this op
    first, the concurrent commit after". A removed file missing from
    the new head is a REAL write-write conflict (both ops touched the
    same rows): raise, the caller must re-plan. ``added_meta`` is the
    (rows, stats) the caller already holds for added files (a rewrite
    that counted its output, a branch head's record); the footers of
    the other added files are read once, before the loop.

    Deletion-vector commits (round 13 — ADVICE r12 #1) pass their mask
    as a DELTA, never an absolute list: ``dv_add`` names the new
    sidecar(s), ``dv_rows_add`` the per-file deleted-row deltas (keyed
    like the sidecars' ``file`` column), ``masked_files`` the live
    RELATIVE names the delta masks, and ``planned_dv_rows`` the dv_rows
    map of the head the plan read.
    The commit merges the delta into the dvs/dv_rows of the head it
    actually lands on, so a concurrent DV delete's sidecar reference
    is never overwritten by a stale list. The rebase is taken only
    when it is provably equivalent to a serial order: every masked
    file must still be live (a concurrent rewrite of a masked file
    would silently drop this plan's deletes) with an UNCHANGED dv_rows
    entry (a concurrent mask on the same file could overlap positions
    and corrupt the metadata counts) — anything else raises.

    The SYMMETRIC guard (round 14 — ADVICE r13 #1): a REWRITE rebasing
    over a concurrent DV commit that masked a file this plan is
    removing is equally non-serializable — the plan read the file
    UNMASKED, so replaying the rewrite would resurrect the
    concurrently DV-deleted rows (and a branch would publish the
    corruption to main). Every rebase therefore also checks that the
    landed-on head's dv_rows entry for each ``removed`` file equals
    the planned head's (``planned_dv_rows``, read lazily from the
    planned head's record when the caller didn't pass it; an
    unreadable planned-head record raises).

    Mask-metadata PRUNING (round 14 — ADVICE r13 #4): when this commit
    removes files, dv_rows entries for files no longer live are
    dropped, and sidecars whose recorded masked files (``dv_files``)
    are all dead are dropped too — a rewrite that materializes masks
    stops referencing them, so vacuum can reclaim the sidecars once
    older versions expire, instead of the metadata bloating
    monotonically. Every comparison goes through ``_dv_rows_by_file``/
    ``_dv_key_files``, so legacy basename keys resolve (or refuse)
    the same way the reader does."""
    known_rows, known_stats = added_meta or ({}, {})
    new_rows, new_stats = _footer_meta(
        path, sorted(n for n in added if n not in known_rows), spark
    )
    new_meta = ({**known_rows, **new_rows}, {**known_stats, **new_stats})
    expect = planned_head
    plan_dvr_lazy = planned_dv_rows
    for attempt in range(_COMMIT_RETRIES + 1):
        head, head_info = _head(path, branch)
        if require_schema is not None and head_info.get("schema") != require_schema:
            # the caller is COMMITTING schema metadata computed against
            # a specific base schema (an evolved branch publishing):
            # a concurrent ALTER is a real conflict — merging two
            # schema evolutions is the caller's decision, never a
            # silent rebase (round 13)
            raise SnapshotConflictError(
                f"the schema changed since the plan's base (head v{head}) "
                "— concurrent schema evolution; re-plan and retry"
            )
        if head != expect:
            live_set = set(head_info["files"])
            gone = removed - live_set
            if gone:
                raise SnapshotConflictError(
                    f"planned against v{expect} but head is v{head}, and a "
                    f"concurrent commit touched {len(gone)} file(s) this plan "
                    f"read (e.g. {sorted(gone)[0]!r}) — re-plan and retry"
                )
            collide = added & live_set
            if collide:
                raise SnapshotConflictError(
                    f"new file name(s) already live at v{head} "
                    f"(e.g. {sorted(collide)[0]!r}) — re-plan and retry"
                )
            head_dvr = _dv_rows_by_file(head_info.get("dv_rows"), live_set)
            if removed:
                # symmetric DV guard (round 14): this plan READ the
                # removed files under the planned head's masks; if the
                # landed-on head masks any of them differently, the
                # rewrite would resurrect concurrently DV-deleted rows
                if plan_dvr_lazy is None:
                    try:
                        plan_dvr_lazy = (
                            _ref_info(path, planned_head, branch).get("dv_rows") or {}
                            if planned_head
                            else {}
                        )
                    except ValueError as exc:
                        # the planned head's record expired mid-flight:
                        # the masks this plan read can't be verified —
                        # refuse, never silently rebase
                        raise SnapshotConflictError(
                            f"planned against v{expect} but head is v{head}, "
                            "and the planned head's record is no longer "
                            "readable — cannot verify its deletion-vector "
                            "state; re-plan and retry"
                        ) from exc
                plan_removed_dvr = _dv_rows_by_file(plan_dvr_lazy, live_set)
                for rel in sorted(removed):
                    if head_dvr.get(rel, 0) != plan_removed_dvr.get(rel, 0):
                        raise SnapshotConflictError(
                            f"planned against v{expect} but head is v{head}, "
                            f"and a concurrent deletion vector masks {rel!r}, "
                            "which this plan read unmasked and is rewriting — "
                            "the rewrite would resurrect the concurrently "
                            "deleted rows; re-plan and retry"
                        )
            if dv_add is not None or dv_rows_add:
                plan_dvr = _dv_rows_by_file(planned_dv_rows, live_set)
                for rel in sorted(masked_files or ()):
                    if rel in added:
                        continue  # this commit's own new file carries the mask
                    if rel not in live_set:
                        raise SnapshotConflictError(
                            f"planned against v{expect} but head is v{head}, and a "
                            f"concurrent commit rewrote or dropped masked file "
                            f"{rel!r} — this deletion vector no longer applies; "
                            "re-plan and retry"
                        )
                    if head_dvr.get(rel, 0) != plan_dvr.get(rel, 0):
                        raise SnapshotConflictError(
                            f"planned against v{expect} but head is v{head}, and a "
                            f"concurrent deletion vector masks {rel!r} too — "
                            "positions may overlap; re-plan and retry"
                        )
            expect = head
        files = sorted((set(head_info["files"]) - removed) | added)
        dvs = dv_rows = None
        if dv_add is not None or dv_rows_add:
            # merge the DV delta into the head ACTUALLY committed on
            head_dvs = list(head_info.get("dvs") or [])
            dvs = head_dvs + [s for s in (dv_add or []) if s not in head_dvs]
            dv_rows = dict(head_info.get("dv_rows") or {})
            for b, n in (dv_rows_add or {}).items():
                dv_rows[b] = int(dv_rows.get(b, 0)) + int(n)
        elif removed and (head_info.get("dvs") or head_info.get("dv_rows")):
            dvs = list(head_info.get("dvs") or [])
            dv_rows = dict(head_info.get("dv_rows") or {})
        dv_files = {**(head_info.get("dv_files") or {}), **(dv_files_add or {})}
        if removed and dv_rows is not None:
            # prune mask metadata for rewritten-away files (round 14):
            # the rewrite read through those masks, so nothing live
            # references them — dead entries are harmless to reads but
            # bloat every later commit and pin sidecars in vacuum
            # (commit_snapshot drops the dv_files of dropped sidecars)
            live_keys = _dv_key_files(
                {*dv_rows, *(k for ks in dv_files.values() for k in ks)}, files
            )
            dv_rows = {k: n for k, n in dv_rows.items() if k in live_keys}
            dvs = [
                s
                for s in dvs or []
                if s not in dv_files or any(k in live_keys for k in dv_files[s])
            ] if dv_rows else []
        try:
            return commit_snapshot(
                path,
                files,
                op,
                summary=summary,
                parent=expect,
                schema_json=schema_json,
                dvs=dvs,
                dv_rows=dv_rows,
                dv_files=dv_files,
                spark=spark,
                renames=renames,
                dropped_names=dropped_names,
                phys=phys,
                branch=branch,
                _new_meta=new_meta,
            )
        except SnapshotConflictError:
            if attempt == _COMMIT_RETRIES:
                raise
    raise AssertionError("unreachable")


def _partition_cols(files: list[str]) -> list[str]:
    """Directory-encoded partition keys present in the live file paths
    (rewrites must write through the SAME partitioning or the lake
    would end up with the key both as a directory and as a physical
    column)."""
    cols: list[str] = []
    for n in files:
        for k in _partition_values(n):
            if k not in cols:
                cols.append(k)
    return cols


def _to_physical(df: DataFrame, info: dict | None) -> DataFrame:
    """``df``'s LOGICAL column names renamed to the PHYSICAL parquet
    names of the record's ``phys`` map (round 14 — column mapping);
    identity without a map. Every writer of a snapshot lake goes
    through this, so mapped columns always store under their
    allocated physical name and the one shared reader resolves them
    back."""
    phys: dict[str, str] = (info or {}).get("phys") or {}
    if not phys:
        return df
    # ONE select-alias pass — sequential renames would collide when a
    # column's physical name equals another column's logical name
    # (e.g. phys {y: x, x: x__g2} with both present)
    return df.select([F.col(c).alias(phys.get(c, c)) for c in df.columns])


def _write_new_files(
    df: DataFrame, path: str, partition_cols: list[str], info: dict | None = None
) -> list[str]:
    """Append ``df`` into the lake directory with Spark's unique part
    naming and return the RELATIVE names of the files the write
    created (on-disk listing diff — the new files are invisible to
    readers until the caller commits a snapshot referencing them).

    ``info``: the commit record the write lands under; its ``phys``
    map renames ``df`` and ``partition_cols`` to physical names
    (``_to_physical``)."""
    phys: dict[str, str] = (info or {}).get("phys") or {}
    df = _to_physical(df, info)
    partition_cols = [phys.get(c, c) for c in partition_cols]
    before = set(_all_data_files(path))
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    return sorted(set(_all_data_files(path)) - before)


def lake_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    allow_schema_evolution: bool = False,
) -> dict:
    """Write ``df`` into the lake as one committed snapshot.

    ``mode="append"`` adds the new files to the parent's list;
    ``mode="overwrite"`` commits a snapshot listing ONLY the new files
    — the previous files stay on disk for time travel (a logical
    truncate, unlike the reference's physical reload,
    hw5/load_csv.py:12-22). The first write of either mode creates
    v1.

    ``partition_by`` sets the hive partition layout on the FIRST write
    (or an overwrite); later appends/DML inherit the layout from the
    live file paths and must not contradict it (a flat write into a
    partitioned lake would put the key both in directories and in a
    physical column — rejected)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    head, head_info = _head(path)
    live = head_info["files"]
    evolved_schema_json: str | None = None
    evolved_phys: dict[str, str] | None = None
    if live and mode == "append":
        recorded = None
        if head_info.get("schema"):
            from pyspark.sql.types import StructType

            recorded = StructType.fromJson(json.loads(head_info["schema"]))
        cur_cols = (
            set(recorded.names)
            if recorded is not None
            else set(read_snapshot(spark, path).columns)
            if head
            else set(spark.read.option("mergeSchema", "true").parquet(path).columns)
        )
        new_cols = set(df.columns)
        if new_cols != cur_cols and not allow_schema_evolution:
            raise ValueError(
                f"schema drift: write has {sorted(new_cols - cur_cols) or '-'} extra / "
                f"{sorted(cur_cols - new_cols) or '-'} missing vs the lake; pass "
                "allow_schema_evolution=True to evolve (old rows read NULL for new columns)"
            )
        if allow_schema_evolution:
            if not new_cols >= cur_cols:
                raise ValueError(
                    f"schema evolution may only ADD columns; write is missing {sorted(cur_cols - new_cols)}"
                )
            # name REUSE (round 13 rejected it; round 14 makes it SAFE
            # via column mapping): a new column named like a dropped
            # tombstone, a rename-lineage alias, or a live physical
            # name would absorb old files' dead bytes if stored under
            # its own name — so it stores under a freshly ALLOCATED
            # physical name instead. Old files have no bytes there
            # (they read NULL), the dead bytes stay unreferenced, and
            # the new column is a genuinely new identity — its type is
            # free (the gate below only checks recorded columns).
            reused = sorted((new_cols - cur_cols) & _reuse_blocked_names(head_info))
            if reused:
                burned = (
                    _reuse_blocked_names(head_info) | cur_cols | new_cols
                )
                pmap = dict(head_info.get("phys") or {})
                for name in reused:
                    pmap[name] = _alloc_phys(name, burned)
                    burned.add(pmap[name])
                evolved_phys = pmap
            if recorded is not None:
                # type gate (round 13, ADVICE r12 #3): an evolving
                # append must never NARROW a recorded column. Equal
                # types pass; a lossless widening (df wider) widens the
                # record; a promotable-narrower df keeps the recorded
                # wide type (parquet promotion reads the narrow files);
                # anything else is a type conflict.
                from pyspark.sql.types import StructField, StructType

                df_types = {f.name: f.dataType for f in df.schema.fields}
                out_fields = []
                for f in recorded.fields:
                    dft = df_types[f.name]
                    cur_s, new_s = f.dataType.simpleString(), dft.simpleString()
                    if new_s == cur_s:
                        out_fields.append(f)
                    elif new_s in _WIDEN_OK.get(cur_s, set()):
                        out_fields.append(StructField(f.name, dft, True))
                    elif cur_s in _WIDEN_OK.get(new_s, set()):
                        out_fields.append(f)  # df narrower but promotable
                    else:
                        raise ValueError(
                            f"schema evolution type conflict on {f.name!r}: "
                            f"lake has {cur_s}, write has {new_s} — only "
                            "lossless promotions are allowed "
                            "(evolution must never change a stored value)"
                        )
                out_fields += [
                    f for f in df.schema.fields if f.name not in set(recorded.names)
                ]
                evolved_schema_json = StructType(out_fields).json()
    existing = _partition_cols(live)
    pcols = list(partition_by) if partition_by is not None else existing
    if existing and mode == "append" and pcols != existing:
        raise ValueError(
            f"lake is partitioned by {existing}; append must use the same "
            f"layout, got {pcols}"
        )
    # an overwrite writes df as-is (mapping resets with the state);
    # appends write through the head's phys map — plus this write's
    # own allocations when the evolution reused a burned name
    write_info = (
        {} if mode == "overwrite"
        else {"phys": evolved_phys} if evolved_phys is not None
        else head_info
    )
    new = _write_new_files(df, path, pcols, info=write_info)
    # the table schema this commit establishes: an overwrite IS df's
    # schema; an evolving append is the recorded schema + added columns
    # (recorded types win — see the type gate); a plain append inherits
    schema_json = (
        evolved_schema_json
        if evolved_schema_json is not None
        else df.schema.json()
        if mode == "overwrite" or allow_schema_evolution or not live
        else None
    )
    if mode == "overwrite":
        # a truncating overwrite's file list is head-independent: a
        # conflict only means the version number moved — retake it.
        # It also RESETS the evolution/mask state (empty renames /
        # tombstones / dvs block inheritance): every live file is this
        # commit's own, so no stale lineage can bite and name reuse
        # becomes legal again (round 13).
        version = None
        for attempt in range(_COMMIT_RETRIES + 1):
            try:
                version = commit_snapshot(
                    path, new, "overwrite",
                    summary={"files_added": len(new)},
                    parent=current_version(path) or 0, schema_json=schema_json,
                    renames={}, dvs=[], dv_rows={}, dropped_names=[],
                    phys={}, spark=spark,
                )
                break
            except SnapshotConflictError:
                if attempt == _COMMIT_RETRIES:
                    raise
        files = new
    else:
        version = _commit_append(
            path, new, "append",
            summary={"files_added": len(new)}, schema_json=schema_json,
            spark=spark, phys=evolved_phys,
            # an evolving append's schema/mapping were computed against
            # THIS head's evolution state — a concurrent ALTER must
            # conflict, not be silently overwritten by the stale plan
            require_meta={
                k: head_info.get(k)
                for k in ("schema", "renames", "dropped_names", "phys")
            }
            if (schema_json is not None or evolved_phys is not None) and live
            else None,
        )
        files = snapshot_files(path, version)
    return {"version": version, "files_added": len(new), "files_live": len(files)}


def read_snapshot(
    spark: SparkSession, path: str, version: int | str | None = None
) -> DataFrame:
    """The table AS OF ``version`` (current head when None) — reads
    exactly the committed file list, so the result is stable no matter
    how many commits happened since."""
    return _read_record(spark, path, snapshot_info(path, version))


def _read_record(
    spark: SparkSession, path: str, info: dict, branch: str | None = None
) -> DataFrame:
    """The rows of one record of a ref (``read_snapshot`` /
    ``read_branch``)."""
    files = sorted(info["files"])
    if not files:
        # empty table: the commit record carries the authoritative
        # schema (round 12) — on-disk leftovers may be vacuumed away
        # entirely, or a dead pre-evolution file could supply a stale
        # column set
        if info.get("schema"):
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(json.loads(info["schema"])))
        # pre-round-12 commit without a schema leg: best-effort from
        # whatever parquet remains on disk
        return spark.read.parquet(path).limit(0)
    missing = [n for n in files if not os.path.exists(os.path.join(path, n))]
    if missing:
        on = "" if branch is None else f"branch {branch!r} "
        raise ValueError(
            f"{on}snapshot v{info['version']} references {len(missing)} vacuumed "
            f"file(s) (e.g. {missing[0]!r}) — expired versions cannot be read"
        )
    return _read_files(spark, path, files, info)


def _dv_df(spark: SparkSession, path: str, info: dict | None) -> DataFrame | None:
    """The union of a commit's deletion-vector sidecars: (file, pos)
    rows masking deleted positions, ``file`` the lake-relative name —
    legacy basename keys are rewritten to the live file they resolve
    to (``_dv_key_files``, which refuses an ambiguous one). None when
    the commit carries no DVs."""
    names = (info or {}).get("dvs") or []
    if not names:
        return None
    dv = spark.read.parquet(
        *[os.path.join(_snap_dir(path), "dv", n) for n in names]
    ).select("file", "pos")
    keyed = _dv_key_files(info.get("dv_rows") or {}, info["files"])
    legacy = {k: n for k, n in keyed.items() if k != n}
    return dv.replace(legacy, subset=["file"]) if legacy else dv


# total DV'd positions up to this many broadcast into the read-side
# anti-join; bigger masks shuffle (the guarded-broadcast rule)
_DV_BROADCAST_CAP = 2_000_000


def _read_files(
    spark: SparkSession,
    path: str,
    names: list[str],
    info: dict | None = None,
    _keep_position_cols: bool = False,
) -> DataFrame:
    """Read RELATIVE file ``names`` under the authority of a commit
    record's schema (round 12 — the reader half of full schema
    evolution):

    * the read schema is EXPLICIT (recorded fields + each rename's
      prior names typed at the target), so planning reads ZERO footers
      — no mergeSchema job — and parquet's type promotion surfaces
      pre-widen INT32/FLOAT files at the recorded wider type;
    * files missing a column (pre-ADD) read NULL for it; columns a
      file carries beyond the schema (post-DROP leftovers) never
      surface;
    * renamed columns resolve by COALESCE over the name lineage —
      sound because a file carries exactly one generation of the name.

    Deletion vectors (round 12): when the record carries ``dvs``, the
    read masks DV'd positions with a (lake-relative file name,
    row_index) anti-join — broadcast when the recorded deleted-row
    total is under ``_DV_BROADCAST_CAP``, plain shuffle above. ``_keep_position_cols``
    keeps ``__file``/``__pos`` in the output (the DV writers' hook).

    With no usable record (plain dirs, pre-round-12 logs, adopt
    commits) this falls back to the mergeSchema read — the round-11
    behavior, unchanged (DV masking still applies if present)."""
    paths = [os.path.join(path, n) for n in names]
    dv = _dv_df(spark, path, info)
    want_pos = _keep_position_cols or dv is not None

    def mask(df: DataFrame) -> DataFrame:
        # position columns from the parquet reader's own metadata —
        # stable per file, no shuffle, no row numbering job
        if not want_pos:
            return df
        out = df.withColumn(
            "__file", _lake_relpath(path, F.col("_metadata.file_path"))
        ).withColumn("__pos", F.col("_metadata.row_index"))
        if dv is not None:
            total = sum((info or {}).get("dv_rows", {}).values())
            right = F.broadcast(dv) if total <= _DV_BROADCAST_CAP else dv
            out = out.join(
                right,
                (out["__file"] == right["file"]) & (out["__pos"] == right["pos"]),
                "left_anti",
            )
        return out if _keep_position_cols else out.drop("__file", "__pos")

    sj = (info or {}).get("schema")
    if not sj:
        return mask(
            spark.read.option("basePath", path)
            .option("mergeSchema", "true")
            .parquet(*paths)
        )
    from pyspark.sql.types import StructField, StructType

    fields = StructType.fromJson(json.loads(sj))
    renames: dict[str, list[str]] = (info or {}).get("renames") or {}
    # column mapping (round 14): a field whose name appears in the
    # record's "phys" map stores under that PHYSICAL parquet name —
    # the read schema and the resolve both go through the map, so a
    # reused logical name (fresh physical) never touches old files'
    # dead bytes, and a pure-metadata rename (physical stays the
    # original) reads every generation from one physical column.
    phys: dict[str, str] = (info or {}).get("phys") or {}
    read_fields = []
    have: set[str] = set()
    for f in fields.fields:
        p = phys.get(f.name, f.name)
        read_fields.append(StructField(p, f.dataType, True))
        have.add(p)
    for tgt, olds in renames.items():
        if tgt not in fields.names:
            continue  # lineage of a since-dropped column: nothing to read
        t = fields[tgt].dataType
        for o in olds:
            if o not in have:
                read_fields.append(StructField(o, t, True))
                have.add(o)
    df = mask(
        spark.read.schema(StructType(read_fields))
        .option("basePath", path)
        .parquet(*paths)
    )
    proj = []
    for f in fields.fields:
        cands = [phys.get(f.name, f.name)]
        cands += [o for o in renames.get(f.name, []) if o not in cands]
        expr = F.col(cands[0]) if len(cands) == 1 else F.coalesce(*[F.col(c) for c in cands])
        proj.append(expr.cast(f.dataType).alias(f.name))
    if _keep_position_cols:
        proj += [F.col("__file"), F.col("__pos")]
    return df.select(*proj)


def lake_rollback(path: str, version: int) -> int:
    """Restore the table to an earlier version's file list as a NEW
    commit (history is append-only — a rollback is itself audited).
    Asserts the head it planned against (round 12): a concurrent
    commit landing mid-rollback raises ``SnapshotConflictError`` —
    rolling back over unseen changes is exactly the decision the
    caller must re-make, never something to resolve silently."""
    head = current_version(path)
    info = snapshot_info(path, version)
    files = sorted(info["files"])
    missing = [n for n in files if not os.path.exists(os.path.join(path, n))]
    if missing:
        raise ValueError(
            f"cannot roll back to v{version}: {len(missing)} of its files "
            "were vacuumed"
        )
    return commit_snapshot(
        path,
        files,
        "rollback",
        summary={"restored_version": version},
        parent=head,
        schema_json=info.get("schema"),
        # restore the target's rename lineage and deletion vectors too
        # (empty values BLOCK inheriting the abandoned head's — a
        # rollback past a DV delete must unmask those rows)
        renames=info.get("renames") or {},
        dvs=info.get("dvs") or [],
        dv_rows=info.get("dv_rows") or {},
        dv_files=info.get("dv_files") or {},
        dropped_names=info.get("dropped_names") or [],
        phys=info.get("phys") or {},
        # the target's own record holds the restored files' metadata
        _new_meta=(info.get("file_rows") or {}, info.get("file_stats") or {}),
    )


# ---------------------------------------------------------------------------
# Full schema evolution (round 12) — ALTER TABLE as METADATA-ONLY
# commits. The commit record's schema is authoritative for every read
# (_read_files), so dropping, renaming, or widening a column touches
# ZERO data bytes: old files keep their physical layout and the reader
# resolves them — dropped columns never surface, renamed columns
# coalesce over their name lineage, narrowed files promote to the
# recorded wider type (parquet type promotion, proven by test). Time
# travel to a pre-evolution version reads THAT version's schema.
# ---------------------------------------------------------------------------

# provable-lossless integer/float promotions (Iceberg's widen set)
_WIDEN_OK = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def _schema_commit(
    path: str, op: str, mutate, summary: dict, branch: str | None = None
) -> int:
    """Shared tail of the ALTER ops: read the head's recorded schema +
    rename lineage + dropped-name tombstones, apply ``mutate(schema,
    renames, dropped) -> (schema, renames, dropped)``, commit the SAME
    file list with the new metadata (parent-asserted — a concurrent
    commit raises, the caller re-decides). ``branch`` (round 13 — DDL
    ON BRANCHES): the ALTER lands on the branch chain; main never sees
    it until publish, which carries the evolved schema forward when
    main's own schema never moved (and raises when both evolved)."""
    from pyspark.sql.types import StructType

    head, info = _head(path, branch)
    if not head:
        raise ValueError(f"{path!r} is not a snapshot lake (no commits)")
    sj = info.get("schema")
    if not sj:
        raise ValueError(
            "the head commit carries no recorded schema (pre-round-12 log or "
            "adopt commit) — run lake_record_schema(spark, path) once first"
        )
    schema = StructType.fromJson(json.loads(sj))
    renames = {k: list(v) for k, v in (info.get("renames") or {}).items()}
    dropped = list(info.get("dropped_names") or [])
    phys = dict(info.get("phys") or {})
    schema, renames, dropped, phys = mutate(schema, renames, dropped, phys)
    return commit_snapshot(
        path,
        info["files"],
        op,
        summary={"branch": branch, **summary} if branch is not None else summary,
        parent=head,
        schema_json=schema.json(),
        renames=renames,
        dropped_names=dropped,
        phys=phys,
        branch=branch,
    )


def _reuse_blocked_names(info: dict) -> set[str]:
    """Column names that must NOT be (re)introduced at the head: every
    rename-lineage alias (old files still carry bytes under them — a
    new column with that name would absorb them through the resolve
    coalesce) and every dropped-name tombstone (old files still carry
    the dropped bytes — a new column with that name would resurface
    them wholesale). Round 13, VERDICT r12 'What's wrong #1'. Reuse
    requires a full rewrite: a truncating ``lake_write(...,
    mode="overwrite")`` clears both sets (every live file is then the
    commit's own)."""
    blocked: set[str] = set(info.get("dropped_names") or [])
    for olds in (info.get("renames") or {}).values():
        blocked.update(olds)
    # column mapping (round 14): every physical name in use is burned
    # too — a new column whose DEFAULT physical name (itself) is
    # burned gets a fresh allocation instead
    blocked.update((info.get("phys") or {}).values())
    return blocked


def _alloc_phys(name: str, burned: set[str]) -> str:
    """A fresh PHYSICAL parquet column name for a reused logical
    ``name`` (round 14 — column mapping): ``<name>__g2``, ``__g3``, …
    — the first generation suffix not in ``burned`` (every dropped
    name, lineage alias, live physical name, and incoming column).
    Deterministic, so concurrent allocators that later conflict on the
    commit still agree on what they tried."""
    k = 2
    while f"{name}__g{k}" in burned:
        k += 1
    return f"{name}__g{k}"


def lake_record_schema(spark: SparkSession, path: str) -> int:
    """Bootstrap the authoritative-schema leg on a log whose head
    predates it (adopt commits, pre-round-12 logs): commit the current
    file list unchanged with the resolved (merge-read) schema."""
    head = current_version(path)
    if head is None:
        raise ValueError(f"{path!r} is not a snapshot lake (no commits)")
    info = snapshot_info(path, head)
    if info.get("schema"):
        return head  # already recorded — no-op, no empty commit
    schema = _read_files(spark, path, sorted(info["files"]), None).schema
    return commit_snapshot(
        path, info["files"], "record_schema", parent=head, schema_json=schema.json()
    )


def lake_drop_column(path: str, col: str, branch: str | None = None) -> int:
    """ALTER TABLE DROP COLUMN as a metadata commit: the column leaves
    the recorded schema; its bytes stay in the old files (time travel
    still reads them) but no head read surfaces it. Appends after the
    drop carry the narrowed schema.

    The dropped column's PHYSICAL name — and every rename-lineage
    alias it carried — lands in the commit's ``dropped_names``
    tombstones (round 13). Round 14 (column mapping): re-adding a
    column under a tombstoned name is LEGAL and safe — the evolution
    paths allocate a fresh physical name for it, so the dead bytes
    never resurface; the tombstones now serve as the burned-name set
    behind that allocation rather than a rejection list. To truly
    erase the bytes (PII removal), follow the drop with a full
    rewrite (OPTIMIZE / truncating overwrite) then ``vacuum_lake``."""
    from pyspark.sql.types import StructType

    def mutate(schema, renames, dropped, phys):
        if col not in schema.names:
            raise ValueError(f"no column {col!r}; schema has {schema.names}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the table's only column")
        # old files carry the bytes under the column's PHYSICAL name —
        # that is what must never be reused as a default physical
        dropped = sorted(
            set(dropped) | {phys.pop(col, col)} | set(renames.pop(col, []))
        )
        return (
            StructType([f for f in schema.fields if f.name != col]),
            renames,
            dropped,
            phys,
        )

    return _schema_commit(path, "drop_column", mutate, {"column": col}, branch=branch)


def lake_rename_column(path: str, old: str, new: str, branch: str | None = None) -> int:
    """ALTER TABLE RENAME COLUMN as a metadata commit. Round 14
    (column mapping): a rename is a pure LOGICAL remap — the column's
    physical parquet name stays whatever it always was (``phys[new] =
    phys.get(old, old)``), so files written before AND after the
    rename store the same physical column and the reader resolves
    them identically; no per-generation coalesce is needed for new
    renames (pre-round-14 lineage entries still resolve through the
    legacy coalesce, transferred to the new name here). Renaming onto
    a tombstoned or lineage-burned name is safe — the target name is
    only a label; nothing is ever read under it physically."""
    from pyspark.sql.types import StructField, StructType

    def mutate(schema, renames, dropped, phys):
        if old not in schema.names:
            raise ValueError(f"no column {old!r}; schema has {schema.names}")
        if new in schema.names:
            raise ValueError(f"column {new!r} already exists")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name {new!r}")
        out = StructType(
            [
                StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in schema.fields
            ]
        )
        phys[new] = phys.pop(old, old)
        olds = renames.pop(old, [])
        if olds:
            renames[new] = olds  # legacy lineage follows the label
        return out, renames, dropped, phys

    return _schema_commit(path, "rename_column", mutate, {"from": old, "to": new}, branch=branch)


def lake_widen_column(path: str, col: str, new_type: str, branch: str | None = None) -> int:
    """ALTER TABLE ... TYPE as a metadata commit, restricted to
    provably lossless promotions (int ladder, float->double): the
    recorded type widens; existing narrow files promote at read time
    (parquet type promotion), new writes land wide. Narrowing and
    lossy casts are rejected — evolution must never change a stored
    value."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    types = {
        "smallint": ShortType(),
        "int": IntegerType(),
        "bigint": LongType(),
        "double": DoubleType(),
    }

    def mutate(schema, renames, dropped, phys):
        if col not in schema.names:
            raise ValueError(f"no column {col!r}; schema has {schema.names}")
        cur = schema[col].dataType.simpleString()
        if new_type not in _WIDEN_OK.get(cur, set()):
            raise ValueError(
                f"cannot widen {col!r} from {cur} to {new_type!r}; "
                f"allowed: {sorted(_WIDEN_OK.get(cur, set())) or 'none'}"
            )
        tgt = types[new_type]
        out = StructType(
            [
                StructField(col, tgt, f.nullable) if f.name == col else f
                for f in schema.fields
            ]
        )
        return out, renames, dropped, phys

    return _schema_commit(
        path, "widen_column", mutate, {"column": col, "to": new_type}, branch=branch
    )


def vacuum_lake(
    path: str,
    keep_last: int = 1,
    orphan_grace_s: float = 86400.0,
    retain_s: float | None = None,
) -> dict:
    """Expire all but the last ``keep_last`` snapshots and delete the
    on-disk data files no RETAINED snapshot references. The ONLY
    operation that deletes data bytes.

    Two classes of deletable file (round 12 — they are NOT the same):

    * DEAD files — referenced only by expired snapshots. They were
      committed once, so no in-flight writer can be about to commit
      them; deleted immediately.
    * ORPHANS — files NO snapshot ever listed. Usually crash debris
      (a writer died between ``_write_new_files`` and its commit), but
      indistinguishable from files a LIVE writer staged seconds ago
      and is about to commit. Deleted only when older than
      ``orphan_grace_s`` (default 24 h — Delta's retention-check
      shape), so vacuum is safe to run beside in-flight writes;
      ``orphan_grace_s=0`` restores the aggressive reclaim for
      single-writer maintenance windows."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = _versions(path)
    if not vs:
        raise ValueError(f"no snapshots under {path!r}")
    # tags are retention promises: a tagged version survives any
    # keep_last until lake_untag releases it
    tagged = set(lake_tags(path).values())
    retained = sorted(set(vs[-keep_last:]) | (tagged & set(vs)))
    # every main record is read exactly once, for both passes below
    infos = {v: snapshot_info(path, v) for v in vs}
    if retain_s is not None:
        # time-based retention (round 13, Iceberg expire_snapshots'
        # older_than shape): every version committed within the window
        # stays readable — the "time travel back N days" contract —
        # composing with keep_last and tags (union, never narrower)
        cutoff_ts = time.time() - retain_s
        retained = sorted(
            set(retained) | {v for v in vs if infos[v]["ts"] >= cutoff_ts}
        )
    # ONE pass over the records: every main version (files ever
    # referenced), and — retained alongside — the retained versions
    # and every branch version, since live branches are retention
    # promises like tags (round 12): their data files, deletion-vector
    # sidecars and sharded manifests stay until the branch is dropped
    # or published
    referenced: set[str] = set()
    ever_referenced: set[str] = set()
    dv_referenced: set[str] = set()
    man_referenced: set[str] = set()
    kept_infos = []
    for v in vs:
        info = infos[v]
        ever_referenced.update(info["files"])
        if v in retained:
            kept_infos.append(info)
    for name in _branch_names(path):
        for bv in _versions(path, name):
            info = _ref_info(path, bv, name)
            ever_referenced.update(info["files"])
            kept_infos.append(info)
    for info in kept_infos:
        referenced.update(info["files"])
        dv_referenced.update(info.get("dvs") or [])
        man_referenced.update(info.get("manifest_refs") or [])
    removed = 0
    kept_orphans = 0
    cutoff = time.time() - orphan_grace_s
    for n in _all_data_files(path):
        if n in referenced:
            continue
        if n not in ever_referenced and orphan_grace_s > 0:
            try:
                fresh = os.path.getmtime(os.path.join(path, n)) > cutoff
            except OSError:
                fresh = False  # vanished mid-scan: nothing to protect
            if fresh:
                kept_orphans += 1
                continue
        os.remove(os.path.join(path, n))
        removed += 1
    expired = [v for v in vs if v not in retained]
    for v in expired:
        _store().delete(os.path.join(_snap_dir(path), f"v{v:012d}.json"))
    # deletion-vector sidecars: keep those any retained snapshot or
    # branch references, reclaim the rest (round 12)
    dv_dir = os.path.join(_snap_dir(path), "dv")
    dv_removed = 0
    if os.path.isdir(dv_dir):
        for n in _store().list(dv_dir):
            if n not in dv_referenced:
                try:
                    _store().delete_tree(os.path.join(dv_dir, n))
                except OSError:
                    pass  # already reclaimed by a concurrent vacuum
                dv_removed += 1
    # sharded snapshot manifests (round 13): keep those any retained
    # version references; unreferenced ones (expired versions' deltas,
    # compacted-away shards, lost-commit orphans) reclaim after the
    # same grace window that protects in-flight writers' staged files
    man_dir = _manifest_dir(path)
    man_removed = 0
    if os.path.isdir(man_dir):
        for n in _store().list(man_dir):
            if n in man_referenced:
                continue
            try:
                fresh = os.path.getmtime(os.path.join(man_dir, n)) > cutoff
            except OSError:
                fresh = False
            if fresh and orphan_grace_s > 0:
                continue
            _store().delete(os.path.join(man_dir, n))
            man_removed += 1
    return {
        "removed_files": removed,
        "expired_snapshots": len(expired),
        "retained_versions": retained,
        "orphans_in_grace": kept_orphans,
        "removed_dvs": dv_removed,
        "removed_manifests": man_removed,
    }


# ---------------------------------------------------------------------------
# Pruned DML — delete and merge that touch only the files they must.
# ---------------------------------------------------------------------------


def _branch_none_match(
    fs: dict, box: dict, equals: dict, nots: dict, nullness: dict, col_types: dict | None
) -> bool:
    """True when a file's footer stats / partition values PROVE no row
    matches this conjunctive branch — the same conservative skip rule
    as ``pruned_files`` (missing stats always keep)."""
    if _partition_skippable(
        _partition_values(fs["file"]), box, equals, col_types, nots, nullness
    ):
        return True
    for c, (lo, hi) in box.items():
        try:
            lo_f, hi_f = float(lo), float(hi)
        except (TypeError, ValueError):
            continue  # string bound: no footer stats to check
        if c in fs["min"] and c in fs["max"]:
            if fs["max"][c] < lo_f or fs["min"][c] > hi_f:
                return True
        elif fs["nulls"].get(c) is not None and int(fs["nulls"][c]) == int(fs["rows"]):
            return True  # provably all-null column: a box matches nothing
    for c, kind in (nullness or {}).items():
        nc = fs["nulls"].get(c)
        if kind == "null" and nc is not None and int(nc) == 0:
            return True
        if kind == "notnull" and nc is not None and int(nc) == int(fs["rows"]) and fs["rows"] > 0:
            return True
    return False


def _surely_inside_file(st_lo: float, st_hi: float, lo: float, hi: float) -> bool:
    """Strict containment check for the ALL-ROWS-MATCH proof — above
    2^53 the footer stat's float fold rounds, so containment must hold
    with one-ulp slack before trusting it (same rule as
    ``manifest_assisted_count``)."""
    import math

    exact = 2.0**53
    lo_ok = st_lo >= lo if abs(st_lo) < exact else st_lo - math.ulp(st_lo) >= lo
    hi_ok = st_hi <= hi if abs(st_hi) < exact else st_hi + math.ulp(st_hi) <= hi
    return lo_ok and hi_ok


def _all_rows_match(
    fs: dict, box: dict, str_eq: dict, col_types: dict | None
) -> bool:
    """True when a file's footer stats / partition values PROVE every
    row matches an exact conjunctive (box, str_eq) predicate: each box
    column's [min, max] is contained in the bound with a provably ZERO
    null count (a NULL row never matches, and deleted-where-NULL rows
    must be kept), and each string equality is a matching
    directory-encoded partition value (every row shares it)."""
    pvals = _partition_values(fs["file"])
    for c, (lo, hi) in box.items():
        st_lo, st_hi = fs["min"].get(c), fs["max"].get(c)
        if st_lo is None or st_hi is None:
            pv = pvals.get(c)
            if pv is not None:
                from .layout import _partition_num

                x = _partition_num(pv, c, col_types)
                if x is not None and float(lo) <= x <= float(hi):
                    continue  # exact (v, v, nulls=0) partition stat
            return False
        if fs["nulls"].get(c) is None or int(fs["nulls"][c]) != 0:
            return False
        if not _surely_inside_file(float(st_lo), float(st_hi), float(lo), float(hi)):
            return False
    for c, v in str_eq.items():
        if pvals.get(c) != v:
            return False
    return True


def _lake_file_stats(path: str, cols: list[str], info: dict) -> list[dict]:
    """Stats of the files of record ``info`` (its ``files``) in
    ``file_stats``'s dict shape, sorted by file: the record's own
    ``file_stats`` entry (every column, folded at commit from the footer
    that also gave ``file_rows``), or — for files the record has no
    entry for (records written before the stats leg, plain parquet
    dirs) — the file's footer, folded over ``cols``."""
    rows = info.get("file_rows") or {}
    stats = info.get("file_stats") or {}
    out = [
        {"file": n, "rows": int(rows[n]), **stats[n]}
        for n in info["files"]
        if n in stats and n in rows
    ]
    missing = [n for n in info["files"] if n not in stats or n not in rows]
    if missing:
        out.extend(file_stats(path, cols, missing))
    return sorted(out, key=lambda fs: fs["file"])


def _phys_keyed(struct, phys: dict[str, str]):
    """Re-key a column-keyed extraction structure (dict, or nested
    tuple/list of dicts) from LOGICAL to PHYSICAL names (round 14 —
    column mapping). Footer and record stats are keyed by the
    PHYSICAL parquet column name; consulting them under a remapped
    logical name would read a dead column's stats (e.g. the dropped
    ``x`` a live re-added ``x`` replaced) and mis-classify files.
    Identity when ``phys`` is empty."""
    if not phys:
        return struct
    if isinstance(struct, dict):
        return {phys.get(k, k): v for k, v in struct.items()}
    if isinstance(struct, (list, tuple)):
        t = type(struct)
        return t(_phys_keyed(x, phys) for x in struct)
    return struct


def _classify_for_delete(
    path: str, predicate: str, col_types: dict | None, info: dict
) -> tuple[list[str], list[str], list[str]]:
    """(drop, keep, rewrite) — the three-way classification of the
    files of record ``info`` (a ref's head; ``{"files": [...]}`` for a
    plain parquet dir) behind ``lake_delete``/``lake_update``/
    ``lake_explain_delete``, decided from stats + partition values
    only. The stats are the record's per-file ``file_stats`` — zero
    footer opens, the difference between O(record) and O(open 100k
    footers) at scale; files without an entry fall back to their own
    footer (``_lake_file_stats``). Unparseable predicates classify
    everything as rewrite (correct, just unpruned)."""
    from ..catalog import _extract_exact_clauses, _extract_skip_branches

    branches = _extract_skip_branches(predicate, col_types)
    exact = _extract_exact_clauses(predicate, col_types)
    phys = info.get("phys")
    # column mapping (round 14): classification consults stats by the
    # PHYSICAL parquet name — a remapped logical column's stats exist
    # only in files written since its allocation, so older files (and
    # dead same-named bytes) degrade to the conservative rewrite class
    # instead of mis-proving a drop/keep from the wrong column
    if phys:
        branches = _phys_keyed(branches, phys)
        exact = _phys_keyed(exact, phys)
        col_types = _phys_keyed(col_types or {}, phys) or None
    cols: set[str] = set()
    for box, equals, nots, nullness in branches or []:
        cols |= set(box) | set(equals) | set(nots) | set(nullness)
    if exact is not None:
        cols |= set(exact[0]) | set(exact[1])
    stats = _lake_file_stats(path, sorted(cols), info) if cols else [
        {"file": n, "min": {}, "max": {}, "nulls": {}, "rows": 0}
        for n in sorted(info["files"])
    ]
    drop, keep, rewrite = [], [], []
    for fs in stats:
        if branches and all(
            _branch_none_match(fs, box, equals, nots, nullness, col_types)
            for box, equals, nots, nullness in branches
        ):
            keep.append(fs["file"])  # provably zero matching rows
            continue
        # ALL-match proofs only for purely conjunctive predicates whose
        # clauses are semantically EQUAL to the whole predicate —
        # dropping an unopened file on a superset-only box would lose
        # rows that matched the box but not the real predicate
        if exact is not None and exact[2] is None and _all_rows_match(
            fs, exact[0], exact[1], col_types
        ):
            drop.append(fs["file"])
            continue
        rewrite.append(fs["file"])
    return drop, keep, rewrite


def _dml_head(path: str, branch: str | None = None) -> tuple[int, dict]:
    """``_head`` for a DML op: the first DML on a plain parquet dir
    (main's head 0) first ADOPTS it — commits v1 = the files as-is."""
    if branch is None and not has_snapshots(path):
        commit_snapshot(path, _data_files(path), "adopt", parent=0)
    return _head(path, branch)


def lake_delete(
    spark: SparkSession,
    path: str,
    predicate: str,
    col_types: dict | None = None,
    use_dv: bool = False,
    branch: str | None = None,
) -> dict:
    """SQL DELETE over a snapshot lake, pruned to the boundary surface
    from the head record's per-file stats (no footer opened):

    * files whose stats PROVE every row matches (closed box fully
      containing [min, max], zero nulls; partition-value string
      equality) leave the snapshot WITHOUT being opened;
    * files provably containing no matching row keep their bytes;
    * only the remaining BOUNDARY files rewrite, keeping rows where
      the predicate is FALSE or NULL (SQL DELETE three-valued
      semantics: only provably-TRUE rows go).

    ``use_dv=True`` (round 12 — DELETION VECTORS): boundary files are
    NOT rewritten. The matching rows' (file, row_index) positions land
    as one parquet sidecar under ``_snapshots/dv/`` and the commit
    masks them — every reader (read_snapshot, lake_scan, CDC, DML
    sources) anti-joins the mask. DELETE cost becomes O(deleted
    positions) regardless of how wide the boundary rows' files are —
    the Delta deletion-vector / Iceberg positional-delete shape. The
    masks are materialized away by the next rewrite of those files
    (UPDATE/MERGE/OPTIMIZE read through the mask). All-match files
    still drop wholesale (cheaper than any vector).

    Old bytes stay on disk for time travel until ``vacuum_lake``.
    Returns the commit report (version, files dropped/kept/rewritten,
    rows_deleted). ``rows_deleted`` is metadata arithmetic: the live
    rows (``file_rows`` minus masked rows) of the dropped and rewritten
    files minus the footer rows of the files the rewrite wrote — the
    footers the commit reads anyway, each opened once. A registered
    scan manifest is maintained by ``catalog.lake_delete_where``, not
    here.

    ``branch`` (round 13 — DML ON BRANCHES): run the same pruned
    delete against a WAP branch's head instead of main, committing on
    the branch chain — a staged crawl drop can be cleaned in staging
    and audited BEFORE publish, instead of published-then-fixed. Main
    never sees the intermediate states; publish carries the branch's
    file changes (and DV deltas) through the usual protocol."""
    head, head_info = _dml_head(path, branch)
    live = sorted(head_info["files"])
    drop, keep, rewrite = _classify_for_delete(path, predicate, col_types, head_info)
    prev_rows = head_info.get("file_rows", {})
    prev_dv_rows = head_info.get("dv_rows", {})
    masked_before = _dv_rows_by_file(prev_dv_rows, live)
    # dropped files count their LIVE rows (physical minus already-DV'd)
    rows_dropped = sum(
        int(prev_rows[n]) - masked_before.get(n, 0) for n in drop if n in prev_rows
    )
    if use_dv:
        dv_per_file: dict[str, int] = {}
        new_sidecars: list[str] = []
        if rewrite:
            src = _read_files(
                spark, path, sorted(rewrite), head_info, _keep_position_cols=True
            )
            hits = src.filter(f"({predicate})").select(
                F.col("__file").alias("file"), F.col("__pos").alias("pos")
            )
            import uuid as _uuid

            name = f"dv-{_uuid.uuid4().hex[:12]}"
            dv_dir = os.path.join(_snap_dir(path), "dv")
            os.makedirs(dv_dir, exist_ok=True)
            hits.coalesce(1).write.parquet(os.path.join(dv_dir, name))
            per = spark.read.parquet(os.path.join(dv_dir, name)).groupBy("file").count()
            dv_per_file = {r["file"]: int(r["count"]) for r in per.collect()}
            stray = set(dv_per_file) - set(rewrite)
            if dv_per_file and not stray:
                new_sidecars.append(name)
            else:
                import shutil as _shutil

                _shutil.rmtree(os.path.join(dv_dir, name), ignore_errors=True)
            if stray:
                # a mask keyed to no file this delete read would apply
                # to nothing — the delete would silently not happen
                raise RuntimeError(
                    f"deletion-vector positions keyed {sorted(stray)[0]!r}, which is "
                    f"not a lake-relative name of a file read under {path!r}"
                )
        dv_count = sum(dv_per_file.values())
        # the mask goes in as a DELTA (sidecar names + per-file counts),
        # merged into whatever head the commit lands on — a concurrent
        # DV delete's sidecars survive the rebase instead of being
        # overwritten by this plan's stale absolute list (ADVICE r12 #1)
        masked = set(dv_per_file)
        n_kept = len(keep) + len(rewrite) - len(dv_per_file)
        version = _commit_filechange(
            path,
            head,
            removed=set(drop),
            added=set(),
            op="delete",
            summary={
                "predicate": predicate,
                "files_dropped": len(drop),
                "files_kept": n_kept,
                "files_dv": len(dv_per_file),
                "rows_deleted": rows_dropped + dv_count,
            },
            dv_add=new_sidecars,
            dv_rows_add=dv_per_file,
            masked_files=masked,
            planned_dv_rows=prev_dv_rows,
            dv_files_add={s: sorted(dv_per_file) for s in new_sidecars},
            spark=spark,
            branch=branch,
        )
        return {
            "version": version,
            "files_dropped": len(drop),
            "files_kept": n_kept,
            "files_rewritten": 0,
            "files_dv": len(dv_per_file),
            "files_written": 0,
            "rows_deleted": rows_dropped + dv_count,
        }
    new_files: list[str] = []
    new_meta: tuple[dict[str, int], dict[str, dict]] = ({}, {})
    rows_deleted = 0
    if rewrite:
        # authoritative-schema read (round 12): a rewrite set spanning
        # an evolution boundary resolves adds/drops/renames/widens the
        # same way read_snapshot does (existing DV masks included), so
        # the rewritten files land in the CURRENT schema with deletes
        # materialized
        src = _read_files(spark, path, sorted(rewrite), head_info)
        kept_rows = src.filter(f"NOT ({predicate}) OR ({predicate}) IS NULL")
        new_files = _write_new_files(kept_rows, path, _partition_cols(rewrite), info=head_info)
        # rows in (live rows of the rewritten files) minus rows out
        # (the new files' footers, handed on to the commit)
        new_meta = _footer_meta(path, new_files, spark)
        if all(n in prev_rows for n in rewrite):
            before = sum(int(prev_rows[n]) - masked_before.get(n, 0) for n in rewrite)
        else:
            before = src.count()  # a record from before per-file row counts
        rows_deleted = before - sum(new_meta[0].values())
    # rows_dropped was computed above from the parent commit's metadata
    # (never the files' bytes — they were classified unopened)
    version = _commit_filechange(
        path,
        head,
        removed=set(drop) | set(rewrite),
        added=set(new_files),
        op="delete",
        summary={
            "predicate": predicate,
            "files_dropped": len(drop),
            "files_kept": len(keep),
            "files_rewritten": len(rewrite),
            "rows_deleted": rows_deleted + rows_dropped,
        },
        spark=spark,
        branch=branch,
        added_meta=new_meta,
    )
    return {
        "version": version,
        "files_dropped": len(drop),
        "files_kept": len(keep),
        "files_rewritten": len(rewrite),
        "files_written": len(new_files),
        "rows_deleted": rows_deleted + rows_dropped,
    }


def lake_merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    when_matched: str = "update",
    branch: str | None = None,
) -> dict:
    """MERGE INTO the lake by ``key``, rewriting ONLY candidate files:

    * candidates = live files whose recorded [min, max] on ``key`` can
      contain a source key (per-key interval probe when the distinct
      source key set is small, one wide box otherwise; files without
      key stats are always candidates);
    * ``when_matched="update"`` (upsert): candidate rows drop their
      matched keys via a BROADCAST left-anti join, then all source
      rows land — matched keys replaced, new keys inserted;
    * ``when_matched="delete"``: matched rows are removed, nothing
      inserted (delete-by-key).

    Files outside the candidate set are never read — at 100 TB a merge
    of today's delta into a key-clustered lake touches the delta's key
    range, not the table. Source must carry exactly the lake's columns
    (upsert replaces whole rows; schema drift is an error, not a
    guess). The key stats come from the head record (``file_stats``),
    not the footers; a registered scan manifest is maintained by
    ``catalog.lake_merge_into``. ``branch``: merge into a WAP branch's
    head (see lake_delete)."""
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be 'update' or 'delete', got {when_matched!r}")
    head, head_info = _dml_head(path, branch)
    live = sorted(head_info["files"])
    # the CURRENT snapshot's merged schema — a whole-dir read could
    # adopt a dead pre-evolution footer's column set and false-flag
    # schema drift after an evolution commit
    lake_schema = set(_read_record(spark, path, head_info, branch).columns)
    if when_matched == "update" and set(source.columns) != lake_schema:
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != lake columns "
            f"{sorted(lake_schema)} — upsert replaces whole rows"
        )
    if key not in source.columns:
        raise ValueError(f"merge key {key!r} missing from source")
    # bounded metadata: distinct source keys (capped) for interval
    # probes, else the 1-row min/max box
    keys_df = source.select(F.col(key).alias("__k")).distinct()
    probe = [r["__k"] for r in keys_df.limit(_MERGE_KEY_PROBE_CAP + 1).collect()]
    non_null = [k for k in probe if k is not None]
    nums: list[float] | None = None
    if len(probe) <= _MERGE_KEY_PROBE_CAP and all(
        isinstance(k, (int, float)) and not isinstance(k, bool) for k in non_null
    ):
        nums = sorted(float(k) for k in non_null)
    elif non_null and all(
        isinstance(k, (int, float)) and not isinstance(k, bool)
        for k in non_null[: _MERGE_KEY_PROBE_CAP]
    ):
        # too many keys to probe individually: ONE wide box from a
        # 1-row bounds aggregate (bounded metadata)
        row = source.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).head()
        if row.lo is not None:
            nums = [float(row.lo), float(row.hi)]
    import bisect

    # column mapping (round 14): record stats key by the PHYSICAL
    # name — probe under it so a renamed key keeps its pruning (files
    # without the physical stat stay candidates)
    pkey = (head_info.get("phys") or {}).get(key, key)
    stats = {fs["file"]: fs for fs in _lake_file_stats(path, [pkey], head_info)}
    candidates, untouched = [], []
    for n in live:
        fs = stats.get(n)
        st_lo = fs["min"].get(pkey) if fs else None
        st_hi = fs["max"].get(pkey) if fs else None
        if st_lo is None or st_hi is None or nums is None:
            candidates.append(n)  # no usable stats / unprobeable keys
            continue
        if not nums:
            hit = False  # source has only NULL keys: nothing matches
        elif len(probe) <= _MERGE_KEY_PROBE_CAP:
            # per-key interval probe: some source key inside [lo, hi]?
            i = bisect.bisect_left(nums, float(st_lo))
            hit = i < len(nums) and nums[i] <= float(st_hi)
        else:
            hit = not (float(st_hi) < nums[0] or float(st_lo) > nums[-1])
        # a file whose key range contains NO source key has no matched
        # rows; with nulls in the key column it still can't match (a
        # NULL key never equals anything), so it is untouched either way
        (candidates if hit else untouched).append(n)
    new_files: list[str] = []
    if candidates:
        cand = _read_files(spark, path, sorted(candidates), head_info)
        # broadcast the distinct key set only when the probe proved it
        # small (<= _MERGE_KEY_PROBE_CAP); a corpus-scale source's key
        # set ships as a plain shuffle anti-join instead — same rows,
        # no driver/executor OOM (round 12, the guarded-broadcast rule
        # the vector layer already follows)
        anti_keys = F.broadcast(keys_df) if len(probe) <= _MERGE_KEY_PROBE_CAP else keys_df
        kept = cand.join(anti_keys, cand[key] == F.col("__k"), "left_anti")
        out = kept.unionByName(source) if when_matched == "update" else kept
        new_files = _write_new_files(out, path, _partition_cols(live), info=head_info)
    elif when_matched == "update":
        new_files = _write_new_files(source, path, _partition_cols(live), info=head_info)
    summary = {
        "key": key,
        "when_matched": when_matched,
        "files_candidates": len(candidates),
        "files_untouched": len(untouched),
    }
    version = _commit_filechange(
        path, head, removed=set(candidates), added=set(new_files),
        op="merge", summary=summary, spark=spark, branch=branch,
    )
    return {
        "version": version,
        "files_candidates": len(candidates),
        "files_untouched": len(untouched),
        "files_written": len(new_files),
    }


def read_changes(
    spark: SparkSession,
    path: str,
    v_from: int | None = None,
    v_to: int | None = None,
    branch: str | None = None,
) -> DataFrame:
    """The NET row changes between two snapshot versions — Iceberg's
    incremental-read shape, computed from the FILE-SET DIFF alone:
    only files added or removed between the versions are read; every
    file both versions share cancels wholesale without being opened.
    On a 100 TB lake the cost of "what changed since yesterday" is the
    day's churn, not the table.

    Returns the table's columns plus ``__change`` ('insert'/'delete')
    and ``__n`` (the net multiplicity, >= 1): a row of a removed file
    that reappears identically in an added file (a rewrite's survivor)
    nets to zero and is absent. DELETE rewrites therefore surface
    exactly the deleted rows; MERGE surfaces old-version rows as
    deletes and new versions as inserts; appends surface pure
    inserts.

    ``branch`` (round 13 — the WAP audit primitive): diff BRANCH
    versions instead of main's — ``v_from``/``v_to`` become
    branch-local versions, defaulting to (v1 = the fork state, head),
    so ``read_changes(spark, path, branch="wap")`` is exactly "what
    would publishing this branch change" — staged appends as inserts,
    in-branch deletes (rewrite or DV form) as deletes — computable
    without touching main and at churn cost."""
    if branch is not None:
        bvs = _versions(path, branch)
        if not bvs:
            raise ValueError(f"no branch {branch!r} under {path!r}")
        info_from = _ref_info(path, v_from if v_from is not None else bvs[0], branch)
        info_to = _ref_info(path, v_to, branch)
        return _read_changes_infos(spark, path, info_from, info_to)
    if v_from is None:
        raise ValueError("v_from is required for main-chain read_changes")
    return _read_changes_infos(
        spark, path, snapshot_info(path, v_from), snapshot_info(path, v_to)
    )


def _read_changes_infos(
    spark: SparkSession, path: str, info_from: dict, info_to: dict
) -> DataFrame:
    files_from = set(info_from["files"])
    files_to = set(info_to["files"])
    added = sorted(files_to - files_from)
    removed = sorted(files_from - files_to)
    schema_src = added or removed or sorted(files_to | files_from)
    if not schema_src:
        raise ValueError("both snapshots are empty — no schema source")

    # both sides read under the NEWER version's recorded schema when it
    # has one: a rename's lineage folds old files' columns into the new
    # names, so CDC across a rename boundary compares like-for-like; a
    # drop's column disappears from both sides (it can no longer cause
    # a phantom change). Pre-round-12 records fall back to a
    # mergeSchema read + column union below. Each side masks ITS OWN
    # version's deletion vectors — added files under v_to's, removed
    # files under v_from's (their live rows at that version).
    info_from_read = {
        **info_to,
        "files": info_from["files"],
        "dvs": info_from.get("dvs"),
        "dv_rows": info_from.get("dv_rows"),
    }

    added_df = _read_files(spark, path, added, info_to) if added else None
    removed_df = _read_files(spark, path, removed, info_from_read) if removed else None

    # DV delta on SHARED files (round 12): a deletion-vector commit
    # changes no file list, so the diff lives in the masks — positions
    # in v_to's vectors but not v_from's are deletes, positions only
    # in v_from's (a rollback) are inserts. Only files named by the
    # delta are read: CDC cost stays the churn.
    shared = files_from & files_to
    dv_delta_del = dv_delta_ins = None
    if shared:
        dv_f = _dv_df(spark, path, info_from)
        dv_t = _dv_df(spark, path, info_to)
        if dv_f is not None or dv_t is not None:
            empty = spark.createDataFrame([], "file string, pos long")
            dv_f = dv_f if dv_f is not None else empty
            dv_t = dv_t if dv_t is not None else empty
            new_pos = dv_t.join(dv_f, ["file", "pos"], "left_anti").filter(
                F.col("file").isin(sorted(shared))
            )
            back_pos = dv_f.join(dv_t, ["file", "pos"], "left_anti").filter(
                F.col("file").isin(sorted(shared))
            )

            def dv_rows_for(pos_df: DataFrame) -> DataFrame | None:
                names = [r["file"] for r in pos_df.select("file").distinct().collect()]
                if not names:
                    return None
                rows = _read_files(
                    spark,
                    path,
                    sorted(names),
                    {**info_to, "dvs": None, "dv_rows": None},
                    _keep_position_cols=True,
                )
                hit = rows.join(
                    pos_df,
                    (rows["__file"] == pos_df["file"]) & (rows["__pos"] == pos_df["pos"]),
                    "left_semi",
                )
                return hit.drop("__file", "__pos")

            dv_delta_del = dv_rows_for(new_pos)
            dv_delta_ins = dv_rows_for(back_pos)
    # union of columns across every leg, NULL-filled where absent: a
    # pre-evolution removed file diffs as NULL on the added column, so
    # rows that differ only there net correctly instead of cancelling
    legs = [
        (df, sign)
        for df, sign in (
            (added_df, 1),
            (removed_df, -1),
            (dv_delta_del, -1),
            (dv_delta_ins, 1),
        )
        if df is not None
    ]
    cols: list[str] = []
    dtypes: dict[str, str] = {}
    for df, _sign in legs:
        for c, t in df.dtypes:
            if c not in dtypes:
                cols.append(c)
                dtypes[c] = t

    def load(df: DataFrame, sign: int) -> DataFrame:
        have = set(df.columns)
        proj = [
            F.col(c) if c in have else F.lit(None).cast(dtypes[c]).alias(c)
            for c in cols
        ]
        return df.select(*proj).groupBy(*cols).agg(
            (F.count(F.lit(1)) * sign).alias("__d")
        )

    if legs:
        net = load(*legs[0])
        for df, sign in legs[1:]:
            net = net.unionByName(load(df, sign))
    else:
        # identical file sets, identical masks: nothing changed
        empty = _read_files(spark, path, [schema_src[0]], info_to).limit(0)
        return empty.select(
            *empty.columns,
            F.lit("insert").alias("__change"),
            F.lit(0).cast("long").alias("__n"),
        ).limit(0)
    return (
        net.groupBy(*cols)
        .agg(F.sum("__d").alias("__net"))
        .filter(F.col("__net") != 0)
        .select(
            *cols,
            F.when(F.col("__net") > 0, F.lit("insert"))
            .otherwise(F.lit("delete"))
            .alias("__change"),
            F.abs(F.col("__net")).cast("long").alias("__n"),
        )
    )


def snapshot_row_count(path: str, version: int | str | None = None) -> int | None:
    """COUNT(*) at a version from the commit's own ``file_rows`` map —
    zero data reads. None when the commit predates the row-count leg
    or a referenced file is missing from the map (degrade to a read,
    never guess)."""
    return _record_row_count(snapshot_info(path, version))


def _record_row_count(info: dict) -> int | None:
    """``snapshot_row_count`` of one record of any ref."""
    rows = info.get("file_rows")
    if rows is None:
        return None
    try:
        # dv_rows is keyed by lake-relative name; legacy basename keys
        # resolve to their one live file, or raise when ambiguous
        dvr = _dv_rows_by_file(info.get("dv_rows"), info["files"])
        return sum(int(rows[n]) - dvr.get(n, 0) for n in info["files"])
    except KeyError:
        return None


def lake_stats(path: str) -> dict:
    """The table's day-2 health card, from METADATA only: live
    rows/files/bytes at the current head, retained version span, and
    reclaimable debt (on-disk files + bytes no retained snapshot
    references — what ``vacuum_lake`` would delete)."""
    info = snapshot_info(path)
    live = set(info["files"])
    referenced: set[str] = set()
    for v in _versions(path):
        referenced |= set(snapshot_info(path, v)["files"])
    # branch-staged files are referenced debt, not vacuum debt
    for name in _branch_names(path):
        for bv in _versions(path, name):
            referenced |= set(_ref_info(path, bv, name)["files"])
    on_disk = set(_all_data_files(path))
    dead = on_disk - live

    def _bytes(names) -> int:
        return sum(
            os.path.getsize(os.path.join(path, n))
            for n in names
            if os.path.exists(os.path.join(path, n))
        )

    vs = _versions(path)
    return {
        "version": info["version"],
        "versions_retained": len(vs),
        "oldest_version": vs[0] if vs else None,
        "rows": snapshot_row_count(path),
        "files_live": len(live),
        "bytes_live": _bytes(live),
        "files_dead": len(dead),
        "bytes_dead": _bytes(dead),
        "files_unreferenced": len(on_disk - referenced),
    }


def lake_update(
    spark: SparkSession,
    path: str,
    assignments: dict[str, str],
    predicate: str,
    col_types: dict | None = None,
    branch: str | None = None,
) -> dict:
    """SQL ``UPDATE ... SET col = expr WHERE predicate`` over a
    snapshot lake, pruned to the files that can contain a matching
    row: provably-untouched files (the delete classifier's none-match
    proof) keep their bytes; all-match and boundary files rewrite with
    the assignment applied under a CASE — rows where the predicate is
    FALSE or NULL keep their original values (SQL UPDATE semantics).
    Updated columns cast back to their original type so the lake
    schema can never drift through an expression's type widening.
    Updating a partition column moves rows between directories
    naturally (the rewrite writes through partitionBy).

    The classification reads the head record's per-file stats, as
    ``lake_delete``'s does; a registered scan manifest is maintained by
    ``catalog.lake_update_where``.

    ``branch`` (round 13): apply the update on a WAP branch's head —
    same pruning, committed on the branch chain (see lake_delete)."""
    head, head_info = _dml_head(path, branch)
    allmatch, keep, boundary = _classify_for_delete(path, predicate, col_types, head_info)
    to_rewrite = sorted(set(allmatch) | set(boundary))
    new_files: list[str] = []
    if to_rewrite:
        src = _read_files(spark, path, to_rewrite, head_info)
        dtypes = dict(src.dtypes)
        unknown = [c for c in assignments if c not in dtypes]
        if unknown:
            raise ValueError(f"SET targets not in lake schema: {unknown}")
        cond = F.expr(predicate)
        out = src.withColumns(
            {
                c: F.when(cond, F.expr(e)).otherwise(F.col(c)).cast(dtypes[c])
                for c, e in assignments.items()
            }
        )
        new_files = _write_new_files(out, path, _partition_cols(to_rewrite), info=head_info)
    summary = {
        "predicate": predicate,
        "set": dict(assignments),
        "files_untouched": len(keep),
        "files_rewritten": len(to_rewrite),
    }
    version = _commit_filechange(
        path, head, removed=set(to_rewrite), added=set(new_files),
        op="update", summary=summary, spark=spark, branch=branch,
    )
    return {
        "version": version,
        "files_untouched": len(keep),
        "files_rewritten": len(to_rewrite),
        "files_written": len(new_files),
    }


def lake_tag(path: str, name: str, version: int | None = None) -> int:
    """Pin a NAME to a version (Iceberg tag): ``read_snapshot`` and
    ``lake_scan(version=...)`` accept the name, and ``vacuum_lake``
    RETAINS tagged versions' files regardless of ``keep_last`` — a tag
    is a promise the snapshot stays readable until ``lake_untag``."""
    if not re.fullmatch(r"[A-Za-z][A-Za-z0-9_.-]*", name):
        raise ValueError(f"invalid tag name {name!r}")
    v = version if version is not None else current_version(path)
    if v is None:
        raise ValueError(f"no snapshots under {path!r}")
    snapshot_info(path, v)  # must exist
    fn = os.path.join(_snap_dir(path), f"tag-{name}.json")
    # tags may be repointed: replace, not put_exclusive
    _store().replace(fn, json.dumps({"name": name, "version": v, "ts": time.time()}).encode())
    return v


def lake_tags(path: str) -> dict[str, int]:
    d = _snap_dir(path)
    out: dict[str, int] = {}
    for n in _store().list(d):
        m = re.fullmatch(r"tag-(.+)\.json", n)
        if m:
            out[m.group(1)] = int(json.loads(_store().read(os.path.join(d, n)))["version"])
    return out


def lake_untag(path: str, name: str) -> None:
    fn = os.path.join(_snap_dir(path), f"tag-{name}.json")
    if not _store().exists(fn):
        raise ValueError(f"no tag {name!r} under {path!r}")
    _store().delete(fn)


# ---------------------------------------------------------------------------
# Branch refs — WRITE-AUDIT-PUBLISH (round 12). A branch is a named
# side chain of snapshot records under ``_snapshots/branches/<name>/``,
# forked from a main version: staged data lands on the branch as
# ordinary invisible-then-committed files, audit queries read the
# branch head without main ever seeing a staged row, and PUBLISH
# fast-forwards main to the branch head in ONE parent-asserted commit
# — the Iceberg/Nessie WAP pattern, which is exactly how a training-
# data lake takes a new crawl drop: stage on a branch, run the quality
# gates, publish atomically or drop the branch. A branch is one more
# ref (module docstring): its commits take the same commit paths and
# record builder as main's, so ``_read_files`` reads branch heads with
# the same authority rules. ``vacuum_lake`` treats every
# branch-referenced file as retained.
# ---------------------------------------------------------------------------


def _branch_dir(path: str, name: str) -> str:
    if not re.fullmatch(r"[A-Za-z][A-Za-z0-9_.-]*", name):
        raise ValueError(f"invalid branch name {name!r}")
    return os.path.join(_snap_dir(path), "branches", name)


def _branch_names(path: str) -> list[str]:
    return sorted(_store().list(os.path.join(_snap_dir(path), "branches")))


def lake_branches(path: str) -> dict[str, dict]:
    """name -> {head (branch-local version), fork_version, n_files}."""
    out: dict[str, dict] = {}
    for name in _branch_names(path):
        vs = _versions(path, name)
        if not vs:
            continue
        info = _ref_info(path, vs[-1], name)
        out[name] = {
            "head": vs[-1],
            "fork_version": info.get("fork_version"),
            "n_files": len(info["files"]),
        }
    return out


def lake_branch_create(path: str, name: str, from_version: int | str | None = None) -> int:
    """Fork a branch at a main version (head when None): one metadata
    record copying the fork's file list / schema / lineage. Staged
    work lands on the branch; main never sees it until publish."""
    if _versions(path, name):
        raise ValueError(f"branch {name!r} already exists")
    info = snapshot_info(path, from_version)
    record = {
        "version": 1,
        "parent": None,
        "op": "branch_fork",
        "ts": time.time(),
        "summary": {"branch": name},
        "fork_version": info["version"],
    }
    # a sharded main fork copies manifest REFS verbatim (zero manifest
    # writes, zero file-list bytes); a plain main embeds the list
    record.update(
        _files_repr(
            path, info, info["files"], info.get("file_rows", {}), info.get("file_stats", {})
        )
    )
    for k in ("schema", "renames", "dvs", "dv_rows", "dv_files", "dropped_names", "phys"):
        if info.get(k):
            record[k] = info[k]
    _put_record(path, record, name)
    return info["version"]


def lake_branch_append(spark: SparkSession, path: str, name: str, df: DataFrame) -> int:
    """Append ``df`` to the branch: files land invisible in the SAME
    lake directory (readers of main or other branches never reference
    them), then one branch commit flips them live on this branch only.
    Schema must match the branch head's (staging is not the place for
    silent drift)."""
    head_info = _ref_info(path, branch=name)
    # read one committed branch file set's schema authority
    cur_cols = None
    if head_info.get("schema"):
        from pyspark.sql.types import StructType

        cur_cols = set(StructType.fromJson(json.loads(head_info["schema"])).names)
    elif head_info["files"]:
        cur_cols = set(
            _read_files(spark, path, sorted(head_info["files"]), head_info).columns
        )
    if cur_cols is not None and set(df.columns) != cur_cols:
        raise ValueError(
            f"branch {name!r} schema drift: write has {sorted(set(df.columns) - cur_cols) or '-'} "
            f"extra / {sorted(cur_cols - set(df.columns)) or '-'} missing"
        )
    new = _write_new_files(df, path, _partition_cols(head_info["files"]), info=head_info)
    return _commit_append(
        path, new, "branch_append",
        summary={"branch": name, "files_added": len(new)}, spark=spark, branch=name,
    )


def read_branch(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> DataFrame:
    """The branch head — staged rows included, main's post-fork
    commits NOT (the audit read of write-audit-publish). ``version``
    (round 13): a branch-local version for time travel WITHIN the
    staging history (v1 = the fork state)."""
    return _read_record(spark, path, _ref_info(path, version, name), name)


def lake_publish_branch(
    path: str,
    name: str,
    drop: bool = True,
    allow_rebase: bool = True,
    expect_zero: list[str] | None = None,
    spark: SparkSession | None = None,
    summary: dict | None = None,
) -> int:
    """PUBLISH: fast-forward main to the branch head in one commit.

    When main has not moved since the fork this is the exact audited
    state, atomically. When main DID move, the branch's net change
    (adds for an append-only branch) REBASES through the file-change
    protocol — sound (main's own deletes stay deleted, nothing is
    resurrected) but the published table is (main's changes + staged),
    a state the audit never saw. ``allow_rebase=False`` demands the
    Iceberg fast-forward contract instead: raise whenever main moved,
    so what publishes is bit-for-bit what was audited. A branch whose
    own removed files were rewritten on main always raises. ``drop``
    removes the branch after publishing.

    ``expect_zero`` (round 13 — first-class AUDIT gates, the Delta
    expectations shape): SQL predicates that must match ZERO branch
    rows for the publish to proceed; any hit aborts with the violating
    counts, branch intact — the quality gate between 'staged' and
    'live' becomes part of the publish call instead of caller
    discipline. Requires ``spark``.

    HEAD-PINNED (round 14 — VERDICT r13 #1): the branch head version
    is resolved exactly ONCE; the audit gate runs against THAT
    version's rows, the publish diff is computed from THAT record, and
    the final ``drop`` is conditional on the branch head still being
    that version — a concurrent branch commit landing anywhere inside
    the call can neither publish un-audited rows past the gate nor be
    silently rmtree'd (the publish lands, the branch survives with the
    late commit, and ``SnapshotConflictError`` reports both). This is
    the branch-chain equivalent of the ``parent=`` assertion every
    main-chain commit carries.

    ``summary``: extra keys merged into the publish commit's summary
    (the streaming cadence records its ``batch_id`` here so the replay
    guard survives the branch being dropped and re-forked)."""
    # pin the branch head FIRST: everything below — gate, diff, DV
    # delta, schema carry, drop — derives from this one record
    head_bv, info = _head(path, name)
    if expect_zero:
        if spark is None:
            raise ValueError("expect_zero requires spark=")
        br = read_branch(spark, path, name, version=head_bv)
        bad = {
            pred: n
            for pred in expect_zero
            if (n := br.filter(pred).count()) > 0
        }
        if bad:
            raise ValueError(
                f"audit gate failed for branch {name!r}: "
                + "; ".join(f"{n} row(s) match {p!r}" for p, n in sorted(bad.items()))
                + " — branch left intact, nothing published"
            )
    fork = info.get("fork_version")
    if not allow_rebase:
        head = current_version(path)
        if head != fork:
            raise SnapshotConflictError(
                f"main moved v{fork} -> v{head} since the fork of {name!r}; "
                "the audited state is stale — re-fork and re-audit "
                "(or publish with allow_rebase=True)"
            )
    # the fork state comes from the branch's OWN v1 'branch_fork'
    # record, which copied the fork's file list and dv map — the main
    # chain's record for that version may have been vacuum-expired
    # (round 13, ADVICE r12 #2), and a routine vacuum must never make
    # a live, auditable branch unpublishable
    fork_info = _ref_info(path, 1, name)
    fork_files = set(fork_info.get("files") or [])
    branch_files = set(info["files"])
    removed = fork_files - branch_files
    added = branch_files - fork_files
    # branch DV delta (round 13): masks the branch added (branch DML
    # with use_dv) publish as a DELTA over the fork's map, merged into
    # whatever main head the commit lands on — concurrent main-side
    # masks survive, overlapping masks raise (same protocol as
    # lake_delete's DV commit)
    fork_dvs = set(fork_info.get("dvs") or [])
    fork_dvr = fork_info.get("dv_rows") or {}
    br_dvr = info.get("dv_rows") or {}
    dv_add = [s for s in (info.get("dvs") or []) if s not in fork_dvs]
    dv_rows_add = {
        b: int(n) - int(fork_dvr.get(b, 0))
        for b, n in br_dvr.items()
        if int(n) - int(fork_dvr.get(b, 0)) > 0
    }
    masked = set(_dv_key_files(dv_rows_add, branch_files).values())
    has_dv_delta = bool(dv_add or dv_rows_add)
    # schema (round 13 — DDL on branches): when the BRANCH evolved its
    # schema in staging (vs its fork state), publish carries the
    # evolved schema + lineage + tombstones to main, guarded by
    # require_schema= — if main's own schema moved since the fork too,
    # that is a REAL schema-evolution conflict and the publish raises
    # (merging two evolutions is the operator's call, never a silent
    # rebase). When the branch never evolved, schema inherits from the
    # MAIN head as before: if main evolved since the fork, the
    # published files read under main's newer schema (absent columns
    # NULL) instead of silently reverting.
    fork_schema = fork_info.get("schema")
    evolved = info.get("schema") is not None and info.get("schema") != fork_schema
    br_dv_files = info.get("dv_files") or {}
    version = _commit_filechange(
        path,
        fork,
        removed=removed,
        added=added,
        op="publish",
        summary={"branch": name, "files_added": len(added), **(summary or {})},
        dv_add=dv_add if has_dv_delta else None,
        dv_rows_add=dv_rows_add if has_dv_delta else None,
        masked_files=masked if has_dv_delta else None,
        planned_dv_rows=fork_dvr,
        dv_files_add={s: br_dv_files[s] for s in dv_add if s in br_dv_files}
        if has_dv_delta
        else None,
        schema_json=info.get("schema") if evolved else None,
        renames=(info.get("renames") or {}) if evolved else None,
        dropped_names=(info.get("dropped_names") or []) if evolved else None,
        phys=(info.get("phys") or {}) if evolved else None,
        require_schema=fork_schema if evolved else None,
        # the branch head's record already holds the staged files'
        # rows and stats: publish opens no footer
        added_meta=(info.get("file_rows") or {}, info.get("file_stats") or {}),
    )
    if drop:
        # conditional drop (round 14): destroy the branch only if its
        # head is still the version this publish audited and shipped —
        # a branch commit that landed mid-publish survives, loudly
        lake_branch_drop(path, name, expect_version=head_bv, published=version)
    return version


def lake_branch_compact(
    spark: SparkSession,
    path: str,
    name: str,
    min_rows: int = 100_000,
    n_files: int | None = None,
) -> dict:
    """Small-file compaction ON A BRANCH (round 13): coalesce the
    branch head's files below ``min_rows`` rows into ``n_files``
    (default: the count that brings them all to ~min_rows) — the
    maintenance a streaming-WAP branch needs, since every micro-batch
    lands as its own file and publish would otherwise ship the
    fragmentation straight to main.

    Selection is METADATA-ONLY (the branch record's own file_rows);
    the rewrite reads through ``_read_files`` with the branch record,
    so deletion-vector masks MATERIALIZE and schema lineage resolves —
    exactly like main-chain DML rewrites. Commits through the file-change
    protocol on the branch (a concurrent branch commit that touched a
    selected file raises). Fork-shared files are compacted like any
    other: the rewrite drops them from the branch's live set, and
    publish removes them from main through the usual removed/added
    diff."""
    bv, head_info = _head(path, name)
    rows = head_info.get("file_rows", {})
    small = sorted(
        n for n in head_info["files"] if int(rows.get(n, min_rows)) < min_rows
    )
    if len(small) < 2:
        return {"files_compacted": 0, "files_written": 0, "version": bv}
    total = sum(int(rows.get(n, 0)) for n in small)
    k = n_files if n_files is not None else max(1, total // max(min_rows, 1))
    src = _read_files(spark, path, small, head_info)
    new = _write_new_files(src.coalesce(k), path, _partition_cols(small), info=head_info)
    version = _commit_filechange(
        path,
        bv,
        removed=set(small),
        added=set(new),
        op="branch_compact",
        summary={"files_compacted": len(small), "files_written": len(new)},
        spark=spark,
        branch=name,
    )
    return {
        "files_compacted": len(small),
        "files_written": len(new),
        "version": version,
    }


def lake_branch_drop(
    path: str,
    name: str,
    expect_version: int | None = None,
    published: int | None = None,
) -> None:
    """Abandon a branch: its records go away; its never-published
    files become orphans vacuum reclaims after the grace window.

    ``expect_version`` (round 14 — the branch-chain ``parent=``):
    refuse to drop when the branch head moved past the version the
    caller audited/published — a commit that landed mid-publish is
    COMMITTED data, and rmtree'ing it would silently destroy it (and
    orphan its files, and blind the streaming replay guard keyed to
    the branch history). The branch survives; the error names the
    published main version (``published``) so the caller knows the
    publish itself landed."""
    d = _branch_dir(path, name)
    if not _store().list(d):
        raise ValueError(f"no branch {name!r} under {path!r}")
    if expect_version is not None:
        vs = _versions(path, name)
        if vs and vs[-1] > expect_version:
            raise SnapshotConflictError(
                f"branch {name!r} received commit(s) after the audited head "
                f"v{expect_version} (branch head is now v{vs[-1]})"
                + (
                    f" — the publish itself landed as main v{published}"
                    if published is not None
                    else ""
                )
                + "; branch kept — re-audit and re-publish (or drop explicitly)"
            )
    _store().delete_tree(d)


def resolve_version(path: str, version: int | str | None) -> int | None:
    """int passes through; a str resolves as a tag name; None stays
    None (current head)."""
    if version is None or isinstance(version, int):
        return version
    tags = lake_tags(path)
    if version not in tags:
        raise ValueError(f"unknown tag {version!r}; tags: {sorted(tags)}")
    return tags[version]
