"""Round 12 — branch refs: WRITE-AUDIT-PUBLISH.

A branch is a named side chain of snapshot records forked from a main
version. Staged files land invisible-to-main in the same lake dir;
audit queries read the branch head; publish fast-forwards main in one
parent-asserted commit (rebasing over concurrent main appends,
raising when main rewrote rows the audit saw). The Iceberg/Nessie WAP
pattern — how a training-data lake takes a new crawl drop."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.operators.snapshots import (
    SnapshotConflictError,
    current_version,
    lake_branch_append,
    lake_branch_create,
    lake_branch_drop,
    lake_branches,
    lake_delete,
    lake_publish_branch,
    lake_write,
    read_branch,
    read_snapshot,
    snapshot_info,
    vacuum_lake,
)


def _kv(spark, lo, hi, tag="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit(tag).alias("src")
    )


def test_wap_stage_audit_publish(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").coalesce(2), lake)  # v1
    lake_branch_create(lake, "drop42")
    lake_branch_append(spark, lake, "drop42", _kv(spark, 100, 150, "staged").coalesce(1))
    lake_branch_append(spark, lake, "drop42", _kv(spark, 150, 180, "staged").coalesce(1))
    # AUDIT: branch sees base + staged; MAIN sees base only
    assert read_branch(spark, lake, "drop42").count() == 180
    assert read_snapshot(spark, lake).count() == 100
    assert lake_branches(lake)["drop42"]["head"] == 3
    # quality gate passes → PUBLISH (atomic fast-forward)
    v = lake_publish_branch(lake, "drop42")
    assert v == 2 and current_version(lake) == 2
    cur = read_snapshot(spark, lake)
    assert cur.count() == 180
    assert cur.filter("src = 'staged'").count() == 80
    assert lake_branches(lake) == {}  # dropped on publish
    assert snapshot_info(lake)["op"] == "publish"


def test_publish_rebases_over_concurrent_append(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").coalesce(1), lake)  # v1
    lake_branch_create(lake, "b")
    lake_branch_append(spark, lake, "b", _kv(spark, 500, 520, "staged").coalesce(1))
    # main moves underneath the audit (another writer appends)
    lake_write(spark, _kv(spark, 200, 230, "other").coalesce(1), lake)  # v2
    v = lake_publish_branch(lake, "b")
    assert v == 3
    cur = read_snapshot(spark, lake)
    # serial order: both the concurrent append and the staged rows land
    assert cur.count() == 150
    assert cur.filter("src = 'other'").count() == 30
    assert cur.filter("src = 'staged'").count() == 20


def test_publish_strict_fastforward_vs_rebase(spark, tmp_path):
    """allow_rebase=False demands the Iceberg fast-forward contract:
    any main movement since the fork raises — what publishes must be
    bit-for-bit what was audited. The default rebase stays sound
    (main's deletes are NOT resurrected by the publish)."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").repartitionByRange(2, "k"), lake)
    lake_branch_create(lake, "b")
    lake_branch_append(spark, lake, "b", _kv(spark, 500, 510, "staged").coalesce(1))
    lake_delete(spark, lake, "k < 50", col_types={"k": "bigint"})  # rewrites base files
    with pytest.raises(SnapshotConflictError, match="re-fork"):
        lake_publish_branch(lake, "b", allow_rebase=False)
    # the branch is still there for a re-fork decision
    assert "b" in lake_branches(lake)
    # the default rebase publishes staged rows WITHOUT resurrecting
    # the rows main deleted underneath the audit
    lake_publish_branch(lake, "b")
    cur = read_snapshot(spark, lake)
    assert cur.filter("k < 50 and src = 'base'").count() == 0
    assert cur.filter("src = 'staged'").count() == 10
    assert cur.count() == 60


def test_vacuum_retains_branch_files(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 50, "base").coalesce(1), lake)  # v1
    lake_branch_create(lake, "b")
    lake_branch_append(spark, lake, "b", _kv(spark, 100, 140, "staged").coalesce(1))
    lake_write(spark, _kv(spark, 50, 60, "main").coalesce(1), lake)  # v2
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0)
    assert rep["removed_files"] == 0  # branch files are referenced
    assert read_branch(spark, lake, "b").count() == 90
    # dropping the branch turns its staged files into orphans
    lake_branch_drop(lake, "b")
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0)
    assert rep["removed_files"] >= 1
    assert read_snapshot(spark, lake).count() == 60


def test_branch_schema_drift_rejected(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 20, "base").coalesce(1), lake)
    lake_branch_create(lake, "b")
    bad = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="schema drift"):
        lake_branch_append(spark, lake, "b", bad)
    with pytest.raises(ValueError, match="already exists"):
        lake_branch_create(lake, "b")
    with pytest.raises(ValueError, match="no branch"):
        read_branch(spark, lake, "nope")


def test_publish_after_vacuum_expired_fork_record(spark, tmp_path):
    """ADVICE r12 #2: vacuum retains branch FILES but may expire the
    fork version's main-chain record. Publish must still work — the
    fork state comes from the branch's own v1 'branch_fork' record,
    so a routine vacuum can never strand a live, audited branch."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 50, "base").coalesce(1), lake)  # v1
    lake_branch_create(lake, "b")
    lake_branch_append(spark, lake, "b", _kv(spark, 100, 140, "staged").coalesce(1))
    lake_write(spark, _kv(spark, 50, 60, "main").coalesce(1), lake)  # v2
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0)
    assert 1 not in rep["retained_versions"]  # the fork record is GONE
    v = lake_publish_branch(lake, "b")  # must not raise
    cur = read_snapshot(spark, lake)
    assert cur.count() == 100  # base 50 + main 10 + staged 40
    assert cur.filter("src = 'staged'").count() == 40
    assert cur.filter("src = 'main'").count() == 10
    assert v == 3


# ---------------------------------------------------------------------------
# Round 13 — DML ON BRANCHES (VERDICT r12 ask #4): a staged crawl drop
# is cleaned IN STAGING (delete/update/merge against the branch head)
# and only the audited result publishes. Main never sees intermediate
# states; branch DV deltas ride publish through the merge protocol.
# ---------------------------------------------------------------------------

from mlb_data_pipeline_spark.operators.snapshots import (  # noqa: E402
    lake_merge,
    lake_update,
    snapshot_row_count,
)

_CT = {"k": "bigint", "v": "bigint"}


def test_branch_delete_isolated_then_published(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").repartitionByRange(2, "k"), lake)  # v1
    lake_branch_create(lake, "wap")
    lake_branch_append(spark, lake, "wap", _kv(spark, 100, 200, "staged").coalesce(1))
    # clean the staged drop IN STAGING: kill the bad band
    rep = lake_delete(spark, lake, "k BETWEEN 120 AND 139", col_types=_CT, branch="wap")
    assert rep["version"] == 3
    # audit: branch is clean; main NEVER saw the staged rows at all
    assert read_branch(spark, lake, "wap").count() == 180
    assert read_snapshot(spark, lake).count() == 100
    assert current_version(lake) == 1
    lake_publish_branch(lake, "wap")
    cur = read_snapshot(spark, lake)
    assert cur.count() == 180
    assert cur.filter("k BETWEEN 120 AND 139").count() == 0


def test_branch_update_and_merge(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").repartitionByRange(2, "k"), lake)
    lake_branch_create(lake, "wap")
    lake_branch_append(spark, lake, "wap", _kv(spark, 100, 150, "staged").coalesce(1))
    # UPDATE on the branch: re-tag a staged band
    lake_update(
        spark, lake, {"src": "'fixed'"}, "k BETWEEN 110 AND 119",
        col_types=_CT, branch="wap",
    )
    # MERGE on the branch: upsert 5 rows (2 matched, 3 new keys)
    src = spark.createDataFrame(
        [(148, 0, "merged"), (149, 0, "merged"), (300, 0, "merged"),
         (301, 0, "merged"), (302, 0, "merged")],
        "k bigint, v bigint, src string",
    )
    lake_merge(spark, lake, src, "k", branch="wap")
    br = read_branch(spark, lake, "wap")
    assert br.count() == 153  # 150 + 3 inserts
    assert br.filter("src = 'fixed'").count() == 10
    assert br.filter("src = 'merged'").count() == 5
    assert br.filter("k = 148 AND v = 0").count() == 1
    # main untouched throughout
    assert read_snapshot(spark, lake).count() == 100
    assert read_snapshot(spark, lake).filter("src != 'base'").count() == 0
    lake_publish_branch(lake, "wap")
    cur = read_snapshot(spark, lake)
    assert cur.count() == 153
    assert cur.filter("src = 'merged'").count() == 5


def test_branch_dv_delete_publishes_mask_delta(spark, tmp_path):
    """An in-branch DV delete (zero rewrite) must ride publish as a
    mask DELTA: main's head after publish masks the rows, and a main-
    side concurrent DV delete on a DIFFERENT file survives the merge."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 400, "base").repartitionByRange(4, "k"), lake)  # v1
    lake_branch_create(lake, "wap")
    rep = lake_delete(
        spark, lake, "k BETWEEN 5 AND 9", col_types=_CT, use_dv=True, branch="wap"
    )
    assert rep["files_dv"] == 1 and rep["files_rewritten"] == 0
    assert read_branch(spark, lake, "wap").count() == 395
    assert read_snapshot(spark, lake).count() == 400  # main unmasked
    # concurrent MAIN-side DV delete on a different file (k in 300s)
    lake_delete(spark, lake, "k BETWEEN 350 AND 354", col_types=_CT, use_dv=True)  # v2
    lake_publish_branch(lake, "wap")  # rebases; masks must MERGE
    cur = read_snapshot(spark, lake)
    assert cur.count() == 390
    assert cur.filter("k BETWEEN 5 AND 9").count() == 0
    assert cur.filter("k BETWEEN 350 AND 354").count() == 0
    assert snapshot_row_count(lake) == 390  # metadata agrees
    info = snapshot_info(lake)
    assert len(info.get("dvs") or []) == 2  # both sidecars live


def test_branch_dml_conflict_on_concurrent_branch_write(spark, tmp_path):
    """Two writers on the SAME branch: a delete planned against a
    stale branch head whose file a concurrent branch commit rewrote
    must raise, not silently drop the concurrent change."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        _commit_filechange,
        _ref_info,
    )

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 200, "base").repartitionByRange(2, "k"), lake)
    lake_branch_create(lake, "wap")
    planned = _ref_info(lake, branch="wap")
    victim = planned["files"][0]
    # concurrent branch delete rewrites/drops that same file
    lake_delete(spark, lake, "k BETWEEN 0 AND 99", col_types=_CT, branch="wap")
    with pytest.raises(SnapshotConflictError, match="touched"):
        _commit_filechange(
            lake, planned["version"], removed={victim}, added=set(),
            op="delete", branch="wap",
        )


def test_branch_scan_prunes_and_explains(spark, tmp_path):
    """Round 13 (VERDICT r12 ask #6): lake_scan(branch=) prunes like
    a head read — from the branch record's per-file stats, so fork-shared
    AND branch-staged files skip — and lake_explain(branch=)'s kept set equals
    the actual read set."""
    from mlb_data_pipeline_spark.catalog import (
        lake_explain,
        lake_scan,
        register_lake_table,
    )
    from mlb_data_pipeline_spark.operators.snapshots import snapshot_files

    lake = str(tmp_path / "lake")
    lake_write(
        spark, _kv(spark, 0, 1000, "base").repartitionByRange(4, "k"), lake
    )  # v1
    register_lake_table(spark, "t_branch_scan", lake)
    lake_branch_create(lake, "wap")
    lake_branch_append(
        spark, lake, "wap", _kv(spark, 2000, 2100, "staged").coalesce(1)
    )
    pred = "k BETWEEN 0 AND 120"
    got = lake_scan(spark, "t_branch_scan", pred, branch="wap")
    assert got.count() == 121  # staged rows (k>=2000) don't match
    read = {os.path.basename(f) for f in got.inputFiles()}
    main_files = {os.path.basename(n) for n in snapshot_files(lake, 1)}
    # pruning fired: at most one fork file read...
    assert len(read & main_files) == 1
    # ...and the staged file (k 2000..2099) skipped from its record stats
    assert len(read - main_files) == 0
    # explain == planner, branch-side
    rep = lake_explain(spark, "t_branch_scan", pred, branch="wap")
    assert rep["files_total"] == 5
    assert rep["files_kept"] == len(read)
    # a staged row matching the predicate IS returned (superset rule)
    got2 = lake_scan(spark, "t_branch_scan", "k >= 2050", branch="wap")
    assert got2.count() == 50
    assert got2.filter("src = 'staged'").count() == 50
    # no-predicate branch scan == read_branch
    assert lake_scan(spark, "t_branch_scan", branch="wap").count() == 1100


def test_branch_read_changes_and_time_travel(spark, tmp_path):
    """Round 13: read_changes(branch=) is the WAP audit primitive —
    'what would publishing change' as a net row diff against the fork
    state, computed without touching main; read_branch(version=) time
    travels within the staging history."""
    from mlb_data_pipeline_spark.operators.snapshots import read_changes

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").repartitionByRange(2, "k"), lake)
    lake_branch_create(lake, "wap")
    lake_branch_append(spark, lake, "wap", _kv(spark, 100, 160, "staged").coalesce(1))
    lake_delete(
        spark, lake, "k BETWEEN 40 AND 119",
        col_types={"k": "bigint", "v": "bigint"}, branch="wap",
    )
    ch = read_changes(spark, lake, branch="wap")
    ins = ch.filter("__change = 'insert'")
    dels = ch.filter("__change = 'delete'")
    # inserts: staged rows surviving the in-branch delete (120..159)
    assert ins.count() == 40
    assert ins.agg(F.min("k"), F.max("k")).head() == (120, 159)
    # deletes: fork rows the branch killed (40..99)
    assert dels.count() == 60
    assert dels.agg(F.min("k"), F.max("k")).head() == (40, 99)
    # branch time travel: v1 is the fork state, v2 the raw staged drop
    assert read_branch(spark, lake, "wap", version=1).count() == 100
    assert read_branch(spark, lake, "wap", version=2).count() == 160
    # main untouched by any of it
    assert read_snapshot(spark, lake).count() == 100


def test_streaming_ingest_into_branch(spark, tmp_path):
    """Round 13 — STREAMING WAP: micro-batches commit on the branch
    (exactly-once visible there, replay-guarded by branch history),
    main never sees a staged row until publish."""
    from mlb_data_pipeline_spark.operators.snapshots import lake_branches
    from mlb_data_pipeline_spark.streaming.jobs import lake_snapshot_stream

    KV = "k long, v long, src string"
    lake = str(tmp_path / "lake")
    src = str(tmp_path / "src")
    lake_write(spark, _kv(spark, 0, 100, "base").coalesce(1), lake)  # v1
    lake_branch_create(lake, "feed")
    for lo in (100, 200):
        _kv(spark, lo, lo + 100, "staged").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(KV).option("maxFilesPerTrigger", "1").parquet(src)
    )
    lake_snapshot_stream(stream, lake, str(tmp_path / "ckpt"), branch="feed")
    # both batches live on the branch, none on main
    assert read_branch(spark, lake, "feed").count() == 300
    assert read_snapshot(spark, lake).count() == 100
    assert lake_branches(lake)["feed"]["head"] == 3  # fork + 2 batches
    # raw redelivery (fresh checkpoint): the branch-history replay
    # guard skips both batches wholesale
    stream2 = (
        spark.readStream.schema(KV).option("maxFilesPerTrigger", "1").parquet(src)
    )
    lake_snapshot_stream(stream2, lake, str(tmp_path / "ckpt2"), branch="feed")
    assert read_branch(spark, lake, "feed").count() == 300
    assert lake_branches(lake)["feed"]["head"] == 3
    # maintenance is main-scoped: rejected on a branch
    with pytest.raises(ValueError, match="main-scoped"):
        lake_snapshot_stream(
            stream2, lake, str(tmp_path / "ckpt3"), branch="feed",
            vacuum_keep_last=2,
        )
    # audit then publish: the staged feed lands atomically
    lake_publish_branch(lake, "feed")
    assert read_snapshot(spark, lake).count() == 300


def test_branch_compact_small_files(spark, tmp_path):
    """Round 13: small-file compaction ON the branch — streaming
    batches coalesce in staging (metadata-selected, masks
    materialized), so publish ships compact files, not fragmentation."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        _ref_info,
        lake_branch_compact,
    )

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 10000, "base").coalesce(1), lake)  # 1 big file
    lake_branch_create(lake, "feed")
    for lo in range(10000, 10500, 100):  # 5 tiny staged "batches"
        lake_branch_append(spark, lake, "feed", _kv(spark, lo, lo + 100, "staged").coalesce(1))
    # an in-branch DV delete whose mask must MATERIALIZE on compaction
    lake_delete(
        spark, lake, "k BETWEEN 10000 AND 10049",
        col_types={"k": "bigint", "v": "bigint"}, use_dv=True, branch="feed",
    )
    n_before = len(_ref_info(lake, branch="feed")["files"])
    rep = lake_branch_compact(spark, lake, "feed", min_rows=1000, n_files=1)
    assert rep["files_compacted"] == 5 and rep["files_written"] == 1
    info = _ref_info(lake, branch="feed")
    assert len(info["files"]) == n_before - 4  # 5 -> 1
    br = read_branch(spark, lake, "feed")
    assert br.count() == 10450  # masks materialized, not double-applied
    assert br.filter("k BETWEEN 10000 AND 10049").count() == 0
    # the big base file was not selected (metadata-only selection)
    assert any("compact" not in n for n in info["files"])
    # main untouched; publish ships the compact state
    assert read_snapshot(spark, lake).count() == 10000
    lake_publish_branch(lake, "feed")
    assert read_snapshot(spark, lake).count() == 10450
    # idempotent: nothing small left on a fresh branch
    lake_branch_create(lake, "b2")
    rep2 = lake_branch_compact(spark, lake, "b2", min_rows=1000)
    assert rep2["files_compacted"] == 0


def test_branch_alter_keeps_dv_files_so_compaction_drops_the_sidecar(spark, tmp_path):
    """A branch ALTER commits through the one record builder, so it
    keeps the head's ``dv_files``; a branch compaction that later
    rewrites every file a sidecar masks then DROPS that sidecar instead
    of pinning it in vacuum forever. The sidecar masking a file the
    compaction keeps stays, with its entry."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        _ref_info,
        lake_branch_compact,
        lake_rename_column,
    )

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000, "base").coalesce(1), lake)  # one big file
    lake_branch_create(lake, "wap")
    for lo in (1000, 1100, 1200):
        lake_branch_append(spark, lake, "wap", _kv(spark, lo, lo + 100, "s").coalesce(1))
    lake_delete(
        spark, lake, "k BETWEEN 1000 AND 1009", col_types=_CT, use_dv=True, branch="wap"
    )
    staged_side = _ref_info(lake, branch="wap")["dvs"][-1]
    lake_delete(spark, lake, "k BETWEEN 10 AND 12", col_types=_CT, use_dv=True, branch="wap")
    base_side = _ref_info(lake, branch="wap")["dvs"][-1]
    lake_rename_column(lake, "v", "w", branch="wap")
    renamed = _ref_info(lake, branch="wap")
    assert renamed["dv_files"] == {
        staged_side: renamed["dv_files"][staged_side],
        base_side: renamed["dv_files"][base_side],
    }
    rep = lake_branch_compact(spark, lake, "wap", min_rows=500, n_files=1)
    assert rep["files_compacted"] == 3
    head = _ref_info(lake, branch="wap")
    assert head["dvs"] == [base_side]
    assert set(head["dv_files"]) == {base_side}
    br = read_branch(spark, lake, "wap")
    assert "w" in br.columns and "v" not in br.columns
    assert br.count() == 1300 - 10 - 3
    assert br.filter("k BETWEEN 1000 AND 1009 OR k BETWEEN 10 AND 12").count() == 0


def test_publish_audit_gates(spark, tmp_path):
    """Round 13: expect_zero predicates gate the publish — a violation
    aborts with counts and the branch stays intact; cleaning the
    violation in staging (branch DML) then publishing succeeds."""
    from mlb_data_pipeline_spark.operators.snapshots import lake_delete

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").coalesce(1), lake)
    lake_branch_create(lake, "wap")
    staged = spark.range(100, 150).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 5, F.lit(-1)).otherwise(F.col("id") * 2)
        .cast("long").alias("v"),
        F.lit("staged").alias("src"),
    )
    lake_branch_append(spark, lake, "wap", staged)
    with pytest.raises(ValueError, match="audit gate failed.*5 row"):
        lake_publish_branch(
            lake, "wap", expect_zero=["v < 0", "k IS NULL"], spark=spark
        )
    # nothing published, branch intact
    assert read_snapshot(spark, lake).count() == 100
    assert read_branch(spark, lake, "wap").count() == 150
    # clean in staging, then the gate passes
    lake_delete(spark, lake, "v < 0", col_types={"v": "bigint"}, branch="wap")
    lake_publish_branch(lake, "wap", expect_zero=["v < 0", "k IS NULL"], spark=spark)
    cur = read_snapshot(spark, lake)
    assert cur.count() == 145 and cur.filter("v < 0").count() == 0


def test_lake_count_on_branch(spark, tmp_path):
    """Round 13: lake_count(branch=) — bare counts from the branch
    record's metadata (mask-subtracting), predicated counts through
    the metadata fast path over the branch record's stats."""
    from mlb_data_pipeline_spark.catalog import lake_count, register_lake_table

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000, "base").repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_branch_count", lake)
    lake_branch_create(lake, "wap")
    lake_branch_append(spark, lake, "wap", _kv(spark, 2000, 2100, "staged").coalesce(1))
    lake_delete(
        spark, lake, "k BETWEEN 10 AND 19",
        col_types={"k": "bigint"}, use_dv=True, branch="wap",
    )
    # bare: metadata sum, mask-subtracted; main unaffected
    assert lake_count(spark, "t_branch_count", branch="wap") == 1090
    assert lake_count(spark, "t_branch_count") == 1000
    # predicated: fork files classify from the record's stats, the
    # staged file is boundary, masks apply
    assert lake_count(spark, "t_branch_count", "k BETWEEN 0 AND 2049", branch="wap") == 1040
    assert lake_count(spark, "t_branch_count", "k BETWEEN 500 AND 800", branch="wap") == 301


def test_branch_schema_evolution_and_publish_carry(spark, tmp_path):
    """Round 13 — DDL ON BRANCHES: rename/widen/drop land on the
    branch chain (main blind), audit reads resolve old files through
    the branch's lineage, and publish carries the evolved schema to
    main when main's own schema never moved — while BOTH-evolved
    publishes raise instead of silently picking a winner."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_drop_column,
        lake_rename_column,
        lake_widen_column,
    )

    def kvn(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("n"), F.col("id")).alias("note"),
        )

    lake = str(tmp_path / "lake")
    lake_write(spark, kvn(0, 100).coalesce(2), lake)  # v1
    lake_branch_create(lake, "ddl")
    lake_rename_column(lake, "v", "val", branch="ddl")
    lake_widen_column(lake, "k", "bigint", branch="ddl")
    lake_drop_column(lake, "note", branch="ddl")
    # audit: branch resolves old files under the evolved schema
    br = read_branch(spark, lake, "ddl")
    assert br.columns == ["k", "val"] and dict(br.dtypes)["k"] == "bigint"
    assert br.count() == 100
    # main is blind to all of it
    main = read_snapshot(spark, lake)
    assert main.columns == ["k", "v", "note"]
    # round 14 (column mapping): renaming ONTO the tombstoned 'note'
    # is a pure relabel — the dropped note strings never surface
    # through it (the values are the v-generation ints)
    lake_rename_column(lake, "val", "note", branch="ddl")
    br2 = read_branch(spark, lake, "ddl")
    assert br2.columns == ["k", "note"]
    assert dict(br2.dtypes)["note"] == "bigint"
    assert br2.agg(F.sum("note")).head()[0] == sum(2 * i for i in range(100))
    lake_rename_column(lake, "note", "val", branch="ddl")  # relabel back
    # main took a concurrent APPEND (no schema change): publish carries
    # the branch's evolution over the rebase
    lake_write(spark, kvn(100, 120).coalesce(1), lake)  # v2 main append
    lake_publish_branch(lake, "ddl")
    cur = read_snapshot(spark, lake)
    assert cur.columns == ["k", "val"]
    assert cur.count() == 120  # main's append rode along, renamed col resolves
    assert cur.filter("val IS NULL").count() == 0
    assert snapshot_info(lake).get("dropped_names") == ["note"]

    # BOTH evolved -> publish raises, nothing published
    lake2 = str(tmp_path / "lake2")
    lake_write(spark, kvn(0, 50).coalesce(1), lake2)
    lake_branch_create(lake2, "ddl2")
    lake_rename_column(lake2, "v", "val", branch="ddl2")
    lake_drop_column(lake2, "note")  # MAIN-side evolution
    with pytest.raises(SnapshotConflictError, match="schema"):
        lake_publish_branch(lake2, "ddl2")
    assert read_snapshot(spark, lake2).columns == ["k", "v"]


def test_explain_delete_matches_classifier(spark, tmp_path):
    """Round 14 — lake_explain_delete: the audit call must report
    EXACTLY the keep/drop/rewrite decision the delete then makes, on
    main and on a branch (staged files included), without reading or
    committing anything."""
    from mlb_data_pipeline_spark.catalog import (
        lake_delete_where,
        lake_explain_delete,
        register_lake_table,
    )
    from mlb_data_pipeline_spark.operators.snapshots import current_version

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000, "base").repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_explain_del", lake)
    pred = "k BETWEEN 0 AND 280"  # file 0 all-match, file 1 boundary
    plan = lake_explain_delete(spark, "t_explain_del", pred)
    assert plan["files_total"] == 4
    assert plan["files_drop"] >= 1 and plan["files_rewrite"] >= 1
    v_before = current_version(lake)
    rep = lake_delete_where(spark, "t_explain_del", pred)
    assert current_version(lake) == v_before + 1  # explain committed nothing
    assert rep["files_dropped"] == plan["files_drop"]
    assert rep["files_kept"] == plan["files_keep"]
    assert rep["files_rewritten"] == plan["files_rewrite"]
    # branch leg: the staged file is classified too
    lake_branch_create(lake, "wap")
    lake_branch_append(spark, lake, "wap", _kv(spark, 5000, 5100, "staged").coalesce(1))
    bplan = lake_explain_delete(spark, "t_explain_del", "k >= 5000", branch="wap")
    assert bplan["files_total"] == len(plan["keep"]) + len(plan["rewrite"]) + 1
    brep = lake_delete_where(spark, "t_explain_del", "k >= 5000", branch="wap")
    assert brep["files_dropped"] == bplan["files_drop"] == 1
    assert brep["files_kept"] == bplan["files_keep"]
    assert brep["files_rewritten"] == bplan["files_rewrite"]
    # main untouched by the branch cleanup
    assert read_snapshot(spark, lake).filter("k >= 5000").count() == 0
