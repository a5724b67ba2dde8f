"""Round 14 — publish head-pinning + the symmetric rewrite-vs-DV
rebase guard + mask-metadata pruning.

VERDICT r13 #1 reproduced two races in ``lake_publish_branch`` under a
concurrent branch writer: (a) a commit landing between the
``expect_zero`` audit gate and the publish diff published un-audited
rows past the gate, and (b) a commit landing after the diff was
silently destroyed by the unconditional ``drop``. The fix pins the
branch head ONCE — gate, diff, and drop all derive from that version —
and the drop raises when the head moved (the branch-chain ``parent=``).

ADVICE r13 #1/#2: a REWRITE rebasing over a concurrent DV commit that
masked one of its removed files would resurrect the concurrently
deleted rows (the plan read the file unmasked). Both chains now check
the landed-on head's dv_rows for every removed file against the
planned head's.

ADVICE r13 #4: rewrites that remove masked files now PRUNE the
dv_rows/dvs/dv_files metadata for dead basenames, so vacuum reclaims
materialized-away sidecars instead of retaining them forever.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import mlb_data_pipeline_spark.operators.snapshots as S
from mlb_data_pipeline_spark.operators.snapshots import (
    SnapshotConflictError,
    current_version,
    lake_branch_append,
    lake_branch_create,
    lake_branch_drop,
    lake_branches,
    lake_delete,
    lake_publish_branch,
    lake_update,
    lake_write,
    read_branch,
    read_snapshot,
    snapshot_info,
    vacuum_lake,
)
from tests.test_snapshot_concurrency import CHAINS, _chain_read


def _kv(spark, lo, hi, tag="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit(tag).alias("src")
    )


def _race_branch_append(monkeypatch, spark, lake, branch, df):
    """Arm a one-shot hook: the NEXT publish's own commit is preceded
    by a concurrent branch append — the deterministic interleave of
    the judge's probes (a commit landing between the audit/diff reads
    and the publish commit + drop)."""
    real = S._commit_filechange
    fired = {"done": False}

    def racing(*a, **k):
        if not fired["done"]:
            fired["done"] = True
            lake_branch_append(spark, lake, branch, df)
        return real(*a, **k)

    monkeypatch.setattr(S, "_commit_filechange", racing)
    return fired


def test_publish_gate_cannot_be_bypassed_by_late_commit(spark, tmp_path, monkeypatch):
    """Judge probe (a): a branch commit violating the gate's own
    predicate lands mid-publish — the published main state must be
    exactly the audited (pinned) rows, never the late row."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").coalesce(1), lake)  # v1
    lake_branch_create(lake, "wap")
    lake_branch_append(spark, lake, "wap", _kv(spark, 100, 150, "staged").coalesce(1))
    violating = spark.range(900, 901).select(
        F.col("id").alias("k"),
        F.lit(None).cast("long").alias("v"),  # violates the gate below
        F.lit("late").alias("src"),
    )
    _race_branch_append(monkeypatch, spark, lake, "wap", violating.coalesce(1))
    with pytest.raises(SnapshotConflictError, match="commit\\(s\\) after the audited head"):
        lake_publish_branch(lake, "wap", expect_zero=["v IS NULL"], spark=spark)
    monkeypatch.undo()
    # the publish itself landed — with ONLY the audited rows
    cur = read_snapshot(spark, lake)
    assert snapshot_info(lake)["op"] == "publish"
    assert cur.count() == 150
    assert cur.filter("v IS NULL").count() == 0
    assert cur.filter("src = 'late'").count() == 0
    # probe (b): the late COMMITTED branch data survives, loudly
    assert "wap" in lake_branches(lake)
    br = read_branch(spark, lake, "wap")
    assert br.filter("src = 'late'").count() == 1


def test_publish_drop_false_succeeds_under_late_commit(spark, tmp_path, monkeypatch):
    """With drop=False there is nothing to destroy: the pinned publish
    lands and returns; the late commit stays on the branch."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 50, "base").coalesce(1), lake)
    lake_branch_create(lake, "wap")
    lake_branch_append(spark, lake, "wap", _kv(spark, 50, 80, "staged").coalesce(1))
    _race_branch_append(
        monkeypatch, spark, lake, "wap", _kv(spark, 900, 905, "late").coalesce(1)
    )
    v = lake_publish_branch(lake, "wap", drop=False)
    monkeypatch.undo()
    assert v == 2 and current_version(lake) == 2
    assert read_snapshot(spark, lake).filter("src = 'late'").count() == 0
    assert read_branch(spark, lake, "wap").filter("src = 'late'").count() == 5


def test_branch_drop_expect_version_is_cas(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 10, "base").coalesce(1), lake)
    lake_branch_create(lake, "b")  # branch v1
    lake_branch_append(spark, lake, "b", _kv(spark, 10, 12, "s").coalesce(1))  # v2
    with pytest.raises(SnapshotConflictError, match="branch kept"):
        lake_branch_drop(lake, "b", expect_version=1)
    assert "b" in lake_branches(lake)
    lake_branch_drop(lake, "b", expect_version=2)  # head unmoved: drops
    assert lake_branches(lake) == {}


def test_rewrite_rebase_over_concurrent_dv_delete_conflicts(spark, tmp_path):
    """ADVICE r13 #1 (main chain): plan a rewrite against v1, let a
    concurrent DV delete mask one of its files (v2) — the rebase must
    RAISE, because replaying the rewrite (planned from an unmasked
    read) would resurrect the concurrently deleted rows. The branch
    chain (a branch forked at main v1) runs the identical race."""
    for branch in CHAINS:
        lake = str(tmp_path / f"lake-{branch}")
        lake_write(spark, _kv(spark, 0, 100, "base").repartitionByRange(2, "k"), lake)
        if branch is not None:
            lake_branch_create(lake, branch)
        files_v1 = set(S._ref_info(lake, 1, branch)["files"])
        # concurrent writer: DV-delete a row (v2 masks one file)
        lake_delete(
            spark, lake, "k = 5", col_types={"k": "bigint"}, use_dv=True, branch=branch
        )
        assert S._ref_info(lake, branch=branch).get("dv_rows")
        with pytest.raises(SnapshotConflictError, match="resurrect"):
            S._commit_filechange(
                lake, 1, removed=files_v1, added=set(), op="update", spark=spark,
                branch=branch,
            )
        # same plan against the CURRENT head (which saw the mask): fine
        S._commit_filechange(
            lake, 2, removed=files_v1, added=set(), op="delete", spark=spark,
            branch=branch,
        )
        assert _chain_read(spark, lake, branch).count() == 0


def test_rewrite_rebase_with_unchanged_masks_still_replays(spark, tmp_path):
    """The guard fires only on a CHANGED mask: a rewrite planned when
    the mask already existed rebases over a disjoint concurrent append
    exactly as before. Both chains."""
    for branch in CHAINS:
        lake = str(tmp_path / f"lake-{branch}")
        lake_write(spark, _kv(spark, 0, 100, "base").repartitionByRange(2, "k"), lake)
        if branch is not None:
            lake_branch_create(lake, branch)
        lake_delete(
            spark, lake, "k = 5", col_types={"k": "bigint"}, use_dv=True, branch=branch
        )  # v2
        files_v2 = set(S._ref_info(lake, 2, branch)["files"])
        other = _kv(spark, 500, 510, "other").coalesce(1)
        if branch is None:
            lake_write(spark, other, lake)  # v3 append
        else:
            lake_branch_append(spark, lake, branch, other)
        v = S._commit_filechange(
            lake, 2, removed=files_v2, added=set(), op="delete", spark=spark,
            branch=branch,
        )
        assert v == 4
        cur = _chain_read(spark, lake, branch)
        assert cur.count() == 10 and cur.filter("src = 'other'").count() == 10


def test_branch_rewrite_rebase_over_concurrent_branch_dv_conflicts(spark, tmp_path):
    """ADVICE r13 #2 (branch chain): the identical race in staging —
    a branch rewrite rebasing over a concurrent branch DV commit that
    masked one of its removed files must raise, or the corruption
    would publish to main."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 10, "base").coalesce(1), lake)
    lake_branch_create(lake, "wap")  # bv1
    lake_branch_append(
        spark, lake, "wap", _kv(spark, 100, 200, "staged").coalesce(1)
    )  # bv2
    binfo = S._ref_info(lake, branch="wap")
    staged = set(binfo["files"]) - set(S._ref_info(lake, 1, "wap")["files"])
    # concurrent branch writer: DV delete masking the staged file (bv3)
    lake_delete(
        spark, lake, "k = 150", col_types={"k": "bigint"}, use_dv=True, branch="wap"
    )
    with pytest.raises(SnapshotConflictError, match="resurrect"):
        S._commit_filechange(
            lake, 2, removed=staged, added=set(), op="update", spark=spark, branch="wap"
        )
    # branch state intact: mask still applies
    assert read_branch(spark, lake, "wap").count() == 109


def test_rewrite_prunes_mask_metadata_and_vacuum_reclaims(spark, tmp_path):
    """ADVICE r13 #4: a rewrite that materializes masks stops carrying
    their dv_rows/dvs/dv_files entries, and vacuum then reclaims the
    sidecars once the masked versions expire."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").repartitionByRange(2, "k"), lake)
    lake_delete(spark, lake, "k % 7 = 3", col_types={"k": "bigint"}, use_dv=True)
    info_dv = snapshot_info(lake)
    assert info_dv.get("dvs") and info_dv.get("dv_rows") and info_dv.get("dv_files")
    # rewrite EVERY file (predicate matches all files' ranges)
    lake_update(spark, lake, {"v": "v + 1000"}, "k >= 0", col_types={"k": "bigint"})
    head = snapshot_info(lake)
    assert not head.get("dvs") and not head.get("dv_rows") and not head.get("dv_files")
    cur = read_snapshot(spark, lake)
    assert cur.count() == 100 - 14  # masks materialized exactly once
    assert cur.filter("k % 7 = 3").count() == 0
    # vacuum with only the head retained reclaims the dead sidecar
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0.0)
    assert rep["removed_dvs"] == 1
    dv_dir = os.path.join(S._snap_dir(lake), "dv")
    assert not os.path.isdir(dv_dir) or os.listdir(dv_dir) == []
    assert read_snapshot(spark, lake).count() == 86


def test_partial_prune_keeps_live_sidecars(spark, tmp_path):
    """Two sidecars masking two different files; rewriting only one
    file prunes ITS entries and keeps the other sidecar live — reads,
    counts, and vacuum retention all stay exact."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100, "base").repartitionByRange(2, "k"), lake)
    # file A holds low ks, file B high ks (range partitioned)
    lake_delete(spark, lake, "k = 3", col_types={"k": "bigint"}, use_dv=True)
    lake_delete(spark, lake, "k = 97", col_types={"k": "bigint"}, use_dv=True)
    info = snapshot_info(lake)
    assert len(info["dvs"]) == 2 and len(info["dv_rows"]) == 2
    # rewrite only the low-k file
    lake_update(spark, lake, {"v": "v + 1"}, "k <= 40", col_types={"k": "bigint"})
    head = snapshot_info(lake)
    assert len(head["dvs"]) == 1 and len(head["dv_rows"]) == 1
    assert len(head["dv_files"]) == 1
    cur = read_snapshot(spark, lake)
    assert cur.count() == 98
    assert cur.filter("k IN (3, 97)").count() == 0
    # the kept mask still applies through the kept sidecar
    vacuum_lake(lake, keep_last=1, orphan_grace_s=0.0)
    assert read_snapshot(spark, lake).count() == 98


def test_branch_compact_publish_carries_no_phantom_masks(spark, tmp_path):
    """A branch compaction materializes in-branch masks; the publish
    must not merge the dead basenames' deltas into main's dv_rows or
    append the materialized sidecars to main's dvs."""
    from mlb_data_pipeline_spark.operators.snapshots import lake_branch_compact

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000, "base").coalesce(1), lake)
    lake_branch_create(lake, "feed")
    for lo in (1000, 1100, 1200):
        lake_branch_append(spark, lake, "feed", _kv(spark, lo, lo + 100, "s").coalesce(1))
    lake_delete(
        spark, lake, "k BETWEEN 1000 AND 1009",
        col_types={"k": "bigint"}, use_dv=True, branch="feed",
    )
    lake_branch_compact(spark, lake, "feed", min_rows=500, n_files=1)
    binfo = S._ref_info(lake, branch="feed")
    assert not binfo.get("dv_rows") and not binfo.get("dvs")  # pruned in staging
    lake_publish_branch(lake, "feed")
    head = snapshot_info(lake)
    assert not head.get("dv_rows") and not head.get("dvs") and not head.get("dv_files")
    cur = read_snapshot(spark, lake)
    assert cur.count() == 1290
    assert cur.filter("k BETWEEN 1000 AND 1009").count() == 0
