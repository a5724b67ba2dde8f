"""Round 13 — X47: sharded snapshot manifests (the Iceberg
manifest-file shape).

Below the threshold a commit embeds its file list in the json — the
representation every earlier round used, unchanged. Above it the json
stays O(1): the file list lives in immutable parquet manifests that
are REUSED across commits (an append writes one delta manifest; a
delete writes none at all — just a removed list), so on a
million-file table the metadata WRITE cost of a commit is the
commit's own churn, not the table. Readers resolve through
snapshot_info, so every consumer (reads, time travel, DML, CDC,
counts, vacuum) is representation-blind — proven here by running them
all against a sharded log."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.operators import snapshots as S
from mlb_data_pipeline_spark.operators.snapshots import (
    lake_delete,
    lake_rollback,
    lake_write,
    read_changes,
    read_snapshot,
    snapshot_files,
    snapshot_info,
    snapshot_row_count,
    vacuum_lake,
)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _raw(lake, v):
    with open(os.path.join(lake, "_snapshots", f"v{v:012d}.json")) as fh:
        return json.load(fh)


@pytest.fixture()
def sharded(monkeypatch):
    monkeypatch.setattr(S, "_MANIFEST_SHARD_THRESHOLD", 8)


def test_sharded_commit_is_o_delta(spark, tmp_path, sharded):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1200).repartitionByRange(12, "k"), lake)  # v1
    r1 = _raw(lake, 1)
    assert "files" not in r1 and "file_rows" not in r1
    assert len(r1["manifest_refs"]) == 1 and r1["removed_files"] == []
    assert r1["n_files"] == 12
    man_dir = os.path.join(lake, "_snapshots", "manifests")
    assert len(os.listdir(man_dir)) == 1
    base_ref = r1["manifest_refs"][0]
    base_mtime = os.path.getmtime(os.path.join(man_dir, base_ref))

    # APPEND: one DELTA manifest with exactly the new file; the base
    # manifest is reused byte-for-byte (O(delta) metadata write)
    lake_write(spark, _kv(spark, 5000, 5010).coalesce(1), lake)  # v2
    r2 = _raw(lake, 2)
    assert r2["manifest_refs"][0] == base_ref
    assert len(r2["manifest_refs"]) == 2
    assert os.path.getmtime(os.path.join(man_dir, base_ref)) == base_mtime
    import pyarrow.parquet as pq

    delta = pq.read_table(os.path.join(man_dir, r2["manifest_refs"][1]))
    assert delta.num_rows == 1  # exactly the appended file

    # DELETE of a whole file: NO new manifest, just a removed entry
    n_manifests = len(os.listdir(man_dir))
    lake_delete(spark, lake, "k BETWEEN 5000 AND 5009", col_types={"k": "bigint"})  # v3
    r3 = _raw(lake, 3)
    assert len(os.listdir(man_dir)) == n_manifests  # nothing written
    assert len(r3["removed_files"]) == 1

    # readers are representation-blind
    assert read_snapshot(spark, lake).count() == 1200
    assert read_snapshot(spark, lake, 2).count() == 1210
    assert snapshot_row_count(lake) == 1200
    assert snapshot_row_count(lake, 2) == 1210
    assert len(snapshot_files(lake, 1)) == 12
    ch = read_changes(spark, lake, 2, 3)
    assert ch.count() == 10 and ch.filter("__change = 'delete'").count() == 10


def test_sharded_compaction_and_vacuum(spark, tmp_path, sharded):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1200).repartitionByRange(16, "k"), lake)  # v1
    # delete ~7 of 16 files -> the removed list rivals the (still
    # above-threshold) live set -> the commit compacts to ONE fresh
    # manifest, removed reset
    lake_delete(spark, lake, "k BETWEEN 0 AND 499", col_types={"k": "bigint"})  # v2
    r2 = _raw(lake, 2)
    assert r2["n_files"] > 8  # still sharded territory
    assert len(r2["manifest_refs"]) == 1 and r2["removed_files"] == []
    assert read_snapshot(spark, lake).count() == 700
    # vacuum: expired versions' manifests reclaim; retained ones stay
    man_dir = os.path.join(lake, "_snapshots", "manifests")
    before = set(os.listdir(man_dir))
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0)
    assert rep["removed_manifests"] >= 1
    kept = set(os.listdir(man_dir))
    assert kept == set(r2["manifest_refs"]) and kept < before
    assert read_snapshot(spark, lake).count() == 700  # still readable


def test_layout_reads_resolve_sharded_records(spark, tmp_path, sharded):
    """The layout family's live-file listing resolves a SHARDED head
    (``manifest_refs``, no ``files`` key) through the snapshot reader:
    lake_count, lake_scan and optimize_clustered see exactly the rows
    read_snapshot sees."""
    from mlb_data_pipeline_spark.catalog import (
        lake_count,
        lake_scan,
        register_lake_table,
    )
    from mlb_data_pipeline_spark.operators.layout import optimize_clustered

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1200).repartitionByRange(12, "k"), lake)  # v1
    # a file spanning the whole key range, so OPTIMIZE has dirty work
    lake_write(spark, _kv(spark, 0, 2600).filter("k % 10 = 5").coalesce(1), lake)  # v2
    assert "manifest_refs" in _raw(lake, 2) and "files" not in _raw(lake, 2)
    register_lake_table(spark, "t_sharded_layout", lake)
    pred = "k BETWEEN 100 AND 299 OR k >= 2500"
    want = sorted(read_snapshot(spark, lake).collect())
    want_hit = sorted(read_snapshot(spark, lake).filter(pred).collect())
    assert lake_count(spark, "t_sharded_layout") == len(want)
    assert lake_count(spark, "t_sharded_layout", pred) == len(want_hit)
    assert sorted(lake_scan(spark, "t_sharded_layout", pred).collect()) == want_hit
    rep = optimize_clustered(spark, lake, [("k", 0, 2600)], bits=8)
    assert rep["files_rewritten"] > 0
    assert sorted(read_snapshot(spark, lake).collect()) == want
    assert lake_count(spark, "t_sharded_layout", pred) == len(want_hit)
    assert sorted(lake_scan(spark, "t_sharded_layout", pred).collect()) == want_hit


def test_sharded_rollback_and_mixed_representations(spark, tmp_path, sharded):
    lake = str(tmp_path / "lake")
    # v1 PLAIN (below threshold), v2 sharded (append crosses it)
    lake_write(spark, _kv(spark, 0, 600).repartitionByRange(6, "k"), lake)  # v1: 6 files
    assert "files" in _raw(lake, 1)
    lake_write(spark, _kv(spark, 600, 1000).repartitionByRange(4, "k"), lake)  # v2: 10
    assert "manifest_refs" in _raw(lake, 2)
    # rollback to the plain version commits sharded-or-plain by size
    lake_rollback(lake, 1)  # v3: 6 files -> plain again
    assert "files" in _raw(lake, 3)
    assert read_snapshot(spark, lake).count() == 600
    # and a rollback forward to the sharded state still resolves
    lake_rollback(lake, 2)  # v4
    assert read_snapshot(spark, lake).count() == 1000
    assert snapshot_row_count(lake) == 1000


def test_branch_records_shard_too(spark, tmp_path, sharded):
    """Forking / staging on a SHARDED lake copies manifest REFS, not a
    file list — the branch chain uses the same representation, its
    DML/CDC/publish work through the resolution, and vacuum retains
    branch-referenced manifests."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_branch_append,
        lake_branch_create,
        lake_publish_branch,
        read_branch,
        read_changes,
    )

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1200).repartitionByRange(12, "k"), lake)  # v1 sharded
    lake_branch_create(lake, "wap")
    bdir = os.path.join(lake, "_snapshots", "branches", "wap")
    b1 = json.load(open(os.path.join(bdir, "v000000000001.json")))
    assert "files" not in b1  # the fork copied REFS, not 1200-file json
    assert b1["manifest_refs"] == _raw(lake, 1)["manifest_refs"]
    lake_branch_append(spark, lake, "wap", _kv(spark, 5000, 5100).repartition(2))
    b2 = json.load(open(os.path.join(bdir, "v000000000002.json")))
    assert "files" not in b2 and len(b2["manifest_refs"]) == 2  # one delta
    # in-branch DML on the sharded chain
    lake_delete(spark, lake, "k BETWEEN 0 AND 99", col_types={"k": "bigint"}, branch="wap")
    assert read_branch(spark, lake, "wap").count() == 1200
    ch = read_changes(spark, lake, branch="wap")
    assert ch.filter("__change = 'insert'").count() == 100
    assert ch.filter("__change = 'delete'").count() == 100
    # vacuum retains branch-referenced manifests
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0)
    assert read_branch(spark, lake, "wap").count() == 1200
    lake_publish_branch(lake, "wap")
    assert read_snapshot(spark, lake).count() == 1200
    assert snapshot_row_count(lake) == 1200


def test_sharded_with_evolution_and_dvs(spark, tmp_path, sharded):
    """Kitchen sink: the sharded representation composes with schema
    evolution (rename/widen/drop + lineage) and deletion vectors —
    orthogonal record keys, one resolution, one reader."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_drop_column,
        lake_rename_column,
        lake_widen_column,
    )

    lake = str(tmp_path / "lake")
    df = spark.range(0, 1200).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("note"),
    )
    lake_write(spark, df.repartitionByRange(12, "k"), lake)  # v1 sharded
    lake_rename_column(lake, "v", "val")  # v2 metadata-only
    lake_widen_column(lake, "k", "bigint")  # v3
    lake_drop_column(lake, "note")  # v4
    assert "manifest_refs" in _raw(lake, 4) and "files" not in _raw(lake, 4)
    lake_delete(spark, lake, "k % 7 = 3", col_types={"k": "bigint"}, use_dv=True)  # v5
    cur = read_snapshot(spark, lake)
    assert cur.columns == ["k", "val"]
    assert dict(cur.dtypes)["k"] == "bigint"
    masked = sum(1 for k in range(1200) if k % 7 == 3)
    assert cur.count() == 1200 - masked
    assert snapshot_row_count(lake) == 1200 - masked  # metadata agrees
    # time travel: pre-evolution schema AND no mask
    v1 = read_snapshot(spark, lake, 1)
    assert v1.columns == ["k", "v", "note"] and v1.count() == 1200
    # round 14 (column mapping): name reuse on the sharded chain is
    # legal and isolated — the re-added 'note' stores under a fresh
    # physical name; the dropped strings stay buried
    ok = spark.createDataFrame([(5000, 2, "x")], "k bigint, val long, note string")
    lake_write(spark, ok, lake, allow_schema_evolution=True)
    assert snapshot_info(lake)["phys"] == {"note": "note__g2", "val": "v"}
    cur2 = read_snapshot(spark, lake)
    assert cur2.filter("note IS NOT NULL").count() == 1
