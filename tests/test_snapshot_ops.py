"""Lake transaction layer (operators/snapshots.py): snapshot commits,
time travel, vacuum, and pruned DML (delete/merge).

The plan-shape proofs follow the layout-suite convention: CORRUPT a
file the classification must never open, then run the op — a wrong
read set crashes instead of silently passing."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.catalog import (
    lake_count,
    lake_scan,
    register_lake_table,
)
from mlb_data_pipeline_spark.operators.layout import optimize_clustered
from mlb_data_pipeline_spark.operators.snapshots import (
    SnapshotConflictError,
    commit_snapshot,
    current_version,
    has_snapshots,
    lake_delete,
    lake_history,
    lake_merge,
    lake_rollback,
    lake_write,
    read_snapshot,
    snapshot_files,
    vacuum_lake,
    version_as_of,
)

KV = "k long, v long"


def _kv(spark, lo, hi, v=None):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.lit(v) if v is not None else F.col("id") * 2).cast("long").alias("v"),
    )


def _corrupt(path, name):
    with open(os.path.join(path, name), "wb") as fh:
        fh.write(b"not parquet at all")


def _corrupt_data_pages(path, name):
    """Destroy the file's DATA PAGES but keep its footer intact: the
    magic header and leading pages are garbled in place. Footer-only
    classification (file_stats) still works; any engine read of the
    rows crashes — exactly the boundary the metadata-only claims sit
    on."""
    p = os.path.join(path, name)
    size = os.path.getsize(p)
    n = min(64, max(0, size - 1024))  # never touch the footer region
    with open(p, "r+b") as fh:
        fh.write(b"\xde\xad" * (n // 2))


def test_commit_append_overwrite_and_history(spark, tmp_path):
    lake = str(tmp_path / "lake")
    r1 = lake_write(spark, _kv(spark, 0, 100).coalesce(1), lake)
    r2 = lake_write(spark, _kv(spark, 100, 150).coalesce(1), lake)
    assert (r1["version"], r2["version"]) == (1, 2)
    assert read_snapshot(spark, lake, 1).count() == 100
    assert read_snapshot(spark, lake).count() == 150
    # logical truncate: overwrite commits ONLY the new files but the
    # old bytes stay readable at their versions
    r3 = lake_write(spark, _kv(spark, 500, 510).coalesce(1), lake, mode="overwrite")
    assert r3["version"] == 3
    assert read_snapshot(spark, lake).count() == 10
    assert read_snapshot(spark, lake, 2).count() == 150
    ops = [h["op"] for h in lake_history(lake)]
    assert ops == ["append", "append", "overwrite"]
    # AS OF TIMESTAMP resolves to the latest commit at-or-before ts
    h = lake_history(lake)
    assert version_as_of(lake, h[1]["ts"]) == 2
    assert version_as_of(lake, h[-1]["ts"] + 1) == 3
    with pytest.raises(ValueError):
        version_as_of(lake, h[0]["ts"] - 1)


def test_commit_conflict_single_winner(spark, tmp_path, monkeypatch):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 10).coalesce(1), lake)
    # a writer that planned against v0 must lose against head v1
    with pytest.raises(SnapshotConflictError):
        commit_snapshot(lake, [], "noop", parent=0)
    # the link-level guard: a rival lands v2 INSIDE this writer's race
    # window (after it read head=1, before it links) — simulate by
    # pinning the head read while v2 exists on disk; the exclusive
    # os.link must be the second line of defense
    nxt = os.path.join(lake, "_snapshots", f"v{2:012d}.json")
    with open(nxt, "w") as fh:
        json.dump({"version": 2, "parent": 1, "op": "race", "ts": 0, "files": []}, fh)
    import mlb_data_pipeline_spark.operators.snapshots as snap_mod

    monkeypatch.setattr(snap_mod, "current_version", lambda p: 1)
    with pytest.raises(SnapshotConflictError):
        commit_snapshot(lake, [], "noop")
    monkeypatch.undo()
    # the race left no stage litter behind
    assert not [
        n for n in os.listdir(os.path.join(lake, "_snapshots")) if ".stage-" in n
    ]


def test_delete_drops_covered_files_without_opening_them(spark, tmp_path):
    """Files whose footer stats prove EVERY row matches leave the
    snapshot metadata-only — the classification reads FOOTERS, never
    data pages. Proof: garble the to-be-dropped file's data pages
    (footer intact) — a delete that scans its rows crashes."""
    from mlb_data_pipeline_spark.operators.layout import file_stats

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    files = snapshot_files(lake)
    assert len(files) == 4
    # range-partitioned quartiles: k < 250 covers at least file 1
    covered = [fs["file"] for fs in file_stats(lake, ["k"]) if fs["max"]["k"] < 250]
    assert covered
    for name in covered:
        _corrupt_data_pages(lake, name)
    before_untouched = {
        n: os.path.getmtime(os.path.join(lake, n)) for n in files if n not in covered
    }
    rep = lake_delete(spark, lake, "k < 250", col_types={"k": "bigint", "v": "bigint"})
    assert rep["files_dropped"] == len(covered)
    assert rep["files_rewritten"] <= 1  # at most the one boundary file
    cur = read_snapshot(spark, lake)
    assert cur.count() == 750
    assert cur.agg(F.min("k")).head()[0] == 250
    # provably-untouched files: same bytes, same mtime, still live
    for n, mt in before_untouched.items():
        if n in snapshot_files(lake):
            assert os.path.getmtime(os.path.join(lake, n)) == mt


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE three-valued semantics: rows where the predicate is
    NULL are kept, not deleted."""
    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None), (5, 50)], KV
    )
    lake_write(spark, df.coalesce(1), lake)
    lake_delete(spark, lake, "v > 20", col_types={"k": "bigint", "v": "bigint"})
    kept = sorted(r.k for r in read_snapshot(spark, lake).collect())
    assert kept == [1, 2, 4]  # NULL-v rows survive


def test_delete_unparseable_predicate_still_exact(spark, tmp_path):
    """A predicate the extractor can't fold classifies everything as
    boundary — slower, never wrong."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100).coalesce(2), lake)
    rep = lake_delete(spark, lake, "k % 7 = 0 AND NOT (k = 14)")
    assert rep["files_dropped"] == 0
    got = sorted(r.k for r in read_snapshot(spark, lake).collect())
    want = [k for k in range(100) if not (k % 7 == 0 and k != 14)]
    assert got == want


def test_merge_rewrites_only_candidate_files(spark, tmp_path):
    """Upsert source keys live in one quartile: the other range files
    must survive by IDENTITY (same name, same mtime), and the merge
    must never open them. Proof: corrupt a non-candidate file — since
    it stays live we corrupt a COPY comparison instead: mtime + name
    identity in the new snapshot."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    files = snapshot_files(lake)
    src = spark.createDataFrame(
        [(k, -1) for k in range(500, 520)] + [(2000 + i, 99) for i in range(5)], KV
    )
    before = {n: os.path.getmtime(os.path.join(lake, n)) for n in files}
    rep = lake_merge(spark, lake, src, "k")
    assert rep["files_untouched"] >= 2
    cur = read_snapshot(spark, lake)
    assert cur.count() == 1005
    assert cur.filter("v = -1").count() == 20
    assert cur.filter("v = 99").count() == 5
    # untouched files carried over by identity
    survivors = set(snapshot_files(lake)) & set(files)
    assert len(survivors) == rep["files_untouched"]
    for n in survivors:
        assert os.path.getmtime(os.path.join(lake, n)) == before[n]
    # upsert result matches the reference semantics exactly
    base = _kv(spark, 0, 1000)
    want = src.unionByName(base.join(src.select("k"), "k", "left_anti"))
    assert cur.exceptAll(want).count() == 0 and want.exceptAll(cur).count() == 0


def test_merge_delete_matched(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100).coalesce(2), lake)
    src = spark.createDataFrame([(k, 0) for k in range(10, 20)], KV)
    lake_merge(spark, lake, src.select("k", "v"), "k", when_matched="delete")
    got = sorted(r.k for r in read_snapshot(spark, lake).collect())
    assert got == [k for k in range(100) if not 10 <= k < 20]


def test_merge_schema_drift_is_an_error(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 10).coalesce(1), lake)
    bad = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="lake columns"):
        lake_merge(spark, lake, bad, "k")


def test_rollback_then_vacuum_expires_unreferenced(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100).coalesce(1), lake)  # v1
    lake_write(spark, _kv(spark, 100, 200).coalesce(1), lake)  # v2
    lake_delete(spark, lake, "k >= 100", col_types={"k": "bigint", "v": "bigint"})  # v3
    assert read_snapshot(spark, lake).count() == 100
    lake_rollback(lake, 2)  # v4: files of v2 restored
    assert read_snapshot(spark, lake).count() == 200
    # orphan from a crashed write: on disk, referenced by nothing
    orphan = os.path.join(lake, "part-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"crashed write")
    # a FRESH never-committed file sits in the orphan grace window by
    # default (round 12) — it could be a live writer's staged file
    rep = vacuum_lake(lake, keep_last=1)
    assert os.path.exists(orphan) and rep["orphans_in_grace"] == 1
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0)
    assert not os.path.exists(orphan)
    assert rep["retained_versions"] == [4]
    assert read_snapshot(spark, lake).count() == 200
    with pytest.raises(ValueError):
        read_snapshot(spark, lake, 3)
    # expired json is gone from history too
    assert [h["version"] for h in lake_history(lake)] == [4]


def test_catalog_reads_are_snapshot_aware(spark, tmp_path):
    """Dead files stay on disk after a delete — every catalog path
    (scan, filtered scan, count, metadata count) must not resurrect
    them, even though the table was registered BEFORE the delete."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_snap_cat", lake)
    lake_delete(spark, lake, "k < 250", col_types={"k": "bigint", "v": "bigint"})
    assert lake_scan(spark, "t_snap_cat").count() == 750
    assert lake_scan(spark, "t_snap_cat", "k < 500").count() == 250
    assert lake_count(spark, "t_snap_cat") == 750
    assert lake_count(spark, "t_snap_cat", "k BETWEEN 0 AND 499") == 250
    # time travel through the catalog
    assert lake_scan(spark, "t_snap_cat", version=1).count() == 1000
    assert lake_scan(spark, "t_snap_cat", "k < 250", version=1).count() == 250


def test_optimize_snapshot_lake_preserves_time_travel(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    lake_write(spark, _kv(spark, 0, 2000, v=0).coalesce(1), lake)  # wide span
    v_before = current_version(lake)
    n_before = read_snapshot(spark, lake).count()
    rep = optimize_clustered(spark, lake, [("k", 0, 2000)], bits=8)
    assert rep["files_rewritten"] > 0
    assert lake_history(lake)[-1]["op"] == "optimize"
    assert read_snapshot(spark, lake).count() == n_before
    # the pre-optimize version reads bit-exact: optimize never deleted
    # its files
    assert read_snapshot(spark, lake, v_before).count() == n_before
    # idempotent: second call finds nothing dirty, no new commit
    v = current_version(lake)
    rep2 = optimize_clustered(spark, lake, [("k", 0, 2000)], bits=8)
    assert rep2["files_rewritten"] == 0
    assert current_version(lake) == v


def test_optimize_partitioned_snapshot_lake(spark, tmp_path):
    """Partitioned snapshot lake: OPTIMIZE rewrites the dirty files of
    every leaf in one pass and commits ONE root-level snapshot; dead
    files in leaf dirs are never resurrected into the rewrite."""
    lake = str(tmp_path / "lake")
    df = _kv(spark, 0, 1000).withColumn("p", (F.col("k") % 2).cast("long"))
    before = lake_write(spark, df.repartitionByRange(4, "k"), lake, partition_by=["p"])
    assert before["version"] == 1
    # the layout really is hive-partitioned: p=<v> leaf directories
    assert any(n.startswith("p=") for n in snapshot_files(lake))
    # delete half of p=0 so its leaf holds dead files
    lake_delete(
        spark, lake, "k < 100", col_types={"k": "bigint", "v": "bigint", "p": "bigint"}
    )
    lake_write(spark, _kv(spark, 0, 2000, v=0).withColumn("p", F.lit(0)).coalesce(1), lake)
    n_before = read_snapshot(spark, lake).count()
    v_before = current_version(lake)
    rep = optimize_clustered(spark, lake, [("k", 0, 2000)], bits=8)
    assert rep["files_rewritten"] > 0
    assert lake_history(lake)[-1]["op"] == "optimize"
    cur = read_snapshot(spark, lake)
    assert cur.count() == n_before
    assert cur.filter("k < 100 AND v != 0").count() == 0  # deletes stayed deleted
    assert read_snapshot(spark, lake, v_before).count() == n_before
    # a flat append into the partitioned layout is a writer error
    with pytest.raises(ValueError, match="partitioned by"):
        lake_write(
            spark,
            _kv(spark, 0, 10).withColumn("p", F.lit(0).cast("long")).coalesce(1),
            lake,
            partition_by=[],
        )


def test_partitioned_optimize_jobs_do_not_grow_with_leaves(spark, tmp_path):
    """Every dirty leaf of a partitioned snapshot lake rewrites in ONE
    read/shuffle/write: the Spark job count is the same for 2 dirty
    leaves as for 6. Compact basenames never repeat across leaves
    (legacy deletion-vector records key masks by basename), the report names dirty
    files leaf-prefixed, and a second call rewrites nothing."""
    sc = spark.sparkContext

    def run(n_dirty: int) -> int:
        lake = str(tmp_path / f"lake{n_dirty}")
        # 6 leaves, each one tight file: leaf p holds k in [1000p, 1000p+999]
        tight = spark.range(6000).select(
            F.col("id").alias("k"), (F.col("id") / 1000).cast("long").alias("p")
        )
        lake_write(spark, tight.coalesce(1), lake, partition_by=["p"])
        # one full-range (dirty) file in each of the first n_dirty leaves
        wide = spark.range(600).select(
            (F.col("id") * 10).alias("k"), (F.col("id") % n_dirty).alias("p")
        )
        lake_write(spark, wide.coalesce(1), lake)
        n_before = read_snapshot(spark, lake).count()
        group = f"optimize-{n_dirty}-leaves"
        sc.setJobGroup(group, group)
        try:
            rep = optimize_clustered(spark, lake, [("k", 0, 5999)], bits=8)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rep["files_rewritten"] == n_dirty
        assert len(rep["dirty_files"]) == n_dirty
        assert all(f.startswith("p=") for f in rep["dirty_files"])
        live = snapshot_files(lake)
        compact = [os.path.basename(n) for n in live if "compact-" in n]
        assert len(compact) == rep["files_written"] == len(set(compact))
        assert all("/" in n for n in live)
        assert read_snapshot(spark, lake).count() == n_before
        v = current_version(lake)
        assert optimize_clustered(spark, lake, [("k", 0, 5999)], bits=8)["files_rewritten"] == 0
        assert current_version(lake) == v
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs_2, jobs_6 = run(2), run(6)
    assert jobs_2 == jobs_6 <= 4, (jobs_2, jobs_6)


def test_optimize_partitioned_lake_with_deletion_vectors(spark, tmp_path):
    """Masks are keyed by lake-relative name, so OPTIMIZE rewrites a
    partitioned lake with live deletion vectors. One write task gives
    both leaves the same file basename; a DV delete masks rows of one
    leaf only, and the compacted lake holds exactly the live rows with
    no mask left."""
    from mlb_data_pipeline_spark.operators.snapshots import snapshot_info

    lake = str(tmp_path / "lake")
    df = _kv(spark, 0, 400).withColumn("p", (F.col("k") % 2).cast("long"))
    lake_write(spark, df.repartition(1), lake, partition_by=["p"])
    files = snapshot_info(lake)["files"]
    assert len(files) == 2 and len({os.path.basename(n) for n in files}) == 1
    rep = lake_delete(
        spark, lake, "k BETWEEN 100 AND 149 AND p = 0",
        col_types={"k": "bigint", "p": "bigint"}, use_dv=True,
    )
    assert rep["files_dv"] == 1
    want = [k for k in range(400) if not (100 <= k <= 149 and k % 2 == 0)]
    assert len(want) == 375
    assert optimize_clustered(spark, lake, [("k", 0, 400)], bits=8)["files_rewritten"] == 2
    assert not snapshot_info(lake).get("dv_rows")
    assert sorted(r.k for r in read_snapshot(spark, lake).select("k").collect()) == want


def test_optimize_refuses_partitioned_lake_with_deletion_vectors(spark, tmp_path):
    """A record written before lake-relative mask keys keyed a mask by
    file basename. When several live files share that basename (one
    write task writes every leaf), OPTIMIZE raises instead of guessing
    which file the mask meant, and commits nothing."""
    import re

    from mlb_data_pipeline_spark.operators.snapshots import snapshot_info
    from tests.test_deletion_vectors import _stage_legacy_dv

    lake = str(tmp_path / "lake")
    df = _kv(spark, 0, 400).withColumn("p", (F.col("k") % 2).cast("long"))
    lake_write(spark, df.repartition(1), lake, partition_by=["p"])
    files = sorted(snapshot_info(lake)["files"])
    _stage_legacy_dv(spark, lake, files[0], [0, 1])
    v = current_version(lake)
    with pytest.raises(ValueError, match=re.escape(os.path.basename(files[0]))):
        optimize_clustered(spark, lake, [("k", 0, 400)], bits=8)
    assert current_version(lake) == v


def test_read_path_keeps_snapshot_optimize_staging(spark, tmp_path, monkeypatch):
    """A read beside OPTIMIZE on a snapshot lake: a catalog scan that
    runs while the rewrite's staging dir is in flight must leave that
    dir alone, or OPTIMIZE commits the removal of its dirty files with
    nothing in their place. The read itself sees the pre-OPTIMIZE
    head."""
    from pyspark.sql.readwriter import DataFrameWriter

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 2000).repartition(4), lake)
    register_lake_table(spark, "t_optimize_staging", lake)
    write = DataFrameWriter.parquet
    seen = []

    def staged_then_read(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        if path.endswith("__compact_tmp"):
            seen.append(lake_scan(spark, "t_optimize_staging").count())

    monkeypatch.setattr(DataFrameWriter, "parquet", staged_then_read)
    rep = optimize_clustered(spark, lake, [("k", 0, 2000)], bits=8)
    assert seen == [2000]
    assert rep["files_written"] > 0
    assert read_snapshot(spark, lake).count() == 2000


def test_plain_dir_adopts_on_first_dml(spark, tmp_path):
    """First DML on a plain parquet directory commits an 'adopt'
    snapshot of the as-is listing, then applies — existing lakes join
    the transaction log without a rewrite."""
    lake = str(tmp_path / "lake")
    _kv(spark, 0, 100).coalesce(2).write.parquet(lake)
    assert not has_snapshots(lake)
    lake_delete(spark, lake, "k >= 50", col_types={"k": "bigint", "v": "bigint"})
    assert has_snapshots(lake)
    assert [h["op"] for h in lake_history(lake)] == ["adopt", "delete"]
    assert read_snapshot(spark, lake).count() == 50
    # the plain whole-dir spark.read still sees dead bytes — the
    # catalog path is the contract surface
    register_lake_table(spark, "t_adopted", lake)
    assert lake_scan(spark, "t_adopted").count() == 50


# ---------------------------------------------------------------------------
# lake_join_scan — join-driven FILE pruning (the DPP extension).
# ---------------------------------------------------------------------------


def test_lake_join_scan_never_opens_keyless_files(spark, tmp_path):
    """Files whose footer key range contains no dim key are excluded
    from the read set BEFORE the join plans. Proof: garble their data
    pages — a join that scans them crashes."""
    from mlb_data_pipeline_spark.catalog import lake_join_scan
    from mlb_data_pipeline_spark.operators.layout import file_stats

    lake = str(tmp_path / "lake")
    _kv(spark, 0, 1000).repartitionByRange(4, "k").write.parquet(lake)
    register_lake_table(spark, "t_join_fact", lake)
    dim = spark.createDataFrame([(10, "a"), (20, "b"), (980, "c")], "dk long, tag string")
    # quartile files: keys 10/20 hit file 1, 980 hits file 4 — garble 2+3
    for fs in file_stats(lake, ["k"]):
        if fs["min"]["k"] > 20 and fs["max"]["k"] < 980:
            _corrupt_data_pages(lake, fs["file"])
    got = (
        lake_join_scan(spark, "t_join_fact", dim, "k", "dk")
        .select("k", "v", "tag")
        .collect()
    )
    assert sorted((r.k, r.v, r.tag) for r in got) == [
        (10, 20, "a"),
        (20, 40, "b"),
        (980, 1960, "c"),
    ]


def test_lake_join_scan_per_key_probe_beats_wide_box(spark, tmp_path):
    """Sparse keys at both extremes: the single [min, max] box keeps
    every file; the per-key interval probe keeps only the two end
    files. Middle files are garbled to prove they are never read."""
    from mlb_data_pipeline_spark.catalog import lake_join_scan
    from mlb_data_pipeline_spark.operators.layout import file_stats

    lake = str(tmp_path / "lake")
    _kv(spark, 0, 1000).repartitionByRange(8, "k").write.parquet(lake)
    register_lake_table(spark, "t_join_sparse", lake)
    keys = [1, 999]
    dim = spark.createDataFrame([(k,) for k in keys], "dk long")
    read = lake_join_scan(spark, "t_join_sparse", dim, "k", "dk").inputFiles()
    kept = {os.path.relpath(f.removeprefix("file:"), lake) for f in read}
    assert len(kept) == 2  # the wide box [1, 999] would keep all 8
    stats = file_stats(lake, ["k"])
    for fs in stats:
        if fs["file"] not in kept:
            _corrupt_data_pages(lake, fs["file"])
    got = lake_join_scan(spark, "t_join_sparse", dim, "k", "dk").select("k").collect()
    assert sorted(r.k for r in got) == keys


def test_lake_join_scan_partition_and_bloom_rules(spark, tmp_path):
    """Directory-encoded partition values and Bloom manifests prune
    too — string keys, no footer stats involved."""
    from mlb_data_pipeline_spark.catalog import lake_join_scan
    from mlb_data_pipeline_spark.operators.layout import save_bloom_manifest

    lake = str(tmp_path / "lake")
    bloom = str(tmp_path / "bloom")
    df = spark.createDataFrame(
        [(i, f"s{i % 5}", f"u{i}") for i in range(200)], "k long, part string, u string"
    )
    df.repartition(1).write.partitionBy("part").parquet(lake)
    # partition rule: dim keys name two of five partitions
    register_lake_table(spark, "t_join_part", lake)
    dim = spark.createDataFrame([("s1",), ("s3",)], "dk string")
    got = lake_join_scan(spark, "t_join_part", dim, "part", "dk")
    assert len(got.inputFiles()) == 2
    assert got.count() == 80
    # bloom rule: u is high-cardinality inside files; a u-key hits one
    # partition's file only
    save_bloom_manifest(spark, lake, "u", bloom, expected_per_file=64)
    register_lake_table(spark, "t_join_bloom", lake, bloom_manifests={"u": bloom})
    dim_u = spark.createDataFrame([("u7", 1)], "dk string, w long")
    got = lake_join_scan(spark, "t_join_bloom", dim_u, "u", "dk")
    assert len(got.inputFiles()) == 1
    rows = got.collect()
    assert len(rows) == 1 and rows[0].k == 7


def test_lake_join_scan_snapshot_aware_and_fallback(spark, tmp_path):
    """Dead files never resurrect through the join path, and a dim
    wider than max_keys degrades to the plain join with identical
    results."""
    from mlb_data_pipeline_spark.catalog import lake_join_scan

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 500).repartitionByRange(4, "k"), lake)
    lake_delete(spark, lake, "k < 100", col_types={"k": "bigint", "v": "bigint"})
    register_lake_table(spark, "t_join_snap", lake)
    dim = spark.createDataFrame([(50,), (150,)], "dk long")
    got = lake_join_scan(spark, "t_join_snap", dim, "k", "dk").select("k").collect()
    assert [r.k for r in got] == [150]  # k=50 was deleted
    wide = spark.range(0, 400).select(F.col("id").alias("dk"))
    got = lake_join_scan(spark, "t_join_snap", wide, "k", "dk", max_keys=10)
    assert got.count() == 300  # 100..399 alive


# ---------------------------------------------------------------------------
# lake_snapshot_stream — exactly-once VISIBLE streaming ingestion.
# ---------------------------------------------------------------------------


def test_lake_snapshot_stream_exactly_once_visible(spark, tmp_path):
    """Each micro-batch is one atomic commit; a redelivered batch_id is
    a wholesale no-op; a crash between write and commit leaves only
    invisible orphans that vacuum reclaims."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        _write_new_files,
        lake_history,
        read_snapshot,
        vacuum_lake,
    )
    from mlb_data_pipeline_spark.streaming.jobs import lake_snapshot_stream

    lake = str(tmp_path / "lake")
    src = str(tmp_path / "src")
    lake_write(spark, _kv(spark, 0, 100).coalesce(1), lake)  # bootstrap v1
    for lo in (100, 200):
        _kv(spark, lo, lo + 100).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(KV).option("maxFilesPerTrigger", "1").parquet(src)
    )
    lake_snapshot_stream(stream, lake, str(tmp_path / "ckpt"))
    hist = lake_history(lake)
    assert [h["op"] for h in hist] == ["append", "stream_append", "stream_append"]
    assert {h["summary"].get("batch_id") for h in hist[1:]} == {0, 1}
    assert read_snapshot(spark, lake).count() == 300
    # redelivery: re-running a committed batch through a fresh stream
    # with the SAME checkpoint is the trigger-level no-op; the
    # process-level guard is the summary batch_id — simulate a raw
    # foreachBatch retry by re-invoking with an already-committed id
    import mlb_data_pipeline_spark.streaming.jobs as J

    n_versions = len(lake_history(lake))
    stream2 = (
        spark.readStream.schema(KV).option("maxFilesPerTrigger", "1").parquet(src)
    )
    # fresh checkpoint = full redelivery of both batches
    lake_snapshot_stream(stream2, lake, str(tmp_path / "ckpt2"))
    assert len(lake_history(lake)) == n_versions  # both skipped
    assert read_snapshot(spark, lake).count() == 300
    # crash between write and commit: orphan files, invisible, vacuumed
    orphans = _write_new_files(_kv(spark, 900, 950).coalesce(1), lake, [])
    assert orphans and read_snapshot(spark, lake).count() == 300
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0)
    assert rep["removed_files"] >= len(orphans)
    assert read_snapshot(spark, lake).count() == 300


def test_read_changes_file_diff_cdc(spark, tmp_path):
    """Incremental read between versions from the FILE-SET diff:
    shared files cancel without being opened (garbled to prove it);
    rewrites net out their survivors; appends are pure inserts."""
    from mlb_data_pipeline_spark.operators.snapshots import read_changes

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)  # v1
    lake_write(spark, _kv(spark, 1000, 1100).coalesce(1), lake)  # v2
    lake_delete(spark, lake, "k < 300", col_types={"k": "bigint", "v": "bigint"})  # v3
    # v1 -> v2: pure insert of the appended 100 rows
    ch = read_changes(spark, lake, 1, 2)
    assert ch.filter("__change = 'delete'").count() == 0
    assert ch.agg(F.sum("__n")).head()[0] == 100
    # v2 -> v3: exactly the deleted rows, as deletes; shared files are
    # never opened — garble one file common to both versions
    common = sorted(set(snapshot_files(lake, 2)) & set(snapshot_files(lake, 3)))
    assert common
    _corrupt_data_pages(lake, common[-1])
    ch = read_changes(spark, lake, 2, 3)
    assert ch.filter("__change = 'insert'").count() == 0
    assert ch.agg(F.sum("__n")).head()[0] == 300
    assert ch.agg(F.max("k")).head()[0] == 299
    # v1 -> v3 composes: net = +100 appended, -300 deleted
    ch = read_changes(spark, lake, 1, 3)
    ins = ch.filter("__change = 'insert'").agg(F.sum("__n")).head()[0]
    dels = ch.filter("__change = 'delete'").agg(F.sum("__n")).head()[0]
    assert (ins, dels) == (100, 300)
    # identical versions: empty frame, stable schema
    same = read_changes(spark, lake, 3, 3)
    assert same.count() == 0 and "__change" in same.columns


# ---------------------------------------------------------------------------
# NDV sketch manifest — mergeable per-file distinct-count stats.
# ---------------------------------------------------------------------------


def test_lake_approx_distinct_interior_files_unopened(spark, tmp_path):
    """Interior files contribute their persisted sketches without
    being opened (garbled data pages), boundary files sketch live, and
    the estimate stays within HLL error of the exact answer — on both
    the whole table and an exact-box predicate."""
    from mlb_data_pipeline_spark.catalog import lake_approx_distinct
    from mlb_data_pipeline_spark.operators.layout import (
        file_stats,
        save_ndv_manifest,
    )

    lake = str(tmp_path / "lake")
    ndv_m = str(tmp_path / "ndv_m")
    # v = k // 3 gives ~1667 distincts over 5000 rows, range-clustered
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") / 3).cast("long").alias("v")
    )
    df.repartitionByRange(8, "k").write.parquet(lake)
    save_ndv_manifest(spark, lake, ["v"], ndv_m)
    register_lake_table(spark, "t_ndv", lake, ndv_manifest=ndv_m)
    # garble every strictly-interior file for the box [0, 2499]:
    # metadata answers, a live scan of them would crash
    stats = file_stats(lake, ["k"])
    interior = [
        fs["file"] for fs in stats if fs["min"]["k"] >= 0 and fs["max"]["k"] <= 2499
    ]
    assert len(interior) >= 2
    for name in interior[:-1]:  # keep one readable as the boundary edge
        _corrupt_data_pages(lake, name)
    exact = 2500 // 3 + 1  # distinct v among k in [0, 2499]
    got = lake_approx_distinct(spark, "t_ndv", "v", "k BETWEEN 0 AND 2499")
    assert abs(got - exact) / exact < 0.06  # ~3.5x rse at lg_k=12
    # whole-table NDV: every live file is interior — none opened
    got_all = lake_approx_distinct(spark, "t_ndv", "v")
    assert abs(got_all - 1667) / 1667 < 0.06


def test_ndv_manifest_append_is_o_delta(spark, tmp_path):
    """append_ndv_manifest sketches only manifest-unknown files; the
    merged estimate tracks the grown table."""
    from mlb_data_pipeline_spark.catalog import lake_approx_distinct
    from mlb_data_pipeline_spark.operators.layout import (
        append_ndv_manifest,
        save_ndv_manifest,
    )

    lake = str(tmp_path / "lake")
    ndv_m = str(tmp_path / "ndv_m")
    _kv(spark, 0, 2000).coalesce(2).write.parquet(lake)
    save_ndv_manifest(spark, lake, ["k"], ndv_m)
    n0 = spark.read.parquet(ndv_m).count()
    _kv(spark, 2000, 3000).coalesce(1).write.mode("append").parquet(lake)
    append_ndv_manifest(spark, lake, ["k"], ndv_m)
    mf = spark.read.parquet(ndv_m)
    assert mf.count() == n0 + 1  # exactly the one new file sketched
    register_lake_table(spark, "t_ndv_app", lake, ndv_manifest=ndv_m)
    got = lake_approx_distinct(spark, "t_ndv_app", "k")
    assert abs(got - 3000) / 3000 < 0.06
    # degradation without a manifest: live sketch over the pruned scan
    register_lake_table(spark, "t_ndv_plain", lake)
    got2 = lake_approx_distinct(spark, "t_ndv_plain", "k", "k % 2 = 0")
    assert abs(got2 - 1500) / 1500 < 0.06


def test_snapshot_count_and_stats_are_pure_metadata(spark, tmp_path):
    """Commits carry per-file row counts: COUNT(*) at any version is a
    metadata sum. Proof: garble EVERY live file's data pages — the
    count and the stats card still answer; a read would crash."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_stats,
        snapshot_row_count,
    )

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    lake_write(spark, _kv(spark, 1000, 1300).coalesce(1), lake)
    lake_delete(spark, lake, "k >= 1100", col_types={"k": "bigint", "v": "bigint"})
    for n in snapshot_files(lake):
        _corrupt_data_pages(lake, n)
    assert snapshot_row_count(lake, 1) == 1000
    assert snapshot_row_count(lake, 2) == 1300
    assert snapshot_row_count(lake) == 1100
    register_lake_table(spark, "t_meta_count", lake)
    assert lake_count(spark, "t_meta_count") == 1100
    st = lake_stats(lake)
    assert st["rows"] == 1100 and st["version"] == 3
    assert st["files_dead"] >= 1 and st["bytes_dead"] > 0
    assert st["versions_retained"] == 3
    # a commit missing a file's count degrades to None, never a guess
    import json as _json

    snap = os.path.join(lake, "_snapshots", f"v{3:012d}.json")
    with open(snap) as fh:
        rec = _json.load(fh)
    rec["file_rows"].pop(sorted(rec["files"])[0])
    with open(snap, "w") as fh:
        _json.dump(rec, fh)
    assert snapshot_row_count(lake) is None


def test_lake_update_rewrites_only_matching_files(spark, tmp_path):
    """UPDATE ... SET ... WHERE: provably-untouched files keep their
    bytes (garbled to prove it); NULL-predicate rows keep their
    original values; types never drift through expression widening."""
    from mlb_data_pipeline_spark.operators.snapshots import lake_update

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    # files entirely outside k < 250 must never be opened
    from mlb_data_pipeline_spark.operators.layout import file_stats

    outside = [fs["file"] for fs in file_stats(lake, ["k"]) if fs["min"]["k"] >= 250]
    assert outside
    for n in outside[1:]:  # keep one readable: it stays live
        _corrupt_data_pages(lake, n)
    rep = lake_update(
        spark, lake, {"v": "v + 1000000"}, "k < 250",
        col_types={"k": "bigint", "v": "bigint"},
    )
    assert rep["files_untouched"] == len(outside)
    cur = read_snapshot(spark, lake)
    assert set(snapshot_files(lake)) >= set(outside)  # untouched carried over
    got = cur.filter("k IN (0, 100, 249, 250)").filter("k < 250").collect()
    assert all(r.v == r.k * 2 + 1000000 for r in got)
    assert dict(cur.dtypes)["v"] == "bigint"
    # NULL predicate rows unchanged
    lake2 = str(tmp_path / "lake2")
    lake_write(
        spark,
        spark.createDataFrame([(1, 10), (None, 20), (3, 30)], KV).coalesce(1),
        lake2,
    )
    lake_update(spark, lake2, {"v": "v * 10"}, "k >= 2")
    vals = sorted(
        ((r.k if r.k is not None else -1), r.v)
        for r in read_snapshot(spark, lake2).collect()
    )
    assert vals == [(-1, 20), (1, 10), (3, 300)]  # NULL-k row untouched


def test_tags_resolve_and_survive_vacuum(spark, tmp_path):
    """A tag pins a version: readers resolve the name, and vacuum
    retains the tagged version's files past keep_last until untag."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_tag,
        lake_tags,
        lake_untag,
        vacuum_lake,
    )

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100).coalesce(1), lake)  # v1
    lake_tag(lake, "baseline")
    lake_write(spark, _kv(spark, 100, 400).coalesce(1), lake)  # v2
    lake_delete(spark, lake, "k < 50", col_types={"k": "bigint", "v": "bigint"})  # v3
    assert lake_tags(lake) == {"baseline": 1}
    assert read_snapshot(spark, lake, "baseline").count() == 100
    register_lake_table(spark, "t_tagged", lake)
    assert lake_scan(spark, "t_tagged", version="baseline").count() == 100
    rep = vacuum_lake(lake, keep_last=1)
    assert 1 in rep["retained_versions"]  # tag held it
    assert read_snapshot(spark, lake, "baseline").count() == 100
    lake_untag(lake, "baseline")
    vacuum_lake(lake, keep_last=1)
    with pytest.raises(ValueError):
        read_snapshot(spark, lake, "baseline")


def test_dml_counts_from_record_with_registered_manifest(spark, tmp_path):
    """DML on a registered snapshot table: the catalog plans from the
    commit record, so the metadata count stays exact right after a
    delete and an update with no upkeep step."""
    from mlb_data_pipeline_spark.catalog import lake_delete_where, lake_update_where

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_dml_m", lake)
    lake_delete_where(spark, "t_dml_m", "k < 250")
    assert lake_count(spark, "t_dml_m", "k BETWEEN 300 AND 700") == 401
    lake_update_where(spark, "t_dml_m", {"v": "v + 7"}, "k >= 900")
    assert lake_count(spark, "t_dml_m", "k BETWEEN 300 AND 700") == 401
    got = lake_scan(spark, "t_dml_m", "k >= 995").orderBy("k").collect()
    assert [r.v for r in got] == [k * 2 + 7 for k in range(995, 1000)]


def test_snapshot_stream_maintenance_cadence(spark, tmp_path):
    """optimize_every + vacuum_keep_last inside the snapshot stream:
    wide-span batch files re-cluster mid-stream with ONE snapshot
    commit, history stays bounded, rows stay exact, and the replay
    guard survives vacuum (monotonic batch-id rule). A range read
    through the catalog skips files across batches with exact rows,
    and a batch landed after the last OPTIMIZE is visible and prunes."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_history,
        read_snapshot,
    )
    from mlb_data_pipeline_spark.streaming.jobs import lake_snapshot_stream

    lake = str(tmp_path / "lake")
    src = str(tmp_path / "src")
    lake_write(spark, _kv(spark, 0, 2000).repartitionByRange(4, "k"), lake)
    # four unsorted full-range batches (each file wide-span = dirty)
    for i in range(4):
        (
            spark.range(2000)
            .select(((F.col("id") * 97 + i) % 2000).alias("k"), F.lit(i).alias("v"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    stream = (
        spark.readStream.schema(KV).option("maxFilesPerTrigger", "1").parquet(src)
    )
    lake_snapshot_stream(
        stream,
        lake,
        str(tmp_path / "ckpt"),
        optimize_every=2,
        optimize_specs=[("k", 0, 2000)],
        vacuum_keep_last=3,
    )
    cur = read_snapshot(spark, lake)
    assert cur.count() == 2000 + 4 * 2000
    hist = lake_history(lake)
    assert len(hist) <= 3  # vacuum bounded the log
    assert any(h["op"] == "optimize" for h in hist)
    # replay with a fresh checkpoint: monotonic guard skips everything
    stream2 = (
        spark.readStream.schema(KV).option("maxFilesPerTrigger", "1").parquet(src)
    )
    lake_snapshot_stream(stream2, lake, str(tmp_path / "ckpt2"), vacuum_keep_last=2)
    assert read_snapshot(spark, lake).count() == 2000 + 4 * 2000
    with pytest.raises(ValueError, match=">= 2"):
        lake_snapshot_stream(stream2, lake, str(tmp_path / "ckpt3"), vacuum_keep_last=1)

    # the re-clustered lake prunes a range read across batches, exactly
    register_lake_table(spark, "t_stream_cadence", lake)
    pred = "k BETWEEN 100 AND 300"

    def box_rows(df):
        return sorted(map(tuple, df.filter(pred).select("k", "v").collect()))

    got = lake_scan(spark, "t_stream_cadence", pred)
    assert box_rows(got) == box_rows(read_snapshot(spark, lake))
    assert len(box_rows(got)) == 201 * 5
    assert 0 < len(got.inputFiles()) < len(snapshot_files(lake))

    # a narrow batch landed after the last OPTIMIZE (batch 4: no tick)
    live = set(snapshot_files(lake))
    spark.range(1500, 2000).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    ).coalesce(1).write.mode("append").parquet(src)
    lake_snapshot_stream(
        spark.readStream.schema(KV).option("maxFilesPerTrigger", "1").parquet(src),
        lake,
        str(tmp_path / "ckpt"),
        optimize_every=2,
        optimize_specs=[("k", 0, 2000)],
        vacuum_keep_last=3,
    )
    assert lake_history(lake)[-1]["op"] == "stream_append"
    (landed,) = set(snapshot_files(lake)) - live
    assert lake_count(spark, "t_stream_cadence") == 2000 + 4 * 2000 + 500
    assert lake_scan(spark, "t_stream_cadence", "v = -1").count() == 500
    got = lake_scan(spark, "t_stream_cadence", pred)
    assert box_rows(got) == box_rows(read_snapshot(spark, lake))
    assert not any(os.path.basename(landed) in f for f in got.inputFiles())


def test_schema_evolution_gated_and_merge_read(spark, tmp_path):
    """Appending a drifted schema is an error unless
    allow_schema_evolution=True; evolved reads merge schemas (old rows
    NULL for new columns) and a pre-evolution time travel shows the
    old schema exactly."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 100).coalesce(1), lake)
    wider = _kv(spark, 100, 150).withColumn("w", F.col("k") * 10)
    with pytest.raises(ValueError, match="schema drift"):
        lake_write(spark, wider.coalesce(1), lake)
    # evolution may only ADD columns
    with pytest.raises(ValueError, match="only ADD"):
        lake_write(
            spark, wider.select("k", "w").coalesce(1), lake,
            allow_schema_evolution=True,
        )
    lake_write(spark, wider.coalesce(1), lake, allow_schema_evolution=True)
    cur = read_snapshot(spark, lake)
    assert set(cur.columns) == {"k", "v", "w"}
    assert cur.count() == 150
    assert cur.filter("w IS NULL").count() == 100  # old rows surface NULL
    assert cur.filter("w IS NOT NULL").count() == 50
    old = read_snapshot(spark, lake, 1)
    assert set(old.columns) == {"k", "v"}  # pre-evolution schema intact
    # DML across the evolved lake stays exact
    lake_delete(spark, lake, "k >= 120", col_types={"k": "bigint"})
    assert read_snapshot(spark, lake).count() == 120


def test_dml_classification_from_manifest_zero_footer_opens(spark, tmp_path):
    """DML planning never opens even the FOOTER of a file the commit
    record has stats for: corrupt an all-match file WHOLESALE (footer
    included) — footer-driven classification would crash on it; the
    record-driven path drops it metadata-only. No scan manifest is
    involved: the record is the stats source."""
    from mlb_data_pipeline_spark.catalog import lake_merge_into

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    from mlb_data_pipeline_spark.operators.layout import file_stats

    covered = [fs["file"] for fs in file_stats(lake, ["k"]) if fs["max"]["k"] < 250]
    assert covered
    for n in covered:
        _corrupt(lake, n)  # WHOLE file, footer included
    rep = lake_delete(
        spark, lake, "k < 250",
        col_types={"k": "bigint", "v": "bigint"},
    )
    assert rep["files_dropped"] == len(covered)
    cur = read_snapshot(spark, lake)
    assert cur.count() == 750 and cur.agg(F.min("k")).head()[0] == 250
    # merge candidacy from the record too: non-candidate files can be
    # corrupt and a merge into the registered table still plans around
    # them
    lake2 = str(tmp_path / "lake2")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake2)
    register_lake_table(spark, "t_merge_rec", lake2)
    non_cand = [fs["file"] for fs in file_stats(lake2, ["k"]) if fs["min"]["k"] > 520]
    assert non_cand
    for n in non_cand:
        _corrupt_data_pages(lake2, n)  # data pages only: they stay live
    src = spark.createDataFrame([(k, -5) for k in range(500, 510)], KV)
    rep = lake_merge_into(spark, "t_merge_rec", src, "k")
    assert rep["files_untouched"] >= len(non_cand)
    assert read_snapshot(spark, lake2).filter("v = -5").count() == 10


def test_lake_explain_matches_lake_scan_read_set(spark, tmp_path):
    """The explainer's kept set must equal what lake_scan actually
    reads, and each skipped file carries the rule(s) that fired."""
    from mlb_data_pipeline_spark.catalog import lake_explain
    from mlb_data_pipeline_spark.operators.layout import save_bloom_manifest

    lake = str(tmp_path / "lake")
    bloom = str(tmp_path / "bloom")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 != 0, F.col("id")).alias("v"),
        (F.col("id") % 4).cast("long").alias("p"),
        F.concat(F.lit("u"), (F.col("id") % 50).cast("string")).alias("tag"),
    )
    df.repartitionByRange(4, "k").write.partitionBy("p").parquet(lake)
    save_bloom_manifest(spark, lake, "tag", bloom, expected_per_file=64)
    register_lake_table(spark, "t_explain", lake, bloom_manifests={"tag": bloom})
    preds = [
        "k BETWEEN 100 AND 300",
        "p = 2 AND k >= 500",
        "(k < 100) OR (k > 1800)",
        "v IS NULL AND k <= 400",
        "tag = 'nope AND k = 7' AND k >= 0",
        "length(tag) > 1",  # unparseable: full scan
    ]
    for pred in preds:
        rep = lake_explain(spark, "t_explain", pred)
        got_files = {
            f.split(lake.lstrip("/"))[-1].lstrip("/")
            for f in lake_scan(spark, "t_explain", pred).inputFiles()
        }
        assert rep["files_kept"] == len(got_files), (pred, rep)
        for why in rep["skipped"].values():
            assert set(why) <= {"partition", "stats", "nulls", "bloom"}
    # rule attribution: a pure partition predicate blames 'partition',
    # a clustered-range predicate blames 'stats'
    rep = lake_explain(spark, "t_explain", "p = 2")
    assert rep["files_skipped"] > 0
    assert all(w == ["partition"] for w in rep["skipped"].values())
    rep = lake_explain(spark, "t_explain", "k BETWEEN 0 AND 50")
    assert rep["files_skipped"] > 0
    assert all("stats" in w for w in rep["skipped"].values())
    rep = lake_explain(spark, "t_explain", "tag = 'u7'")
    assert rep["files_skipped"] > 0
    assert all("bloom" in w for w in rep["skipped"].values())


def test_refresh_rollup_from_lake_tracks_dml(spark, tmp_path):
    """Snapshots x IVM: the rollup store refreshes from the lake's own
    commit log — appends, pruned DELETEs, and UPDATEs all flow through
    read_changes as signed partials; after every refresh the store
    equals a from-scratch aggregate of the current snapshot, and a
    second refresh is a no-op."""
    from mlb_data_pipeline_spark.operators.snapshots import lake_update
    from mlb_data_pipeline_spark.sources.warehouse import (
        refresh_rollup_from_lake,
        rollup_from_store,
    )

    lake = str(tmp_path / "lake")
    store = str(tmp_path / "store")
    df = spark.range(0, 1000).select(
        (F.col("id") % 10).alias("p"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 3).cast("long").alias("x"),
        F.col("id").alias("k"),
    )
    lake_write(spark, df.repartitionByRange(4, "k"), lake)
    rep = refresh_rollup_from_lake(spark, lake, store, "p", ["g"], "x")
    assert rep["status"] == "built"

    def want():
        return sorted(
            tuple(r)
            for r in read_snapshot(spark, lake)
            .groupBy("p", "g")
            .agg(F.count("*").alias("n"), F.sum("x").cast("double").alias("total"))
            .collect()
        )

    def got():
        return sorted(
            tuple(r)
            for r in rollup_from_store(spark, store, ["p", "g"], scale=2).collect()
        )

    assert got() == want()
    # append + delete + update, then ONE refresh picks up all three
    lake_write(spark, df.withColumn("k", F.col("k") + 1000).coalesce(1), lake)
    lake_delete(spark, lake, "k BETWEEN 100 AND 399", col_types={"k": "bigint"})
    lake_update(spark, lake, {"x": "x + 5"}, "k >= 1800", col_types={"k": "bigint"})
    rep = refresh_rollup_from_lake(spark, lake, store, "p", ["g"], "x")
    assert rep["status"] == "refreshed"
    assert got() == want()
    assert refresh_rollup_from_lake(spark, lake, store, "p", ["g"], "x")["status"] == "noop"
    # rollback flows through too (negative churn)
    lake_rollback(lake, 2)
    rep = refresh_rollup_from_lake(spark, lake, store, "p", ["g"], "x")
    assert rep["status"] == "refreshed"
    assert got() == want()


def test_lake_count_time_travel(spark, tmp_path):
    from mlb_data_pipeline_spark.operators.snapshots import lake_tag

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 500).coalesce(2), lake)
    lake_tag(lake, "first")
    lake_delete(spark, lake, "k >= 400", col_types={"k": "bigint", "v": "bigint"})
    register_lake_table(spark, "t_cnt_tt", lake)
    # bare counts answer from commit metadata at any version — garble
    # every byte on the CURRENT version's files to prove it
    for n in snapshot_files(lake):
        _corrupt(lake, n)
    assert lake_count(spark, "t_cnt_tt") == 400
    assert lake_count(spark, "t_cnt_tt", version=1) == 500
    assert lake_count(spark, "t_cnt_tt", version="first") == 500


def test_lake_min_max_time_travel(spark, tmp_path):
    from mlb_data_pipeline_spark.catalog import lake_min_max

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 500).coalesce(2), lake)
    lake_delete(spark, lake, "k >= 400", col_types={"k": "bigint", "v": "bigint"})
    register_lake_table(spark, "t_mm_tt", lake)
    cur = lake_min_max(spark, "t_mm_tt", "k").head()
    old = lake_min_max(spark, "t_mm_tt", "k", version=1).head()
    assert (cur.min_k, cur.max_k) == (0, 399)
    assert (old.min_k, old.max_k) == (0, 499)
    boxed = lake_min_max(spark, "t_mm_tt", "v", "k BETWEEN 10 AND 20", version=1).head()
    assert (boxed.min_v, boxed.max_v) == (20, 40)


def test_commit_row_counts_distribute_above_threshold(spark, tmp_path, monkeypatch):
    """Round 13 (VERDICT r12 ask #3): above _FOOTER_JOB_THRESHOLD new
    files, commit-time per-file row counts come from ONE distributed
    job over the staged footers, not a serial driver loop — and the
    counts are identical either way."""
    from mlb_data_pipeline_spark.operators import snapshots as S

    monkeypatch.setattr(S, "_FOOTER_JOB_THRESHOLD", 4)
    calls = {"job": 0}
    real_job = S._footer_meta_job

    def spy(path, names, spark_):
        calls["job"] += 1
        return real_job(path, names, spark_)

    monkeypatch.setattr(S, "_footer_meta_job", spy)
    lake = str(tmp_path / "lake")
    df = spark.range(0, 120).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    S.lake_write(spark, df.repartition(8), lake)  # 8 > 4 files
    assert calls["job"] == 1  # the job path fired
    assert S.snapshot_row_count(lake) == 120  # metadata sum exact
    info = S.snapshot_info(lake)
    assert sum(info["file_rows"].values()) == 120
    assert len(info["file_rows"]) == 8
    # a small follow-up append stays on the serial path
    S.lake_write(spark, df.limit(5).coalesce(1), lake)
    assert calls["job"] == 1
    assert S.snapshot_row_count(lake) == 125


def test_vacuum_time_based_retention(spark, tmp_path):
    """Round 13: retain_s keeps every version committed inside the
    window readable (the 'time travel back N days' contract),
    composing with keep_last as a union."""
    import json as _json

    from mlb_data_pipeline_spark.operators.snapshots import vacuum_lake

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 50).coalesce(1), lake)  # v1
    lake_write(spark, _kv(spark, 50, 100).coalesce(1), lake)  # v2
    lake_write(spark, _kv(spark, 100, 150).coalesce(1), lake)  # v3
    # age v1 artificially: rewrite its record with an old ts
    fn = os.path.join(lake, "_snapshots", "v000000000001.json")
    rec = _json.load(open(fn))
    rec["ts"] -= 7 * 86400
    _json.dump(rec, open(fn, "w"))
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0, retain_s=2 * 86400)
    # v2 and v3 are inside the 2-day window; only v1 expired
    assert rep["retained_versions"] == [2, 3]
    assert read_snapshot(spark, lake, 2).count() == 100
    assert read_snapshot(spark, lake).count() == 150
    with pytest.raises(ValueError, match="does not exist"):
        read_snapshot(spark, lake, 1)
