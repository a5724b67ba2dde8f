"""Round 12 — DELETION VECTORS (lake_delete use_dv=True).

DELETE without rewrite amplification: matching rows' (file,
row_index) positions land as one parquet sidecar under
``_snapshots/dv/`` and the commit masks them — every reader
(read_snapshot, lake_scan, CDC, DML sources, OPTIMIZE) anti-joins the
mask, so DELETE cost is O(deleted positions) no matter how wide the
boundary files are (the Delta DV / Iceberg positional-delete shape).
Masks are materialized away by the next rewrite of those files. The
metadata fast paths (interior counts, min/max, NDV sketches) describe
PHYSICAL contents, so they degrade to the masked scan while DVs are
live — pinned here alongside the no-rewrite mtime proofs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.operators import snapshots as S
from mlb_data_pipeline_spark.operators.snapshots import (
    lake_delete,
    lake_merge,
    lake_rename_column,
    lake_rollback,
    lake_update,
    lake_write,
    read_changes,
    read_snapshot,
    snapshot_info,
    snapshot_row_count,
    vacuum_lake,
)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 50 == 7, F.lit(None)).otherwise(F.col("id") * 2).alias("v"),
    )


def _mtimes(lake):
    return {n: os.path.getmtime(os.path.join(lake, n)) for n in snapshot_info(lake)["files"]}


def test_dv_delete_no_rewrite_three_valued(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    # garble a provably-none-match file's DATA PAGES (footer intact —
    # classification stats from footers by design): the DV delete must
    # never decode its rows
    victim = next(
        n for n in snapshot_info(lake)["files"]
        if spark.read.parquet(os.path.join(lake, n)).agg(F.min("k")).head()[0] >= 750
    )
    with open(os.path.join(lake, victim), "r+b") as fh:
        fh.write(b"\xde\xad" * 32)
    before = _mtimes(lake)
    rep = lake_delete(
        spark, lake, "v < 400 AND k <= 600",
        col_types={"k": "bigint", "v": "bigint"}, use_dv=True,
    )
    assert rep["files_rewritten"] == 0 and rep["files_written"] == 0
    assert rep["files_dv"] >= 1
    # mtime pin: NO data file was written by the DV delete
    assert _mtimes(lake) == before
    # three-valued semantics on the untouched files: NULL-v rows with
    # k <= 600 survive (predicate NULL, not TRUE)
    live = [n for n in snapshot_info(lake)["files"] if n != victim]
    df = S._read_files(spark, lake, sorted(live), snapshot_info(lake))
    assert df.filter("v IS NULL").count() > 0
    assert df.filter("v < 400 AND k <= 600").count() == 0


def test_dv_stack_timetravel_rollback_rowcount(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)  # v1
    lake_delete(spark, lake, "k % 10 = 3", col_types={"k": "bigint"}, use_dv=True)  # v2
    lake_delete(spark, lake, "k BETWEEN 0 AND 49", col_types={"k": "bigint"}, use_dv=True)  # v3
    assert read_snapshot(spark, lake).count() == 855
    assert snapshot_row_count(lake) == 855  # metadata count subtracts masks
    assert read_snapshot(spark, lake, 2).count() == 900
    assert read_snapshot(spark, lake, 1).count() == 1000
    lake_rollback(lake, 1)  # v4 unmasks everything
    assert read_snapshot(spark, lake).count() == 1000
    assert snapshot_row_count(lake) == 1000
    lake_rollback(lake, 3)  # v5 remasks
    assert read_snapshot(spark, lake).count() == 855


def test_dv_cdc_deletes_and_resurrections(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 600).repartitionByRange(3, "k"), lake)  # v1
    lake_delete(spark, lake, "k % 3 = 1", col_types={"k": "bigint"}, use_dv=True)  # v2
    ch = read_changes(spark, lake, 1, 2)
    assert {r["__change"] for r in ch.select("__change").distinct().collect()} == {"delete"}
    assert ch.agg(F.sum("__n")).head()[0] == 200
    assert ch.filter("k % 3 != 1").count() == 0
    lake_rollback(lake, 1)  # v3
    back = read_changes(spark, lake, 2, 3)
    assert {r["__change"] for r in back.select("__change").distinct().collect()} == {"insert"}
    assert back.agg(F.sum("__n")).head()[0] == 200
    # composing across the pair nets to zero
    assert read_changes(spark, lake, 1, 3).count() == 0


def test_dv_metadata_paths_degrade_correctly(spark, tmp_path):
    from mlb_data_pipeline_spark.catalog import (
        lake_count,
        lake_min_max,
        lake_scan,
        register_lake_table,
    )

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_dv_meta", lake)
    lake_delete(spark, lake, "k % 10 = 3", col_types={"k": "bigint"}, use_dv=True)
    assert lake_count(spark, "t_dv_meta") == 900
    # an exact box that WOULD be answered from interior record row
    # counts must not overcount the masked rows
    assert lake_count(spark, "t_dv_meta", "k BETWEEN 0 AND 499") == 450
    assert lake_scan(spark, "t_dv_meta", "k BETWEEN 0 AND 499").count() == 450
    row = lake_min_max(spark, "t_dv_meta", "k", "k BETWEEN 100 AND 299").head()
    assert (row["min_k"], row["max_k"]) == (100, 299)
    # 103 is masked: the true min above 102 is 104
    row2 = lake_min_max(spark, "t_dv_meta", "k", "k BETWEEN 103 AND 299").head()
    assert row2["min_k"] == 104


def test_dv_masks_materialize_on_rewrite(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 400).repartitionByRange(2, "k"), lake)  # v1
    lake_delete(spark, lake, "k % 4 = 1", col_types={"k": "bigint"}, use_dv=True)  # v2
    # UPDATE rewrites the files it touches THROUGH the mask
    lake_update(spark, lake, {"v": "v + 1"}, "k >= 0", col_types={"k": "bigint", "v": "bigint"})  # v3
    cur = read_snapshot(spark, lake)
    assert cur.count() == 300
    assert cur.filter("k % 4 = 1").count() == 0
    # merge through the mask: source keys replace, mask survives
    lake2 = str(tmp_path / "lake2")
    lake_write(spark, _kv(spark, 0, 400).repartitionByRange(2, "k"), lake2)
    lake_delete(spark, lake2, "k % 4 = 1", col_types={"k": "bigint"}, use_dv=True)
    src = spark.range(100, 120).select(
        F.col("id").alias("k"), F.lit(-9).cast("long").alias("v")
    )
    lake_merge(spark, lake2, src, "k")
    cur2 = read_snapshot(spark, lake2)
    assert cur2.filter("v = -9").count() == 20  # masked keys reinserted by merge
    assert cur2.filter("k % 4 = 1 AND v != -9").count() == 0
    assert cur2.count() == 300 + 5  # 5 masked keys in [100,120) came back via src


def test_dv_vacuum_reclaims_unreferenced_sidecars(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 200).coalesce(1), lake)  # v1
    lake_delete(spark, lake, "k < 20", col_types={"k": "bigint"}, use_dv=True)  # v2
    dv_dir = os.path.join(lake, "_snapshots", "dv")
    assert len(os.listdir(dv_dir)) == 1
    rep = vacuum_lake(lake, keep_last=2, orphan_grace_s=0)
    assert rep["removed_dvs"] == 0  # head still references it
    assert read_snapshot(spark, lake).count() == 180
    lake_rollback(lake, 1)  # v3: mask abandoned
    assert not snapshot_info(lake).get("dv_files")  # no entry outlives its sidecar
    rep = vacuum_lake(lake, keep_last=1, orphan_grace_s=0)
    assert rep["removed_dvs"] == 1
    assert os.listdir(dv_dir) == []
    assert read_snapshot(spark, lake).count() == 200


def test_dv_shuffle_path_above_broadcast_cap(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_DV_BROADCAST_CAP", 0)
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 300).repartitionByRange(2, "k"), lake)
    lake_delete(spark, lake, "k % 5 = 2", col_types={"k": "bigint"}, use_dv=True)
    assert read_snapshot(spark, lake).count() == 240


def test_dv_with_schema_evolution(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 200).coalesce(1), lake)  # v1
    lake_delete(spark, lake, "k < 50", col_types={"k": "bigint"}, use_dv=True)  # v2
    lake_rename_column(lake, "v", "w")  # v3 (metadata only; mask carries)
    cur = read_snapshot(spark, lake)
    assert cur.columns == ["k", "w"]
    assert cur.count() == 150
    assert cur.filter("k < 50").count() == 0


def test_dv_masks_carry_onto_branches(spark, tmp_path):
    """A branch forked from a masked version stays masked: the fork
    record copies the mask refs, appends inherit them, and publish
    keeps main's own masks."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_branch_append,
        lake_branch_create,
        lake_publish_branch,
        read_branch,
    )

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 300).repartitionByRange(2, "k"), lake)  # v1
    lake_delete(spark, lake, "k % 3 = 0", col_types={"k": "bigint"}, use_dv=True)  # v2
    lake_branch_create(lake, "b")
    assert read_branch(spark, lake, "b").count() == 200  # mask carried
    lake_branch_append(
        spark, lake, "b",
        spark.range(1000, 1050).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
    )
    b = read_branch(spark, lake, "b")
    assert b.count() == 250
    assert b.filter("k % 3 = 0 AND k < 300").count() == 0
    lake_publish_branch(lake, "b")
    cur = read_snapshot(spark, lake)
    assert cur.count() == 250
    assert cur.filter("k % 3 = 0 AND k < 300").count() == 0


def test_dv_mask_aware_metadata_count_fast_path(spark, tmp_path):
    """Round 13 (VERDICT r12 ask #5): predicated lake_count no longer
    degrades wholesale under live DVs — interior files contribute
    file_rows − dv_rows UNOPENED (their data pages are garbled to
    prove it), none-match files are skipped (garbled too), and only
    the boundary file is read, through the mask-applying reader."""
    import pyarrow.parquet as pq

    from mlb_data_pipeline_spark.catalog import lake_count, register_lake_table

    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1000).repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_dv_fast", lake)
    lake_delete(spark, lake, "k % 10 = 3", col_types={"k": "bigint"}, use_dv=True)

    # per-file k-ranges from footers (classification's own source)
    stats = []
    for n in snapshot_info(lake)["files"]:
        md = pq.ParquetFile(os.path.join(lake, n)).metadata
        i = md.schema.names.index("k")
        los = [md.row_group(g).column(i).statistics.min for g in range(md.num_row_groups)]
        his = [md.row_group(g).column(i).statistics.max for g in range(md.num_row_groups)]
        stats.append((min(los), max(his), n))
    stats.sort()
    assert len(stats) == 4
    # box [0, hi] with hi strictly inside file 3's range: files 1-2
    # interior, file 3 boundary, file 4 none-match
    hi = (stats[2][0] + stats[2][1]) // 2
    assert stats[2][0] < hi < stats[2][1] and stats[3][0] > hi

    def garble(name):
        with open(os.path.join(lake, name), "r+b") as fh:
            fh.write(b"\xde\xad" * 32)

    garble(stats[0][2])  # interior — counted from metadata, never read
    garble(stats[1][2])  # interior
    garble(stats[3][2])  # none-match — skipped
    masked = sum(1 for k in range(0, hi + 1) if k % 10 == 3)
    expect = (hi + 1) - masked
    assert lake_count(spark, "t_dv_fast", f"k BETWEEN 0 AND {hi}") == expect
    # bare COUNT(*) stays the metadata sum (mask-subtracting)
    assert lake_count(spark, "t_dv_fast") == 900


def test_dv_on_hive_partitioned_lake(spark, tmp_path):
    """Round 13: a partitioned lake's live list carries
    directory-relative names, and every task of a partitioned write
    reuses its ``part-NNNNN`` basename in each leaf it writes — masks
    (``dv_rows``, the sidecars' ``file``, the reader's ``__file``) are
    keyed by the lake-relative name, so the metadata row count
    subtracts the mask and reads mask only the deleted positions, never
    the same positions of a sibling leaf's same-named file."""
    from mlb_data_pipeline_spark.operators.snapshots import snapshot_row_count

    lake = str(tmp_path / "lake")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 4).cast("long").alias("p"),
    )
    lake_write(spark, df, lake, partition_by=["p"])
    rep = lake_delete(
        spark, lake, "k BETWEEN 100 AND 149", col_types={"k": "bigint"}, use_dv=True
    )
    assert rep["rows_deleted"] == 50 and rep["files_rewritten"] == 0
    cur = read_snapshot(spark, lake)
    assert cur.count() == 350
    assert cur.filter("k BETWEEN 100 AND 149").count() == 0
    # metadata COUNT(*) subtracts the mask despite partition-dir names
    assert snapshot_row_count(lake) == 350
    # time travel: unmasked
    assert read_snapshot(spark, lake, 1).count() == 400


def _colliding_lake(spark, lake):
    """A lake whose three string leaves all hold the same
    ``part-00000-<uuid>`` basename (one task writes every leaf). ``c:d``
    is stored Hive-escaped (``s=c%3Ad``) and ``a b`` raw; Spark reads
    both back percent-encoded."""
    s = F.element_at(
        F.array(F.lit("a b"), F.lit("c:d"), F.lit("e")), (F.col("id") % 3 + 1).cast("int")
    )
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), s.alias("s")
    )
    lake_write(spark, df.repartition(1), lake, partition_by=["s"])
    files = snapshot_info(lake)["files"]
    assert len(files) == 3 and len({os.path.basename(n) for n in files}) == 1
    return files


def _ks(df):
    return sorted(r["k"] for r in df.select("k").collect())


def test_dv_masks_only_its_own_leaf_when_basenames_collide(spark, tmp_path):
    """Masks are keyed by lake-relative name: a DV delete in one leaf
    leaves the same positions of the sibling leaves' same-named files
    alone, on every reader — the snapshot read, the metadata row
    count, CDC, and a branch delete published to main."""
    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_branch_create,
        lake_publish_branch,
    )

    lake = str(tmp_path / "lake")
    _colliding_lake(spark, lake)  # v1
    ct = {"k": "bigint", "s": "string"}
    rep = lake_delete(spark, lake, "s = 'c:d' AND k < 150", col_types=ct, use_dv=True)  # v2
    gone = [k for k in range(150) if k % 3 == 1]
    assert rep["rows_deleted"] == len(gone) == 50 and rep["files_dv"] == 1
    cur = read_snapshot(spark, lake)
    assert _ks(cur.filter("s = 'a b'")) == list(range(0, 300, 3))
    assert _ks(cur.filter("s = 'e'")) == list(range(2, 300, 3))
    assert _ks(cur.filter("s = 'c:d'")) == [k for k in range(1, 300, 3) if k >= 150]
    assert snapshot_row_count(lake) == cur.count() == 250
    assert all("/" in f for f in snapshot_info(lake)["dv_rows"])
    ch = read_changes(spark, lake, 1, 2)
    assert ch.filter("__change != 'delete' OR __n != 1").count() == 0
    assert _ks(ch) == gone

    # a branch DV delete in another leaf masks the same rows on main
    lake_branch_create(lake, "b")
    lake_delete(
        spark, lake, "s = 'a b' AND k >= 240", col_types=ct, use_dv=True, branch="b"
    )
    lake_publish_branch(lake, "b")
    cur = read_snapshot(spark, lake)
    assert _ks(cur.filter("s = 'a b'")) == list(range(0, 240, 3))
    assert _ks(cur.filter("s = 'e'")) == list(range(2, 300, 3))
    assert _ks(cur.filter("s = 'c:d'")) == [k for k in range(1, 300, 3) if k >= 150]
    assert snapshot_row_count(lake) == cur.count() == 230


def _stage_legacy_dv(spark, lake, rel, positions):
    """Commit a mask the way records written before lake-relative keys
    did: the sidecar's ``file`` and the record's ``dv_rows`` keyed by
    the file's basename."""
    import uuid

    base = os.path.basename(rel)
    side = f"dv-legacy-{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [(base, int(p)) for p in positions], "file string, pos long"
    ).coalesce(1).write.parquet(os.path.join(lake, "_snapshots", "dv", side))
    return S._commit_filechange(
        lake, S.current_version(lake), removed=set(), added=set(), op="delete",
        dv_add=[side], dv_rows_add={base: len(positions)},
        masked_files={rel}, planned_dv_rows={}, dv_files_add={side: [base]},
    )


def test_dv_legacy_basename_keys_resolve_or_refuse(spark, tmp_path):
    """A basename key that names no live file resolves to the one live
    file with that basename; when several live files share it the read
    and the row count raise instead of guessing."""
    import re

    lake = str(tmp_path / "lake")
    for i, s in enumerate(("a b", "c:d")):  # one write per leaf: distinct basenames
        df = spark.range(100 * i, 100 * i + 100).select(
            F.col("id").alias("k"), F.lit(s).alias("s")
        )
        lake_write(spark, df.coalesce(1), lake, partition_by=["s"])
    rel = next(n for n in snapshot_info(lake)["files"] if n.startswith("s=c"))
    raw = spark.read.parquet(os.path.join(lake, rel)).select("k", "_metadata.row_index")
    masked = sorted(r["k"] for r in raw.filter("row_index < 3").collect())
    _stage_legacy_dv(spark, lake, rel, [0, 1, 2])
    cur = read_snapshot(spark, lake)
    assert _ks(cur) == sorted(set(range(200)) - set(masked))
    assert snapshot_row_count(lake) == 197

    amb = str(tmp_path / "amb")
    files = _colliding_lake(spark, amb)
    _stage_legacy_dv(spark, amb, files[0], [0, 1])
    base = re.escape(os.path.basename(files[0]))
    with pytest.raises(ValueError, match=base):
        read_snapshot(spark, amb)
    with pytest.raises(ValueError, match=base):
        snapshot_row_count(amb)
