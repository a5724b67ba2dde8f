"""Round 12 — stats-pruned TIME TRAVEL (VERDICT r11 ask #3).

A file's recorded stats (footer min/max, null count, row count) and a
Bloom bitmap are immutable facts about a FILE — true at every version
that references it. Historical reads therefore prune through the SAME
stats as head reads: ``lake_scan(version=)`` intersects the
version's file list with the keep set, ``lake_count(version=)`` /
``lake_min_max(version=)`` route through the metadata aggregates with
the version's list as the inventory, and ``lake_explain(version=)``
reports the decision. Proofs follow the suite convention: garble the
files the plan must never open and run the op."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.catalog import (
    lake_count,
    lake_explain,
    lake_min_max,
    lake_scan,
    register_lake_table,
)
from mlb_data_pipeline_spark.operators.snapshots import (
    lake_delete,
    lake_write,
    read_snapshot,
    snapshot_files,
)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


@pytest.fixture()
def tt_lake(spark, tmp_path):
    """k range-clustered over 8 files of 200 keys each; v1 = all 1600
    rows, v2 = pruned DELETE of k >= 1200 (the two top files drop
    unopened). The dropped files stay on disk, and v1's record keeps
    their stats — exactly the 'compare to last quarter' shape time
    travel exists for."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 1600).repartitionByRange(8, "k"), lake)  # v1
    lake_delete(spark, lake, "k >= 1200", col_types={"k": "bigint", "v": "bigint"})  # v2
    name = f"tt_{os.path.basename(str(tmp_path))}"
    register_lake_table(spark, name, lake)
    return lake, name


def test_time_travel_scan_prunes_and_matches(spark, tt_lake):
    lake, name = tt_lake
    pred = "k BETWEEN 0 AND 199"
    df = lake_scan(spark, name, pred, version=1)
    # parity with the unpruned historical read
    want = read_snapshot(spark, lake, 1).filter(pred)
    assert df.count() == want.count() == 200
    assert df.agg(F.sum("v")).head()[0] == want.agg(F.sum("v")).head()[0]
    # the plan READS a strict subset of v1's files — pinned from the
    # DataFrame's own input files, not the explainer
    read_names = {os.path.basename(p) for p in df.inputFiles()}
    v1_names = {os.path.basename(n) for n in snapshot_files(lake, 1)}
    assert read_names < v1_names and len(read_names) <= 2


def test_time_travel_explain_matches_scan(spark, tt_lake):
    lake, name = tt_lake
    pred = "k BETWEEN 0 AND 199"
    rep = lake_explain(spark, name, pred, version=1)
    assert rep["files_total"] == len(snapshot_files(lake, 1))
    assert rep["skip_frac"] > 0
    kept = rep["files_kept"]
    read_names = {os.path.basename(p) for p in lake_scan(spark, name, pred, version=1).inputFiles()}
    assert kept == len(read_names)
    # head explain still reports against the (smaller) head list
    head_rep = lake_explain(spark, name, pred)
    assert head_rep["files_total"] == len(snapshot_files(lake, 2))


def test_time_travel_scan_never_opens_skipped_files(spark, tt_lake):
    """Garble a v1 file the box provably excludes: the pruned
    historical scan still answers; the unpruned historical read
    crashes — the skip is real, not cosmetic."""
    lake, name = tt_lake
    pred = "k BETWEEN 0 AND 199"
    # the file holding k in [400, 599] is excluded by the box at v1
    victim = next(
        n
        for n in snapshot_files(lake, 1)
        if spark.read.parquet(os.path.join(lake, n)).agg(F.min("k")).head()[0] == 400
    )
    # WHOLE-file corruption: the pruned historical scan never opens
    # the file (not even its footer — stats come from the record),
    # while any read that touches it dies on the missing magic
    with open(os.path.join(lake, victim), "wb") as fh:
        fh.write(b"not parquet at all")
    df = lake_scan(spark, name, pred, version=1)
    assert df.count() == 200
    with pytest.raises(Exception):
        read_snapshot(spark, lake, 1).agg(F.sum("v")).head()


def test_time_travel_count_interior_unopened(spark, tt_lake):
    """lake_count at a historical version counts interior files from
    record row counts — garble EVERY interior file of the box and
    the metadata count still answers."""
    lake, name = tt_lake
    pred = "k BETWEEN 0 AND 599"
    assert lake_count(spark, name, pred, version=1) == 600
    # head count differs at the top of the lake, same at the bottom
    assert lake_count(spark, name, "k >= 1000", version=1) == 600
    assert lake_count(spark, name, "k >= 1000") == 200
    # destroy the three interior files ([0,199], [200,399], [400,599])
    # wholesale: the metadata count still answers, so they were counted
    # from record row counts without a single open
    for n in snapshot_files(lake, 1):
        lo = spark.read.parquet(os.path.join(lake, n)).agg(F.min("k")).head()[0]
        if lo in (0, 200, 400):
            with open(os.path.join(lake, n), "wb") as fh:
                fh.write(b"not parquet at all")
    assert lake_count(spark, name, pred, version=1) == 600


def test_time_travel_minmax_reads_candidates_only(spark, tt_lake):
    lake, name = tt_lake
    row = lake_min_max(spark, name, "v", "k BETWEEN 200 AND 999", version=1).head()
    assert (row["min_v"], row["max_v"]) == (400, 1998)
    # at the head the same predicate sees the same rows (delete was
    # k >= 1200), but a v1-only range answers differently
    row2 = lake_min_max(spark, name, "v", "k >= 1000", version=1).head()
    assert (row2["min_v"], row2["max_v"]) == (2000, 3198)
    row3 = lake_min_max(spark, name, "v", "k >= 1000").head()
    assert (row3["min_v"], row3["max_v"]) == (2000, 2398)


def test_as_of_timestamp_resolution(spark, tt_lake):
    """SELECT ... AS OF TIMESTAMP through the catalog: an instant
    between v1 and v2 reads v1 (pruned, same rules); after v2, v2."""
    import time

    from mlb_data_pipeline_spark.operators.snapshots import snapshot_info

    lake, name = tt_lake
    t1 = snapshot_info(lake, 1)["ts"]
    t2 = snapshot_info(lake, 2)["ts"]
    mid = (t1 + t2) / 2
    assert lake_scan(spark, name, as_of_ts=mid).count() == 1600
    assert lake_scan(spark, name, "k BETWEEN 0 AND 199", as_of_ts=mid).count() == 200
    assert lake_scan(spark, name, as_of_ts=time.time()).count() == 1200
    with pytest.raises(ValueError, match="not both"):
        lake_scan(spark, name, version=1, as_of_ts=mid)
    with pytest.raises(ValueError, match="at or before"):
        lake_scan(spark, name, as_of_ts=t1 - 10)
