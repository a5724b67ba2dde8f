"""Per-file column stats in the commit record (operators/snapshots.py).

Every commit records, next to ``file_rows``, each live file's
{"min", "max", "nulls"} column stats (``file_stats``), folded by
``layout._footer_stats`` from the one footer open that also counts the
file's rows. Snapshot DML, ``lake_merge``'s key probe, OPTIMIZE's
dirty-set pick and branch publish plan from the record instead of
reopening footers; records written before the stats leg fall back to
the footers.

The footer-open proofs wrap ``pyarrow.parquet.ParquetFile`` and check
which files an operation opened: only the files it wrote."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.catalog import lake_explain_delete, register_lake_table
from mlb_data_pipeline_spark.operators import snapshots as S
from mlb_data_pipeline_spark.operators.layout import file_stats, optimize_clustered
from mlb_data_pipeline_spark.operators.snapshots import (
    lake_branch_append,
    lake_branch_create,
    lake_delete,
    lake_merge,
    lake_publish_branch,
    lake_rename_column,
    lake_rollback,
    lake_update,
    lake_write,
    read_snapshot,
    snapshot_info,
    vacuum_lake,
)

CT = {"k": "bigint", "v": "double"}


def _rows(spark, lo, hi):
    """k, a double with NULLs, a date, a timestamp and a string (no
    exact stats) — every kind the stats fold handles."""
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(F.col("id") * 0.5).alias("v"),
        F.date_add(F.lit(dt.date(2020, 1, 1)), F.col("id").cast("int")).alias("d"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )


@pytest.fixture()
def opened(monkeypatch):
    """The paths every ``pyarrow.parquet.ParquetFile`` is opened on."""
    real = pq.ParquetFile
    log: list[str] = []

    class Spy(real):
        def __init__(self, source, *args, **kwargs):
            log.append(str(source))
            super().__init__(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Spy)
    return log


def _rel(lake, log):
    return sorted(os.path.relpath(p, lake) for p in log)


def _added(lake, before: set[str]) -> set[str]:
    return set(snapshot_info(lake)["files"]) - before


def _assert_entries_match_footers(lake):
    """Every live file's record entry equals ``file_stats`` of its
    footer over every column it stores."""
    info = snapshot_info(lake)
    assert set(info["file_stats"]) == set(info["files"])
    for n in info["files"]:
        cols = pq.ParquetFile(os.path.join(lake, n)).schema.names
        want = file_stats(lake, cols, [n])[0]
        assert info["file_rows"][n] == want["rows"], n
        assert info["file_stats"][n] == {k: want[k] for k in ("min", "max", "nulls")}, n


def test_dml_optimize_and_publish_open_only_the_footers_they_wrote(spark, tmp_path, opened):
    lake = str(tmp_path / "lake")
    lake_write(spark, _rows(spark, 0, 1000).repartitionByRange(4, "k"), lake)

    def run(op):
        before = set(snapshot_info(lake)["files"])
        opened.clear()
        op()
        return _rel(lake, opened), _added(lake, before)

    # rewrite delete: each new file's footer once, for the row count
    # and the commit both
    got, added = run(lambda: lake_delete(spark, lake, "k BETWEEN 100 AND 149", col_types=CT))
    assert added and got == sorted(added)
    # a deletion-vector delete writes no data file and opens nothing
    got, added = run(
        lambda: lake_delete(spark, lake, "k BETWEEN 300 AND 310", col_types=CT, use_dv=True)
    )
    assert not added and got == []
    got, added = run(lambda: lake_update(spark, lake, {"v": "v + 1"}, "k >= 900", col_types=CT))
    assert added and got == sorted(added)
    src = _rows(spark, 500, 510).withColumn("v", F.lit(-5.0))
    got, added = run(lambda: lake_merge(spark, lake, src, "k"))
    assert added and got == sorted(added)
    got, added = run(
        lambda: optimize_clustered(spark, lake, [("k", 0, 1000)], bits=8, min_rows=10_000)
    )
    assert added and got == sorted(added)

    lake_branch_create(lake, "b")
    lake_branch_append(spark, lake, "b", _rows(spark, 2000, 2100).repartition(2))
    got, added = run(lambda: lake_publish_branch(lake, "b"))
    assert len(added) == 2 and got == []
    assert read_snapshot(spark, lake).count() == 1000 - 50 - 11 + 100
    _assert_entries_match_footers(lake)


def test_record_stats_equal_footer_stats_through_every_commit_kind(spark, tmp_path, monkeypatch):
    lake = str(tmp_path / "lake")
    steps = [
        lambda: lake_write(spark, _rows(spark, 0, 800).repartitionByRange(4, "k"), lake),
        lambda: lake_write(spark, _rows(spark, 800, 900).coalesce(1), lake),
        lambda: lake_delete(spark, lake, "k BETWEEN 100 AND 149", col_types=CT),
        lambda: lake_delete(spark, lake, "k BETWEEN 300 AND 310", col_types=CT, use_dv=True),
        lambda: lake_update(spark, lake, {"v": "v * 2"}, "k >= 700", col_types=CT),
        lambda: lake_merge(spark, lake, _rows(spark, 500, 520), "k"),
        lambda: optimize_clustered(spark, lake, [("k", 0, 900)], bits=8, max_span_frac=0.3),
        lambda: lake_rename_column(lake, "v", "w"),
    ]
    for step in steps:
        step()
        _assert_entries_match_footers(lake)
    # from here on every head is sharded: the stats ride in the shards
    monkeypatch.setattr(S, "_MANIFEST_SHARD_THRESHOLD", 3)
    renamed = _rows(spark, 2000, 2060).withColumnRenamed("v", "w")
    steps = [
        lambda: lake_branch_create(lake, "b"),
        lambda: lake_branch_append(spark, lake, "b", renamed.coalesce(2)),
        lambda: lake_publish_branch(lake, "b"),
        lambda: lake_write(spark, _rows(spark, 3000, 3010).withColumnRenamed("v", "w"), lake),
        lambda: lake_rollback(lake, 3),
    ]
    for step in steps:
        step()
        _assert_entries_match_footers(lake)
    with open(os.path.join(lake, "_snapshots", f"v{S.current_version(lake):012d}.json")) as fh:
        raw = json.load(fh)
    assert "manifest_refs" in raw and "file_stats" not in raw


def _strip_stats(lake):
    d = os.path.join(lake, "_snapshots")
    for n in os.listdir(d):
        if n.endswith(".json") and n.startswith("v"):
            with open(os.path.join(d, n)) as fh:
                rec = json.load(fh)
            rec.pop("file_stats", None)
            with open(os.path.join(d, n), "w") as fh:
                json.dump(rec, fh)


def test_records_without_stats_plan_from_the_footers(spark, tmp_path):
    """A lake whose records predate the stats leg classifies, merges
    and compacts exactly like one whose records carry them."""
    with_stats = str(tmp_path / "with")
    lake_write(spark, _rows(spark, 0, 1000).repartitionByRange(5, "k"), with_stats)
    old = str(tmp_path / "old")
    shutil.copytree(with_stats, old)
    _strip_stats(old)
    assert "file_stats" not in snapshot_info(old)
    register_lake_table(spark, "t_stats_new", with_stats)
    register_lake_table(spark, "t_stats_old", old)
    for pred in ("k BETWEEN 0 AND 199", "k BETWEEN 150 AND 420", "v IS NULL", "k > 5000"):
        a = lake_explain_delete(spark, "t_stats_new", pred)
        b = lake_explain_delete(spark, "t_stats_old", pred)
        assert (a["drop"], a["keep"], a["rewrite"]) == (b["drop"], b["keep"], b["rewrite"]), pred

    def dml(lake):
        return [
            lake_delete(spark, lake, "k BETWEEN 0 AND 199", col_types=CT),
            lake_delete(spark, lake, "k BETWEEN 150 AND 420", col_types=CT),
            lake_delete(spark, lake, "k BETWEEN 600 AND 610", col_types=CT, use_dv=True),
            lake_update(spark, lake, {"v": "v + 1"}, "k >= 900", col_types=CT),
            lake_merge(spark, lake, _rows(spark, 700, 720), "k"),
            optimize_clustered(spark, lake, [("k", 0, 1000)], bits=8, max_span_frac=0.3),
        ]

    def strip_names(rep):
        return {k: v for k, v in rep.items() if k != "dirty_files"}

    assert [strip_names(r) for r in dml(old)] == [strip_names(r) for r in dml(with_stats)]
    rows = lambda lake: sorted(tuple(r) for r in read_snapshot(spark, lake).collect())  # noqa: E731
    assert rows(old) == rows(with_stats)


def test_vacuum_reads_each_record_once(spark, tmp_path, monkeypatch):
    lake = str(tmp_path / "lake")
    for i in range(7):
        lake_write(spark, _rows(spark, i * 10, i * 10 + 10).coalesce(1), lake)
    calls: list[tuple] = []
    real = S._ref_info

    def counting(path, version=None, branch=None):
        calls.append((version, branch))
        return real(path, version, branch)

    monkeypatch.setattr(S, "_ref_info", counting)
    rep = vacuum_lake(lake, keep_last=2, retain_s=3600)
    assert sorted(calls) == [(v, None) for v in range(1, 8)]
    assert rep == {
        "removed_files": 0,
        "expired_snapshots": 0,
        "retained_versions": list(range(1, 8)),
        "orphans_in_grace": 0,
        "removed_dvs": 0,
        "removed_manifests": 0,
    }
