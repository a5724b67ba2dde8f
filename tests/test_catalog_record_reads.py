"""Catalog reads plan from the commit record and read through it
(catalog.py ``_lake_info``, ``snapshots._lake_file_stats`` and
``snapshots._read_files``).

Registration adopts a plain parquet lake into the snapshot log
(``snapshots._adopt``), so every registered table is a snapshot lake.
Every ``lake_*`` read resolves its ref (head, version, branch) to one
record, prunes with the record's per-file stats under the one per-file
rule (``layout._skip_rules`` / ``layout._all_rows_match``) and reads the
kept files through ``snapshots._read_files``, so deletion-vector masks
and column mapping hold on every read. The differential's
``diff_adopted`` lake starts as plain parquet that its first DML
adopts."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.catalog import (
    lake_count,
    lake_explain,
    lake_join_scan,
    lake_min_max,
    lake_scan,
    register_lake_table,
)
from mlb_data_pipeline_spark.operators import snapshots as S
from mlb_data_pipeline_spark.operators.snapshots import (
    lake_branch_append,
    lake_branch_create,
    lake_delete,
    lake_rename_column,
    lake_write,
)


def _rows(spark, lo, hi, with_p=False):
    """k, a double ``v`` that is NULL on every fifth row, optionally a
    partition column ``p``."""
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.col("id") * 0.5).alias("v"),
    )
    return df.withColumn("p", (F.col("k") % 3).cast("long")) if with_p else df


def test_join_scan_after_dv_delete_returns_only_live_rows(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _rows(spark, 0, 100).coalesce(1), lake)
    rep = lake_delete(spark, lake, "k BETWEEN 10 AND 19", col_types={"k": "bigint"}, use_dv=True)
    assert rep["files_dv"] == 1
    register_lake_table(spark, "t_join_dv", lake)
    dim = spark.range(10, 30).select(F.col("id").alias("k"), F.lit(1).alias("d"))
    got = sorted(r.k for r in lake_join_scan(spark, "t_join_dv", dim, "k").collect())
    assert got == list(range(20, 30))


def test_join_scan_after_rename_returns_the_logical_column(spark, tmp_path):
    lake = str(tmp_path / "lake")
    lake_write(spark, _rows(spark, 0, 100).repartitionByRange(4, "k"), lake)
    lake_rename_column(lake, "v", "w")
    register_lake_table(spark, "t_join_ren", lake)
    dim = spark.range(40, 44).select(F.col("id").alias("k"))
    out = lake_join_scan(spark, "t_join_ren", dim, "k")
    assert "v" not in out.columns
    got = sorted((r.k, r.w) for r in out.collect())
    assert got == [(k, None if k % 5 == 0 else k * 0.5) for k in range(40, 44)]


def test_explain_prunes_by_record_stats_with_no_footer_and_no_job(spark, tmp_path, monkeypatch):
    """A 4-file range-partitioned snapshot lake with no registered
    manifest: the record's stats prove 3 files irrelevant. Planning
    opens no parquet footer and runs no Spark job."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _rows(spark, 0, 400).repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_rec_explain", lake)

    opened: list[str] = []
    real = pq.ParquetFile

    class Spy(real):
        def __init__(self, source, *args, **kwargs):
            opened.append(str(source))
            super().__init__(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Spy)
    pred = "k BETWEEN 0 AND 10"
    (ex, _), jobs = _jobs(
        spark,
        "record-planned-explain",
        lambda: (lake_explain(spark, "t_rec_explain", pred), lake_scan(spark, "t_rec_explain", pred)),
    )
    assert (ex["files_total"], ex["files_skipped"]) == (4, 3)
    assert all(r == ["stats"] for r in ex["skipped"].values())
    assert opened == []
    assert jobs == 0


def _jobs(spark, group, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_count_of_an_integral_in_reads_its_boundary_files_once(spark, tmp_path):
    """An integral IN counts as the union of its point boxes: the
    boundary files of every point are read together, in no more jobs
    than the pruned scan's own count."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _rows(spark, 0, 400).repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_count_in", lake)
    pred = "k IN (5, 7, 150, 250, 350)"
    n, jobs = _jobs(spark, "count-in", lambda: lake_count(spark, "t_count_in", pred))
    m, scan_jobs = _jobs(spark, "scan-in", lambda: lake_scan(spark, "t_count_in", pred).count())
    assert n == m == 5
    assert jobs <= scan_jobs


def test_count_of_an_in_keeps_the_range_on_its_column(spark, tmp_path):
    """An IN point outside a range bound on the same column matches
    nothing. A file whose stats pin the column to that point (a
    partition leaf, or a flat file of one value) must not be counted
    from metadata."""
    part = str(tmp_path / "part")
    lake_write(spark, _rows(spark, 0, 300, with_p=True), part, partition_by=["p"])
    register_lake_table(spark, "t_in_range_part", part)
    flat = str(tmp_path / "flat")
    lake_write(spark, spark.range(0, 10).select(F.lit(5).cast("long").alias("k")).coalesce(1), flat)
    lake_write(spark, spark.range(100, 200).select(F.col("id").alias("k")).coalesce(1), flat)
    register_lake_table(spark, "t_in_range_flat", flat)
    for table, pred in (
        ("t_in_range_part", "p IN (0, 2) AND p >= 1"),
        ("t_in_range_part", "p IN (0, 1) AND p BETWEEN 1 AND 2 AND k < 150"),
        ("t_in_range_part", "p IN (0) AND p >= 1"),
        ("t_in_range_flat", "k IN (5, 150) AND k BETWEEN 100 AND 200"),
        ("t_in_range_flat", "k IN (5, 150) AND k >= 6"),
    ):
        want = lake_scan(spark, table, pred).count()
        assert lake_count(spark, table, pred) == want, pred
    assert lake_count(spark, "t_in_range_part", "p IN (0, 2) AND p >= 1") == 100


# ---------------------------------------------------------------------------
# Differential: every catalog read equals the ref's own read + filter.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def _lakes(spark, tmp_path_factory):
    """A flat and a partitioned snapshot lake and a flat plain parquet
    lake (``diff_adopted``, which its first DML adopts as v1, recording
    its schema), each taken through a rewrite delete (v2), a DV delete
    (v3), a rename v -> w and a branch ``b`` with an append. Returns
    {table name: lake path}."""
    base = tmp_path_factory.mktemp("record_reads")
    out = {}
    for name, with_p in (("diff_flat", False), ("diff_part", True), ("diff_adopted", False)):
        lake = str(base / name)
        df = _rows(spark, 0, 600, with_p).repartitionByRange(4, "k")
        if name == "diff_adopted":
            df.write.parquet(lake)
        else:
            lake_write(spark, df, lake, partition_by=["p"] if with_p else None)
        ct = {"k": "bigint", "v": "double"}
        lake_delete(spark, lake, "k BETWEEN 100 AND 160", col_types=ct)
        rep = lake_delete(spark, lake, "k BETWEEN 300 AND 330", col_types=ct, use_dv=True)
        assert rep["files_dv"] >= 1
        lake_rename_column(lake, "v", "w")
        lake_branch_create(lake, "b")
        add = _rows(spark, 600, 700, with_p).withColumnRenamed("v", "w")
        lake_branch_append(spark, lake, "b", add.coalesce(1))
        register_lake_table(spark, name, lake)
        out[name] = lake
    assert S.lake_history(out["diff_adopted"])[0]["op"] == "adopt"
    return out


_NUM = st.integers(min_value=-20, max_value=720)


@st.composite
def _leaf(draw, vcol, with_p):
    # boxes on the NULL-bearing column are weighted up: a file inside
    # them on its min/max still holds rows the box excludes; on the
    # partitioned lake every leaf pins ``p`` to one value, so an IN and
    # a range on ``p`` meet files that lie wholly inside one point
    kinds = ["box", "ge", "lt", "in", "null", "vbox", "vbox", "vbox"]
    kind = draw(st.sampled_from(kinds + ["pin", "prange", "pboth"] * 2 if with_p else kinds))
    pin = f"p IN ({', '.join(map(str, draw(st.lists(st.integers(0, 2), min_size=1, max_size=3))))})"
    prange = f"p {draw(st.sampled_from(['>=', '<=', '>', '<', '=']))} {draw(st.integers(0, 2))}"
    if kind in ("pin", "prange"):
        return pin if kind == "pin" else prange
    if kind == "pboth":
        return f"{pin} AND {prange}"
    if kind == "box":
        a, b = sorted((draw(_NUM), draw(_NUM)))
        return f"k BETWEEN {a} AND {b}"
    if kind == "ge":
        return f"k >= {draw(_NUM)}"
    if kind == "lt":
        return f"k < {draw(_NUM)}"
    if kind == "in":
        vals = draw(st.lists(_NUM, min_size=1, max_size=4))
        return f"k IN ({', '.join(map(str, vals))})"
    if kind == "null":
        return f"{vcol} IS {draw(st.sampled_from(['NULL', 'NOT NULL']))}"
    a, b = sorted((draw(_NUM), draw(_NUM)))
    return f"{vcol} BETWEEN {a / 2} AND {b / 2}"


@st.composite
def _case(draw):
    table = draw(st.sampled_from(["diff_flat", "diff_part", "diff_adopted"]))
    ref = draw(st.sampled_from(["head", 1, 3, "b"]))
    vcol = "v" if ref in (1, 3) else "w"
    with_p = table == "diff_part"
    pred = draw(_leaf(vcol, with_p))
    if draw(st.booleans()):
        pred = f"{pred} {draw(st.sampled_from(['AND', 'OR']))} {draw(_leaf(vcol, with_p))}"
    return table, ref, vcol, pred


def _ref_kwargs(ref) -> dict:
    if ref == "head":
        return {}
    return {"branch": ref} if ref == "b" else {"version": ref}


def _ref_info(lake, ref) -> dict:
    if ref == "b":
        return S._ref_info(lake, branch="b")
    return S.snapshot_info(lake, None if ref == "head" else ref)


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(case=_case())
def test_catalog_reads_equal_the_refs_filtered_read(spark, _lakes, case):
    table, ref, vcol, pred = case
    lake = _lakes[table]
    kw = _ref_kwargs(ref)
    info = _ref_info(lake, ref)
    whole = S.read_branch(spark, lake, "b") if ref == "b" else S.read_snapshot(spark, lake, kw.get("version"))
    cols = ["k", vcol]
    want = sorted(tuple(r) for r in whole.filter(pred).select(*cols).collect())

    scan = lake_scan(spark, table, pred, **kw)
    assert sorted(tuple(r) for r in scan.select(*cols).collect()) == want, case
    assert lake_count(spark, table, pred, **kw) == len(want), case

    ex = lake_explain(spark, table, pred, **kw)
    skipped = set(ex["skipped"])
    read = {
        os.path.relpath(f.removeprefix("file:"), lake)
        for f in scan.inputFiles()
        if "/_snapshots/" not in f
    }
    assert read == set(info["files"]) - skipped, case
    # no skipped file holds a matching live row (masks applied)
    every = S._read_files(spark, lake, sorted(info["files"]), info, _keep_position_cols=True)
    hit = {r["__file"] for r in every.filter(pred).select("__file").distinct().collect()}
    assert not hit & skipped, case

    if ref != "b":
        for c in cols:
            mm = lake_min_max(spark, table, c, pred, **kw).collect()[0]
            ks = [r[cols.index(c)] for r in want if r[cols.index(c)] is not None]
            assert (mm[f"min_{c}"], mm[f"max_{c}"]) == (
                (min(ks), max(ks)) if ks else (None, None)
            ), case


def test_min_max_interior_files_need_null_free_box_columns(spark, tmp_path):
    """A file whose box-column range lies inside the box still holds
    rows the box excludes when that column has NULLs, so its range of
    the aggregated column cannot stand in for its matching rows: file a
    holds (c NULL, x 0) and (c 5, x 100), file b holds (c 5, x 50).
    The two files sit in the lake root, and again in the non-partition
    subdirectories ``a/`` and ``b/``, which registration adopts like
    any layout: ``lake_scan``, ``lake_count`` and ``lake_min_max``
    equal the plain read of the same files under the predicate."""
    from mlb_data_pipeline_spark.operators.layout import _data_files

    schema = "c bigint, x bigint"
    pred = "c BETWEEN 0 AND 10"
    for layout, subdirs in (("flat", ("", "")), ("subdirs", ("a", "b"))):
        lake = str(tmp_path / layout)
        spark.createDataFrame([(None, 0), (5, 100)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(lake, subdirs[0]))
        spark.createDataFrame([(5, 50)], schema).coalesce(1).write.mode("append").parquet(
            os.path.join(lake, subdirs[1])
        )
        name = f"t_minmax_nulls_{layout}"
        register_lake_table(spark, name, lake)
        files = _data_files(lake)
        assert [os.path.dirname(n) for n in files] == list(subdirs)
        want = S._read_files(spark, lake, files, None).filter(pred)
        assert sorted(lake_scan(spark, name, pred).collect()) == sorted(want.collect()), layout
        assert lake_count(spark, name, pred) == want.count() == 2, layout
        got = lake_min_max(spark, name, "x", pred).head()
        assert (got["min_x"], got["max_x"]) == (50, 100), layout


def test_register_adopts_a_plain_lake_and_is_free_on_a_snapshot_lake(spark, tmp_path, monkeypatch):
    """Registering a plain parquet lake commits v1 = ``adopt`` with its
    files' row counts, stats and schema. Registering a lake that
    already has a snapshot log opens no parquet footer, runs no Spark
    job and commits nothing."""
    lake = str(tmp_path / "lake")
    _rows(spark, 0, 400).repartitionByRange(4, "k").write.parquet(lake)
    register_lake_table(spark, "t_reg_plain", lake)
    info = S.snapshot_info(lake)
    assert [h["op"] for h in S.lake_history(lake)] == ["adopt"]
    assert len(info["files"]) == 4 and sum(info["file_rows"].values()) == 400
    assert set(info["file_stats"]) == set(info["files"]) and info.get("schema")

    opened: list[str] = []
    real = pq.ParquetFile

    class Spy(real):
        def __init__(self, source, *args, **kwargs):
            opened.append(str(source))
            super().__init__(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Spy)
    _, jobs = _jobs(spark, "register-snapshot-lake", lambda: register_lake_table(spark, "t_reg_again", lake))
    assert opened == [] and jobs == 0
    assert [h["op"] for h in S.lake_history(lake)] == ["adopt"]
    assert lake_count(spark, "t_reg_again") == 400


def test_register_raises_and_registers_nothing_when_the_log_cannot_be_written(
    spark, tmp_path, monkeypatch
):
    """A lake directory the session cannot write: the adoption commit
    fails, so registration raises and leaves no catalog entry. A
    missing directory raises too, and is not created."""
    from mlb_data_pipeline_spark.catalog import _LAKE_TABLES
    from mlb_data_pipeline_spark.operators.logstore import PosixLogStore

    missing = str(tmp_path / "no_such_lake")
    with pytest.raises(ValueError, match="no lake directory"):
        register_lake_table(spark, "t_reg_missing", missing)
    assert not os.path.exists(missing)
    assert (spark.sparkContext.applicationId, "t_reg_missing") not in _LAKE_TABLES

    lake = str(tmp_path / "lake")
    _rows(spark, 0, 100).coalesce(1).write.parquet(lake)

    def denied(self, path, data):
        raise PermissionError(13, "Permission denied", path)

    monkeypatch.setattr(PosixLogStore, "put_exclusive", denied)
    with pytest.raises(PermissionError):
        register_lake_table(spark, "t_reg_denied", lake)
    assert (spark.sparkContext.applicationId, "t_reg_denied") not in _LAKE_TABLES
    assert not S.has_snapshots(lake)
