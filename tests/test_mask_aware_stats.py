"""Round 14 — mask-aware ``lake_min_max`` and NDV under live deletion
vectors (VERDICT r13 ask #4, What's-missing #3): a file whose dv_rows
entry is absent/zero has no masked rows, so its footer stats and
persisted sketches stay EXACT — only genuinely masked files read
(through the mask-applying snapshot reader). Previously any live DV
degraded both paths wholesale to a full pruned scan.

Proofs follow the suite convention: garble the data pages of files the
metadata path must never open — a correct answer on a garbled lake IS
the proof the shortcut held."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mlb_data_pipeline_spark.catalog import (
    lake_approx_distinct,
    lake_min_max,
    register_lake_table,
)
from mlb_data_pipeline_spark.operators.layout import (
    file_stats,
    save_ndv_manifest,
)
from mlb_data_pipeline_spark.operators.snapshots import (
    lake_delete,
    lake_write,
    snapshot_info,
)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("long").alias("v")
    )


def _corrupt_data_pages(path, name):
    p = os.path.join(path, name)
    size = os.path.getsize(p)
    n = min(64, max(0, size - 1024))
    with open(p, "r+b") as fh:
        fh.write(b"\xde\xad" * (n // 2))


def test_minmax_exact_under_dv_with_unmasked_interior_garbled(spark, tmp_path):
    """Mask only the top-range file; the middle file (unmasked, not an
    extreme candidate) is garbled — the metadata path must answer the
    exact live extremes without opening it."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 400).repartitionByRange(4, "k"), lake)
    register_lake_table(spark, "t_mm_dv", lake)
    # mask the global max row (it lives in the top-range file)
    lake_delete(spark, lake, "k = 399", col_types={"k": "bigint"}, use_dv=True)
    assert snapshot_info(lake).get("dv_rows")
    # the second file is unmasked and — with the top file masked — is
    # neither the unmasked-min nor the unmasked-max candidate (file 0
    # holds lo_best, file 2 hi_best among unmasked): never opened
    stats = sorted(file_stats(lake, ["k"]), key=lambda fs: fs["min"]["k"])
    assert len(stats) == 4
    _corrupt_data_pages(lake, stats[1]["file"])
    row = lake_min_max(spark, "t_mm_dv", "k").head()
    assert (row["min_k"], row["max_k"]) == (0, 398)  # masked 399 gone
    # with a box pinned to the masked file's range the answer still
    # reads through the mask
    row2 = lake_min_max(spark, "t_mm_dv", "k", f"k BETWEEN {stats[3]['min']['k']} AND 500").head()
    assert row2["max_k"] == 398


def test_minmax_masked_min_does_not_shadow_unmasked_candidates(spark, tmp_path):
    """The masked file holds the smallest footer lo, but its min row is
    masked — candidacy must come from UNMASKED stats so the true live
    min (in another file) is read, not skipped."""
    lake = str(tmp_path / "lake")
    lake_write(spark, _kv(spark, 0, 200).repartitionByRange(2, "k"), lake)
    register_lake_table(spark, "t_mm_dv2", lake)
    # mask the ENTIRE low half of the low file: its live min moves up
    lake_delete(spark, lake, "k < 50", col_types={"k": "bigint"}, use_dv=True)
    row = lake_min_max(spark, "t_mm_dv2", "k").head()
    assert (row["min_k"], row["max_k"]) == (50, 199)


def test_ndv_exact_under_dv_with_unmasked_files_garbled(spark, tmp_path):
    """Persisted sketches answer for unmasked files UNOPENED (garbled
    to prove it); the masked file re-sketches its live rows, so values
    unique to masked rows drop out of the estimate."""
    lake = str(tmp_path / "lake")
    ndv_m = str(tmp_path / "ndv_m")
    # v doubles k, so distinct v == live row count exactly
    lake_write(spark, _kv(spark, 0, 3000).repartitionByRange(3, "k"), lake)
    save_ndv_manifest(spark, lake, ["v"], ndv_m)
    register_lake_table(spark, "t_ndv_dv", lake, ndv_manifest=ndv_m)
    # mask 100 rows confined to the top-range file
    lake_delete(
        spark, lake, "k BETWEEN 2900 AND 2999", col_types={"k": "bigint"}, use_dv=True
    )
    stats = sorted(file_stats(lake, ["k"]), key=lambda fs: fs["min"]["k"])
    for fs in stats[:-1]:  # garble every UNMASKED file
        _corrupt_data_pages(lake, fs["file"])
    got = lake_approx_distinct(spark, "t_ndv_dv", "v")
    assert abs(got - 2900) / 2900 < 0.06
    # an exact box over the two garbled (unmasked, interior) files:
    # pure persisted-sketch math
    hi = int(stats[1]["max"]["k"])
    got_box = lake_approx_distinct(spark, "t_ndv_dv", "v", f"k BETWEEN 0 AND {hi}")
    assert abs(got_box - (hi + 1)) / (hi + 1) < 0.06
