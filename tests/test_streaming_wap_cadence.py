"""Round 14 — the AUTOMATED streaming write-audit-publish cadence
(VERDICT r13 ask #3): ``lake_snapshot_stream(branch=, publish_every=N,
publish_expect_zero=[...])`` publishes the staged branch to main every
N batches from inside ``foreachBatch`` (single writer by construction,
so the head-pinned publish never races), re-forks, and continues —
with exactly-once visibility on main pinned across redelivery and a
kill at any point in the cycle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.operators.snapshots import (
    _ref_info,
    _versions,
    lake_branch_create,
    lake_branches,
    lake_history,
    lake_publish_branch,
    lake_write,
    last_stream_batch_id,
    read_branch,
    read_snapshot,
    snapshot_info,
)
from mlb_data_pipeline_spark.streaming.jobs import lake_snapshot_stream

KV = "k long, v long, src string"


def _kv(spark, lo, hi, tag="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit(tag).alias("src")
    )


def _stream(spark, src):
    return spark.readStream.schema(KV).option("maxFilesPerTrigger", "1").parquet(src)


def test_publish_cadence_stages_and_publishes_twice(spark, tmp_path):
    """4 single-file batches with publish_every=2 → two publish cycles
    in one run; main ends with every staged row exactly once and the
    branch is a fresh fork (empty staging)."""
    lake, src = str(tmp_path / "lake"), str(tmp_path / "src")
    lake_write(spark, _kv(spark, 0, 100, "base").coalesce(1), lake)  # v1
    lake_branch_create(lake, "feed")
    for lo in (100, 200, 300, 400):
        _kv(spark, lo, lo + 100, "staged").coalesce(1).write.mode("append").parquet(src)
    lake_snapshot_stream(
        _stream(spark, src), lake, str(tmp_path / "ckpt"),
        branch="feed", publish_every=2,
    )
    cur = read_snapshot(spark, lake)
    assert cur.count() == 500
    assert cur.filter("src = 'staged'").count() == 400
    # two publish commits landed, each carrying its cadence batch_id
    pubs = [h for h in lake_history(lake) if h["op"] == "publish"]
    assert [p["summary"]["batch_id"] for p in pubs] == [1, 3]
    # the branch was re-forked after the last cycle: staging is empty
    assert "feed" in lake_branches(lake)
    binfo = _ref_info(lake, branch="feed")
    assert binfo["version"] == 1 and binfo["op"] == "branch_fork"
    assert read_branch(spark, lake, "feed").count() == 500


def test_publish_cadence_redelivery_is_exactly_once(spark, tmp_path):
    """A fresh checkpoint redelivers every batch AFTER the branch was
    dropped and re-forked — the guard must find the ids on MAIN's
    publish records and skip them all."""
    lake, src = str(tmp_path / "lake"), str(tmp_path / "src")
    lake_write(spark, _kv(spark, 0, 50, "base").coalesce(1), lake)
    lake_branch_create(lake, "feed")
    for lo in (100, 200):
        _kv(spark, lo, lo + 10, "staged").coalesce(1).write.mode("append").parquet(src)
    lake_snapshot_stream(
        _stream(spark, src), lake, str(tmp_path / "ckpt"),
        branch="feed", publish_every=2,
    )
    assert read_snapshot(spark, lake).count() == 70
    assert last_stream_batch_id(lake) == 1  # on the publish record
    # raw redelivery, fresh checkpoint: nothing re-ingests
    lake_snapshot_stream(
        _stream(spark, src), lake, str(tmp_path / "ckpt2"),
        branch="feed", publish_every=2,
    )
    assert read_snapshot(spark, lake).count() == 70
    assert _ref_info(lake, branch="feed")["version"] == 1


def test_publish_cadence_recovers_from_crash_before_drop(spark, tmp_path):
    """Kill between the publish commit and the branch drop: the next
    batch detects that everything staged is already live on main and
    re-forks WITHOUT publishing twice (and without the stale staged
    names colliding with main's live set)."""
    lake, src = str(tmp_path / "lake"), str(tmp_path / "src")
    lake_write(spark, _kv(spark, 0, 50, "base").coalesce(1), lake)
    lake_branch_create(lake, "feed")
    _kv(spark, 100, 110, "staged").coalesce(1).write.mode("append").parquet(src)
    lake_snapshot_stream(
        _stream(spark, src), lake, str(tmp_path / "ckpt"),
        branch="feed", publish_every=1,
    )
    assert read_snapshot(spark, lake).count() == 60
    # simulate the crash state: a published-but-not-dropped branch
    # (stage a file and publish it manually with drop=False)
    lake_branches(lake)  # branch is the fresh fork
    from mlb_data_pipeline_spark.operators.snapshots import lake_branch_append

    lake_branch_append(spark, lake, "feed", _kv(spark, 200, 210, "s2").coalesce(1))
    lake_publish_branch(lake, "feed", drop=False, summary={"batch_id": 0})
    assert read_snapshot(spark, lake).count() == 70
    assert _versions(lake, "feed")[-1] == 2  # stale staged state
    # next batch arrives: entry detection re-forks; the new batch
    # ingests exactly once; no double publish of the stale files
    _kv(spark, 300, 310, "s3").coalesce(1).write.mode("append").parquet(src)
    lake_snapshot_stream(
        _stream(spark, src), lake, str(tmp_path / "ckpt2"),
        branch="feed", publish_every=1,
    )
    cur = read_snapshot(spark, lake)
    assert cur.count() == 80
    assert cur.filter("src = 's2'").count() == 10  # once, not twice
    assert cur.filter("src = 's3'").count() == 10
    assert _ref_info(lake, branch="feed")["version"] == 1


def test_publish_cadence_gate_fails_stream_loudly(spark, tmp_path):
    """publish_expect_zero: a staged row violating the gate must fail
    the stream at the cadence — nothing publishes, the branch keeps
    the staged rows for branch-DML cleanup."""
    lake, src = str(tmp_path / "lake"), str(tmp_path / "src")
    lake_write(spark, _kv(spark, 0, 50, "base").coalesce(1), lake)
    lake_branch_create(lake, "feed")
    bad = spark.range(100, 110).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 105, F.lit(-1)).otherwise(F.col("id")).cast("long").alias("v"),
        F.lit("staged").alias("src"),
    )
    bad.coalesce(1).write.mode("append").parquet(src)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises((ValueError, StreamingQueryException), match="audit gate failed"):
        lake_snapshot_stream(
            _stream(spark, src), lake, str(tmp_path / "ckpt"),
            branch="feed", publish_every=1, publish_expect_zero=["v < 0"],
        )
    assert read_snapshot(spark, lake).count() == 50  # nothing published
    assert read_branch(spark, lake, "feed").count() == 60  # staged intact


def test_publish_every_requires_branch(spark, tmp_path):
    src = str(tmp_path / "src")
    _kv(spark, 0, 5).coalesce(1).write.parquet(src)
    with pytest.raises(ValueError, match="requires branch"):
        lake_snapshot_stream(
            _stream(spark, src), str(tmp_path / "lake"), str(tmp_path / "ckpt"),
            publish_every=2,
        )


def test_publish_cadence_compacts_staging_before_publish(spark, tmp_path):
    """compact_min_rows: the cadence coalesces the cycle's per-trigger
    files in staging, so main receives compact files — not one file
    per micro-batch."""
    lake, src = str(tmp_path / "lake"), str(tmp_path / "src")
    lake_write(spark, _kv(spark, 0, 50, "base").coalesce(1), lake)
    lake_branch_create(lake, "feed")
    for lo in (100, 200, 300, 400):
        _kv(spark, lo, lo + 25, "staged").coalesce(1).write.mode("append").parquet(src)
    lake_snapshot_stream(
        _stream(spark, src), lake, str(tmp_path / "ckpt"),
        branch="feed", publish_every=4, compact_min_rows=10_000,
    )
    cur = read_snapshot(spark, lake)
    assert cur.count() == 150
    assert cur.filter("src = 'staged'").count() == 100
    # all five small files (base + 4 triggers) coalesced into one
    assert len(snapshot_info(lake)["files"]) == 1
    # replay-safe: redelivery after the compacting publish is a no-op
    lake_snapshot_stream(
        _stream(spark, src), lake, str(tmp_path / "ckpt2"),
        branch="feed", publish_every=4, compact_min_rows=10_000,
    )
    assert read_snapshot(spark, lake).count() == 150
