"""IO layer tests (S1/S2/S4/S8/S10/S11/S12/P7) — FIXTURES.md §B shapes."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.sources import (
    ARTICLES,
    GAME_LOGS,
    PLAYER_STATS,
    TEAMS,
    parse_schedule_payloads,
    read_csv,
    read_json,
    upsert_by_key,
    write_json_single,
    write_partitioned,
)
from mlb_data_pipeline_spark.sources.fixtures import (
    articles_rows,
    game_logs_rows,
    player_stats_raw_csv,
    schedule_payloads,
    teams_raw_csv,
)
from mlb_data_pipeline_spark.sources.writers import delete_by_predicate
from mlb_data_pipeline_spark.sources import warehouse


def _hash(df):
    cols = sorted(df.columns)
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


# ---------------------------------------------------------------- S1: CSV


def test_headerless_teams_csv(spark, tmp_path):
    p = tmp_path / "teams.csv"
    p.write_text(teams_raw_csv())
    df = read_csv(spark, str(p), TEAMS, header=False)
    assert df.count() == 30
    assert df.filter(F.col("team_id") == "BOS").first().nickname == "Red Sox"


def test_player_stats_quoted_csv(spark, tmp_path):
    """Quoted numerics + embedded comma in first column's VALUES parse
    under an explicit schema (reference relies on inferSchema)."""
    p = tmp_path / "player_stats.csv"
    p.write_text(player_stats_raw_csv(50), encoding="utf-8")
    df = read_csv(spark, str(p), PLAYER_STATS, header=True)
    rows = df.collect()
    assert len(rows) == 50
    assert all("," in r.player_name for r in rows)  # 'Last, First' kept intact
    assert df.schema["woba"].dataType.typeName() == "double"
    assert df.filter(F.col("woba").isNull()).count() == 0
    # unicode survives (Sánchez in fixture surnames)
    assert df.filter(F.col("player_name").contains("Sánchez")).count() > 0


def test_game_logs_yyyymmdd_dates(spark, tmp_path):
    rows = game_logs_rows(300)
    lines = []
    for r in rows:
        vals = [r[0].strftime("%Y%m%d")] + ["" if v is None else str(v) for v in r[1:]]
        lines.append(",".join(f'"{v}"' for v in vals))
    p = tmp_path / "gl2024.csv"
    p.write_text("\n".join(lines))
    df = read_csv(spark, str(p), GAME_LOGS, header=False, date_format="yyyyMMdd")
    assert df.count() == 300
    assert df.schema["game_date"].dataType.typeName() == "date"
    assert df.filter(F.col("game_date") == dt.date(2024, 3, 20)).count() >= 1
    assert df.filter(F.col("attendance").isNull()).count() >= 1  # declared null rate


# ---------------------------------------------------------------- S2/S4: JSON


def test_multiline_json_array_roundtrip(spark, tmp_path):
    """The reference's storage unit: one JSON array per day
    (pipeline.py:40-49). multiLine read restores the rows."""
    arts = spark.createDataFrame(articles_rows(40), ARTICLES)
    out = tmp_path / "articles_batch.json"
    import json

    payload = [
        {**r.asDict(), "scraped_at": r.scraped_at.isoformat()} for r in arts.collect()
    ]
    out.write_text(json.dumps(payload), encoding="utf-8")
    back = read_json(spark, str(out), ARTICLES, multi_line=True, timestampFormat="yyyy-MM-dd'T'HH:mm:ss")
    assert back.count() == 40
    assert _hash(back) == _hash(arts)


def test_schedule_nested_parse(spark):
    raw = spark.createDataFrame([(p,) for p in schedule_payloads(10)], "payload STRING")
    games = parse_schedule_payloads(raw)
    total = raw.select(
        F.from_json("payload", "totalGames INT").getField("totalGames").alias("n")
    ).agg(F.sum("n")).first()[0]
    assert games.count() == total
    assert {"game_day", "game_pk", "away_team", "home_score", "venue", "status"} <= set(games.columns)
    assert games.filter(F.col("game_ts").isNull()).count() == 0


# ---------------------------------------------------------------- S8: partitioned write


def test_partitioned_write_prunes(spark, tmp_path):
    arts = spark.createDataFrame(articles_rows(120), ARTICLES).withColumn(
        "dt", F.to_date("scraped_at")
    )
    path = str(tmp_path / "lake")
    write_partitioned(arts, path, ["dt"])
    back = spark.read.parquet(path)
    assert back.count() == 120
    one_day = back.filter(F.col("dt") == "2024-05-03")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan  # pruning reached the scan
    assert one_day.count() == arts.filter(F.col("dt") == "2024-05-03").count()


def test_dynamic_partition_overwrite_is_incremental(spark, tmp_path):
    arts = spark.createDataFrame(articles_rows(120), ARTICLES).withColumn("dt", F.to_date("scraped_at"))
    path = str(tmp_path / "lake")
    write_partitioned(arts, path, ["dt"])
    n_before = spark.read.parquet(path).count()
    # rewrite ONE day's partition with half its rows; other days untouched
    day = arts.filter(F.col("dt") == "2024-05-03")
    reduced = day.limit(max(day.count() // 2, 1))
    n_reduced = reduced.count()
    write_partitioned(reduced, path, ["dt"], mode="overwrite")
    back = spark.read.parquet(path)
    assert back.filter(F.col("dt") == "2024-05-03").count() == n_reduced
    assert back.count() == n_before - day.count() + n_reduced


# ---------------------------------------------------------------- S11: upsert


def test_upsert_by_key_idempotent(spark, tmp_path):
    path = str(tmp_path / "store")
    v1 = spark.createDataFrame(articles_rows(50), ARTICLES)
    upsert_by_key(spark, path, v1, ["url"])
    assert spark.read.parquet(path).count() == 50

    # update 10 urls with new bodies + add 5 new urls
    updates = spark.createDataFrame(
        [(f"https://example.com/mlb/article-{i:04d}", "t", "UPDATED", dt.datetime(2024, 6, 1)) for i in range(10)]
        + [(f"https://example.com/new-{i}", "t", "new", dt.datetime(2024, 6, 1)) for i in range(5)],
        ARTICLES,
    )
    upsert_by_key(spark, path, updates, ["url"])
    after1 = _hash(spark.read.parquet(path))
    assert spark.read.parquet(path).count() == 55
    assert spark.read.parquet(path).filter(F.col("body") == "UPDATED").count() == 10

    upsert_by_key(spark, path, updates, ["url"])  # idempotent re-run
    assert _hash(spark.read.parquet(path)) == after1


def test_upsert_by_key_corrupted_target_raises(spark, tmp_path):
    # a target that EXISTS but cannot be read must raise — never be
    # silently treated as a first write (which would destroy the data)
    target = tmp_path / "store"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    new = spark.createDataFrame(articles_rows(5), ARTICLES)
    with pytest.raises(Exception):
        upsert_by_key(spark, str(target), new, ["url"])
    # the garbage file is untouched — no silent overwrite happened
    assert (target / "part-00000.parquet").read_bytes() == b"this is not a parquet file"


def test_delete_by_predicate(spark, tmp_path):
    path = str(tmp_path / "store")
    spark.createDataFrame(articles_rows(50), ARTICLES).write.parquet(path)
    n = delete_by_predicate(spark, path, F.col("title").isNull())
    back = spark.read.parquet(path)
    assert back.filter(F.col("title").isNull()).count() == 0
    assert back.count() == 50 - n


# ---------------------------------------------------------------- S10: single-file JSON


def test_write_json_single(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    out = str(tmp_path / "export")
    write_json_single(df, out)
    files = [f for f in __import__("os").listdir(out) if f.endswith(".json")]
    assert len(files) == 1
    assert spark.read.schema("id INT, v STRING").json(out).count() == 2


# ---------------------------------------------------------------- S12: warehouse


def test_warehouse_layering(spark, tmp_path):
    for layer in warehouse.LAYERS:  # clean slate — metastore is per-session but dirs persist
        spark.sql(f"DROP DATABASE IF EXISTS {layer} CASCADE")
    warehouse.create_layers(spark, warehouse_dir=str(tmp_path / "wh"))
    gl = spark.createDataFrame(game_logs_rows(100), GAME_LOGS)
    teams = read_csv_teams = spark.createDataFrame(
        [(t[0], t[1], t[2], t[3]) for t in __import__("mlb_data_pipeline_spark.sources.fixtures", fromlist=["TEAM_ROWS"]).TEAM_ROWS],
        TEAMS,
    )
    warehouse.load_raw(spark, "game_logs", gl)
    warehouse.load_raw(spark, "teams", teams)
    warehouse.create_staging_view(
        spark,
        "stg_games",
        """SELECT g.*, t.nickname AS home_nickname
           FROM raw.game_logs g JOIN raw.teams t ON g.home_team = t.team_id""",
    )
    warehouse.materialize_mart(
        spark,
        "team_wins",
        """SELECT home_team AS team, COUNT(*) AS home_games,
                  SUM(CASE WHEN home_score > visiting_score THEN 1 ELSE 0 END) AS home_wins
           FROM staging.stg_games GROUP BY home_team""",
    )
    marts = spark.sql("SELECT * FROM analytics.team_wins")
    assert marts.count() > 0
    assert marts.agg(F.sum("home_games")).first()[0] == 100
    # staging is a view (no storage), mart is a table
    assert spark.catalog.getTable("staging.stg_games").tableType == "VIEW"
    assert spark.catalog.getTable("analytics.team_wins").tableType in ("MANAGED", "EXTERNAL")


def test_compact_parquet_preserves_content_and_layout(spark, tmp_path):
    """Store-maintenance compaction: after several small appends the
    signature store has many files; compaction collapses them to ~1 per
    band directory with IDENTICAL content and intact partition layout
    (band still readable as a partition column)."""
    import glob

    from mlb_data_pipeline_spark.operators.dedup import (
        append_signature_store,
        build_signature_store,
    )
    from mlb_data_pipeline_spark.sources.writers import compact_parquet

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12))) for i in range(20)],
        "doc_id BIGINT, text STRING",
    )
    store = str(tmp_path / "store")
    build_signature_store(corpus, "doc_id", "text", store)
    for d in range(4):  # four daily appends -> four file sets per band dir
        delta = spark.createDataFrame(
            [(100 + 10 * d + k, " ".join(f"d{d}k{k}w{j}" for j in range(12))) for k in range(3)],
            "doc_id BIGINT, text STRING",
        )
        append_signature_store(delta, "doc_id", "text", store)

    sig = store + "/signatures"
    before = sorted(map(tuple, spark.read.parquet(sig).collect()))
    files_before = len(glob.glob(sig + "/band=*/*.parquet"))
    n = compact_parquet(spark, sig, partition_cols=["band"])
    files_after = len(glob.glob(sig + "/band=*/*.parquet"))
    after = sorted(map(tuple, spark.read.parquet(sig).collect()))
    assert after == before and n == len(before)
    assert files_after < files_before and files_after <= 4  # ~1 per band dir
    # unpartitioned shingle table too
    sh = store + "/shingles"
    rows_before = spark.read.parquet(sh).count()
    compact_parquet(spark, sh, target_files=1)
    assert spark.read.parquet(sh).count() == rows_before
    assert len(glob.glob(sh + "/*.parquet")) == 1


def test_jsonl_quarantine_split(spark, tmp_path):
    from pyspark.sql import types as T

    from mlb_data_pipeline_spark.sources.readers import read_jsonl_quarantine

    lines = [
        '{"id": 1, "name": "ok"}',
        '{"id": 2, "name": "also ok", "extra": "ignored"}',
        '{"id": 3, "name":',        # truncated
        "plain text line",           # not JSON
        '[{"id": 4}]',               # valid JSON, wrong shape
        "",                          # blank: neither side
        '{"id": 5}',                 # missing field -> null, still valid
    ]
    p = tmp_path / "dirty.jsonl"
    p.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    valid, quarantine = read_jsonl_quarantine(spark, str(p), schema)
    vrows = {r["id"]: r["name"] for r in valid.collect()}
    assert vrows == {1: "ok", 2: "also ok", 5: None}
    # corrupt lines preserved VERBATIM for replay
    qrows = sorted(r["raw_record"] for r in quarantine.collect())
    assert qrows == sorted(['{"id": 3, "name":', "plain text line", '[{"id": 4}]'])
    # valid schema excludes the internal corrupt column
    assert valid.columns == ["id", "name"]


def test_jsonl_quarantine_schema_guard(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import types as T

    from mlb_data_pipeline_spark.sources.readers import read_jsonl_quarantine

    p = tmp_path / "x.jsonl"
    p.write_text("{}\n")
    bad = T.StructType([T.StructField("__corrupt", T.StringType())])
    with _pytest.raises(ValueError):
        read_jsonl_quarantine(spark, str(p), bad)


def test_compact_parquet_range_clustering(spark, tmp_path):
    """sort_cols range-clusters the rewrite: per-file min/max stats on
    the sort key become disjoint, so a range predicate prunes whole
    files — verified directly from the parquet footers."""
    import glob

    import pyarrow.parquet as pq

    from mlb_data_pipeline_spark.sources.writers import compact_parquet

    path = str(tmp_path / "events_lake")
    df = spark.range(0, 4000).select(
        (F.col("id") * 7919 % 4000).alias("v"),  # scrambled order
        F.col("id").alias("payload"),
    )
    # simulate 4 unsorted daily appends
    for i in range(4):
        df.filter(F.col("payload") % 4 == i).write.mode("append").parquet(path)

    before = sorted(r["v"] for r in spark.read.parquet(path).collect())
    n = compact_parquet(spark, path, target_files=4, sort_cols=["v"])
    assert n == 4000
    after = sorted(r["v"] for r in spark.read.parquet(path).collect())
    assert after == before  # content preserved

    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # 'v'
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # disjoint file ranges: each file's max < next file's min + no overlap
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges


def test_delete_keys_partitioned_preserves_layout_and_survives_full_purge(spark, tmp_path):
    """The refresh purge must keep the partition directory layout (a
    flat rewrite would demote the partition column to data) and must
    leave the dataset loadable even when every row is deleted (the
    schema-anchor file)."""
    import os

    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.sources.writers import delete_keys_partitioned

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "id LONG, band INT, payload STRING"
    )
    df.write.partitionBy("band").parquet(path)

    ids = spark.createDataFrame([(i,) for i in range(0, 30, 2)], "id LONG")
    n = delete_keys_partitioned(spark, path, ids, "id", "band", -1)
    assert n == 15
    back = spark.read.parquet(path)
    assert back.count() == 15 and {r.id % 2 for r in back.collect()} == {1}
    # layout preserved: band is still a partition directory
    assert any(d.startswith("band=") for d in os.listdir(path))

    # full purge: still loadable via the schema anchor
    rest = spark.createDataFrame([(i,) for i in range(30)], "id LONG")
    delete_keys_partitioned(spark, path, rest, "id", "band", -1)
    empty = spark.read.parquet(path)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "band", "payload"}


def test_scd2_apply_semantics(spark):
    import datetime

    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.sources.warehouse import scd2_apply

    d = datetime.date
    cur = spark.createDataFrame(
        [
            (1, "gold", d(2023, 1, 1), d(2023, 6, 1)),   # closed history
            (1, "silver", d(2023, 6, 1), None),           # open
            (2, "bronze", d(2023, 1, 1), None),           # open, will no-op
            (3, None, d(2023, 1, 1), None),               # open with NULL attr
        ],
        "k BIGINT, tier STRING, valid_from DATE, valid_to DATE",
    )
    chg = spark.createDataFrame(
        [
            (1, "gold", d(2024, 1, 1)),     # change back to gold
            (1, "plat", d(2023, 9, 1)),     # earlier change, must lose to latest
            (2, "bronze", d(2024, 1, 1)),   # identical -> no-op
            (3, "filled", d(2024, 1, 1)),   # NULL -> value IS a change
            (9, "new", d(2024, 1, 1)),      # unseen key
        ],
        "k BIGINT, tier STRING, change_ts DATE",
    )
    out = scd2_apply(cur, chg, ["k"], ["tier"])
    rows = {(r.k, r.tier, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {
        (1, "gold", d(2023, 1, 1), d(2023, 6, 1)),     # history untouched
        (1, "silver", d(2023, 6, 1), d(2024, 1, 1)),   # closed by LATEST change
        (1, "gold", d(2024, 1, 1), None),               # new open (not 'plat')
        (2, "bronze", d(2023, 1, 1), None),             # no-op kept open
        (3, None, d(2023, 1, 1), d(2024, 1, 1)),        # NULL -> filled closes
        (3, "filled", d(2024, 1, 1), None),
        (9, "new", d(2024, 1, 1), None),
    }
    # idempotence: re-applying the same batch changes nothing
    again = scd2_apply(out, chg, ["k"], ["tier"])
    assert {(r.k, r.tier, r.valid_from, r.valid_to) for r in again.collect()} == rows


def test_rollup_store_partial_of_partials_exact_and_late_day(spark, tmp_path):
    import datetime

    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.sources.warehouse import (
        build_rollup_store,
        rollup_from_store,
    )

    d = datetime.date
    rows = [
        (d(2024, 1, 1), "a", 0.1), (d(2024, 1, 1), "a", 0.2),
        (d(2024, 1, 2), "a", 0.3), (d(2024, 1, 2), "b", 10.05),
        (d(2024, 2, 1), "a", 1.0),
    ]
    df = spark.createDataFrame(rows, "event_date DATE, k STRING, value DOUBLE")
    path = str(tmp_path / "rollup")
    build_rollup_store(df, path, "event_date", ["k"], "value")
    monthly = {
        (str(r.month), r.k): (r.n, r.total)
        for r in rollup_from_store(
            spark, path, [F.trunc("event_date", "month").alias("month"), F.col("k")]
        ).collect()
    }
    assert monthly[("2024-01-01", "a")] == (3, 0.6)  # 0.1+0.2+0.3 exact, no float drift
    assert monthly[("2024-01-01", "b")] == (1, 10.05)
    assert monthly[("2024-02-01", "a")] == (1, 1.0)
    # late-arriving day: rebuild overwrites; combining still exact
    rows.append((d(2024, 1, 3), "a", 0.4))
    df2 = spark.createDataFrame(rows, "event_date DATE, k STRING, value DOUBLE")
    build_rollup_store(df2, path, "event_date", ["k"], "value")
    again = {
        (str(r.month), r.k): (r.n, r.total)
        for r in rollup_from_store(
            spark, path, [F.trunc("event_date", "month").alias("month"), F.col("k")]
        ).collect()
    }
    assert again[("2024-01-01", "a")] == (4, 1.0)


def test_shard_manifest_counts_and_sizes(spark, tmp_path):
    from mlb_data_pipeline_spark.sources.writers import shard_manifest, write_partitioned

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(300)], "id BIGINT, split STRING"
    )
    path = str(tmp_path / "shards")
    write_partitioned(df, path, ["split"])
    m = shard_manifest(spark, path).collect()
    assert sum(r.n_rows for r in m) == 300
    assert all(r.bytes > 0 and r.file.endswith(".parquet") for r in m)
    # every split directory contributed at least one file
    assert {f"split={s}" in r.file for s in ("s0", "s1", "s2") for r in m} == {True, False} or len(m) >= 3


def test_compact_zorder_box_query_touches_few_files(spark, tmp_path):
    """Z-order layout: a box predicate on BOTH dimensions must
    concentrate its rows in a minority of the compacted files (the
    quadrant x < half, y < half occupies the first quarter of the
    Morton curve), and the rewrite is content-identical."""
    import pytest
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.sources.writers import compact_parquet

    path = str(tmp_path / "zstore")
    # 64x64 grid, shuffled write order (hash-scrambled) so the input
    # layout carries no accidental locality
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).cast("double").alias("x"),
        F.floor(F.col("id") / 64).cast("double").alias("y"),
        F.col("id").alias("rid"),
    )
    df.repartition(8, F.md5(F.col("rid").cast("string"))).write.mode(
        "overwrite"
    ).parquet(path)
    n = compact_parquet(
        spark, path, target_files=8, zorder=[("x", 0.0, 64.0), ("y", 0.0, 64.0)], zorder_bits=6
    )
    assert n == 4096
    back = spark.read.parquet(path)
    assert back.count() == 4096 and "__z" not in back.columns
    total_files = back.select(F.input_file_name()).distinct().count()
    assert total_files >= 4
    box_files = (
        back.filter((F.col("x") < 32) & (F.col("y") < 32))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    # quarter of the z-range -> at most ~quarter of the files (+1 slack
    # for a range-partition boundary straddle)
    assert box_files <= total_files // 4 + 1, (box_files, total_files)
    with pytest.raises(ValueError):
        compact_parquet(spark, path, sort_cols=["x"], zorder=[("x", 0.0, 1.0), ("y", 0.0, 1.0)])


def test_scd2_apply_out_of_order_change_is_noop(spark):
    """A change stamped BEFORE the open row's valid_from (late replay of
    an older batch) must not close the row with valid_to < valid_from —
    it is stale information and drops. Round-6 advice item."""
    import datetime

    from mlb_data_pipeline_spark.sources.warehouse import scd2_apply

    d = datetime.date
    cur = spark.createDataFrame(
        [(1, "silver", d(2023, 6, 1), None)],
        "k BIGINT, tier STRING, valid_from DATE, valid_to DATE",
    )
    late = spark.createDataFrame(
        [(1, "gold", d(2023, 1, 15))], "k BIGINT, tier STRING, change_ts DATE"
    )
    out = scd2_apply(cur, late, ["k"], ["tier"])
    rows = {(r.k, r.tier, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {(1, "silver", d(2023, 6, 1), None)}
    # global invariant on a mixed batch: no inverted validity intervals
    mixed = spark.createDataFrame(
        [(1, "gold", d(2023, 1, 15)), (2, "new", d(2024, 1, 1))],
        "k BIGINT, tier STRING, change_ts DATE",
    )
    out2 = scd2_apply(cur, mixed, ["k"], ["tier"])
    assert out2.filter("valid_to IS NOT NULL AND valid_to < valid_from").count() == 0
    assert {(r.k, r.tier) for r in out2.collect()} == {(1, "silver"), (2, "new")}


def test_safe_rewrite_swap_and_crash_recovery(spark, tmp_path):
    """The read-then-rewrite family must never destroy-then-rebuild:
    the new content lands in <path>.__new, swaps in by rename, and
    either half-done crash state is completed by recover_dataset."""
    import shutil

    from mlb_data_pipeline_spark.sources.writers import recover_dataset, safe_rewrite

    path = str(tmp_path / "store")
    spark.range(10).write.parquet(path)
    # normal rewrite: content replaced, no droppings left behind
    nine = spark.read.parquet(path).filter("id < 9")
    safe_rewrite(spark, path, lambda tmp: nine.write.parquet(tmp))
    assert spark.read.parquet(path).count() == 9
    assert not (tmp_path / "store.__new").exists()
    assert not (tmp_path / "store.__old").exists()

    # crash between the two renames: path absent, committed .__new + .__old
    shutil.move(path, path + ".__old")
    spark.range(5).write.parquet(path + ".__new")
    assert recover_dataset(spark, path) == "rolled_forward"
    assert spark.read.parquet(path).count() == 5
    assert not (tmp_path / "store.__old").exists()

    # crash during the build: uncommitted .__new (no _SUCCESS), path moved
    shutil.move(path, path + ".__old")
    (tmp_path / "store.__new").mkdir()
    assert recover_dataset(spark, path) == "rolled_back"
    assert spark.read.parquet(path).count() == 5
    assert not (tmp_path / "store.__new").exists()

    # stale siblings next to a healthy path are garbage-collected
    (tmp_path / "store.__new").mkdir()
    assert recover_dataset(spark, path) == "clean"
    assert not (tmp_path / "store.__new").exists()


def test_delete_by_predicate_is_atomic_swap(spark, tmp_path):
    from mlb_data_pipeline_spark.sources.writers import delete_by_predicate

    from pyspark.sql import functions as F

    path = str(tmp_path / "d")
    spark.range(100).write.parquet(path)
    assert delete_by_predicate(spark, path, F.col("id") >= 50) == 50
    assert spark.read.parquet(path).count() == 50
    assert not (tmp_path / "d.__new").exists() and not (tmp_path / "d.__old").exists()


def test_shard_manifest_includes_zero_row_files(spark, tmp_path):
    """A data file with zero rows has no input_file_name() group; the
    manifest must still list it (left join from the FS listing) —
    otherwise 'detect partial copies' misses exactly the broken file."""
    import shutil

    from mlb_data_pipeline_spark.sources.writers import shard_manifest

    path = tmp_path / "rel"
    spark.range(50).coalesce(1).write.parquet(str(path))
    empty = tmp_path / "empty_src"
    spark.range(0).coalesce(1).write.parquet(str(empty))
    empty_part = next(p for p in empty.iterdir() if p.name.endswith(".parquet"))
    shutil.copy(empty_part, path / "part-zero-rows.parquet")
    m = {r.file.rsplit("/", 1)[-1]: r.n_rows for r in shard_manifest(spark, str(path)).collect()}
    assert m["part-zero-rows.parquet"] == 0
    assert sum(m.values()) == 50
    assert len(m) == 2


def test_shard_manifest_counts_escaped_partition_leaves(spark, tmp_path):
    """``input_file_name()`` is percent-encoded and the listing is not:
    leaves whose value holds a space (``s=a b``) or a character Hive
    escapes on disk (``s=c%3Ad``) must still get their row counts."""
    from mlb_data_pipeline_spark.sources.writers import shard_manifest

    path = str(tmp_path / "rel")
    rows = [(i, s) for s in ("a b", "c:d", "e") for i in range(10)]
    (
        spark.createDataFrame(rows, "id BIGINT, s STRING")
        .repartition(1)
        .write.partitionBy("s")
        .parquet(path)
    )
    m = {r.file.split("/")[-2]: r.n_rows for r in shard_manifest(spark, path).collect()}
    assert m == {"s=a b": 10, "s=c%3Ad": 10, "s=e": 10}


def test_write_partitioned_static_clears_stale_partitions(spark, tmp_path):
    """A shard release rerun with fewer shards must not leave stale
    shard dirs behind (dynamic overwrite would — and the manifest
    would then certify them as part of the release)."""
    from mlb_data_pipeline_spark.sources.writers import write_partitioned

    path = str(tmp_path / "rel")
    df2 = spark.createDataFrame([(1, "s0"), (2, "s1")], "id BIGINT, shard STRING")
    write_partitioned(df2, path, ["shard"])
    df1 = spark.createDataFrame([(3, "s0")], "id BIGINT, shard STRING")
    # dynamic rerun keeps the now-stale s1...
    write_partitioned(df1, path, ["shard"])
    assert spark.read.parquet(path).count() == 2
    # ...static rerun produces exactly the new layout
    write_partitioned(df1, path, ["shard"], dynamic=False)
    got = spark.read.parquet(path).collect()
    assert len(got) == 1 and got[0].id == 3 and got[0].shard == "s0"


def test_versioned_store_roundtrip_and_travel(spark, tmp_path):
    from mlb_data_pipeline_spark.sources.writers import (
        current_version, list_versions, read_version, versioned_write,
    )

    path = str(tmp_path / "vstore")
    d1 = spark.range(10).withColumnRenamed("id", "k")
    d2 = spark.range(20).withColumnRenamed("id", "k")
    v1 = versioned_write(d1, path)
    v2 = versioned_write(d2, path)
    assert (v1, v2) == (1, 2)
    assert current_version(spark, path) == 2
    assert read_version(spark, path).count() == 20          # pointer read
    assert read_version(spark, path, 1).count() == 10       # time travel
    assert list_versions(spark, path) == [1, 2]


def test_versioned_store_retention_never_prunes_current(spark, tmp_path):
    from mlb_data_pipeline_spark.sources.writers import (
        list_versions, read_version, versioned_write,
    )
    import pytest

    path = str(tmp_path / "vstore")
    for n in (5, 6, 7, 8):
        versioned_write(spark.range(n), path, keep_versions=2)
    assert list_versions(spark, path) == [3, 4]
    assert read_version(spark, path).count() == 8
    with pytest.raises(KeyError):
        read_version(spark, path, 1)  # pruned


def test_versioned_store_pointer_crash_fallback(spark, tmp_path):
    import os
    import shutil

    from mlb_data_pipeline_spark.sources.writers import (
        current_version, read_version, versioned_write,
    )

    path = str(tmp_path / "vstore")
    versioned_write(spark.range(3), path)
    versioned_write(spark.range(7), path)
    # crash between data write and pointer flip == pointer still at v2
    # while v3 exists; simulate the worse case: pointer file LOST
    os.remove(os.path.join(path, "_CURRENT"))
    assert current_version(spark, path) == 2  # falls back to max committed
    assert read_version(spark, path).count() == 7
    # a half-written version dir (no _SUCCESS) is never visible
    os.makedirs(os.path.join(path, "v=9"))
    assert current_version(spark, path) == 2
    shutil.rmtree(os.path.join(path, "v=9"))


def test_apply_changelog_semantics(spark):
    from mlb_data_pipeline_spark.sources.warehouse import apply_changelog

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING"
    )
    log = spark.createDataFrame(
        [
            (2, 1, "U", "b1"), (2, 2, "U", "b2"),   # higher seq wins
            (3, 1, "D", "x"),                        # delete
            (4, 1, "I", "d"),                        # insert new key
            (4, 2, "D", "d"), (4, 3, "I", "d2"),     # delete then re-insert
        ],
        "k BIGINT, seq INT, op STRING, v STRING",
    )
    got = {(r.k, r.v) for r in apply_changelog(base, log, ["k"], "seq").collect()}
    assert got == {(1, "a"), (2, "b2"), (4, "d2")}
    # idempotent: applying the same log to the RESULT changes nothing
    out = apply_changelog(base, log, ["k"], "seq")
    again = {(r.k, r.v) for r in apply_changelog(out, log, ["k"], "seq").collect()}
    assert again == got


def test_compact_parquet_hilbert_clusters_files(spark, tmp_path):
    from mlb_data_pipeline_spark.operators.layout import pruning_report
    from mlb_data_pipeline_spark.sources.writers import compact_parquet

    import pytest as _pytest
    from pyspark.sql import functions as F

    grid = spark.range(200 * 200).select(
        (F.col("id") % 200).alias("x"), (F.col("id") / 200).cast("long").alias("y")
    )
    path = str(tmp_path / "lake")
    grid.repartition(16).write.parquet(path)
    n = compact_parquet(
        spark, path, target_files=16, hilbert=[("x", 0, 199), ("y", 0, 199)], zorder_bits=8
    )
    assert n == 200 * 200
    assert spark.read.parquet(path).count() == n
    rep = pruning_report(path, {"x": (0, 49), "y": (0, 49)})
    assert rep["skip_frac"] >= 0.5, rep
    # layout keys must not leak into the data
    assert set(spark.read.parquet(path).columns) == {"x", "y"}
    with _pytest.raises(ValueError, match="exactly one"):
        compact_parquet(spark, path, sort_cols=["x"], hilbert=[("x", 0, 1), ("y", 0, 1)])


def test_rollup_cdc_maintenance_equals_rebuild(spark, tmp_path):
    """IVM-with-retractions contract: after a changelog of deletes,
    value updates, group moves, and new-partition inserts, the
    maintained store's every rollup equals a from-scratch rebuild over
    the applied facts — including a group vanishing (count nets 0) and
    a partition born from an insert."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.sources.warehouse import (
        build_rollup_store,
        rollup_from_store,
        update_rollup_store_cdc,
    )

    facts = spark.createDataFrame(
        [(2023, "a", 10.0), (2023, "a", 20.0), (2023, "b", 5.0), (2022, "a", 7.5)],
        "y int, pri string, v double",
    )
    path = str(tmp_path / "roll")
    build_rollup_store(facts, path, "y", ["pri"], "v")

    changes = spark.createDataFrame(
        [
            # delete the ONLY 2023/b row -> group must vanish
            ("D", None, None, None, 2023, "b", 5.0),
            # value bump in place
            ("U", 2023, "a", 15.0, 2023, "a", 10.0),
            # move across partitions
            ("U", 2022, "a", 20.0, 2023, "a", 20.0),
            # insert creating a NEW partition
            ("I", 2024, "c", 1.25, None, None, None),
        ],
        "op string, y int, pri string, v double, old_y int, old_pri string, old_v double",
    )
    update_rollup_store_cdc(spark, path, changes, "y", ["pri"], "v")

    applied = spark.createDataFrame(
        [(2023, "a", 15.0), (2022, "a", 20.0), (2022, "a", 7.5), (2024, "c", 1.25)],
        "y int, pri string, v double",
    )
    rebuilt = str(tmp_path / "rebuilt")
    build_rollup_store(applied, rebuilt, "y", ["pri"], "v")
    got = sorted(map(tuple, rollup_from_store(spark, path, ["y", "pri"]).collect()))
    want = sorted(map(tuple, rollup_from_store(spark, rebuilt, ["y", "pri"]).collect()))
    assert got == want
    # the vanished group is really gone from the store rows
    assert spark.read.parquet(path).filter((F.col("y") == 2023) & (F.col("pri") == "b")).count() == 0
    # coarser grain still combines partials exactly
    got_y = sorted(map(tuple, rollup_from_store(spark, path, ["y"]).collect()))
    want_y = sorted(map(tuple, rollup_from_store(spark, rebuilt, ["y"]).collect()))
    assert got_y == want_y


def test_rollup_cdc_emptied_partition_directory_is_dropped(spark, tmp_path):
    """A changelog that deletes EVERY row of a partition nets all its
    groups to zero — merged has no rows for it, dynamic overwrite never
    touches the dir, so the maintenance must drop it explicitly or
    stale partials survive."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.sources.warehouse import (
        build_rollup_store,
        rollup_from_store,
        update_rollup_store_cdc,
    )

    facts = spark.createDataFrame(
        [(2023, "a", 10.0), (2022, "a", 7.5)], "y int, pri string, v double"
    )
    path = str(tmp_path / "roll2")
    build_rollup_store(facts, path, "y", ["pri"], "v")
    changes = spark.createDataFrame(
        [("D", None, None, None, 2023, "a", 10.0)],
        "op string, y int, pri string, v double, old_y int, old_pri string, old_v double",
    )
    update_rollup_store_cdc(spark, path, changes, "y", ["pri"], "v")
    left = rollup_from_store(spark, path, ["y"]).collect()
    assert [(r.y, r.n) for r in left] == [(2022, 1)]
    assert spark.read.parquet(path).filter(F.col("y") == 2023).count() == 0


def test_rollup_cdc_emptied_partition_with_escaped_path_chars(spark, tmp_path):
    """ADVICE r9: Spark URL-encodes partition-directory names (space,
    ':', '%' -> %XX), so the emptied-partition drop must escape the
    value the same way or fs.exists() misses the real directory and
    stale partials survive."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.sources.warehouse import (
        build_rollup_store,
        rollup_from_store,
        update_rollup_store_cdc,
    )

    facts = spark.createDataFrame(
        [("US: east region", "a", 10.0), ("plain", "a", 7.5)],
        "reg string, pri string, v double",
    )
    path = str(tmp_path / "roll3")
    build_rollup_store(facts, path, "reg", ["pri"], "v")
    changes = spark.createDataFrame(
        [("D", None, None, None, "US: east region", "a", 10.0)],
        "op string, reg string, pri string, v double, "
        "old_reg string, old_pri string, old_v double",
    )
    update_rollup_store_cdc(spark, path, changes, "reg", ["pri"], "v")
    left = rollup_from_store(spark, path, ["reg"]).collect()
    assert [(r.reg, r.n) for r in left] == [("plain", 1)]
    # the escaped directory is really gone, not just invisible to the read
    import os

    assert not any("US" in d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d)))
