"""Storage-layout query set — Z-order clustering (SURVEY §2.15).

The z-key itself is oracled bit-exact (pure integer bit math mirrored
in DuckDB); the file-level pruning payoff is measured from real parquet
footers in tests (`tests/test_layout_ops.py`) and docs/PERF.md, since
the oracle sees rows, not files.

Reference scope: the reference lake is date-keyed blobs only
(mlb_pipeline_dag.py:119) — multi-dimensional layout is part of the
beyond-reference scale surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.layout import hilbert_key_sql, scale_to_bits_cols, zorder_key, zorder_key_sql
from .registry import query

_BITS = 8  # 8 bits/dim x 2 dims = 16-bit key; buckets = z >> 10 (64 cells)

_CELL_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
), b AS (
  SELECT MIN(ck) AS ck_lo, MAX(ck) AS ck_hi,
         MIN(pc) AS pc_lo, MAX(pc) AS pc_hi
  FROM o
), cells AS (
  SELECT
    CASE WHEN ck_hi > ck_lo
         THEN ((LEAST(GREATEST(ck, ck_lo), ck_hi) - ck_lo) * 255) // (ck_hi - ck_lo)
         ELSE 0 END AS cx,
    CASE WHEN pc_hi > pc_lo
         THEN ((LEAST(GREATEST(pc, pc_lo), pc_hi) - pc_lo) * 255) // (pc_hi - pc_lo)
         ELSE 0 END AS cy
  FROM o CROSS JOIN b
)
"""

_BITS3 = 5  # 5 bits/dim x 3 dims = 15-bit key; buckets = hkey >> 9 (64 cells)

_CELL3_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dk
  FROM orders
), b AS (
  SELECT MIN(ck) AS ck_lo, MAX(ck) AS ck_hi,
         MIN(pc) AS pc_lo, MAX(pc) AS pc_hi,
         MIN(dk) AS dk_lo, MAX(dk) AS dk_hi
  FROM o
), cells3 AS (
  SELECT
    CASE WHEN ck_hi > ck_lo
         THEN ((LEAST(GREATEST(ck, ck_lo), ck_hi) - ck_lo) * 31) // (ck_hi - ck_lo)
         ELSE 0 END AS cx,
    CASE WHEN pc_hi > pc_lo
         THEN ((LEAST(GREATEST(pc, pc_lo), pc_hi) - pc_lo) * 31) // (pc_hi - pc_lo)
         ELSE 0 END AS cy,
    CASE WHEN dk_hi > dk_lo
         THEN ((LEAST(GREATEST(dk, dk_lo), dk_hi) - dk_lo) * 31) // (dk_hi - dk_lo)
         ELSE 0 END AS cz
  FROM o CROSS JOIN b
)
"""

_Q39_SQL_ZORDER_BODY = (
    _CELL_SQL
    + f", z AS (SELECT ({zorder_key_sql(['cx', 'cy'], _BITS)}) AS z FROM cells)\n"
    + """
SELECT 'zorder' AS part, z >> 10 AS bucket,
       COUNT(*) AS n_orders, MIN(z) AS k_min, MAX(z) AS k_max
FROM z
GROUP BY bucket
"""
)


def _q39_sql() -> str:
    from ..operators.layout import hilbert_nd_key_sql

    hilbert3_body = (
        _CELL3_SQL
        + ",\n"
        + hilbert_nd_key_sql(["cx", "cy", "cz"], _BITS3, "cells3")
        + """
SELECT 'hilbert3' AS part, hkey >> 9 AS bucket,
       COUNT(*) AS n_orders, MIN(hkey) AS k_min, MAX(hkey) AS k_max
FROM hnd_final
GROUP BY bucket
"""
    )
    return (
        "SELECT * FROM (\n"
        + _Q39_SQL_ZORDER_BODY
        + ")\nUNION ALL\nSELECT * FROM (\n"
        + hilbert3_body
        + ")\nORDER BY part, bucket"
    )


@query("q39_zorder_key", oracle=_q39_sql(), covers="Y1,Y3")
def q39_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-key family, tagged union (round 11: the 3-D Hilbert key
    r64 rotated INTO the driver window as the 'hilbert3' branch —
    VERDICT r10 ask #3):
    * 'zorder' — Morton key over (customer, price-cents) with
      data-derived bounds (ex-r47, in-window since round 9), per
      1024-key bucket so the oracle checks the FULL key distribution;
    * 'hilbert3' — the N-D Skilling transform over (customer,
      price-cents, order epoch-day) cells (ex-r64), per 512-key bucket,
      DuckDB mirroring the identical per-(level, axis) integer update.
    Bounds come from one 1-row agg cross-joined in (never collected);
    every step is integer-exact (floor-div + shift/and/or) so both
    engines agree bit-for-bit."""
    from ..operators.layout import with_hilbert_key_nd

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    bounds = o.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("pc").alias("pc_lo"),
        F.max("pc").alias("pc_hi"),
    )
    j = o.crossJoin(F.broadcast(bounds))
    cx = scale_to_bits_cols(F.col("ck"), F.col("ck_lo"), F.col("ck_hi"), _BITS)
    cy = scale_to_bits_cols(F.col("pc"), F.col("pc_lo"), F.col("pc_hi"), _BITS)
    z = zorder_key([cx, cy], _BITS)
    zorder = (
        j.select(z.alias("z"))
        .groupBy(F.shiftright("z", 10).alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("z").alias("k_min"),
            F.max("z").alias("k_max"),
        )
        .select(F.lit("zorder").alias("part"), "bucket", "n_orders", "k_min", "k_max")
    )

    o3 = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("dk"),
    )
    bounds3 = o3.agg(
        F.min("ck").alias("ck_lo"), F.max("ck").alias("ck_hi"),
        F.min("pc").alias("pc_lo"), F.max("pc").alias("pc_hi"),
        F.min("dk").alias("dk_lo"), F.max("dk").alias("dk_hi"),
    )
    j3 = o3.crossJoin(F.broadcast(bounds3))
    cells3 = (
        j3.withColumn("cx", scale_to_bits_cols(F.col("ck"), F.col("ck_lo"), F.col("ck_hi"), _BITS3))
        .withColumn("cy", scale_to_bits_cols(F.col("pc"), F.col("pc_lo"), F.col("pc_hi"), _BITS3))
        .withColumn("cz", scale_to_bits_cols(F.col("dk"), F.col("dk_lo"), F.col("dk_hi"), _BITS3))
    )
    hilbert3 = (
        with_hilbert_key_nd(cells3, ["cx", "cy", "cz"], _BITS3, out_col="hkey")
        .groupBy(F.shiftright("hkey", 9).alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("hkey").alias("k_min"),
            F.max("hkey").alias("k_max"),
        )
        .select(F.lit("hilbert3").alias("part"), "bucket", "n_orders", "k_min", "k_max")
    )
    return zorder.unionByName(hilbert3).orderBy("part", "bucket")


# ---------------------------------------------------------------------------
# Q23 (ex-r49, rotated into the driver window round 10; round 11 adds
#        the 'or' / 'date' / 'count' branches — VERDICT r10 asks #2,
#        #5, #6) — the CATALOG-HOOK flagship (Y2): orders land as a
#        z-ordered lake (plus a date-range-clustered twin), registration
#        adopts each into the snapshot log (footer stats in the commit
#        record), and every branch plans its
#        file list from a plain PREDICATE STRING through
#        register_lake_table + lake_scan / lake_count — no
#        caller-constructed box. The oracle runs the same predicates on
#        the raw table — if the planner ever drops a file it shouldn't,
#        rows go missing and the hash breaks, so the PRUNING DECISION
#        itself is under the gate. Measured skip fractions (files, not
#        rows) are pinned in tests/test_layout_ops.py.
# ---------------------------------------------------------------------------

_Q23_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc,
         CAST(o_orderdate AS DATE) AS od
  FROM orders
),
u_old AS (
  SELECT ck, pc FROM o WHERE NOT (ck BETWEEN 0 AND 60) AND ck BETWEEN 90 AND 120
),
u_new AS (SELECT ck, pc + 55555 AS pc FROM u_old),
cdcnet AS (
  SELECT ck, pc, SUM(s) AS net FROM (
    SELECT ck, pc, 1 AS s FROM u_new
    UNION ALL
    SELECT ck, pc, -1 AS s FROM u_old
  ) GROUP BY ck, pc HAVING SUM(s) > 0
),
u AS (
  SELECT ck, CASE WHEN ck BETWEEN 90 AND 120 THEN pc + 55555 ELSE pc END AS pc
  FROM o WHERE NOT (ck BETWEEN 0 AND 60)
),
sh_base AS (SELECT ck, pc FROM o WHERE ck % 4 != 0),
sh_extra AS (SELECT ck, pc + 77 AS pc FROM o WHERE ck % 4 = 0),
sh_v2 AS (SELECT * FROM sh_base UNION ALL SELECT * FROM sh_extra),
sh_v3 AS (SELECT * FROM sh_v2 WHERE NOT (ck BETWEEN 40 AND 90))
SELECT 'box' AS part, COUNT(*) AS n_orders,
       CAST(SUM(pc) AS BIGINT) AS total_cents,
       MIN(ck) AS min_ck, MAX(ck) AS max_ck
FROM o WHERE ck BETWEEN 50 AND 600 AND pc BETWEEN 5000000 AND 20000000
UNION ALL
SELECT 'cdc_del', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM o WHERE ck BETWEEN 0 AND 60
UNION ALL
SELECT 'cdc_ins', CAST(SUM(net) AS BIGINT), CAST(SUM(pc * net) AS BIGINT), MIN(ck), MAX(ck)
FROM cdcnet
UNION ALL
SELECT 'count', COUNT(*), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM o WHERE ck BETWEEN 50 AND 600 AND pc >= 5000000
UNION ALL
SELECT 'date', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM o WHERE od >= DATE '1997-01-01' AND od < DATE '1997-07-01'
UNION ALL
SELECT 'dml', COUNT(*),
       CAST(SUM(CASE WHEN ck BETWEEN 90 AND 120 THEN pc + 55555 ELSE pc END) AS BIGINT),
       MIN(ck), MAX(ck)
FROM o WHERE NOT (ck BETWEEN 0 AND 60)
UNION ALL
SELECT 'dml_v1', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM o
UNION ALL
SELECT 'dv', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM u WHERE NOT (pc % 10 = 3 AND ck BETWEEN 90 AND 140)
UNION ALL
SELECT 'dv_tt', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM u
UNION ALL
SELECT 'numjoin', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM o WHERE ck % 97 = 0
UNION ALL
SELECT 'or', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM o WHERE (ck BETWEEN 50 AND 150) OR (ck BETWEEN 400 AND 600)
UNION ALL
SELECT 'sharded_cdc_del', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM sh_v2 WHERE ck BETWEEN 40 AND 90
UNION ALL
SELECT 'sharded_head', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM sh_v3
UNION ALL
SELECT 'sharded_tt_v2', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM sh_v2
UNION ALL
SELECT 'tt_box', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM o WHERE ck BETWEEN 100 AND 400
ORDER BY part
"""


@query("q23_manifest_pruned_scan", oracle=_Q23_SQL, covers="Y2,S3,S8,A2,P3,X45,X47")
def q23_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-hook family, tagged union:
    * 'box' — conjunctive numeric box through lake_scan (ex-r49, the
      round-10 contract);
    * 'count' — COUNT under an exact closed box through lake_count's
      metadata fast path (interior files counted unopened, round 11);
    * 'date' — a date-range predicate (bare ISO + DATE '...') pruning
      a date-clustered lake via temporal literal folding (round 11);
    * 'or' — a two-branch disjunction pruned with the UNION of
      per-branch keep sets (round 11);
    * 'dml' / 'dml_v1' — the TRANSACTION layer under the driver hash
      (round 11): a snapshot lake takes a pruned DELETE then a pruned
      UPDATE; 'dml' reads the head through lake_scan, 'dml_v1' TIME
      TRAVELS back to v1 — a resurrected dead file, a lost update, or
      a broken historical read each breaks the hash;
    * 'tt_box' — MANIFEST-PRUNED time travel (round 12, ex-r69's
      read shape + the new pruning): v1 read under a box predicate
      through lake_scan(version=1) — per-file record stats are
      version-independent facts, so the historical file list
      intersects the same keep set head reads use (skip_frac > 0
      pinned in tests/test_time_travel_pruning.py);
    * 'cdc_del' / 'cdc_ins' — snapshot CDC under the driver hash
      (round 12, ex-r72 rotated in): read_changes between the DML
      versions — the DELETE's changes are exactly its deleted rows,
      the UPDATE's inserts are the net multiset diff (the oracle
      computes the same signed-count net, so a phantom insert or a
      lost delete breaks the hash);
    * 'numjoin' — join-driven FILE pruning, numeric interval-probe
      form (round 12, ex-r71 rotated in; q45 keeps the string/Bloom
      form): a distinct-key dim probes the z-ordered lake's record
      stats through lake_join_scan before any fact read;
    * 'dv' / 'dv_tt' — DELETION VECTORS under the driver hash
      (round 13, ex-r78 rotated in): a pruned DV delete masks only
      can-match files (zero rewrite), 'dv' reads the masked head,
      'dv_tt' time travels to the unmasked v3;
    * 'sharded_*' — SHARDED SNAPSHOT MANIFESTS under the driver hash
      (round 14, X47 rotated in — VERDICT r13 ask #2): the r80 flow
      (threshold-forced sharded records: append = one delta manifest,
      delete = a removed list) re-shaped into this union — head read,
      time travel, and CDC all resolve through the manifest union; a
      file lost or resurrected by the sharded resolution breaks the
      hash.
    Every branch derives its skip plan from the predicate STRING."""
    import os

    from ..catalog import lake_count, lake_scan, register_lake_table
    from ..operators.layout import write_zordered, zorder_specs

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r49_lake"
    )
    lake = os.path.join(base, "data")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    write_zordered(o, lake, zorder_specs(o, ["ck", "pc"]), bits=8, n_files=16)
    register_lake_table(spark, "q23_orders_lake", lake)

    # date-clustered twin: range-partitioned on order date so temporal
    # predicates have files to skip
    dlake = os.path.join(base, "date_data")
    (
        o.repartitionByRange(8, "od")
        .sortWithinPartitions("od")
        .write.mode("overwrite")
        .parquet(dlake)
    )
    register_lake_table(spark, "q23_orders_by_date", dlake)

    schema = "part string, n_orders long, total_cents long, min_ck long, max_ck long"

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("part"),
            F.count("*").alias("n_orders"),
            F.sum("pc").cast("long").alias("total_cents"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n_orders", "total_cents", "min_ck", "max_ck")

    box = agg(
        lake_scan(
            spark, "q23_orders_lake",
            "ck BETWEEN 50 AND 600 AND pc BETWEEN 5000000 AND 20000000",
        ),
        "box",
    )
    n = lake_count(spark, "q23_orders_lake", "ck BETWEEN 50 AND 600 AND pc >= 5000000")
    count = spark.createDataFrame([("count", n, None, None, None)], schema)
    date = agg(
        lake_scan(
            spark, "q23_orders_by_date",
            "od >= '1997-01-01' AND od < DATE '1997-07-01'",
        ),
        "date",
    )
    disj = agg(
        lake_scan(
            spark, "q23_orders_lake",
            "(ck BETWEEN 50 AND 150) OR (ck BETWEEN 400 AND 600)",
        ),
        "or",
    )

    # snapshot-DML twin (round 11): delete + update + time travel,
    # all THROUGH the catalog (lake_*_where wire path, col_types); every
    # read plans from the commit record's per-file stats
    import shutil

    from ..catalog import lake_delete_where, lake_update_where
    from ..operators.snapshots import lake_write

    slake = os.path.join(base, "snap_data")
    if os.path.exists(slake):
        shutil.rmtree(slake)
    lake_write(spark, o.select("ck", "pc").repartitionByRange(4, "ck"), slake)
    register_lake_table(spark, "q23_orders_snap", slake)
    lake_delete_where(spark, "q23_orders_snap", "ck BETWEEN 0 AND 60")
    lake_update_where(spark, "q23_orders_snap", {"pc": "pc + 55555"}, "ck BETWEEN 90 AND 120")
    dml = agg(lake_scan(spark, "q23_orders_snap"), "dml")
    dml_v1 = agg(lake_scan(spark, "q23_orders_snap", version=1), "dml_v1")

    # pruned TIME TRAVEL (round 12): v1 under a box — the v1 record's
    # own per-file stats prune its files, including those the DML
    # later removed
    tt_box = agg(
        lake_scan(spark, "q23_orders_snap", "ck BETWEEN 100 AND 400", version=1),
        "tt_box",
    )

    # snapshot CDC (round 12, ex-r72): the DELETE's net changes are its
    # deleted rows (v1->v2); the UPDATE's inserts are the new row
    # versions net of multiset overlap (v2->v3) — both n and value
    # weighted by the net multiplicity __n
    from ..operators.snapshots import read_changes

    def cdc_agg(df: DataFrame, tag: str, count_style: bool = False) -> DataFrame:
        # count_style mirrors the oracle's COUNT(*) (0 on empty, never
        # NULL); the net-sum form mirrors SUM(net) (NULL on empty)
        n = F.sum("__n").cast("long")
        return df.agg(
            F.lit(tag).alias("part"),
            (F.coalesce(n, F.lit(0)) if count_style else n).alias("n_orders"),
            F.sum(F.col("pc") * F.col("__n")).cast("long").alias("total_cents"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n_orders", "total_cents", "min_ck", "max_ck")

    cdc_del = cdc_agg(
        read_changes(spark, slake, 1, 2).filter(F.col("__change") == "delete"),
        "cdc_del",
        count_style=True,
    )
    cdc_ins = cdc_agg(
        read_changes(spark, slake, 2, 3).filter(F.col("__change") == "insert"),
        "cdc_ins",
    )

    # join-driven file pruning, numeric interval-probe form (round 12,
    # ex-r71): a distinct-key dim plans the z-ordered lake's read set
    # through lake_join_scan — record-stats probes before any fact read
    from ..catalog import lake_join_scan

    dim = o.select(F.col("ck").alias("dk")).distinct().filter(F.col("dk") % 97 == 0)
    numjoin = agg(
        lake_join_scan(spark, "q23_orders_lake", dim, "ck", "dk"), "numjoin"
    )

    # deletion vectors under the driver hash (round 13, ex-r78 rotated
    # in — VERDICT r12 ask #2): a PRUNED DV delete masks only can-match
    # files (ck-range none-match files keep unopened, zero rewrite),
    # 'dv' reads the masked head through the catalog, 'dv_tt' time
    # travels to the pre-mask v3 — a resurrected masked row, an
    # over-masked row, or a mask leaking into history breaks the hash
    lake_delete_where(
        spark, "q23_orders_snap", "pc % 10 = 3 AND ck BETWEEN 90 AND 140",
        use_dv=True,
    )
    dv = agg(lake_scan(spark, "q23_orders_snap"), "dv")
    dv_tt = agg(lake_scan(spark, "q23_orders_snap", version=3), "dv_tt")

    # sharded snapshot manifests under the driver hash (round 14,
    # ex-r80 rotated in): one source of truth — the branches CALL the
    # r80 registry query and re-shape its tagged output
    sharded = r80_lake_sharded_manifests(spark, sf_dir).select(
        F.concat(F.lit("sharded_"), F.col("part")).alias("part"),
        F.col("n").alias("n_orders"),
        F.col("sum_pc").alias("total_cents"),
        F.col("min_ck"),
        F.col("max_ck"),
    )

    return (
        box.unionByName(count)
        .unionByName(date)
        .unionByName(disj)
        .unionByName(dml)
        .unionByName(dml_v1)
        .unionByName(tt_box)
        .unionByName(cdc_del)
        .unionByName(cdc_ins)
        .unionByName(numjoin)
        .unionByName(dv)
        .unionByName(dv_tt)
        .unionByName(sharded)
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# R50 — Hilbert layout key (Y3, round 9): the better-locality sibling
#        of q39's z-order key, same (customer, price-cents) cells,
#        data-derived bounds, aggregated per 1024-key bucket so the
#        oracle checks the FULL key distribution. The oracle unrolls
#        the identical per-level integer state transform as chained
#        CTEs (level-numbered columns — alias shadowing can't bite);
#        curve-vs-curve pruning is measured in tests/test_layout_ops.py
#        and docs/PERF.md.
# ---------------------------------------------------------------------------

_R50_SQL = (
    _CELL_SQL
    + ",\n"
    + hilbert_key_sql("cx", "cy", _BITS, "cells")
    + """
SELECT hkey >> 10 AS bucket, COUNT(*) AS n_orders, MIN(hkey) AS h_min, MAX(hkey) AS h_max
FROM h_final
GROUP BY bucket
ORDER BY bucket
"""
)


@query("r50_hilbert_key", oracle=_R50_SQL, covers="Y3")
def r50_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import with_hilbert_key

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    bounds = o.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("pc").alias("pc_lo"),
        F.max("pc").alias("pc_hi"),
    )
    j = o.crossJoin(F.broadcast(bounds))
    cells = j.withColumn(
        "cx", scale_to_bits_cols(F.col("ck"), F.col("ck_lo"), F.col("ck_hi"), _BITS)
    ).withColumn("cy", scale_to_bits_cols(F.col("pc"), F.col("pc_lo"), F.col("pc_hi"), _BITS))
    keyed = with_hilbert_key(cells, "cx", "cy", _BITS, out_col="hkey")
    return (
        keyed.groupBy(F.shiftright("hkey", 10).alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("hkey").alias("h_min"),
            F.max("hkey").alias("h_max"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Q45 (ex-r52, rotated into the driver window round 10) — Bloom-
#        manifest pruned scan (Y4): equality-predicate
#        file skipping for a STRING column, where the per-file
#        min/max rule is useless by design. Lake hash-clusters on
#        source, per-file Bloom bitmaps persist next to it, and the
#        point lookup reads only files whose bitmap might contain the
#        value. The oracle is the direct filter on the raw table — a
#        Bloom FALSE NEGATIVE (the one failure mode that loses rows)
#        breaks the hash; false positives only cost a read. The hash
#        itself (xxhash64) never reaches the output, so the query stays
#        fully oracled even though the bitmap is engine-specific —
#        the q13 bloom-join contract, lifted to file pruning.
# ---------------------------------------------------------------------------

_R52_SQL = """
SELECT 'join' AS part, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents
WHERE source IN ('src1', 'src4')
UNION ALL
SELECT 'point', COUNT(*), CAST(SUM(n_chars) AS BIGINT), MIN(doc_id), MAX(doc_id)
FROM documents
WHERE source = 'src3'
ORDER BY part
"""


@query("q45_bloom_pruned_scan", oracle=_R52_SQL, covers="Y4,S3,A2,P3")
def q45_bloom_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 11: the read routes through the CATALOG hook — the Bloom
    probe is derived from the predicate STRING (`source = 'src3'`)
    against the registered bloom manifest, no caller-constructed
    filter list, so the automatic equality->Bloom planning path sits
    under the driver hash alongside q23's box path."""
    import os

    from ..catalog import lake_scan, register_lake_table
    from ..operators.layout import save_bloom_manifest

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r52_lake"
    )
    lake = os.path.join(base, "data")
    bloom_m = os.path.join(base, "bloom_manifest")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    docs.repartition(8, "source").write.mode("overwrite").parquet(lake)
    save_bloom_manifest(spark, lake, "source", bloom_m)
    register_lake_table(spark, "q45_docs_lake", lake, bloom_manifests={"source": bloom_m})
    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        ).select(F.lit(tag).alias("part"), "n_docs", "total_chars", "min_id", "max_id")

    point = agg(
        lake_scan(spark, "q45_docs_lake", "source = 'src3' AND doc_id >= 0"), "point"
    )
    # 'join' (round 11): join-driven FILE pruning under the driver
    # hash — the dim's distinct keys probe the registered Bloom
    # manifest (file-level DPP for a string key; r71 gates the numeric
    # interval-probe form)
    from ..catalog import lake_join_scan

    dim = spark.createDataFrame([("src1",), ("src4",)], "dk string")
    join = agg(lake_join_scan(spark, "q45_docs_lake", dim, "source", "dk"), "join")
    return join.unionByName(point).orderBy("part")


# ---------------------------------------------------------------------------
# Q46 (ex-r65, rotated into the driver window round 11, VERDICT r10
#        ask #3; the simhash demo it displaces keeps its oracle as
#        r67) — incremental OPTIMIZE: unsorted appends degrade a
#        z-ordered lake; optimize_clustered rewrites only the
#        footer-selected wide-span files into quad-aligned cells,
#        adopting the plain lake into the snapshot log first and
#        committing the swap as one optimize commit. The oracle
#        aggregates the SAME logical rows straight off the raw table,
#        so an adoption or compaction that loses, duplicates, or
#        corrupts a single row breaks the hash — the commit protocol
#        itself is under the gate. Pruning restoration + crash safety
#        are pinned in tests/test_layout_ops.py.
# ---------------------------------------------------------------------------

_Q46_SQL = """
SELECT COUNT(*) AS n_orders,
       CAST(SUM(pc) AS BIGINT) AS total_cents,
       MIN(ck) AS min_ck, MAX(ck) AS max_ck,
       CAST(SUM(CASE WHEN ck BETWEEN 50 AND 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_box
FROM (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
)
"""


@query("q46_optimize_clustered", oracle=_Q46_SQL, covers="Y2,Y1,S8,A2")
def q46_optimize_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.layout import optimize_clustered, write_zordered, zorder_specs
    from ..operators.snapshots import read_snapshot

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "q46_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)  # rebuild: appends below must not accumulate
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    specs = zorder_specs(o, ["ck", "pc"])
    clustered = o.filter(F.col("ck") % 10 != 0)
    appended = o.filter(F.col("ck") % 10 == 0)
    write_zordered(clustered, lake, specs, bits=8, n_files=16)
    appended.coalesce(2).write.mode("append").parquet(lake)  # unsorted, wide-span
    optimize_clustered(spark, lake, specs, bits=8)
    df = read_snapshot(spark, lake)
    return df.agg(
        F.count("*").alias("n_orders"),
        F.sum("pc").cast("long").alias("total_cents"),
        F.min("ck").alias("min_ck"),
        F.max("ck").alias("max_ck"),
        F.sum(F.col("ck").between(50, 600).cast("long")).alias("n_in_box"),
    )


# ---------------------------------------------------------------------------
# R68 — partition-value pruning + metadata MIN/MAX (round 11): the
#        catalog hook learns the Iceberg partition-stats rule.
#        Partition columns (om=<month> directories here) never have
#        footer stats, so before round 11 the MOST selective lake
#        predicate — the partition key — skipped nothing through the
#        hook. Now directory-encoded values prune lake_scan file lists,
#        classify lake_count files as exactly (v, v, nulls=0), and
#        lake_min_max opens only box-boundary plus
#        argmin/argmax candidate files. The oracle runs the identical
#        predicates on the raw table: a wrong skip loses rows and
#        breaks the hash.
# ---------------------------------------------------------------------------

_R68_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc,
         CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS om
  FROM orders
)
SELECT 'count' AS part, COUNT(*) AS n, CAST(NULL AS BIGINT) AS lo, CAST(NULL AS BIGINT) AS hi
FROM o WHERE om BETWEEN 2 AND 4
UNION ALL
SELECT 'inlist', COUNT(*), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM o WHERE om IN (1, 6, 12)
UNION ALL
SELECT 'minmax', CAST(NULL AS BIGINT), MIN(pc), MAX(pc)
FROM o WHERE ck BETWEEN 50 AND 600
UNION ALL
SELECT 'scan', COUNT(*), MIN(ck), MAX(ck)
FROM o WHERE om = 3 AND ck <= 500
ORDER BY part
"""


@query("r68_lake_partition_ops", oracle=_R68_SQL, covers="Y2,S8,A2,P3")
def r68_lake_partition_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..catalog import lake_count, lake_min_max, lake_scan, register_lake_table

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r68_lake"
    )
    lake = os.path.join(base, "data")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
        F.month("o_orderdate").alias("om"),
    )
    o.repartition(2).write.mode("overwrite").partitionBy("om").parquet(lake)
    register_lake_table(spark, "r68_orders_by_month", lake)

    schema = "part string, n long, lo long, hi long"
    scan = (
        lake_scan(spark, "r68_orders_by_month", "om = 3 AND ck <= 500")
        .agg(
            F.count("*").alias("n"),
            F.min("ck").alias("lo"),
            F.max("ck").alias("hi"),
        )
        .select(F.lit("scan").alias("part"), "n", "lo", "hi")
    )
    n = lake_count(spark, "r68_orders_by_month", "om BETWEEN 2 AND 4")
    n_in = lake_count(spark, "r68_orders_by_month", "om IN (1, 6, 12)")
    count = spark.createDataFrame([("count", n, None, None), ("inlist", n_in, None, None)], schema)
    minmax = lake_min_max(spark, "r68_orders_by_month", "pc", "ck BETWEEN 50 AND 600").select(
        F.lit("minmax").alias("part"),
        F.lit(None).cast("long").alias("n"),
        F.col("min_pc").alias("lo"),
        F.col("max_pc").alias("hi"),
    )
    return count.unionByName(minmax).unionByName(scan).orderBy("part")


# ---------------------------------------------------------------------------
# R69 — lake snapshots + time travel (round 11, operators/snapshots.py):
#        every write/delete is ONE atomically-linked json commit; old
#        bytes stay on disk so any retained version reads bit-exact.
#        The query materializes v1 (initial load), v2 (append), v3
#        (pruned DELETE), then ROLLS BACK to v2 — and aggregates each
#        version through read_snapshot / the catalog's version= hook.
#        The oracle rebuilds every version's logical contents straight
#        from the raw table: a commit that loses, duplicates, or
#        resurrects one row (e.g. a dead file leaking back into a read)
#        breaks the hash. The reference lake is overwrite-only blobs
#        (mlb_pipeline_dag.py:119); versioned commits are beyond-
#        reference scale surface.
# ---------------------------------------------------------------------------

_R69_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
v1 AS (SELECT * FROM o WHERE ck % 3 = 0),
v2 AS (SELECT * FROM o WHERE ck % 3 <= 1),
v3 AS (SELECT * FROM v2 WHERE NOT (ck BETWEEN 0 AND 300))
SELECT 'cur_after_rollback' AS part, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc FROM v2
UNION ALL
SELECT 'v1', COUNT(*), CAST(SUM(pc) AS BIGINT) FROM v1
UNION ALL
SELECT 'v2', COUNT(*), CAST(SUM(pc) AS BIGINT) FROM v2
UNION ALL
SELECT 'v3_after_delete', COUNT(*), CAST(SUM(pc) AS BIGINT) FROM v3
ORDER BY part
"""


@query("r69_lake_time_travel", oracle=_R69_SQL, covers="X38,S8,A2")
def r69_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..catalog import lake_scan, register_lake_table
    from ..operators.snapshots import (
        lake_delete,
        lake_rollback,
        lake_write,
        read_snapshot,
    )

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r69_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_write(spark, o.filter(F.col("ck") % 3 == 0).repartitionByRange(4, "ck"), lake)
    lake_write(spark, o.filter(F.col("ck") % 3 == 1).repartitionByRange(2, "ck"), lake)
    lake_delete(spark, lake, "ck BETWEEN 0 AND 300", col_types={"ck": "bigint", "pc": "bigint"})
    lake_rollback(lake, 2)
    register_lake_table(spark, "r69_lake_tt", lake)

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n"), F.sum("pc").cast("long").alias("sum_pc")
        ).select(F.lit(tag).alias("part"), "n", "sum_pc")

    return (
        agg(lake_scan(spark, "r69_lake_tt"), "cur_after_rollback")
        .unionByName(agg(read_snapshot(spark, lake, 1), "v1"))
        .unionByName(agg(lake_scan(spark, "r69_lake_tt", version=2), "v2"))
        .unionByName(agg(read_snapshot(spark, lake, 3), "v3_after_delete"))
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# R70 — pruned MERGE INTO (round 11, operators/snapshots.py
#        lake_merge): upsert a source delta into a key-clustered lake
#        rewriting ONLY the files whose footer key range can contain a
#        source key (per-key interval probes); untouched files carry
#        over by identity, inserts land as new files, and the whole
#        swap is one snapshot commit. The oracle computes the upsert
#        relationally (source wins, anti-joined base rows carry over):
#        a merge that loses an untouched file's rows, duplicates a
#        matched key, or drops an insert breaks the hash. Candidate
#        pruning itself is pinned in tests/test_snapshot_ops.py
#        (identity + mtime of untouched files).
# ---------------------------------------------------------------------------

_R70_SQL = """
WITH o AS (
  SELECT CAST(o_orderkey AS BIGINT) AS ok,
         CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
base AS (SELECT * FROM o WHERE ck % 2 = 0),
src AS (
  SELECT ok, ck, pc + 7777 AS pc FROM base WHERE ck % 10 = 0
  UNION ALL
  SELECT ok, ck, pc FROM o WHERE ck % 2 = 1
),
merged AS (
  SELECT * FROM src
  UNION ALL
  SELECT b.* FROM base b WHERE b.ok NOT IN (SELECT ok FROM src)
)
SELECT CAST(ck % 5 AS BIGINT) AS g, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc
FROM merged GROUP BY 1 ORDER BY 1
"""


@query("r70_lake_merge_upsert", oracle=_R70_SQL, covers="X39,J4,A2")
def r70_lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import lake_merge, lake_write, read_snapshot

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r70_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("ok"),
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_base = o.filter(F.col("ck") % 2 == 0)
    lake_write(spark, lake_base.repartitionByRange(8, "ok"), lake)
    source = lake_base.filter(F.col("ck") % 10 == 0).withColumn(
        "pc", F.col("pc") + F.lit(7777)
    ).unionByName(o.filter(F.col("ck") % 2 == 1))
    lake_merge(spark, lake, source, "ok")
    return (
        read_snapshot(spark, lake)
        .groupBy((F.col("ck") % 5).cast("long").alias("g"))
        .agg(F.count("*").alias("n"), F.sum("pc").cast("long").alias("sum_pc"))
        .orderBy("g")
    )


# ---------------------------------------------------------------------------
# R71 — join-driven file pruning (round 11, catalog.lake_join_scan):
#        the file-level form of dynamic partition pruning. A selective
#        dim's distinct keys become per-key interval probes against the
#        fact lake's per-file record stats (plus partition-value and Bloom
#        rules) BEFORE any fact data is read — on a key-clustered
#        100 TB fact table the read set is the dim's key range, not
#        the table. The oracle replays the identical join relationally:
#        a keep set that drops a matching file loses rows and breaks
#        the hash; the never-opened guarantee is pinned separately by
#        the garbled-data-pages tests (tests/test_snapshot_ops.py).
# ---------------------------------------------------------------------------

_R71_SQL = """
WITH li AS (
  SELECT CAST(l_partkey AS BIGINT) AS pk,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem
),
d AS (
  SELECT CAST(p_partkey AS BIGINT) AS dk, p_brand
  FROM part WHERE p_size = 1
)
SELECT p_brand, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc
FROM li JOIN d ON li.pk = d.dk
GROUP BY p_brand ORDER BY p_brand
"""


@query("r71_lake_join_pruned", oracle=_R71_SQL, covers="X40,J2,A2")
def r71_lake_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..catalog import lake_join_scan, register_lake_table

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r71_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(base):
        shutil.rmtree(base)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("pk"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    li.repartitionByRange(8, "pk").write.parquet(lake)
    register_lake_table(spark, "r71_lineitem_by_part", lake)
    dim = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 1)
        .select(F.col("p_partkey").cast("long").alias("dk"), "p_brand")
    )
    return (
        lake_join_scan(spark, "r71_lineitem_by_part", dim, "pk", "dk")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.sum("pc").cast("long").alias("sum_pc"))
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# R72 — snapshot CDC / incremental read (round 11,
#        snapshots.read_changes): "what changed between v_from and
#        v_to" computed from the FILE-SET DIFF alone — files both
#        versions share cancel unopened (pinned by a garbled-common-
#        file test), rewrite survivors net to zero, so a DELETE's
#        changes are exactly its deleted rows and an append's are pure
#        inserts. The oracle rebuilds both change sets relationally
#        from the raw table: an unopened-file shortcut that nets wrong
#        (losing a delete, minting a phantom insert) breaks the hash.
# ---------------------------------------------------------------------------

_R72_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
ins AS (SELECT * FROM o WHERE ck % 3 = 1),
del AS (SELECT * FROM o WHERE ck % 3 <= 1 AND ck BETWEEN 0 AND 300)
SELECT 'del_2_3' AS part, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc FROM del
UNION ALL
SELECT 'ins_1_2', COUNT(*), CAST(SUM(pc) AS BIGINT) FROM ins
ORDER BY part
"""


@query("r72_lake_changes", oracle=_R72_SQL, covers="X41,A2")
def r72_lake_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import lake_delete, lake_write, read_changes

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r72_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_write(spark, o.filter(F.col("ck") % 3 == 0).repartitionByRange(4, "ck"), lake)
    lake_write(spark, o.filter(F.col("ck") % 3 == 1).repartitionByRange(2, "ck"), lake)
    lake_delete(spark, lake, "ck BETWEEN 0 AND 300", col_types={"ck": "bigint", "pc": "bigint"})

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.sum("__n").cast("long").alias("n"),
            F.sum(F.col("pc") * F.col("__n")).cast("long").alias("sum_pc"),
        ).select(F.lit(tag).alias("part"), "n", "sum_pc")

    ins = read_changes(spark, lake, 1, 2).filter(F.col("__change") == "insert")
    dels = read_changes(spark, lake, 2, 3).filter(F.col("__change") == "delete")
    return agg(dels, "del_2_3").unionByName(agg(ins, "ins_1_2")).orderBy("part")


# ---------------------------------------------------------------------------
# R73 — NDV sketch manifest (round 11, layout.save_ndv_manifest +
#        catalog.lake_approx_distinct): per-file Datasketches HLL
#        sketches as a manifest — the Iceberg-puffin/theta pattern.
#        APPROX_COUNT_DISTINCT under an exact box unions interior
#        files' PERSISTED sketches unopened and live-sketches only the
#        boundary. Registered rows-only BY DESIGN (approximate,
#        engine-specific binary sketches); the accuracy contract
#        (within HLL error of exact, interior files provably unopened
#        via garbled data pages) is pinned in
#        tests/test_snapshot_ops.py.
# ---------------------------------------------------------------------------


@query("r73_lake_approx_distinct", oracle=None, covers="X42,A4")
def r73_lake_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..catalog import lake_approx_distinct, register_lake_table
    from ..operators.layout import save_ndv_manifest

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r73_lake"
    )
    lake = os.path.join(base, "data")
    ndv_m = os.path.join(base, "ndv_m")
    if os.path.exists(base):
        shutil.rmtree(base)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("ok"),
        F.col("o_custkey").cast("long").alias("ck"),
    )
    o.repartitionByRange(8, "ok").write.parquet(lake)
    save_ndv_manifest(spark, lake, ["ck"], ndv_m)
    register_lake_table(spark, "r73_orders_ndv", lake, ndv_manifest=ndv_m)
    hi = o.agg(F.max("ok")).head()[0]
    rows = [
        ("ndv_all", lake_approx_distinct(spark, "r73_orders_ndv", "ck")),
        (
            "ndv_half",
            lake_approx_distinct(
                spark, "r73_orders_ndv", "ck", f"ok BETWEEN 0 AND {hi // 2}"
            ),
        ),
    ]
    return spark.createDataFrame(rows, "part string, ndv long").orderBy("part")


# ---------------------------------------------------------------------------
# R74 — pruned UPDATE (round 11, snapshots.lake_update): SQL
#        UPDATE ... SET ... WHERE over the snapshot lake, rewriting
#        only files that can contain a matching row (the delete
#        classifier's none-match proof keeps the rest by identity);
#        the assignment applies under a CASE so FALSE/NULL-predicate
#        rows keep their original values, and updated columns cast
#        back to their original type. The oracle replays the identical
#        CASE relationally: an update that leaks into an untouched
#        file's rows, misses a matching row, or drifts a type breaks
#        the hash. The untouched-files-never-opened proof is pinned in
#        tests/test_snapshot_ops.py (garbled data pages).
# ---------------------------------------------------------------------------

_R74_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
u AS (
  SELECT ck,
         CASE WHEN ck BETWEEN 100 AND 400 THEN pc + 100000 ELSE pc END AS pc
  FROM o
)
SELECT CAST(ck % 5 AS BIGINT) AS g, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc
FROM u GROUP BY 1 ORDER BY 1
"""


@query("r74_lake_update", oracle=_R74_SQL, covers="X39,P7,A2")
def r74_lake_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import lake_update, lake_write, read_snapshot

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r74_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_write(spark, o.repartitionByRange(8, "ck"), lake)
    lake_update(
        spark, lake, {"pc": "pc + 100000"}, "ck BETWEEN 100 AND 400",
        col_types={"ck": "bigint", "pc": "bigint"},
    )
    return (
        read_snapshot(spark, lake)
        .groupBy((F.col("ck") % 5).cast("long").alias("g"))
        .agg(F.count("*").alias("n"), F.sum("pc").cast("long").alias("sum_pc"))
        .orderBy("g")
    )


# ---------------------------------------------------------------------------
# R75 — snapshots x IVM (round 11, warehouse.refresh_rollup_from_lake):
#        the materialized rollup maintains itself from the LAKE'S OWN
#        COMMIT LOG — no changelog infrastructure. The store remembers
#        the lake version it reflects; a refresh folds
#        read_changes(last, head) (file-set-diff CDC, shared files
#        cancel unopened) into signed partials merged into touched
#        partitions only. The query builds the store at v1, applies an
#        append then a pruned DELETE, refreshes ONCE, and reads the
#        store; the oracle aggregates the final logical table straight
#        from the raw rows — a refresh that misses churn, double-
#        applies it, or resurrects deleted rows breaks the hash.
# ---------------------------------------------------------------------------

_R75_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc,
         CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS om
  FROM orders
),
cur AS (SELECT * FROM o WHERE NOT (ck % 7 = 3))
SELECT om, COUNT(*) AS n, CAST(SUM(pc) AS DOUBLE) AS total
FROM cur GROUP BY om ORDER BY om
"""


@query("r75_lake_ivm_refresh", oracle=_R75_SQL, covers="X35,X38,X41,A2")
def r75_lake_ivm_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import lake_delete, lake_write
    from ..sources.warehouse import refresh_rollup_from_lake, rollup_from_store

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r75_lake"
    )
    lake, store = os.path.join(base, "data"), os.path.join(base, "store")
    if os.path.exists(base):
        shutil.rmtree(base)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
        F.month("o_orderdate").cast("long").alias("om"),
        (F.col("o_custkey") % 7).cast("long").alias("g"),
    )
    lake_write(spark, o.filter(F.col("ck") % 2 == 0).repartitionByRange(4, "ck"), lake)
    refresh_rollup_from_lake(spark, lake, store, "om", ["g"], "pc")  # built at v1
    lake_write(spark, o.filter(F.col("ck") % 2 == 1).repartitionByRange(2, "ck"), lake)
    lake_delete(spark, lake, "g = 3", col_types={"g": "bigint"})
    refresh_rollup_from_lake(spark, lake, store, "om", ["g"], "pc")  # one refresh, both commits
    return (
        rollup_from_store(spark, store, ["om"], scale=2)
        .select("om", "n", F.col("total"))
        .orderBy("om")
    )


# ---------------------------------------------------------------------------
# R76 — full schema evolution (round 12, operators/snapshots.py
#        lake_drop_column / lake_rename_column / lake_widen_column):
#        ALTER TABLE as metadata-only commits over the authoritative
#        commit-record schema. The lake takes a RENAME (pc -> cents),
#        a WIDEN (ck int -> bigint), a DROP (note), then an append in
#        the new generation; the head read must resolve BOTH file
#        generations (old names/narrow types through the name-lineage
#        coalesce + parquet type promotion), and the v1 time travel
#        must show the original schema. The oracle replays the same
#        evolution relationally (rename = alias, widen = cast, drop =
#        projection) — a generation read under the wrong name/type or
#        a resurrected dropped column breaks the hash.
# ---------------------------------------------------------------------------

_R76_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS INT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc,
         o_orderstatus AS note
  FROM orders
),
base AS (SELECT * FROM o WHERE ck % 3 <> 0),
extra AS (SELECT CAST(ck AS BIGINT) AS ck, pc AS cents FROM o WHERE ck % 3 = 0),
head AS (
  SELECT CAST(ck AS BIGINT) AS ck, pc AS cents FROM base
  UNION ALL
  SELECT * FROM extra
)
SELECT 'head' AS part, CAST(ck % 5 AS BIGINT) AS g, COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS total, CAST(SUM(ck) AS BIGINT) AS sum_k
FROM head GROUP BY 2
UNION ALL
SELECT 'v1', CAST(ck % 5 AS BIGINT), COUNT(*),
       CAST(SUM(pc) AS BIGINT), CAST(SUM(ck) AS BIGINT)
FROM base GROUP BY 2
ORDER BY part, g
"""


@query("r76_lake_schema_evolution", oracle=_R76_SQL, covers="X43,X38,A2")
def r76_lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import (
        lake_drop_column,
        lake_rename_column,
        lake_widen_column,
        lake_write,
        read_snapshot,
    )

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r76_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("int").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
        F.col("o_orderstatus").alias("note"),
    )
    lake_write(spark, o.filter(F.col("ck") % 3 != 0).repartitionByRange(4, "ck"), lake)  # v1
    lake_rename_column(lake, "pc", "cents")  # v2 (metadata only)
    lake_widen_column(lake, "ck", "bigint")  # v3 (metadata only)
    lake_drop_column(lake, "note")  # v4 (metadata only)
    lake_write(  # v5: new-generation append under the evolved schema
        spark,
        o.filter(F.col("ck") % 3 == 0).select(
            F.col("ck").cast("bigint").alias("ck"), F.col("pc").alias("cents")
        ).repartitionByRange(2, "ck"),
        lake,
    )

    def agg(df: DataFrame, tag: str, val_col: str) -> DataFrame:
        return (
            df.groupBy((F.col("ck") % 5).cast("long").alias("g"))
            .agg(
                F.count("*").alias("n"),
                F.sum(val_col).cast("long").alias("total"),
                F.sum("ck").cast("long").alias("sum_k"),
            )
            .select(F.lit(tag).alias("part"), "g", "n", "total", "sum_k")
        )

    head = agg(read_snapshot(spark, lake), "head", "cents")
    v1 = agg(read_snapshot(spark, lake, 1), "v1", "pc")
    return head.unionByName(v1).orderBy("part", "g")


# ---------------------------------------------------------------------------
# R77 — branch refs / WRITE-AUDIT-PUBLISH (round 12,
#        operators/snapshots.py lake_branch_*): a new data drop stages
#        on a branch (files invisible to main), the audit reads the
#        branch head, and PUBLISH fast-forwards main in one
#        parent-asserted commit. The query captures all three reads —
#        the audit (base + staged), main DURING staging (base only:
#        one staged row leaking here means branch isolation is
#        broken), and main after publish (the audited state verbatim).
#        The oracle rebuilds each state relationally.
# ---------------------------------------------------------------------------

_R77_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
base AS (SELECT * FROM o WHERE ck % 2 = 0),
staged AS (SELECT ck, pc + 1111 AS pc FROM o WHERE ck % 2 = 1),
combined AS (SELECT * FROM base UNION ALL SELECT * FROM staged)
SELECT 'audit' AS part, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc,
       MIN(ck) AS min_ck, MAX(ck) AS max_ck
FROM combined
UNION ALL
SELECT 'main_during', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck) FROM base
UNION ALL
SELECT 'published', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck) FROM combined
ORDER BY part
"""


@query("r77_lake_branch_wap", oracle=_R77_SQL, covers="X44,X38,A2")
def r77_lake_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import (
        lake_branch_append,
        lake_branch_create,
        lake_publish_branch,
        lake_write,
        read_branch,
        read_snapshot,
    )

    base_dir = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r77_lake"
    )
    lake = os.path.join(base_dir, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_write(spark, o.filter(F.col("ck") % 2 == 0).repartitionByRange(4, "ck"), lake)
    lake_branch_create(lake, "drop1")
    lake_branch_append(
        spark, lake, "drop1",
        o.filter(F.col("ck") % 2 == 1).withColumn("pc", F.col("pc") + F.lit(1111)),
    )

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("part"),
            F.count("*").alias("n"),
            F.sum("pc").cast("long").alias("sum_pc"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n", "sum_pc", "min_ck", "max_ck")

    audit = agg(read_branch(spark, lake, "drop1"), "audit")
    main_during = agg(read_snapshot(spark, lake), "main_during")
    lake_publish_branch(lake, "drop1")
    published = agg(read_snapshot(spark, lake), "published")
    return audit.unionByName(main_during).unionByName(published).orderBy("part")


# ---------------------------------------------------------------------------
# R78 — deletion vectors (round 12, snapshots.lake_delete use_dv=True):
#        DELETE as a position-mask sidecar — zero data files rewritten
#        (mtime-pinned in tests/test_deletion_vectors.py), every
#        reader anti-joins the mask. Two stacked DV deletes, then the
#        three reads that can each expose a bad mask: the head (both
#        masks applied), v1 time travel (no mask), and CDC v1->v2 (the
#        mask's own rows as deletes). The oracle replays the deletes
#        relationally — a masked row leaking back, an over-masked row,
#        or a wrong CDC net breaks the hash.
# ---------------------------------------------------------------------------

_R78_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
d1 AS (SELECT * FROM o WHERE NOT (pc % 1000 < 300)),
d2 AS (SELECT * FROM d1 WHERE NOT (ck BETWEEN 100 AND 200))
SELECT 'cdc_del' AS part, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc,
       MIN(ck) AS min_ck, MAX(ck) AS max_ck
FROM o WHERE pc % 1000 < 300
UNION ALL
SELECT 'head', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck) FROM d2
UNION ALL
SELECT 'v1', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck) FROM o
ORDER BY part
"""


@query("r78_lake_deletion_vectors", oracle=_R78_SQL, covers="X45,X38,X41,P7,A2")
def r78_lake_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import (
        lake_delete,
        lake_write,
        read_changes,
        read_snapshot,
    )

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r78_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_write(spark, o.repartitionByRange(4, "ck"), lake)  # v1
    lake_delete(spark, lake, "pc % 1000 < 300", col_types={"pc": "bigint"}, use_dv=True)  # v2
    lake_delete(
        spark, lake, "ck BETWEEN 100 AND 200", col_types={"ck": "bigint"}, use_dv=True
    )  # v3

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("part"),
            F.count("*").alias("n"),
            F.sum("pc").cast("long").alias("sum_pc"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n", "sum_pc", "min_ck", "max_ck")

    def cdc_agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("part"),
            F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n"),
            F.sum(F.col("pc") * F.col("__n")).cast("long").alias("sum_pc"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n", "sum_pc", "min_ck", "max_ck")

    head = agg(read_snapshot(spark, lake), "head")
    v1 = agg(read_snapshot(spark, lake, 1), "v1")
    cdc = cdc_agg(
        read_changes(spark, lake, 1, 2).filter(F.col("__change") == "delete"),
        "cdc_del",
    )
    return cdc.unionByName(head).unionByName(v1).orderBy("part")


# ---------------------------------------------------------------------------
# R79 — DML ON BRANCHES (round 13, snapshots.lake_delete/update/merge
#        branch=...): a staged crawl drop is CLEANED IN STAGING — a
#        rewrite-form delete, a deletion-vector delete, and an update
#        all commit on the branch chain — then the audited result
#        publishes atomically. Four reads under the oracle: the audit
#        (through lake_scan(branch=), the catalog's branch read), a
#        record-stats-PRUNED branch band scan, main DURING the branch DML
#        (one leaked intermediate row breaks the hash — isolation is
#        oracled, not just asserted), and main after publish (the
#        branch's file changes AND its DV mask delta carried through).
#        The oracle replays the whole flow relationally.
# ---------------------------------------------------------------------------

_R79_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
base AS (SELECT * FROM o WHERE ck % 2 = 0),
staged AS (SELECT ck, pc + 1111 AS pc FROM o WHERE ck % 2 = 1),
combined AS (SELECT * FROM base UNION ALL SELECT * FROM staged),
afterdel AS (SELECT * FROM combined WHERE NOT (ck BETWEEN 301 AND 399)),
afterdv AS (SELECT * FROM afterdel WHERE NOT (pc % 100 < 7)),
afterupd AS (
  SELECT ck, CASE WHEN ck BETWEEN 10 AND 20 THEN pc + 5 ELSE pc END AS pc
  FROM afterdv
)
SELECT 'audit' AS part, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc,
       MIN(ck) AS min_ck, MAX(ck) AS max_ck
FROM afterupd
UNION ALL
SELECT 'audit_band', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck)
FROM afterupd WHERE ck BETWEEN 400 AND 800
UNION ALL
SELECT 'main_during', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck) FROM base
UNION ALL
SELECT 'published', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck) FROM afterupd
ORDER BY part
"""


@query("r79_lake_branch_dml", oracle=_R79_SQL, covers="X46,X44,X39,X45,Y2,A2")
def r79_lake_branch_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..catalog import (
        lake_delete_where,
        lake_scan,
        lake_update_where,
        register_lake_table,
    )
    from ..operators.snapshots import (
        lake_branch_append,
        lake_branch_create,
        lake_publish_branch,
        lake_write,
        read_snapshot,
    )

    base_dir = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r79_lake"
    )
    lake = os.path.join(base_dir, "data")
    if os.path.exists(base_dir):
        shutil.rmtree(base_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_write(spark, o.filter(F.col("ck") % 2 == 0).repartitionByRange(4, "ck"), lake)
    register_lake_table(spark, "r79_lake", lake)
    lake_branch_create(lake, "wap")
    lake_branch_append(
        spark, lake, "wap",
        o.filter(F.col("ck") % 2 == 1).withColumn("pc", F.col("pc") + F.lit(1111)),
    )
    # clean the drop IN STAGING: rewrite-delete a bad band, DV-delete a
    # value pattern (zero rewrite), patch a band — all on the branch
    lake_delete_where(spark, "r79_lake", "ck BETWEEN 301 AND 399", branch="wap")
    lake_delete_where(spark, "r79_lake", "pc % 100 < 7", use_dv=True, branch="wap")
    lake_update_where(
        spark, "r79_lake", {"pc": "pc + 5"}, "ck BETWEEN 10 AND 20", branch="wap"
    )

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("part"),
            F.count("*").alias("n"),
            F.sum("pc").cast("long").alias("sum_pc"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n", "sum_pc", "min_ck", "max_ck")

    audit = agg(lake_scan(spark, "r79_lake", branch="wap"), "audit")
    audit_band = agg(
        lake_scan(spark, "r79_lake", "ck BETWEEN 400 AND 800", branch="wap"),
        "audit_band",
    )
    main_during = agg(read_snapshot(spark, lake), "main_during")
    lake_publish_branch(lake, "wap")
    published = agg(read_snapshot(spark, lake), "published")
    return (
        audit.unionByName(audit_band)
        .unionByName(main_during)
        .unionByName(published)
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# R80 — SHARDED SNAPSHOT MANIFESTS (round 13, X47 — the Iceberg
#        manifest-file shape, operators/snapshots.py _write_manifest /
#        _resolve_record): above the shard threshold a commit's json
#        stays O(1) and the file list lives in immutable, REUSED
#        parquet manifests + a removed list (append = one delta
#        manifest; whole-file delete = zero manifest writes). The
#        query forces the sharded representation (threshold lowered
#        for the run) and drives every consumer through it — head
#        read, time travel, CDC — while the oracle replays the same
#        states relationally: a file lost or resurrected by the
#        manifest union/removed resolution breaks the hash.
# ---------------------------------------------------------------------------

_R80_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
base AS (SELECT * FROM o WHERE ck % 4 != 0),
extra AS (SELECT ck, pc + 77 AS pc FROM o WHERE ck % 4 = 0),
v2 AS (SELECT * FROM base UNION ALL SELECT * FROM extra),
v3 AS (SELECT * FROM v2 WHERE NOT (ck BETWEEN 40 AND 90))
SELECT 'cdc_del' AS part, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS sum_pc,
       MIN(ck) AS min_ck, MAX(ck) AS max_ck
FROM v2 WHERE ck BETWEEN 40 AND 90
UNION ALL
SELECT 'head', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck) FROM v3
UNION ALL
SELECT 'tt_v2', COUNT(*), CAST(SUM(pc) AS BIGINT), MIN(ck), MAX(ck) FROM v2
ORDER BY part
"""


@query("r80_lake_sharded_manifests", oracle=_R80_SQL, covers="X47,X38,X39,X41,A2")
def r80_lake_sharded_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators import snapshots as S
    from ..operators.snapshots import (
        lake_delete,
        lake_write,
        read_changes,
        read_snapshot,
    )

    base_dir = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r80_lake"
    )
    lake = os.path.join(base_dir, "data")
    if os.path.exists(base_dir):
        shutil.rmtree(base_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    saved = S._MANIFEST_SHARD_THRESHOLD
    S._MANIFEST_SHARD_THRESHOLD = 8  # force the sharded representation
    try:
        lake_write(
            spark, o.filter(F.col("ck") % 4 != 0).repartitionByRange(12, "ck"), lake
        )  # v1: 12 files -> 1 manifest
        lake_write(
            spark,
            o.filter(F.col("ck") % 4 == 0)
            .withColumn("pc", F.col("pc") + F.lit(77))
            .repartitionByRange(2, "ck"),
            lake,
        )  # v2: +1 DELTA manifest, base manifest reused
        lake_delete(
            spark, lake, "ck BETWEEN 40 AND 90", col_types={"ck": "bigint"}
        )  # v3: removed list (+ boundary rewrites)
    finally:
        S._MANIFEST_SHARD_THRESHOLD = saved

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("part"),
            F.count("*").alias("n"),
            F.sum("pc").cast("long").alias("sum_pc"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n", "sum_pc", "min_ck", "max_ck")

    def cdc_agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("part"),
            F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n"),
            F.sum(F.col("pc") * F.col("__n")).cast("long").alias("sum_pc"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n", "sum_pc", "min_ck", "max_ck")

    head = agg(read_snapshot(spark, lake), "head")
    tt = agg(read_snapshot(spark, lake, 2), "tt_v2")
    cdc = cdc_agg(
        read_changes(spark, lake, 2, 3).filter(F.col("__change") == "delete"),
        "cdc_del",
    )
    return cdc.unionByName(head).unionByName(tt).orderBy("part")


# ---------------------------------------------------------------------------
# R81 — BRANCH CDC: the WAP audit primitive (round 13,
#        snapshots.read_changes(branch=...)): "what would publishing
#        this branch change" as a NET row diff of the branch head vs
#        its fork state — staged appends surface as inserts, in-branch
#        deletes (rewrite AND deletion-vector form) as deletes,
#        rewrite survivors cancel unopened — computed entirely from
#        the branch chain, main untouched. The oracle rebuilds the
#        fork and head states relationally and takes the same
#        signed-count net, weighting by __n.
# ---------------------------------------------------------------------------

_R81_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
base AS (SELECT * FROM o WHERE ck % 2 = 0),
staged AS (SELECT ck, pc + 1111 AS pc FROM o WHERE ck % 2 = 1),
head AS (
  SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM staged)
  WHERE NOT (ck BETWEEN 280 AND 520) AND NOT (pc % 50 = 9)
),
net AS (
  SELECT ck, pc, SUM(s) AS n FROM (
    SELECT ck, pc, 1 AS s FROM head
    UNION ALL
    SELECT ck, pc, -1 AS s FROM base
  ) GROUP BY ck, pc HAVING SUM(s) != 0
)
SELECT 'del' AS part, CAST(SUM(-n) AS BIGINT) AS n_rows,
       CAST(SUM(pc * -n) AS BIGINT) AS sum_pc, MIN(ck) AS min_ck, MAX(ck) AS max_ck
FROM net WHERE n < 0
UNION ALL
SELECT 'ins', CAST(SUM(n) AS BIGINT), CAST(SUM(pc * n) AS BIGINT), MIN(ck), MAX(ck)
FROM net WHERE n > 0
ORDER BY part
"""


@query("r81_lake_branch_cdc", oracle=_R81_SQL, covers="X46,X44,X41,X45,A2")
def r81_lake_branch_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import (
        lake_branch_append,
        lake_branch_create,
        lake_delete,
        lake_write,
        read_changes,
    )

    base_dir = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r81_lake"
    )
    lake = os.path.join(base_dir, "data")
    if os.path.exists(base_dir):
        shutil.rmtree(base_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    ct = {"ck": "bigint", "pc": "bigint"}
    lake_write(spark, o.filter(F.col("ck") % 2 == 0).repartitionByRange(4, "ck"), lake)
    lake_branch_create(lake, "wap")
    lake_branch_append(
        spark, lake, "wap",
        o.filter(F.col("ck") % 2 == 1).withColumn("pc", F.col("pc") + F.lit(1111)),
    )
    lake_delete(spark, lake, "ck BETWEEN 280 AND 520", col_types=ct, branch="wap")
    lake_delete(spark, lake, "pc % 50 = 9", col_types=ct, use_dv=True, branch="wap")

    ch = read_changes(spark, lake, branch="wap")

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("part"),
            F.sum("__n").cast("long").alias("n_rows"),
            F.sum(F.col("pc") * F.col("__n")).cast("long").alias("sum_pc"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n_rows", "sum_pc", "min_ck", "max_ck")

    dels = agg(ch.filter(F.col("__change") == "delete"), "del")
    ins = agg(ch.filter(F.col("__change") == "insert"), "ins")
    return dels.unionByName(ins).orderBy("part")


# ---------------------------------------------------------------------------
# R82 — COLUMN MAPPING (round 14, the Delta column-mapping / Iceberg
#        column-ID shape): drop a column, REUSE its name for a new
#        identity (legal — the re-add stores under a freshly allocated
#        PHYSICAL parquet name, so the dropped generation's bytes can
#        never resurface), rename another column as a pure metadata
#        relabel, then run pruned DML through the mapping. The oracle
#        rebuilds every state relationally: the head's tag column is
#        the NEW generation only (pre-reuse rows NULL — a leak of the
#        dropped values breaks n_tag/sum_tag), time travel shows each
#        version under its own schema, and the delete touches only
#        new-generation rows (NULL tag never matches). Reference
#        scope: beyond-reference (the reference rebuilds its warehouse
#        wholesale per run, hw5/load_csv.py:12-22).
# ---------------------------------------------------------------------------

_R82_SQL = """
WITH o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
v1 AS (SELECT ck, pc, pc % 100 AS tag FROM o WHERE ck % 3 != 0),
-- v2 drops tag; v3 re-adds 'tag' as a NEW identity (ck * 7) for the
-- complementary slice — old rows read NULL under it
v3_old AS (SELECT ck, pc, CAST(NULL AS BIGINT) AS tag FROM v1),
v3_new AS (SELECT ck, pc, ck * 7 AS tag FROM o WHERE ck % 3 = 0),
v3 AS (SELECT * FROM v3_old UNION ALL SELECT * FROM v3_new),
-- v4 renames pc -> price (pure metadata); v5 deletes tag in
-- [140, 350] — three-valued: NULL-tag rows always survive
head AS (
  SELECT ck, pc AS price, tag FROM v3
  WHERE tag IS NULL OR tag NOT BETWEEN 140 AND 350
)
SELECT 'head' AS part, COUNT(*) AS n,
       CAST(SUM(price) AS BIGINT) AS sum_price,
       COUNT(tag) AS n_tag, CAST(SUM(tag) AS BIGINT) AS sum_tag,
       MIN(ck) AS min_ck, MAX(ck) AS max_ck
FROM head
UNION ALL
SELECT 'tt_v1', COUNT(*), CAST(SUM(pc) AS BIGINT),
       COUNT(tag), CAST(SUM(tag) AS BIGINT), MIN(ck), MAX(ck)
FROM v1
UNION ALL
SELECT 'tt_v3', COUNT(*), CAST(SUM(pc) AS BIGINT),
       COUNT(tag), CAST(SUM(tag) AS BIGINT), MIN(ck), MAX(ck)
FROM v3
ORDER BY part
"""


@query("r82_lake_column_mapping", oracle=_R82_SQL, covers="X43,X38,X39,A2")
def r82_lake_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.snapshots import (
        lake_delete,
        lake_drop_column,
        lake_rename_column,
        lake_write,
        read_snapshot,
    )

    base_dir = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r82_lake"
    )
    lake = os.path.join(base_dir, "data")
    if os.path.exists(base_dir):
        shutil.rmtree(base_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_write(
        spark,
        o.filter(F.col("ck") % 3 != 0)
        .withColumn("tag", (F.col("pc") % 100).cast("long"))
        .repartitionByRange(6, "ck"),
        lake,
    )  # v1: (ck, pc, tag) — generation 1
    lake_drop_column(lake, "tag")  # v2: 'tag' burned
    lake_write(
        spark,
        o.filter(F.col("ck") % 3 == 0)
        .withColumn("tag", (F.col("ck") * 7).cast("long")),
        lake,
        allow_schema_evolution=True,
    )  # v3: 'tag' REUSED — fresh physical name, old rows NULL
    lake_rename_column(lake, "pc", "price")  # v4: pure metadata relabel
    lake_delete(
        spark, lake, "tag BETWEEN 140 AND 350", col_types={"tag": "bigint"}
    )  # v5: pruned DML through the mapping (NULL tag survives)

    def agg(df: DataFrame, tag: str, price_col: str, with_tag: bool) -> DataFrame:
        tag_cols = (
            [
                F.count("tag").alias("n_tag"),
                F.sum("tag").cast("long").alias("sum_tag"),
            ]
            if with_tag
            else [
                F.lit(0).cast("long").alias("n_tag"),
                F.lit(None).cast("long").alias("sum_tag"),
            ]
        )
        return df.agg(
            F.lit(tag).alias("part"),
            F.count("*").alias("n"),
            F.sum(price_col).cast("long").alias("sum_price"),
            *tag_cols,
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
        ).select("part", "n", "sum_price", "n_tag", "sum_tag", "min_ck", "max_ck")

    head = agg(read_snapshot(spark, lake), "head", "price", True)
    tt1 = agg(read_snapshot(spark, lake, 1), "tt_v1", "pc", True)
    tt3 = agg(read_snapshot(spark, lake, 3), "tt_v3", "pc", True)
    return head.unionByName(tt1).unionByName(tt3).orderBy("part")
