"""Relational query set — SURVEY.md §2.10 Q01-Q23 (+ flagship Q00).

Spark side: DataFrame API (declarative; Catalyst handles pushdown /
join selection / AQE). Oracle side: DuckDB ANSI SQL over the same
parquet views.

Determinism contract (see functions.numeric):
* double SUMs go through DECIMAL(18,6) (exact, order-independent),
  rounded in the decimal domain, cast back to double;
* averages/ratios are a single IEEE double division of two
  exact-decimal-derived operands, never re-rounded;
* integer sums are cast to BIGINT on the oracle side (DuckDB sums
  integers into HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import cents, dec, dsum, wmoney, wsum
from ..operators.relational import asof_latest, band_range_join, median_exact
from .registry import query

# ---------------------------------------------------------------------------
# Q00 — flagship: monthly gross revenue by region (SURVEY §7.2)
# scan → filter → joins (broadcast dims) → agg → sort
# ---------------------------------------------------------------------------

_Q00_SQL = """
SELECT r.r_name AS region,
       CAST(date_trunc('month', o.o_orderdate) AS DATE) AS order_month,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * CAST(1 - l.l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("q00_monthly_revenue_by_region", oracle=_Q00_SQL, covers="S3,P2,P3,J1,J2,A2,O9", bench=True)
def q00_monthly_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    # Year filter on orders prunes before the big join. Only the fixed-size
    # dims (nation=25, region=5) are force-broadcast; customer scales with
    # SF, so its join strategy is left to the planner (shuffle join at
    # 100 TB, broadcast while it fits). Round 14: the fact stream joins
    # the RAW customer scan, with nation/region broadcast-joined after —
    # the previous shape pre-joined customer⋈nation⋈region into cust_geo,
    # whose join-product size ESTIMATE blew past the broadcast threshold,
    # so the planner statically picked a SortMergeJoin and wrote both
    # fact-side shuffles (AQE then downgraded the read to local, but the
    # write was already paid). A plain customer scan estimates at file
    # size, so the same planner picks a broadcast join outright: zero
    # fact-side exchanges at bench scale, identical fallback at 100 TB.
    orders_96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    return (
        lineitem.join(orders_96, lineitem.l_orderkey == orders_96.o_orderkey)
        .join(customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        )
        .agg(
            # price(10-digit cents) x (100-disc): 13-digit fixed-point at
            # scale 1e4, summed word-split on the long fast path
            wmoney(cents("l_extendedprice") * (100 - cents("l_discount")), 13, 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("region", "order_month")
    )


# ---------------------------------------------------------------------------
# Q02 — scan-shape family, tagged union (merged round 6 to free a
#        driver-window slot for the incremental near-dup query q01):
#        * 'prefix' branch — projection + prefix filter (P1, P6, S3):
#          startswith pushes down as StringStartsWith next to the pruned
#          column list (plan pinned in tests/test_plan_shape.py);
#        * 'topk' branch — range + between filters + global top-k
#          (P3, P4, O1, O2): ORDER BY + LIMIT over the filtered scan
#          plans as TakeOrderedAndProject — no full sort, only k rows
#          cross that branch's exchange.
#        The tag keeps both shapes independently hash-verified.
# ---------------------------------------------------------------------------

_Q02_SQL = """
WITH topk AS (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    AND l_discount BETWEEN 0.02 AND 0.06
    AND l_quantity < 25
  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
  LIMIT 500
)
SELECT 'prefix' AS part, p_partkey AS k1, CAST(NULL AS BIGINT) AS k2,
       p_name AS s1, p_brand AS s2, CAST(p_retailprice AS DOUBLE) AS d1,
       CAST(NULL AS DOUBLE) AS d2, CAST(NULL AS DOUBLE) AS d3
FROM part WHERE p_name LIKE 'small %'
UNION ALL
SELECT 'topk', l_orderkey, CAST(l_linenumber AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE),
       CAST(l_discount AS DOUBLE)
FROM topk
ORDER BY part, k1, k2
"""


@query("q02_filter_topk", oracle=_Q02_SQL, covers="S3,P1,P3,P4,P6,O1,O2,O9")
def q02_filter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small "))
        .select(
            F.lit("prefix").alias("part"),
            F.col("p_partkey").cast("long").alias("k1"),
            F.lit(None).cast("long").alias("k2"),
            F.col("p_name").alias("s1"),
            F.col("p_brand").alias("s2"),
            F.col("p_retailprice").cast("double").alias("d1"),
            F.lit(None).cast("double").alias("d2"),
            F.lit(None).cast("double").alias("d3"),
        )
    )
    topk = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.02, 0.06)
            & (F.col("l_quantity") < 25)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(500)
        .select(
            F.lit("topk").alias("part"),
            F.col("l_orderkey").cast("long").alias("k1"),
            F.col("l_linenumber").cast("long").alias("k2"),
            F.lit(None).cast("string").alias("s1"),
            F.lit(None).cast("string").alias("s2"),
            F.col("l_quantity").cast("double").alias("d1"),
            F.col("l_extendedprice").cast("double").alias("d2"),
            F.col("l_discount").cast("double").alias("d3"),
        )
    )
    return prefix.unionByName(topk).orderBy("part", "k1", "k2")


# ---------------------------------------------------------------------------
# Q04 — TPC-H Q1-style pricing summary (A2)
# ---------------------------------------------------------------------------

_Q04_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST(1 - l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST((1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q04_pricing_summary", oracle=_Q04_SQL, covers="A1,A2,P3,T16", bench=True)
def q04_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
    cnt = F.count("*")
    # Fixed-point lift (values dataset-pinned: price < 1e6 with 2
    # decimals, quantity <= 50, discount/tax 2 decimals) then word-split
    # exact sums — the long fast path; same IEEE outputs as the oracle's
    # DECIMAL(18,6) sums (see numeric.wsum).
    qty_c = cents("l_quantity")  # 4 digits
    price_c = cents("l_extendedprice")  # 10 digits
    disc_c = cents("l_discount")  # 2 digits
    dp_c = price_c * (100 - disc_c)  # 13 digits, scale 1e4
    ch_c = dp_c * (100 + cents("l_tax"))  # 15 digits, scale 1e6
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            wmoney(qty_c, 4, 2).alias("sum_qty"),
            wmoney(price_c, 10, 2).alias("sum_base_price"),
            wmoney(dp_c, 13, 4).alias("sum_disc_price"),
            wmoney(ch_c, 15, 6).alias("sum_charge"),
            (wsum(qty_c, 4).cast("double") / 100 / cnt).alias("avg_qty"),
            (wsum(price_c, 10).cast("double") / 100 / cnt).alias("avg_price"),
            (wsum(disc_c, 2).cast("double") / 100 / cnt).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q07 — grouping sets: ROLLUP and CUBE over the same base, tagged (A7)
# ---------------------------------------------------------------------------

_Q07_SQL = """
WITH base AS (
  SELECT n.n_name AS nation, c.c_mktsegment AS segment, c.c_acctbal
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
ranked AS (
  SELECT nation, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY c_acctbal) AS rn,
         COUNT(*) OVER (PARTITION BY nation) AS n
  FROM base
)
SELECT 'rollup' AS grouping_op, nation, segment,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_acctbal,
       COUNT(*) AS n_customers,
       CAST(NULL AS VARCHAR) AS customer_names
FROM base GROUP BY ROLLUP (nation, segment)
UNION ALL
SELECT 'cube', nation, segment,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE),
       COUNT(*),
       CAST(NULL AS VARCHAR)
FROM base GROUP BY CUBE (nation, segment)
UNION ALL
SELECT 'string_agg', n.n_name, CAST(NULL AS VARCHAR),
       CAST(NULL AS DOUBLE),
       COUNT(*),
       string_agg(c.c_name, ';' ORDER BY c.c_name)
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > 9000
GROUP BY n.n_name
UNION ALL
SELECT 'median', nation, CAST(NULL AS VARCHAR),
       CAST((MAX(CASE WHEN rn = (n + 1) // 2 THEN bal END)
             + MAX(CASE WHEN rn = (n + 2) // 2 THEN bal END))
            * CAST(0.5 AS DECIMAL(2,1)) AS DOUBLE),
       CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR)
FROM ranked
WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
GROUP BY nation
ORDER BY grouping_op, nation NULLS LAST, segment NULLS LAST
"""


@query("q07_grouping_sets", oracle=_Q07_SQL, covers="A7,A5,A6,A9,O3,J2")
def q07_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Grouped-aggregation family over customer x nation, tagged union
    # (round 7 merges the former q06 ordered string agg and q09 exact
    # median in, freeing those window slots for the duplicate-span and
    # fuzzy-dedup queries): ROLLUP, CUBE, ordered string_agg, and the
    # interpolated exact median are four spellings of "aggregate the
    # same base", verified independently by the grouping_op tag.
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"), "c_acctbal")
    )
    null_names = F.lit(None).cast("string").alias("customer_names")
    aggs = [dsum("c_acctbal").alias("total_acctbal"), F.count("*").alias("n_customers")]
    rolled = base.rollup("nation", "segment").agg(*aggs).select(
        F.lit("rollup").alias("grouping_op"), "*", null_names
    )
    cubed = base.cube("nation", "segment").agg(*aggs).select(
        F.lit("cube").alias("grouping_op"), "*", null_names
    )
    rich = customer.filter(F.col("c_acctbal") > 9000)
    strung = (
        rich.join(F.broadcast(nation), rich.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), ";").alias("customer_names"),
        )
        .select(
            F.lit("string_agg").alias("grouping_op"),
            "nation",
            F.lit(None).cast("string").alias("segment"),
            F.lit(None).cast("double").alias("total_acctbal"),
            "n_customers",
            "customer_names",
        )
    )
    med = median_exact(
        base.select("nation", "c_acctbal"), ["nation"], "c_acctbal", "total_acctbal"
    ).select(
        F.lit("median").alias("grouping_op"),
        "nation",
        F.lit(None).cast("string").alias("segment"),
        "total_acctbal",
        F.lit(None).cast("long").alias("n_customers"),
        null_names,
    )
    return rolled.unionByName(cubed).unionByName(strung).unionByName(med).orderBy(
        "grouping_op", F.col("nation").asc_nulls_last(), F.col("segment").asc_nulls_last()
    )


# ---------------------------------------------------------------------------
# Q10 — conditional-aggregation family, tagged union (merged round 6 to
#        free a driver-window slot for the snapshot-diff query q08):
#        * 'priority_pivot' branch — pivot (A11): count per priority per
#          order year, one wide row per year;
#        * 'filtered_agg' branch — filtered aggregation (A8): CASE-gated
#          sum/counts per order status. Pivot IS filtered agg under the
#          hood (Spark rewrites both to conditional aggregates), so the
#          union exercises the family's two API spellings in one query.
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIAS = {
    "1-URGENT": "n_urgent",
    "2-HIGH": "n_high",
    "3-MEDIUM": "n_medium",
    "4-NOT SPECIFIED": "n_not_specified",
    "5-LOW": "n_low",
}

_Q10_SQL = """
SELECT 'priority_pivot' AS part,
       CAST(CAST(year(o_orderdate) AS INTEGER) AS VARCHAR) AS key,
       CAST(NULL AS DOUBLE) AS d1,
       COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS c1,
       COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS c2,
       COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS c3,
       COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS c4,
       COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS c5
FROM orders
GROUP BY 2
UNION ALL
SELECT 'filtered_agg', o_orderstatus,
       CAST(ROUND(SUM(CASE WHEN o_totalprice > 100000
                           THEN CAST(o_totalprice AS DECIMAL(18,6)) END), 2) AS DOUBLE),
       COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END),
       COUNT(CASE WHEN o_totalprice <= 100000 THEN 1 END),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM orders
GROUP BY 2
ORDER BY part, key
"""


@query("q10_pivot_priority_by_year", oracle=_Q10_SQL, covers="A8,A11")
def q10_pivot_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    pivot_b = pivoted.select(
        F.lit("priority_pivot").alias("part"),
        F.col("order_year").cast("int").cast("string").alias("key"),
        F.lit(None).cast("double").alias("d1"),
        *[
            F.col(f"`{p}`").cast("long").alias(f"c{i + 1}")
            for i, p in enumerate(_PRIORITIES)
        ],
    )
    high = F.col("o_totalprice") > 100000
    filtered_b = (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.sum(F.when(high, dec("o_totalprice"))), 2).cast("double").alias("d1"),
            F.count(F.when(high, F.lit(1))).alias("c1"),
            F.count(F.when(~high, F.lit(1))).alias("c2"),
        )
        .select(
            F.lit("filtered_agg").alias("part"),
            F.col("o_orderstatus").alias("key"),
            "d1",
            "c1",
            "c2",
            F.lit(None).cast("long").alias("c3"),
            F.lit(None).cast("long").alias("c4"),
            F.lit(None).cast("long").alias("c5"),
        )
    )
    return pivot_b.unionByName(filtered_b).orderBy("part", "key")


# ---------------------------------------------------------------------------
# Q12 — broadcast hash join (J2)
# ---------------------------------------------------------------------------

_Q12_SQL = """
SELECT p.p_brand AS brand,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * CAST(1 - l.l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


@query("q12_broadcast_brand_revenue", oracle=_Q12_SQL, covers="J2,A2", bench=True)
def q12_broadcast_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # part scales with SF (200k rows/SF) — no forced broadcast; the 64 MB
    # autoBroadcastJoinThreshold + AQE picks broadcast while it fits and
    # falls back to shuffle join at scale.
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            # 13-digit fixed-point revenue, word-split long sums (numeric.wsum)
            wmoney(cents("l_extendedprice") * (100 - cents("l_discount")), 13, 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Q14 — left semi + left anti (J4/J5, tagged union): customers with
#        >=1 order in a date range vs their complement (the reference's
#        keyed-delete semantics, scripts/scrape_store_embed.py:79).
#        Merged (round 4) to free a slot in the driver's 50-entry
#        oracled window for the embed-retrieval query (q15); the
#        membership tag keeps both join shapes independently verified.
# ---------------------------------------------------------------------------

_Q14_SQL = """
SELECT 'active' AS membership, c_custkey, c_name,
       CAST(NULL AS DOUBLE) AS acctbal, CAST(NULL AS BIGINT) AS n
FROM customer
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = customer.c_custkey
                AND o.o_orderdate >= TIMESTAMP '1999-01-01'
                AND o.o_orderdate < TIMESTAMP '1999-07-01')
UNION ALL
SELECT 'orderless' AS membership, c_custkey, c_name,
       CAST(NULL AS DOUBLE) AS acctbal, CAST(NULL AS BIGINT) AS n
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = customer.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01'
                    AND o.o_orderdate < TIMESTAMP '1999-07-01')
UNION ALL
SELECT 'except', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), COUNT(*) FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
UNION ALL
SELECT 'intersect', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), COUNT(*) FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
UNION ALL
SELECT 'outer_left', c.c_custkey, CAST(NULL AS VARCHAR),
       CAST(NULL AS DOUBLE), COUNT(o.o_orderkey)
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
UNION ALL
SELECT 'outer_full', COALESCE(c.c_custkey, o.o_custkey), CAST(NULL AS VARCHAR),
       CAST(c.c_acctbal AS DOUBLE), o.n_orders
FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) c
FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '1999-07-01'
                 GROUP BY o_custkey) o
ON c.c_custkey = o.o_custkey
ORDER BY membership, c_custkey
"""


@query("q14_semi_anti_membership", oracle=_Q14_SQL, covers="J3,J4,J5,O7,O8")
def q14_semi_anti_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Join-shapes/membership family, tagged union (round 6 added the
    # set-op branches from the former q23; round 7 folds in the former
    # q13's outer-join shapes, freeing that window slot for the
    # bloom-prefilter join): semi/anti joins, EXCEPT/INTERSECT, and
    # left/full outer are each independently verified by the tag.
    # Date-ranged slice so BOTH join branches are non-empty at every
    # SF — an all-time anti join returns 0 rows on this data and
    # verifies nothing.
    customer = load_table(spark, sf_dir, "customer")
    all_orders = load_table(spark, sf_dir, "orders")
    orders = all_orders.filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01")) & (F.col("o_orderdate") < F.lit("1999-07-01"))
    )
    null_n = F.lit(None).cast("long").alias("n")
    null_bal = F.lit(None).cast("double").alias("acctbal")
    semi = (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left_semi")
        .select(F.lit("active").alias("membership"), "c_custkey", "c_name", null_bal, null_n)
    )
    anti = (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left_anti")
        .select(F.lit("orderless").alias("membership"), "c_custkey", "c_name", null_bal, null_n)
    )
    rich = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    # set-EXCEPT spelled directly (subtract = EXCEPT DISTINCT) — semantics
    # hold whether or not c_custkey is unique in the inputs.
    null_key = [F.lit(None).cast("long").alias("c_custkey"), F.lit(None).cast("string").alias("c_name")]
    ex = rich.subtract(building).agg(F.count("*").alias("n")).select(
        F.lit("except").alias("membership"), *null_key, null_bal, "n"
    )
    inter = rich.intersect(building).agg(F.count("*").alias("n")).select(
        F.lit("intersect").alias("membership"), *null_key, null_bal, "n"
    )
    # outer-join shapes (ex-q13): left keeps zero-order customers, full
    # keeps both unmatched sides with null extension
    lefted = (
        customer.join(all_orders, all_orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n"))
        .select(
            F.lit("outer_left").alias("membership"),
            "c_custkey",
            F.lit(None).cast("string").alias("c_name"),
            null_bal,
            "n",
        )
    )
    hi = customer.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_acctbal")
    o99 = orders.groupBy("o_custkey").agg(F.count("*").alias("n"))
    fulled = hi.join(o99, hi.c_custkey == o99.o_custkey, "full_outer").select(
        F.lit("outer_full").alias("membership"),
        F.coalesce("c_custkey", "o_custkey").alias("c_custkey"),
        F.lit(None).cast("string").alias("c_name"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        "n",
    )
    return (
        semi.unionByName(anti)
        .unionByName(ex)
        .unionByName(inter)
        .unionByName(lefted)
        .unionByName(fulled)
        .orderBy("membership", "c_custkey")
    )


# ---------------------------------------------------------------------------
# Q17 — non-equi join family, tagged union (round 9: the band range
#        join merged in to free the q16 slot for the exact Jaccard
#        prefix join):
#        * 'asof' branch — latest order per customer at a cutoff (J7);
#        * 'band' branch — |price_a - price_b| <= 0.05 pair counts
#          through the bucketed band join (J6) — bucketing keeps it an
#          equi-join, never a BNLJ (plan pinned in test_plan_shape).
# ---------------------------------------------------------------------------

_Q17_SQL = """
WITH asf AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
  FROM (
    SELECT o.*, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders o
    WHERE o_orderdate <= TIMESTAMP '1998-01-01'
  )
  WHERE rn = 1
),
band AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_pairs
  FROM part a JOIN part b
    ON a.p_partkey < b.p_partkey
   AND abs(a.p_retailprice - b.p_retailprice) <= 0.05
  WHERE a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT 'asof' AS part, CAST(o_custkey AS VARCHAR) AS key_a,
       CAST(o_orderkey AS VARCHAR) AS key_b, CAST(NULL AS BIGINT) AS n,
       CAST(o_totalprice AS DOUBLE) AS val, o_orderdate AS ts
FROM asf
UNION ALL
SELECT 'band', brand_a, brand_b, n_pairs, CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP)
FROM band
ORDER BY part, key_a, key_b
"""


@query("q17_asof_latest_order", oracle=_Q17_SQL, covers="J7,J6,O3")
def q17_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    latest = asof_latest(orders, ["o_custkey"], "o_orderdate", "1998-01-01", tiebreak=["o_orderkey"])
    asof = latest.select(
        F.lit("asof").alias("part"),
        F.col("o_custkey").cast("string").alias("key_a"),
        F.col("o_orderkey").cast("string").alias("key_b"),
        F.lit(None).cast("long").alias("n"),
        F.col("o_totalprice").cast("double").alias("val"),
        F.col("o_orderdate").alias("ts"),
    )
    pt = load_table(spark, sf_dir, "part")
    a = pt.select(
        F.col("p_partkey").alias("a_key"), F.col("p_brand").alias("brand_a"), F.col("p_retailprice").alias("price_a")
    )
    b = pt.select(
        F.col("p_partkey").alias("b_key"), F.col("p_brand").alias("brand_b"), F.col("p_retailprice").alias("price_b")
    )
    pairs = band_range_join(a, b, "price_a", "price_b", band=0.05)
    band = (
        pairs.filter((F.col("a_key") < F.col("b_key")) & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.lit("band").alias("part"),
            F.col("brand_a").alias("key_a"),
            F.col("brand_b").alias("key_b"),
            F.col("n_pairs").alias("n"),
            F.lit(None).cast("double").alias("val"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    return asof.unionByName(band).orderBy("part", "key_a", "key_b")


# ---------------------------------------------------------------------------
# Q21 — window-function family, tagged union (round 9: the rank/
#        row_number demo merged in to free the q20 slot for the
#        incremental exact-Jaccard store):
#        * 'movavg' branch — 7-day moving average over daily totals
#          (O5/O6 frames);
#        * 'rank' branch — top-5 customers per nation by rank +
#          row_number (O3/O4 ranking).
# ---------------------------------------------------------------------------

_Q21_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_day,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS day_total_dec,
         COUNT(*) AS n_orders
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '1999-04-01'
  GROUP BY 1
),
movavg AS (
  SELECT order_day,
         CAST(day_total_dec AS DOUBLE) AS day_total,
         n_orders,
         CAST(SUM(day_total_dec) OVER w AS DOUBLE)
           / SUM(n_orders) OVER w AS avg_order_price_7d
  FROM daily
  WINDOW w AS (ORDER BY order_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
rnk AS (
  SELECT n.n_name AS nation, c.c_custkey, CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
         RANK() OVER (PARTITION BY n.n_name ORDER BY c.c_acctbal DESC) AS bal_rank,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey) AS bal_rn
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  QUALIFY bal_rn <= 5
)
SELECT 'movavg' AS part, CAST(order_day AS VARCHAR) AS k, n_orders AS id,
       day_total AS v, avg_order_price_7d AS v2,
       CAST(NULL AS BIGINT) AS r1, CAST(NULL AS BIGINT) AS r2
FROM movavg
UNION ALL
SELECT 'rank', nation, c_custkey, c_acctbal, CAST(NULL AS DOUBLE), bal_rank, bal_rn
FROM rnk
ORDER BY part, k, id
"""


@query("q21_moving_avg_daily", oracle=_Q21_SQL, covers="O5,O6,O3,O4,A2")
def q21_moving_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= F.lit("1999-01-01")) & (F.col("o_orderdate") < F.lit("1999-04-01")))
        .groupBy(F.col("o_orderdate").cast("date").alias("order_day"))
        .agg(F.sum(dec("o_totalprice")).alias("day_total_dec"), F.count("*").alias("n_orders"))
    )
    w = Window.orderBy("order_day").rowsBetween(-6, 0)
    movavg = (
        daily.withColumn(
            "avg_order_price_7d",
            F.sum("day_total_dec").over(w).cast("double") / F.sum("n_orders").over(w),
        )
        .select(
            F.lit("movavg").alias("part"),
            F.col("order_day").cast("string").alias("k"),
            F.col("n_orders").alias("id"),
            F.col("day_total_dec").cast("double").alias("v"),
            F.col("avg_order_price_7d").alias("v2"),
            F.lit(None).cast("long").alias("r1"),
            F.lit(None).cast("long").alias("r2"),
        )
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).select(
        F.col("n_name").alias("nation"), "c_custkey", "c_acctbal"
    )
    w_rank = Window.partitionBy("nation").orderBy(F.col("c_acctbal").desc())
    w_rn = Window.partitionBy("nation").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    rnk = (
        joined.withColumn("bal_rank", F.rank().over(w_rank))
        .withColumn("bal_rn", F.row_number().over(w_rn))
        .filter(F.col("bal_rn") <= 5)
        .select(
            F.lit("rank").alias("part"),
            F.col("nation").alias("k"),
            F.col("c_custkey").cast("long").alias("id"),
            F.col("c_acctbal").cast("double").alias("v"),
            F.lit(None).cast("double").alias("v2"),
            F.col("bal_rank").cast("long").alias("r1"),
            F.col("bal_rn").cast("long").alias("r2"),
        )
    )
    return movavg.unionByName(rnk).orderBy("part", "k", "id")


# ---------------------------------------------------------------------------
# Q55 — approx count distinct (A4): HLL sketch, bench/rows-only tier by
#        design (approx results never enter the hash contract)
# ---------------------------------------------------------------------------


@query("q55_approx_distinct", oracle=None, covers="A4,A3", bench=True)
def q55_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # The HLL sketch and the exact distinct are computed in SEPARATE
    # aggregations, then joined on the 5-row group key. Mixing them in one
    # .agg() triggers Spark's distinct-aggregate rewrite, whose first stage
    # keys on (priority, custkey) — which allocates one ~4 KB HLL register
    # block (rsd 0.02 -> 2^12 registers) per DISTINCT CUSTOMER instead of
    # per group: ~400 MB of sketch buffers at sf0.1 and a 2x wall penalty
    # (measured 1.8 s -> 0.8 s warm). Split, each plan is the tight shape:
    # HLL is a plain two-phase agg with 5 groups; the exact side is the
    # standard distinct rewrite with no per-group sketch payload.
    hll = orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.count("*").alias("n_orders"),
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return (
        hll.join(exact, "o_orderpriority")
        .select("o_orderpriority", "approx_customers", "exact_customers", "n_orders")
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q56 — explicit repartition (P8): hash-partition events by user, count
#        rows per partition (murmur3 hash is deterministic for a fixed
#        partition count, but engine-specific — rows-only tier)
# ---------------------------------------------------------------------------


@query("q56_repartition_distribution", oracle=None, covers="P8")
def q56_repartition_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.repartition(16, "user_id")
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("pid")
    )


# ---------------------------------------------------------------------------
# Q08 — keyed snapshot diff (dataset versioning; formerly q77, rotated
#        into the driver's 50-entry window round 6): what changed
#        between two corpus versions. Synthesizes two deterministic
#        snapshots of orders (v1 = keys %7 != 0; v2 = keys %5 != 0 with
#        the status string of every %3 == 0 key mutated) and counts rows
#        by change type. compare-cols are string/long/date only: the md5
#        row hash casts values to string, and double->string formatting
#        is the one cast the two engines render differently. The row
#        hash md5s each column SEPARATELY and concats the fixed-width
#        digests (null -> '-') — injection-proof, mirroring
#        operators/relational.dataset_diff.
# ---------------------------------------------------------------------------

_Q08_SQL = """
WITH old_v AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_orderdate
  FROM orders WHERE o_orderkey % 7 <> 0
),
new_v AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus || 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_orderpriority, o_orderdate
  FROM orders WHERE o_orderkey % 5 <> 0
),
ho AS (
  SELECT o_orderkey,
         md5(COALESCE(md5(CAST(o_custkey AS VARCHAR)), '-')
             || COALESCE(md5(CAST(o_orderdate AS VARCHAR)), '-')
             || COALESCE(md5(CAST(o_orderpriority AS VARCHAR)), '-')
             || COALESCE(md5(CAST(o_orderstatus AS VARCHAR)), '-')) AS h
  FROM old_v
),
hn AS (
  SELECT o_orderkey,
         md5(COALESCE(md5(CAST(o_custkey AS VARCHAR)), '-')
             || COALESCE(md5(CAST(o_orderdate AS VARCHAR)), '-')
             || COALESCE(md5(CAST(o_orderpriority AS VARCHAR)), '-')
             || COALESCE(md5(CAST(o_orderstatus AS VARCHAR)), '-')) AS h
  FROM new_v
),
d AS (
  SELECT COALESCE(ho.o_orderkey, hn.o_orderkey) AS k,
         CASE WHEN ho.h IS NULL THEN 'added'
              WHEN hn.h IS NULL THEN 'removed'
              WHEN ho.h = hn.h THEN 'unchanged'
              ELSE 'changed' END AS change_type
  FROM ho FULL OUTER JOIN hn ON ho.o_orderkey = hn.o_orderkey
)
SELECT change_type, COUNT(*) AS n_rows FROM d GROUP BY 1 ORDER BY 1
"""


@query("r59_snapshot_diff", oracle=_Q08_SQL, covers="J3,A2,P3")
def r59_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:  # ex-q08; slot freed round 10 for the IVM rotation
    from ..operators.relational import dataset_diff

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
    old_v = orders.select(cols).filter(F.col("o_orderkey") % 7 != 0)
    new_v = (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.when(
                F.col("o_orderkey") % 3 == 0, F.concat(F.col("o_orderstatus"), F.lit("X"))
            )
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "o_orderpriority",
            "o_orderdate",
        )
        .filter(F.col("o_orderkey") % 5 != 0)
    )
    diff = dataset_diff(old_v, new_v, ["o_orderkey"])
    return (
        diff.groupBy("change_type").agg(F.count("*").alias("n_rows")).orderBy("change_type")
    )


# ---------------------------------------------------------------------------
# Q80 — approximate quantile sketch (A4 family): percentile_approx /
#        approx_percentile (Greenwald-Khanna) per group — the quantile
#        companion to q55's HLL distinct and q72's heavy-hitter top-k.
#        Rows-only by design (sketch results are engine-specific);
#        the rank-error bound vs the exact percentile is pinned in
#        tests/test_properties.py.
# ---------------------------------------------------------------------------


@query("q80_approx_quantiles", oracle=None, covers="A4,A9")
def q80_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("approx_p50_p90_p99"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.col("approx_p50_p90_p99")[0].alias("p50"),
            F.col("approx_p50_p90_p99")[1].alias("p90"),
            F.col("approx_p50_p90_p99")[2].alias("p99"),
            "n_events",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q81 — distribution window functions (O4 extension): ntile / 
#        percent_rank / cume_dist per market segment. All-integer rank
#        arithmetic with one exact IEEE division each, so the doubles
#        are engine-identical under ANSI tie semantics.
# ---------------------------------------------------------------------------

_Q81_SQL = """
SELECT c_mktsegment, c_custkey,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
ORDER BY c_mktsegment, c_custkey
"""


@query("q81_distribution_windows", oracle=_Q81_SQL, covers="O4,O6")
def q81_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        customer.select(
            "c_mktsegment",
            "c_custkey",
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("c_mktsegment", "c_custkey")
    )


# ---------------------------------------------------------------------------
# Q93 — numeric distribution profiling: fixed-bin histogram over
#        events.value (20 bins on [0, 500), outliers clamped into edge
#        bins). Binning = floor((x-lo)*nbins/(hi-lo)) evaluated in that
#        exact order on both engines — the quantized-expression
#        contract, no transcendentals involved.
# ---------------------------------------------------------------------------

_Q93_SQL = """
WITH b AS (
  SELECT CAST(least(greatest(floor((CAST(value AS DOUBLE) - 0.0::DOUBLE) * 20.0::DOUBLE / 500.0::DOUBLE), 0), 19) AS INT) AS bin,
         COUNT(*) AS n
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
)
SELECT bin,
       0.0::DOUBLE + bin * 25.0::DOUBLE AS lo_edge,
       0.0::DOUBLE + (bin + 1) * 25.0::DOUBLE AS hi_edge,
       n
FROM b ORDER BY bin
"""


@query("q93_value_histogram", oracle=_Q93_SQL, covers="A2,P2,O9")
def q93_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import numeric_histogram

    events = load_table(spark, sf_dir, "events")
    return numeric_histogram(events, "value", 0.0, 500.0, 20)


# ---------------------------------------------------------------------------
# Q95 — ANALYZE-style table profile over events: per-column null /
#        exact-distinct / min / max in ONE aggregation pass (expand for
#        the exact distincts — the documented exactness cost), unpivoted
#        via an array-of-structs explode. min/max aggregated in native
#        type, cast to string after (string-cast first would order
#        "10" < "9").
# ---------------------------------------------------------------------------

_Q95_SQL = """
SELECT 'event_type' AS "column",
       COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS n_nulls,
       COUNT(DISTINCT event_type) AS n_distinct,
       CAST(min(event_type) AS VARCHAR) AS min_value,
       CAST(max(event_type) AS VARCHAR) AS max_value
FROM events
UNION ALL
SELECT 'user_id',
       COUNT(CASE WHEN user_id IS NULL THEN 1 END),
       COUNT(DISTINCT user_id),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'value',
       COUNT(CASE WHEN value IS NULL THEN 1 END),
       COUNT(DISTINCT value),
       CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
FROM events
ORDER BY "column"
"""


@query("q95_table_profile", oracle=_Q95_SQL, covers="A1,A3,A2,U3")
def q95_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import table_profile

    events = load_table(spark, sf_dir, "events")
    return table_profile(events, ["event_type", "user_id", "value"]).orderBy("column")


# ---------------------------------------------------------------------------
# R01 — salted equi-join under total key skew: events has only 5
#        event_type values, so EVERY key is hot — the worst case for a
#        key-partitioned shuffle. salted_join splits each key across 8
#        deterministic sub-partitions (small side replicated 8x); the
#        oracle is the PLAIN join — salting must never change
#        semantics, only partitioning.
# ---------------------------------------------------------------------------

_R01_SQL = """
WITH dim AS (
  SELECT DISTINCT event_type, upper(event_type) AS type_label FROM events
)
SELECT d.type_label, COUNT(*) AS n, CAST(sum(CASE WHEN CAST(e.value AS DOUBLE) >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_large
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY d.type_label ORDER BY d.type_label
"""


@query("r01_salted_skew_join", oracle=_R01_SQL, covers="J1,A8,A2")
def r01_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import salted_join

    events = load_table(spark, sf_dir, "events")
    dim = events.select("event_type").distinct().withColumn(
        "type_label", F.upper("event_type")
    )
    joined = salted_join(events, dim, ["event_type"], n_salts=8)
    return (
        joined.groupBy("type_label")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value") >= 100.0).cast("long")).alias("n_large"),
        )
        .orderBy("type_label")
    )


# ---------------------------------------------------------------------------
# R03 — distribution drift (PSI) between two event populations: the
#        dataset-monitoring report next to q93's histogram and q08's
#        row-level diff. 'click' values vs 'purchase' values over the
#        same [0, 500) x 20 axis; per-bin PSI contributions are
#        floor-quantized to integer 1e-9 units so the total is a sum
#        of longs — order-free, bit-identical on any engine.
# ---------------------------------------------------------------------------

_R03_SQL = """
WITH ha AS (
  SELECT CAST(least(greatest(floor((CAST(value AS DOUBLE) - 0.0) * 20.0 / 500.0), 0), 19) AS INT) AS bin,
         COUNT(*) AS n_a
  FROM events WHERE value IS NOT NULL AND event_type = 'click' GROUP BY 1
),
hb AS (
  SELECT CAST(least(greatest(floor((CAST(value AS DOUBLE) - 0.0) * 20.0 / 500.0), 0), 19) AS INT) AS bin,
         COUNT(*) AS n_b
  FROM events WHERE value IS NOT NULL AND event_type = 'purchase' GROUP BY 1
),
j AS (
  SELECT COALESCE(ha.bin, hb.bin) AS bin, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM ha FULL JOIN hb ON ha.bin = hb.bin
),
p AS (
  SELECT bin, n_a, n_b,
         (CAST(n_a AS DOUBLE) + 0.5) / (CAST(SUM(n_a) OVER () AS DOUBLE) + 10.0) AS pa,
         (CAST(n_b AS DOUBLE) + 0.5) / (CAST(SUM(n_b) OVER () AS DOUBLE) + 10.0) AS pb
  FROM j
),
t AS (
  SELECT bin, n_a, n_b,
         CAST(floor((pa - pb) * (floor(ln(pa / pb) * 1000000.0) / 1000000.0) * 1000000000.0) AS BIGINT) AS u
  FROM p
)
SELECT bin, n_a, n_b,
       CAST(u AS DOUBLE) / 1000000000.0 AS psi_term,
       CAST(SUM(u) OVER () AS DOUBLE) / 1000000000.0 AS psi_total
FROM t ORDER BY bin
"""


@query("r03_distribution_drift", oracle=_R03_SQL, covers="A2,J3,O6")
def r03_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import distribution_drift

    events = load_table(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "click")
    b = events.filter(F.col("event_type") == "purchase")
    return distribution_drift(a, b, "value", 0.0, 500.0, 20)


# ---------------------------------------------------------------------------
# R06 — categorical drift (PSI over the category mix): event-type
#        composition of the even-user cohort vs the odd-user cohort —
#        the "did the MIX shift" alarm next to r03's numeric form.
#        Same quantized-unit contract; smoothing width derives from the
#        observed category count.
# ---------------------------------------------------------------------------

_R06_SQL = """
WITH ha AS (
  SELECT COALESCE(CAST(event_type AS VARCHAR), '<NULL>') AS category, COUNT(*) AS n_a
  FROM events WHERE user_id % 2 = 0 GROUP BY 1
),
hb AS (
  SELECT COALESCE(CAST(event_type AS VARCHAR), '<NULL>') AS category, COUNT(*) AS n_b
  FROM events WHERE user_id % 2 = 1 GROUP BY 1
),
j AS (
  SELECT COALESCE(ha.category, hb.category) AS category,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM ha FULL JOIN hb ON ha.category = hb.category
),
p AS (
  SELECT category, n_a, n_b,
         (CAST(n_a AS DOUBLE) + 0.5) / (CAST(SUM(n_a) OVER () AS DOUBLE) + CAST(COUNT(*) OVER () AS DOUBLE) * 0.5) AS pa,
         (CAST(n_b AS DOUBLE) + 0.5) / (CAST(SUM(n_b) OVER () AS DOUBLE) + CAST(COUNT(*) OVER () AS DOUBLE) * 0.5) AS pb
  FROM j
),
t AS (
  SELECT category, n_a, n_b,
         CAST(floor((pa - pb) * (floor(ln(pa / pb) * 1000000.0) / 1000000.0) * 1000000000.0) AS BIGINT) AS u
  FROM p
)
SELECT category, n_a, n_b,
       CAST(u AS DOUBLE) / 1000000000.0 AS psi_term,
       CAST(SUM(u) OVER () AS DOUBLE) / 1000000000.0 AS psi_total
FROM t ORDER BY category
"""


@query("r06_categorical_drift", oracle=_R06_SQL, covers="A2,J3,O6")
def r06_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import categorical_drift

    events = load_table(spark, sf_dir, "events")
    a = events.filter(F.col("user_id") % 2 == 0)
    b = events.filter(F.col("user_id") % 2 == 1)
    return categorical_drift(a, b, "event_type")


# ---------------------------------------------------------------------------
# R10 — Z-order (Morton) key: the interleaved multi-column clustering
#        key behind compact_parquet's zorder layout, exposed as a
#        query so the bit arithmetic itself is hash-checked. The
#        DuckDB oracle is GENERATED from the same (col, lo, hi, bits)
#        parameters by zorder_sql, so the engines cannot drift.
# ---------------------------------------------------------------------------

from ..operators.relational import zorder_sql as _zsql

_R10_COLS = [("value", 0.0, 512.0), ("user_id", 0.0, 2048.0)]
_R10_SQL = f"""
SELECT event_id, {_zsql(_R10_COLS, 8)} AS zkey
FROM events
ORDER BY zkey, event_id
LIMIT 200
"""


@query("r10_zorder_key", oracle=_R10_SQL, covers="P2,O1,O9")
def r10_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import zorder_key

    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_id", zorder_key(_R10_COLS, 8).alias("zkey"))
        .orderBy("zkey", "event_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# R18 — join-key skew report (operators/relational.py skew_report): the
#        pre-join diagnostic that decides plain shuffle vs AQE skew
#        split vs salted_join. Counts are exact integers; ratios are
#        single IEEE divisions; suggested_salts = ceil(ratio).
# ---------------------------------------------------------------------------

_R18_SQL = """
WITH counts AS (
  SELECT l_suppkey, COUNT(*) AS n_rows FROM lineitem GROUP BY l_suppkey
),
totals AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS total, COUNT(*) AS n_keys FROM counts
)
SELECT l_suppkey, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows AS DOUBLE) / total AS share,
       CAST(n_rows AS DOUBLE) * n_keys / total AS skew_ratio,
       CAST(CEIL(CAST(n_rows AS DOUBLE) * n_keys / total) AS BIGINT) AS suggested_salts
FROM counts CROSS JOIN totals
ORDER BY n_rows DESC, l_suppkey
LIMIT 10
"""


@query("r18_skew_report", oracle=_R18_SQL, covers="A2,O1,O2,J9")
def r18_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import skew_report

    lineitem = load_table(spark, sf_dir, "lineitem")
    return skew_report(lineitem, ["l_suppkey"], top_n=10)


# ---------------------------------------------------------------------------
# R23 — exact percentile bands (nearest-rank p50/p90/p99 per group):
#        the latency-dashboard statistic, from ONE ranked pass; rank
#        selection is ceil(p*n) on exact operands, output through the
#        decimal domain.
# ---------------------------------------------------------------------------

_R23_SQL = """
WITH ranked AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(CASE WHEN rn = GREATEST(1, CEIL(CAST(0.5 AS DOUBLE) * n)) THEN v END) AS DOUBLE) AS p50,
       CAST(MAX(CASE WHEN rn = GREATEST(1, CEIL(CAST(0.9 AS DOUBLE) * n)) THEN v END) AS DOUBLE) AS p90,
       CAST(MAX(CASE WHEN rn = GREATEST(1, CEIL(CAST(0.99 AS DOUBLE) * n)) THEN v END) AS DOUBLE) AS p99
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


@query("r23_percentile_bands", oracle=_R23_SQL, covers="A9,O3,A2")
def r23_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import percentiles_exact

    events = load_table(spark, sf_dir, "events")
    return percentiles_exact(events, ["event_type"], "value", [0.5, 0.9, 0.99]).orderBy(
        "event_type"
    )


# ---------------------------------------------------------------------------
# Q13 — Bloom-prefilter join (rotated INTO the driver window round 7,
#        ex-r31; the former q13 outer-join shapes merged into q14's
#        join-shapes family): lineitem semi/anti-joined to the ~10%
#        of orders above a price threshold, with the big side pruned
#        by a broadcast Bloom bitmap BEFORE its shuffle (and, for
#        anti, bloom-rejected rows bypassing the join entirely). The
#        oracle is the PLAIN semi/anti join — the bloom is an exact
#        pre-filter (no false negatives; false positives removed by
#        the verify join), so it must never change results, only
#        shuffle bytes. Both branches in one tagged union so each
#        path stays independently hash-verified.
# ---------------------------------------------------------------------------

_Q13_SQL = """
WITH hot AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
SELECT 'semi' AS tag, l_returnflag,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM hot)
GROUP BY l_returnflag
UNION ALL
SELECT 'anti' AS tag, l_returnflag,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM hot)
GROUP BY l_returnflag
ORDER BY tag, l_returnflag
"""


@query("q13_bloom_prefilter_join", oracle=_Q13_SQL, covers="J4,J5,A2,A8")
def q13_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import bloom_prefilter_join

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hot = orders.filter(F.col("o_totalprice") > 450000.0).select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    branches = []
    for tag, how in (("semi", "left_semi"), ("anti", "left_anti")):
        joined = bloom_prefilter_join(lineitem, hot, ["l_orderkey"], how=how)
        branches.append(joined.withColumn("tag", F.lit(tag)))
    u = branches[0].unionByName(branches[1])
    return (
        u.groupBy("tag", "l_returnflag")
        .agg(F.count("*").alias("n"), wmoney(cents("l_quantity"), 4, 2).alias("sum_qty"))
        .orderBy("tag", "l_returnflag")
    )


# ---------------------------------------------------------------------------
# R51 — interval-overlap join (round 9): the two-sided generalization
#        of the band join (sessions x promotions, reservations x
#        outages). Spark explodes both interval sets onto a day grid
#        and emits each overlapping pair exactly once via the
#        first-overlap-cell rule — a stateless filter, no DISTINCT
#        shuffle; the oracle is the NAIVE non-equi join, so the grid
#        decomposition must change cost, never results.
# ---------------------------------------------------------------------------

_R51_SQL = """
WITH iv AS (
  SELECT o_orderkey AS id, o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS s,
         CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) + o_orderkey % 7 AS e
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
),
l AS (SELECT * FROM iv WHERE o_custkey % 97 = 0),
r AS (SELECT * FROM iv WHERE o_custkey % 89 = 0)
SELECT l.id AS id_l, r.id AS id_r,
       LEAST(l.e, r.e) - GREATEST(l.s, r.s) + 1 AS overlap_days
FROM l JOIN r ON l.s <= r.e AND r.s <= l.e AND l.id <> r.id
ORDER BY id_l, id_r
"""


@query("q38_interval_overlap", oracle=_R51_SQL, covers="J6,P2,O9")
def q38_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import interval_overlap_join

    iv = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .select(
            F.col("o_orderkey").alias("id"),
            "o_custkey",
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("s"),
            (
                F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).cast("long")
                + F.col("o_orderkey") % 7
            ).alias("e"),
        )
    )
    left = iv.filter(F.col("o_custkey") % 97 == 0).select(
        F.col("id").alias("id_l"), F.col("s").alias("s_l"), F.col("e").alias("e_l")
    )
    right = iv.filter(F.col("o_custkey") % 89 == 0).select(
        F.col("id").alias("id_r"), F.col("s").alias("s_r"), F.col("e").alias("e_r")
    )
    pairs = interval_overlap_join(left, right, "s_l", "e_l", "s_r", "e_r", grid=7)
    return (
        pairs.filter(F.col("id_l") != F.col("id_r"))
        .select(
            "id_l",
            "id_r",
            (F.least("e_l", "e_r") - F.greatest("s_l", "s_r") + F.lit(1)).alias("overlap_days"),
        )
        .orderBy("id_l", "id_r")
    )


# ---------------------------------------------------------------------------
# R53 — daily gap fill + forward fill (round 9): time-series
#        regularization — each group's calendar spans its own
#        [min, max] day via an in-plan sequence explode (calendar size
#        is proportional to the OUTPUT, never a driver loop), missing
#        days forward-fill with last(ignorenulls). Pre-first-observation
#        days stay NULL and flag is_gap — semantics, not accident.
# ---------------------------------------------------------------------------

_R53_SQL = """
WITH obs AS (
  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
  FROM orders WHERE o_custkey % 199 = 0 GROUP BY 1, 2
),
b AS (SELECT pri, MIN(day) AS lo, MAX(day) AS hi FROM obs GROUP BY 1),
cal AS (
  SELECT pri, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                                          INTERVAL 1 DAY)) AS DATE) AS day
  FROM b
),
j AS (SELECT cal.pri, cal.day, obs.n FROM cal LEFT JOIN obs USING (pri, day))
SELECT pri, day,
       last_value(n IGNORE NULLS) OVER (PARTITION BY pri ORDER BY day
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_filled,
       n IS NULL AS is_gap
FROM j
ORDER BY pri, day
"""


@query("r53_gap_fill", oracle=_R53_SQL, covers="O5,O6,A2,P2")
def r53_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import gap_fill_daily

    obs = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 199 == 0)
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count("*").alias("n"))
    )
    filled = gap_fill_daily(obs, ["pri"], "day", "n")
    return filled.select(
        "pri", "day", F.col("n").alias("n_filled"), "is_gap"
    ).orderBy("pri", "day")


# ---------------------------------------------------------------------------
# R55 — gaps-and-islands (round 9): maximal consecutive-day activity
#        runs per user over the events table — the constant-group
#        trick (day - row_number() is constant within a run), one
#        window + one group-by, both on the user shuffle.
# ---------------------------------------------------------------------------

_R55_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
grp AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS g
  FROM days
)
SELECT user_id, MIN(day) AS island_start, MAX(day) AS island_end, COUNT(*) AS n_days
FROM grp
GROUP BY user_id, g
ORDER BY user_id, island_start
"""


@query("r55_activity_islands", oracle=_R55_SQL, covers="O4,O5,A2,T11")
def r55_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import activity_islands

    events = load_table(spark, sf_dir, "events")
    out = activity_islands(events, ["user_id"], "ts")
    return out.orderBy("user_id", "island_start")


# ---------------------------------------------------------------------------
# R56 — unpivot / melt (round 9): the inverse of q10's pivot — a wide
#        per-priority year matrix melts back to long form. The oracle
#        computes the long form DIRECTLY (group by priority, year), so
#        the pivot -> unpivot round trip is what's under the hash: any
#        column/value misalignment in melt breaks parity.
# ---------------------------------------------------------------------------

_R56_SQL = """
SELECT o_orderpriority,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM orders
WHERE EXTRACT(year FROM o_orderdate) BETWEEN 1995 AND 1998
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("r56_unpivot_longform", oracle=_R56_SQL, covers="A11,P2,A2")
def r56_unpivot_longform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum

    years = [str(y) for y in range(1995, 1999)]
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").between(1995, 1998)
    )
    wide = (
        orders.withColumn("o_year", F.year("o_orderdate").cast("string"))
        .groupBy("o_orderpriority")
        .pivot("o_year", years)
        .agg(dsum("o_totalprice"))
    )
    long = wide.unpivot(
        ["o_orderpriority"], years, "order_year", "total_value"
    )
    return (
        long.filter(F.col("total_value").isNotNull())
        .select(
            "o_orderpriority",
            F.col("order_year").cast("int").alias("order_year"),
            "total_value",
        )
        .orderBy("o_orderpriority", "order_year")
    )
