"""Property-based algebraic invariants (SURVEY §5.2.4), seeded.

hypothesis generates small row sets; each property is an identity the
engine must preserve regardless of data. Spark jobs per example are
expensive, so examples are capped — the point is edge-shape coverage
(empties, duplicates, unicode, negatives), not volume.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.operators.dedup import dedup_exact, jaccard, token_set
from mlb_data_pipeline_spark.operators.relational import top_k_per_group

SET_TIMES = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # group key
        st.integers(min_value=-1000, max_value=1000),  # value
        st.text(alphabet="abß 日", min_size=0, max_size=12),  # text w/ unicode+spaces
    ),
    min_size=0,
    max_size=40,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k INT, v INT, t STRING") if rows else spark.createDataFrame(
        [], "k INT, v INT, t STRING"
    )


@given(rows=rows_st)
@SET_TIMES
def test_filter_commutes_with_project(spark, rows):
    df = _df(spark, rows)
    a = df.select("k", "v").filter(F.col("v") > 0)
    b = df.filter(F.col("v") > 0).select("k", "v")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@given(rows=rows_st)
@SET_TIMES
def test_union_count_is_sum(spark, rows):
    df = _df(spark, rows)
    half = df.filter(F.col("v") % 2 == 0)
    assert df.unionByName(half).count() == df.count() + half.count()


@given(rows=rows_st)
@SET_TIMES
def test_dedup_idempotent_and_key_unique(spark, rows):
    df = _df(spark, rows)
    once = dedup_exact(df, ["k"], ["v", "t"])
    twice = dedup_exact(once, ["k"], ["v", "t"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert once.groupBy("k").count().filter(F.col("count") > 1).count() == 0


@given(rows=rows_st, k=st.integers(min_value=1, max_value=4))
@SET_TIMES
def test_topk_nested_in_topk_plus_one(spark, rows, k):
    df = _df(spark, rows)
    kk = top_k_per_group(df, ["k"], [F.col("v").desc(), F.col("t").asc()], k).drop("rn")
    k1 = top_k_per_group(df, ["k"], [F.col("v").desc(), F.col("t").asc()], k + 1).drop("rn")
    assert set(map(tuple, kk.collect())) <= set(map(tuple, k1.collect()))


@given(
    vals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2), st.integers(min_value=0, max_value=10**15 - 1)),
        min_size=1,
        max_size=30,
    )
)
@SET_TIMES
def test_wsum_equals_exact_integer_sum(spark, vals):
    """Word-split sum (numeric.wsum) == exact arbitrary-precision sum for
    any non-negative fixed-point longs up to the 15-digit bound."""
    from mlb_data_pipeline_spark.functions.numeric import wsum

    df = spark.createDataFrame(vals, "k INT, v LONG")
    got = {r.k: int(r.s) for r in df.groupBy("k").agg(wsum(F.col("v"), 15).alias("s")).collect()}
    want = {}
    for k, v in vals:
        want[k] = want.get(k, 0) + v
    assert got == want


@given(texts=st.lists(st.text(alphabet="ab c", min_size=1, max_size=20), min_size=1, max_size=10))
@SET_TIMES
def test_jaccard_bounds_and_self_identity(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id INT, t STRING")
    sets = df.select("id", token_set("t").alias("s"))
    self_j = sets.select(jaccard(F.col("s"), F.col("s")).alias("j")).collect()
    assert all(r.j == 1.0 for r in self_j)  # J(x,x) = 1 (token_set is never empty: '' tokenizes to [''])
    a = sets.select(F.col("id").alias("ia"), F.col("s").alias("sa"))
    b = sets.select(F.col("id").alias("ib"), F.col("s").alias("sb"))
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(jaccard(F.col("sa"), F.col("sb")).alias("j"))
    assert all(0.0 <= r.j <= 1.0 for r in pairs.collect())


@given(
    n_rows=st.integers(min_value=2, max_value=10**10),
    threshold=st.floats(min_value=0.05, max_value=0.999),
)
@settings(max_examples=200, deadline=None)
def test_lsh_params_always_feasible_and_consistent(n_rows, threshold):
    """Driver-side property (no Spark jobs): for ANY corpus size and
    threshold, lsh_params either returns a point whose expected
    random-pair candidate volume is linear (<= 8n), whose band keys fit
    int32, and whose shape is internally consistent — or raises the
    documented infeasibility error, which the int32 keyspace only
    permits past n ~ 8.6e9 (2 bands x 30 bits: 2*2^-30 <= 16/n)."""
    import pytest

    from mlb_data_pipeline_spark.operators.vector import _band_match_prob, lsh_params

    if n_rows > 8_589_934_592:  # 16 / (2 * 2^-30): beyond the int32-key frontier
        with pytest.raises(ValueError, match="ivf_knn_join"):
            lsh_params(n_rows, threshold)
        return
    n_planes, bands, probe = lsh_params(n_rows, threshold)
    per_band = n_planes // bands
    assert n_planes == bands * per_band and per_band >= 4
    assert probe in (0, 1)
    assert bands * (1 << per_band) <= 2**31
    exp_cand = bands * _band_match_prob(0.5, per_band, probe) * n_rows * (n_rows - 1) / 2
    assert exp_cand <= 8 * n_rows * 1.0000001


def test_approx_quantiles_within_rank_error(spark, sf_dir):
    """q80's Greenwald-Khanna sketch at accuracy 10000 has rank error
    <= n/10000 — at test scale that pins each approx quantile inside a
    generous exact-quantile bracket."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.catalog import load_table
    from mlb_data_pipeline_spark.plans import REGISTRY, load_all

    load_all()
    approx = {
        r["event_type"]: r
        for r in REGISTRY["q80_approx_quantiles"].spark(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, array(0.45, 0.55))").alias("p50_bracket"),
            F.expr("percentile(value, array(0.85, 0.95))").alias("p90_bracket"),
        )
        .collect()
    }
    assert set(approx) == set(exact) and approx
    for et, a in approx.items():
        lo50, hi50 = exact[et]["p50_bracket"]
        lo90, hi90 = exact[et]["p90_bracket"]
        assert lo50 <= a["p50"] <= hi50, (et, a["p50"], lo50, hi50)
        assert lo90 <= a["p90"] <= hi90, (et, a["p90"], lo90, hi90)


def test_jaccard_prefix_join_lossless_property(spark):
    """Hypothesis sweep: for random small corpora and thresholds, the
    prefix-filtered join equals naive all-pairs — the losslessness
    theorem exercised over adversarial shapes (empty sets excluded by
    construction; duplicate docs, singletons, full-vocab docs all
    generated)."""
    from hypothesis import given, settings, strategies as st

    from mlb_data_pipeline_spark.operators.dedup import jaccard_prefix_join

    token = st.integers(min_value=0, max_value=11).map(lambda i: f"t{i}")
    doc = st.sets(token, min_size=1, max_size=8)

    @settings(max_examples=12, deadline=None)
    @given(
        docs=st.lists(doc, min_size=2, max_size=8),
        t=st.integers(min_value=1, max_value=100),
    )
    def inner(docs, t):
        import itertools

        rows = [(i, " ".join(sorted(s))) for i, s in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        got = {(r.id_a, r.id_b) for r in jaccard_prefix_join(df, "doc_id", "text", t).collect()}
        want = set()
        for a, b in itertools.combinations(range(len(docs)), 2):
            o = len(docs[a] & docs[b])
            u = len(docs[a] | docs[b])
            if 100 * o >= t * u:
                want.add((a, b))
        assert got == want, (docs, t, got ^ want)

    inner()


# ---------------------------------------------------------------------------
# Round-9 operators: interval overlap, activity islands (vs brute force)
# ---------------------------------------------------------------------------

intervals_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),   # start
        st.integers(min_value=0, max_value=12),   # length
    ),
    min_size=0,
    max_size=15,
)


@given(li=intervals_st, ri=intervals_st, grid=st.sampled_from([1, 2, 5, 13]))
@SET_TIMES
def test_interval_overlap_equals_bruteforce(spark, li, ri, grid):
    from mlb_data_pipeline_spark.operators.relational import interval_overlap_join

    lrows = [(i, s, s + n) for i, (s, n) in enumerate(li)]
    rrows = [(100 + i, s, s + n) for i, (s, n) in enumerate(ri)]
    if not lrows or not rrows:
        return
    left = spark.createDataFrame(lrows, "id_l long, s_l long, e_l long")
    right = spark.createDataFrame(rrows, "id_r long, s_r long, e_r long")
    got = [
        (r.id_l, r.id_r)
        for r in interval_overlap_join(left, right, "s_l", "e_l", "s_r", "e_r", grid=grid).collect()
    ]
    want = [
        (a, b)
        for a, sa, ea in lrows
        for b, sb, eb in rrows
        if sa <= eb and sb <= ea
    ]
    # exactly-once: multiset equality, not just set
    assert sorted(got) == sorted(want), grid


days_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2), st.integers(min_value=0, max_value=25)),
    min_size=0,
    max_size=30,
)


@given(rows=days_st)
@SET_TIMES
def test_activity_islands_equal_python_reference(spark, rows):
    import datetime as dt

    from mlb_data_pipeline_spark.operators.relational import activity_islands

    if not rows:
        return
    base = dt.date(2024, 1, 1)
    data = [(k, base + dt.timedelta(days=d)) for k, d in rows]
    df = spark.createDataFrame(data, "user_id long, ts date")
    got = sorted(
        (r.user_id, r.island_start, r.island_end, r.n_days)
        for r in activity_islands(df, ["user_id"], "ts").collect()
    )
    # python reference: sort distinct days per key, split on gaps
    from collections import defaultdict

    byk = defaultdict(set)
    for k, d in data:
        byk[k].add(d)
    want = []
    for k, ds in byk.items():
        run = []
        for d in sorted(ds):
            if run and (d - run[-1]).days != 1:
                want.append((k, run[0], run[-1], len(run)))
                run = []
            run.append(d)
        if run:
            want.append((k, run[0], run[-1], len(run)))
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# Catalog-hook soundness under RANDOM predicates (round 11): whatever
# the extractor does with a predicate — fold it, partially fold it,
# bail — lake_scan must return exactly the whole-lake filter's rows.
# The generator deliberately produces the adversarial shapes the r10
# defect class lives in: comparison-shaped text inside string
# literals, AND/OR keywords in literals, nested parens, mixed
# prunable/unprunable conjuncts, negations.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def _hook_lake(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.catalog import register_lake_table

    base = tmp_path_factory.mktemp("hooklake")
    lake = str(base / "data")
    df = spark.range(4_000).select(
        F.col("id").alias("k"),
        # v is NULL on a stripe so IS [NOT] NULL shapes have real rows
        F.when(F.col("id") % 7 != 0, F.col("id") * 7 % 1000).alias("v"),
        (F.col("id") % 4).alias("p"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("tag"),
    )
    df.write.partitionBy("p").parquet(lake)
    register_lake_table(spark, "prop_hook_lake", lake)
    return lake


_LITS = st.sampled_from(
    ["'a AND b'", "'k BETWEEN 1 AND 2'", "'x OR y'", "'t1'", "'v = 7 AND k = 3'", "':-)'"]
)
_NUMS = st.integers(min_value=-100, max_value=4100)


@st.composite
def _conjuncts(draw):
    kind = draw(
        st.sampled_from(["cmp", "between", "in", "eq_str", "neq", "nullness", "opaque"])
    )
    col = draw(st.sampled_from(["k", "v", "p"]))
    if kind == "cmp":
        op = draw(st.sampled_from([">=", ">", "<=", "<", "="]))
        return f"{col} {op} {draw(_NUMS)}"
    if kind == "between":
        a, b = draw(_NUMS), draw(_NUMS)
        return f"{col} BETWEEN {min(a, b)} AND {max(a, b)}"
    if kind == "in":
        vals = draw(st.lists(_NUMS, min_size=1, max_size=3))
        return f"{col} IN ({', '.join(map(str, vals))})"
    if kind == "eq_str":
        return f"tag = {draw(_LITS)}"
    if kind == "neq":
        return f"{col} {draw(st.sampled_from(['!=', '<>']))} {draw(_NUMS)}"
    if kind == "nullness":
        return f"{col} IS {draw(st.sampled_from(['NULL', 'NOT NULL']))}"
    return draw(st.sampled_from(["length(tag) > 1", "k % 2 = 0", "NOT v = 7"]))


@st.composite
def _predicates(draw, depth=2):
    if depth == 0:
        return draw(_conjuncts())
    n = draw(st.integers(min_value=1, max_value=3))
    parts = [draw(_predicates(depth=depth - 1)) for _ in range(n)]
    joiner = draw(st.sampled_from([" AND ", " OR "]))
    body = joiner.join(parts)
    return f"({body})" if draw(st.booleans()) else body


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(pred=_predicates())
def test_lake_scan_matches_full_filter_on_random_predicates(spark, _hook_lake, pred):
    from mlb_data_pipeline_spark.catalog import lake_scan

    whole = spark.read.parquet(_hook_lake)
    want = sorted(tuple(r) for r in whole.filter(pred).collect())
    got = sorted(tuple(r) for r in lake_scan(spark, "prop_hook_lake", pred).collect())
    assert got == want, pred


# ---------------------------------------------------------------------------
# DML soundness under RANDOM predicates (round 11): whatever the
# delete classifier proves — drop a file unopened, keep it untouched,
# rewrite a boundary — lake_delete must equal the row-level SQL DELETE
# (keep where predicate is FALSE or NULL) and lake_update the
# row-level CASE, on a partitioned, null-bearing snapshot lake. Same
# adversarial predicate generator as the lake_scan property.
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(pred=_predicates(), op=st.sampled_from(["delete", "update"]))
def test_lake_dml_matches_row_level_semantics(spark, pred, op):
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.snapshots import (
        lake_delete,
        lake_update,
        lake_write,
        read_snapshot,
    )

    df = spark.range(800).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 != 0, F.col("id") * 7 % 1000).alias("v"),
        (F.col("id") % 4).alias("p"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("tag"),
    )
    ct = {"k": "bigint", "v": "bigint", "p": "bigint", "tag": "string"}
    base = tempfile.mkdtemp(prefix="dmlprop_")
    lake = base + "/data"
    try:
        lake_write(spark, df.repartitionByRange(4, "k"), lake, partition_by=["p"])
        if op == "delete":
            lake_delete(spark, lake, pred, col_types=ct)
            want = df.filter(f"NOT ({pred}) OR ({pred}) IS NULL")
        else:
            lake_update(spark, lake, {"v": "v + 100000"}, pred, col_types=ct)
            want = df.withColumn(
                "v",
                F.when(F.expr(pred), F.col("v") + 100000).otherwise(F.col("v")),
            )
        cols = ["k", "v", "p", "tag"]
        got = sorted(
            tuple(r) for r in read_snapshot(spark, lake).select(*cols).collect()
        )
        assert got == sorted(tuple(r) for r in want.select(*cols).collect()), (op, pred)
    finally:
        shutil.rmtree(base, ignore_errors=True)
