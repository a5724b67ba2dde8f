"""Physical-plan guardrails (SURVEY §5.2.7).

These pin the scale-safety claims: filters reach the parquet scan,
projections prune columns, global top-k plans as TakeOrderedAndProject,
and no composed operator degenerates into a cartesian/nested-loop join.
If a refactor breaks one of these, the query still returns correct rows
— but the 100 TB story dies, so the plan itself is the test subject.
"""

from __future__ import annotations

import pytest

from mlb_data_pipeline_spark.plans import REGISTRY, load_all

load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    # q02 is the merged scan-shape family: the 'topk' branch's date
    # filter must reach ITS lineitem scan (any PushedFilters section)
    plan = plan_of(spark, sf_dir, "q02_filter_topk")
    assert "PushedFilters: [" in plan
    pushed = [seg[:400] for seg in plan.split("PushedFilters")[1:]]
    assert any("l_shipdate" in seg for seg in pushed), pushed


def test_prefix_filter_pushes_startswith(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q02_filter_topk")
    assert "StringStartsWith(p_name,small )" in plan.replace("'", "")


def test_column_pruning_projects_scan(spark, sf_dir):
    # the part-side scan of q02's 'prefix' branch must read only the
    # projected columns
    plan = plan_of(spark, sf_dir, "q02_filter_topk")
    reads = [seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]]
    part_reads = [r for r in reads if "p_partkey" in r]
    assert part_reads, reads
    read = part_reads[0]
    assert "p_partkey" in read and "p_retailprice" in read
    assert "p_type" not in read and "p_container" not in read  # unused columns never read


def test_global_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q02_filter_topk")
    assert "TakeOrderedAndProject" in plan  # no full sort for ORDER BY+LIMIT


def test_flagship_broadcasts_only_fixed_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q00_monthly_revenue_by_region")
    # the big fact join must not carry a forced broadcast of customer data;
    # nation/region broadcast is fine. At tiny SF, AQE may still *choose*
    # broadcast at runtime — what we pin is the absence of cartesians and
    # the pushdown of the date filter below the join.
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan


@pytest.mark.parametrize(
    "name",
    [
        "q17_asof_latest_order",  # band branch must stay an equi-join
        "q44_minhash_neardup",  # LSH banding must stay an equi-join
        "q52_embedding_neardup_lsh",
        "r63_ngram_jaccard",  # blocked pairs join on source
        "q01_incremental_neardup",  # store scan join must stay an equi-join
        "q65_neardup_components",  # CC label joins are equi-joins
        "q66_exact_span_overlap",  # span-hash join
        "q67_contamination_scan",  # cross-corpus span-hash join
    ],
)
def test_no_cartesian_in_composed_operators(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_broadcasts_query_side(spark, sf_dir):
    # the deliberate small-side broadcast: query set is tiny, corpus streams
    plan = plan_of(spark, sf_dir, "q36_knn_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q04_pricing_summary")
    # map-side partial agg: two HashAggregate nodes around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_hash_split_is_narrow(spark, sf_dir):
    # dataset membership must not cost a shuffle: md5-bucket assignment
    # is a pure projection over the scan
    from mlb_data_pipeline_spark.catalog import load_table
    from mlb_data_pipeline_spark.operators.curation import hash_split

    df = hash_split(load_table(spark, sf_dir, "documents"), "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_filtered_knn_pushes_predicate_to_scan(spark, sf_dir):
    # metadata-filtered vector search (the vector-store where= shape):
    # a corpus pre-filter must reach the parquet scan, so the k-NN only
    # ever reads the matching slice — never filter-after-score
    from mlb_data_pipeline_spark.catalog import load_table
    from mlb_data_pipeline_spark.operators.vector import knn_join

    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label") == 1)
    queries = emb.filter(F.col("vec_id") < 3)
    plan = (
        knn_join(corpus, queries, "vec_id", "embedding", k=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "EqualTo(label,1)" in plan.replace("'", "")


def test_stratified_sample_is_narrow(spark, sf_dir):
    # dataset-mixing selection must not cost a shuffle: md5-threshold
    # filtering is a pure filter over the scan
    from mlb_data_pipeline_spark.catalog import load_table
    from mlb_data_pipeline_spark.operators.curation import stratified_hash_sample

    df = stratified_hash_sample(
        load_table(spark, sf_dir, "documents"), "doc_id", "source", {"src0": 0.5, "src1": 1.0}
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_partitioned_packing_avoids_global_sort(spark, sf_dir):
    # with a shard key, the packing window hash-partitions and sorts
    # locally — the single-partition global window never appears
    from mlb_data_pipeline_spark.catalog import load_table
    from mlb_data_pipeline_spark.operators.curation import pack_sequences

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 8).alias("shard"), F.col("n_chars").alias("sz")
    )
    df = pack_sequences(docs, "doc_id", "sz", budget=4096, partition_cols=["shard"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_bm25_topk_plans_window_group_limit(spark, sf_dir):
    # the per-query rank <= k filter must push into WindowGroupLimit —
    # only ~k rows per query survive each side of the rank exchange
    from mlb_data_pipeline_spark.plans import REGISTRY, load_all

    load_all()
    plan = (
        REGISTRY["q03_bm25_topk"].spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan  # probes stay broadcast
    # index-less path: each doc is projected once to (id, dl, tf of each
    # query term) and that narrow projection is lazily local-checkpointed
    # (never the token arrays), so the executed plan scores the
    # checkpoint and holds no parquet scan of the corpus
    assert plan.count("documents.parquet") == 0, "corpus scanned outside the shared token pass"


def test_indexed_bm25_probe_never_scans_documents(spark, sf_dir):
    # q75's RETURNED plan is the probe: after build+save, retrieval must
    # touch the postings/stats parquet only — zero corpus scans
    from mlb_data_pipeline_spark.plans import REGISTRY, load_all

    load_all()
    plan = (
        REGISTRY["q75_bm25_indexed"].spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "documents.parquet" not in plan
    assert "postings" in plan


def test_chunk_query_single_shuffle(spark, sf_dir):
    # q23 (ex-q79): chunking is narrow; the only exchange is the final per-doc agg
    from mlb_data_pipeline_spark.plans import REGISTRY, load_all

    load_all()
    plan = (
        REGISTRY["r60_chunk_windows"].spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one agg exchange + the final sort exchange; nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff_single_join(spark, sf_dir):
    from mlb_data_pipeline_spark.plans import REGISTRY, load_all

    load_all()
    plan = (
        REGISTRY["r59_snapshot_diff"].spark(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Join FullOuter") == 1
    assert plan.count("Join") == 1  # nothing beyond the keyed diff join


def test_bucketed_join_has_no_join_shuffle(spark, sf_dir):
    # q25 (ex-q83): both sides bucketed on the join key -> the SortMergeJoin's
    # subtree contains NO exchange; the only shuffles in the final AQE
    # plan sit above it (group-by + output sort)
    from mlb_data_pipeline_spark.plans import REGISTRY, load_all

    load_all()
    df = REGISTRY["q25_bucketed_join"].spark(spark, sf_dir)
    df.collect()  # materialize the AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "SortMergeJoin" in plan
    # isolate the SMJ's OWN subtree (round 9 made q25 a tagged union, so
    # text after the join also holds the sibling branch's legitimate
    # exchanges): take lines from the SMJ until indentation returns to
    # the join's level — the operator's children only
    lines = plan.splitlines()
    start = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln)
    indent = len(lines[start]) - len(lines[start].lstrip(" +-:*"))
    subtree = [lines[start]]
    for ln in lines[start + 1:]:
        if ln.strip() and len(ln) - len(ln.lstrip(" +-:*")) <= indent:
            break
        subtree.append(ln)
    join_subtree = "\n".join(subtree)
    assert "Exchange" not in join_subtree, join_subtree
    assert "Scan" in join_subtree  # sanity: the subtree reaches the leaves


def test_indexed_tfidf_and_unigram_probe_never_scan_documents(spark, sf_dir):
    # q97/q98 deployment shape: keyword tagging and quality scoring off
    # the SAME persisted postings as BM25 — zero corpus scans at score
    # time
    from mlb_data_pipeline_spark.plans import REGISTRY, load_all

    load_all()
    for name in ("q97_tfidf_indexed", "q98_unigram_indexed"):
        plan = (
            REGISTRY[name].spark(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "documents.parquet" not in plan, name
        assert "postings" in plan, name


def test_seeded_shuffle_one_hash_exchange_no_global_sort(spark):
    # the corpus shuffle must be ONE hash shuffle on shard + per-shard
    # sorts; a rangepartitioning exchange would mean a global sort with
    # its plan-re-executing boundary-sampling job
    from mlb_data_pipeline_spark.operators.curation import seeded_shuffle

    # more than one input split, so the plan needs its exchange at any
    # core count (a one-split input is planned with none at local[1])
    df = spark.range(0, 1000, numPartitions=4).withColumnRenamed("id", "k")
    plan = (
        seeded_shuffle(df, "k", n_shards=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_keep_best_window_never_sees_singletons(spark):
    # the policy window partitions by component over CLUSTERED rows
    # only; singletons must reach the output through a filter branch,
    # not a NULL window partition (which would sort ~the whole corpus
    # in one task)
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.dedup import neardup_dedup_keep_best

    docs = spark.createDataFrame([(1, 5), (2, 9), (3, 1)], "id BIGINT, s BIGINT")
    pairs = spark.createDataFrame([(1, 2)], "id_a BIGINT, id_b BIGINT")
    plan = (
        neardup_dedup_keep_best(docs, pairs, "id", [F.col("s").desc()])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # exactly ONE Window node (over the clustered branch), and the
    # singleton branch reaches the Union through an isnull filter that
    # bypasses it (the isnotnull side is pushed into the join by the
    # optimizer — fine, it still gates the Window's input)
    assert plan.count("Window [") == 1  # WindowGroupLimit is the rank-1 pushdown, not a 2nd window
    assert "Union" in plan and "isnull(__cc_component" in plan
    singleton_branch = plan.split("Union", 1)[1].split("+- Window")[0]
    assert "isnull(__cc_component" in singleton_branch


def test_gopher_profile_single_shuffle(spark, sf_dir):
    # r12: one narrow metric projection then ONE exchange for the
    # per-source aggregate — a second exchange would mean the rule
    # evaluation itself shuffles
    plan = plan_of(spark, sf_dir, "r12_gopher_quality")
    body = plan.split("AdaptiveSparkPlan")[-1]
    n_exchanges = body.count("Exchange")
    assert n_exchanges <= 2, plan  # partial->final agg pair at most
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan  # no UDF


def test_media_parse_no_shuffle(spark, sf_dir):
    # r14: generate -> parse is two narrow mapInPandas; the only
    # allowed exchange is the final orderBy's range partitioning
    plan = plan_of(spark, sf_dir, "r14_media_header_parse")
    body = plan.split("AdaptiveSparkPlan")[-1]
    import re

    exchanges = re.findall(r"Exchange \w+", body)
    assert all("rangepartitioning" in e.lower() or "SinglePartition" in e for e in exchanges), exchanges


def test_skew_report_is_topn(spark, sf_dir):
    # r18: the heavy-key probe must be agg + TakeOrdered, never a
    # global sort of the key spine
    plan = plan_of(spark, sf_dir, "r18_skew_report")
    assert "TakeOrderedAndProject" in plan, plan


def test_pagerank_no_cartesian(spark, sf_dir):
    # q34: three iterations of equi-joins — any BroadcastNestedLoop or
    # Cartesian means a join lost its keys
    plan = plan_of(spark, sf_dir, "q34_pagerank_influence")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_is_a_scan_filter_below_the_join(spark):
    # the bloom probe must be a plain Filter on the big side UNDER the
    # verify join (and under the big side's exchange when one exists) —
    # a probe expressed as a join condition gets hoisted above the
    # shuffle and prunes nothing
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.relational import bloom_prefilter_join

    big = spark.range(5000).select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
    small = spark.range(30).select((F.col("id") * 31).alias("k"))
    res = bloom_prefilter_join(big, small, ["k"], how="left_semi")
    plan = res._jdf.queryExecution().executedPlan().toString()
    join_pos = min(
        (plan.find(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin") if plan.find(j) >= 0),
        default=-1,
    )
    probe_pos = plan.find("element_at")
    assert join_pos >= 0 and probe_pos >= 0, plan
    assert probe_pos > join_pos, "bloom probe filter must sit BELOW the verify join"
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_split_train_filter_pushes_down_to_scan(spark, tmp_path):
    # the train-side boundary predicate must reach the parquet scan as
    # a PushedFilter — a date-partitioned 100 TB table then prunes
    # test-period files for free
    import datetime

    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.curation import time_slice, time_split

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, datetime.datetime(1996, 1, 1) + datetime.timedelta(days=i)) for i in range(30)],
        "id INT, ts TIMESTAMP",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    train = time_slice(df, "ts", "1996-01-10", "train")
    plan = train._jdf.queryExecution().executedPlan().toString()
    # the boundary comparison reaches the scan as a pushed filter
    assert "LessThan(ts" in plan and "PushedFilters: [IsNotNull(ts), LessThan(ts" in plan, plan
    test = time_slice(df, "ts", "1996-01-10", "test", embargo_days=5)
    plan2 = test._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts" in plan2, plan2
    # the slices agree with the labeled split
    labeled = time_split(df, "ts", "1996-01-10", embargo_days=5)
    want_train = {r.id for r in labeled.filter(F.col("split") == "train").collect()}
    assert {r.id for r in train.collect()} == want_train
    want_test = {r.id for r in labeled.filter(F.col("split") == "test").collect()}
    assert {r.id for r in test.collect()} == want_test


def test_prefix_similarity_joins_have_no_cartesian(spark, sf_dir):
    # q16 (ex-r38)/r40: every candidate must come from the prefix-token
    # equi-join — a CartesianProduct or BNLJ means the filter theorem
    # got lost and the plan went all-pairs
    for name in ("q16_jaccard_prefix_join", "r40_containment_join"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_sq8_scoring_per_row_dequantize(spark, sf_dir):
    """The SQ8 tier's round-10 plan shape (VERDICT r9 fix): quantize
    and midpoint-dequantize run in whole-stage codegen ONCE PER CORPUS
    ROW — below the broadcast join — and the only Python in the plan is
    the single Arrow-batched dot kernel shared with the exact tier
    (dot_arrow_seq). Never a row-at-a-time BatchEvalPython, never more
    than the one Arrow stage."""
    plan = plan_of(spark, sf_dir, "q18_sq8_knn")
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1
    # the per-pair scoring expression must NOT contain the dequantize
    # transform: reconstruction happens in a projection below the join,
    # so the Arrow stage's inputs are plain attributes
    arrow_seg = plan[plan.index("ArrowEvalPython"):]
    head = arrow_seg[: arrow_seg.index("\n") if "\n" in arrow_seg else len(arrow_seg)]
    assert "transform(" not in head


def test_round9_joins_have_no_cartesian(spark, sf_dir):
    for name in ("q38_interval_overlap", "r54_triangle_count"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_lake_join_scan_broadcasts_the_dim(spark, tmp_path):
    """lake_join_scan's physical plan: the dim side broadcasts
    (BroadcastHashJoin), never a SortMergeJoin or cartesian — the fact
    side is the pruned file scan."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.catalog import lake_join_scan, register_lake_table

    lake = str(tmp_path / "jslake")
    spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(4, "k").write.parquet(lake)
    register_lake_table(spark, "t_js_plan", lake)
    dim = spark.createDataFrame([(5,), (1500,)], "dk long")
    df = lake_join_scan(spark, "t_js_plan", dim, "k", "dk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # and the fact side reads only the two pruned files
    assert len(df.inputFiles()) == 2


def test_neardup_dedup_tail_broadcasts_local_cc_labels(spark, sf_dir):
    # round 15: with the CC local tier engaged, the q59 dedup tail must
    # plan ONE BroadcastHashJoin LeftAnti against the losers frame and
    # NO corpus-side exchange/sort-merge join — the r14 plan shuffled
    # the whole corpus into a SortMergeJoin against the unknown-size
    # collected-label relation (broadcast hint is legal there: the
    # tier's own gate proves the bound)
    plan = plan_of(spark, sf_dir, "q59_neardup_cluster_dedup")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]
