"""Streaming ⇔ batch equivalence (SURVEY §5.2.5).

Each Structured Streaming job is run with an ``availableNow`` trigger
over a parquet copy of the static ``events`` table and asserted equal to
the same semantics computed in batch (the oracled Q32-Q34 formulations).
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.catalog import load_table
from mlb_data_pipeline_spark.streaming import (
    dedup_stream,
    read_event_stream,
    run_available_now,
    session_counts_stream,
    sliding_counts_stream,
    stream_static_join,
    tumbling_counts_stream,
)

pytestmark = pytest.mark.streaming


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Static events re-written as a multi-file parquet directory so the
    file stream source sees several arrival units."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(out)
    return out


@pytest.fixture(scope="module")
def events_batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def _run_to_memory(spark, df, mode: str):
    name = "mem_" + uuid.uuid4().hex[:8]
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def _rows(df, *cols):
    return sorted([tuple(r) for r in df.select(*cols).collect()])


def test_tumbling_stream_equals_batch(spark, events_dir, events_batch):
    stream_res = _run_to_memory(spark, tumbling_counts_stream(read_event_stream(spark, events_dir)), "complete")
    batch_res = tumbling_counts_stream(events_batch)
    cols = ["win_start", "event_type", "n_events", "total_value"]
    assert _rows(stream_res, *cols) == _rows(batch_res, *cols)
    # window('1 hour').start is exactly date_trunc('hour') — Q32 parity
    trunc = events_batch.groupBy(
        F.date_trunc("hour", "ts").alias("win_start"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    assert _rows(stream_res, "win_start", "event_type", "n_events") == _rows(
        trunc, "win_start", "event_type", "n_events"
    )


def test_sliding_stream_covers_each_event_four_times(spark, events_dir, events_batch):
    res = _run_to_memory(spark, sliding_counts_stream(read_event_stream(spark, events_dir)), "complete")
    total = res.agg(F.sum("n_events")).first()[0]
    assert total == 4 * events_batch.count()  # 1h window / 15min slide


def test_session_stream_equals_batch_sessionization(spark, events_dir, events_batch):
    res = _run_to_memory(spark, session_counts_stream(read_event_stream(spark, events_dir)), "complete")
    # Batch lag/cumsum sessionization (Q33 semantics)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    batch_sessions = (
        events_batch.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull() | (F.unix_micros("ts") - F.unix_micros("prev") > 1_800_000_000), 1
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(run))
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n_events"))
    )
    got = _rows(res.groupBy("user_id").agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n")), "user_id", "n_sessions", "n")
    want = _rows(
        batch_sessions.groupBy("user_id").agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n")),
        "user_id",
        "n_sessions",
        "n",
    )
    assert got == want


def test_dedup_stream_exactly_once_across_runs(spark, events_batch, tmp_path):
    """ST6+ST9: duplicates within a run are dropped; a second availableNow
    run over re-delivered (duplicate) files appends nothing — state in
    the checkpoint makes redelivery idempotent."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sample = events_batch.limit(200).cache()
    sample.write.mode("overwrite").parquet(src)
    sample.limit(120).write.mode("append").parquet(src)  # in-run duplicates

    stream = dedup_stream(read_event_stream(spark, src), watermark="365 days")
    run_available_now(stream, ckpt, out)
    n1 = spark.read.parquet(out).count()
    assert n1 == sample.count()

    # redelivery: append the same 200 rows again, run with same checkpoint
    sample.write.mode("append").parquet(src)
    run_available_now(dedup_stream(read_event_stream(spark, src), watermark="365 days"), ckpt, out)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1


def test_incremental_neardup_stream_equals_batch(spark, tmp_path):
    """Streaming corpus dedup (foreachBatch over the signature store):
    micro-batched arrivals flagged against the persisted corpus produce,
    together with the corpus's own batch pairs, exactly the batch result
    over the full union — including pairs BETWEEN micro-batches (batch 2
    must see batch 1 through the store append)."""
    from mlb_data_pipeline_spark.operators.dedup import (
        build_signature_store,
        minhash_neardup_pairs,
    )
    from mlb_data_pipeline_spark.streaming import incremental_neardup_stream, read_document_stream

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12))) for i in range(30)],
        "doc_id BIGINT, text STRING",
    )
    # arrival 1: near-dup of corpus doc 3; arrival 2: near-dup of
    # ARRIVAL-1 doc 100 (cross-micro-batch) plus a singleton
    shared = " ".join(f"dupw{j}" for j in range(12))
    b1 = spark.createDataFrame(
        [(100, corpus.collect()[3].text[:-1] + "X"), (101, shared + " tail1")],
        "doc_id BIGINT, text STRING",
    )
    b2 = spark.createDataFrame(
        [(200, shared + " tail2"), (201, " ".join(f"solo{j}" for j in range(12)))],
        "doc_id BIGINT, text STRING",
    )
    store = str(tmp_path / "sigstore")
    src = str(tmp_path / "src")
    build_signature_store(corpus, "doc_id", "text", store)
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    incremental_neardup_stream(
        read_document_stream(spark, src, max_files_per_trigger=1),
        store,
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    streamed = {
        (r.id_a, r.id_b) for r in spark.read.parquet(str(tmp_path / "pairs")).distinct().collect()
    }
    batch_all = minhash_neardup_pairs(
        corpus.unionByName(b1).unionByName(b2), "doc_id", "text", threshold=0.5
    )
    batch_corpus = minhash_neardup_pairs(corpus, "doc_id", "text", threshold=0.5)
    want = {(r.id_a, r.id_b) for r in batch_all.collect()} - {
        (r.id_a, r.id_b) for r in batch_corpus.collect()
    }
    assert streamed == want
    assert (101, 200) in streamed  # the cross-micro-batch pair


def test_stream_static_join(spark, events_dir, events_batch, tmp_path):
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0), ("signup", 2.0), ("error", 0.0)],
        "event_type STRING, weight DOUBLE",
    )
    joined = stream_static_join(read_event_stream(spark, events_dir), dim, "event_type")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_available_now(joined, ckpt, out)
    assert spark.read.parquet(out).count() == events_batch.join(dim, "event_type").count()


def test_stateful_running_totals_across_batches(spark, events_batch, tmp_path):
    """ST7: state accumulates across micro-batches; the final emission
    per user equals the batch aggregate."""
    from mlb_data_pipeline_spark.streaming import running_user_totals_stream

    src = str(tmp_path / "src")
    sample = events_batch.filter(F.col("user_id") < 10).cache()
    sample.repartition(3).write.parquet(src)  # several files -> several batches

    stream = running_user_totals_stream(
        read_event_stream(spark, src, max_files_per_trigger=1)
    )
    res = _run_to_memory(spark, stream, "update")
    # last (max n_events) emission per user == batch totals
    final = res.groupBy("user_id").agg(F.max("n_events").alias("n"))
    want = sample.groupBy("user_id").agg(F.count("*").alias("n"))
    assert _rows(final, "user_id", "n") == _rows(want, "user_id", "n")


def test_watermark_drops_late_data(spark, tmp_path):
    """ST5: an event older than the watermark horizon arriving in a later
    run is dropped — its window never appears in the append output."""
    import datetime as dt

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def ev(i, hour, minute=0):
        return (i, dt.datetime(2024, 1, 1, hour, minute), 1, "click", 1.0, "{}")

    from mlb_data_pipeline_spark.streaming.jobs import EVENT_SCHEMA

    batch1 = spark.createDataFrame([ev(1, 10), ev(2, 10, 30), ev(3, 11, 15), ev(4, 12)], EVENT_SCHEMA)
    batch1.coalesce(1).write.mode("append").parquet(src)
    run_available_now(tumbling_counts_stream(read_event_stream(spark, src)), ckpt, out)
    # watermark after run1 = 12:00 - 2h = 10:00

    late_and_new = spark.createDataFrame(
        [ev(5, 7), ev(6, 10, 45), ev(7, 15)], EVENT_SCHEMA  # 07:00 late-beyond-watermark; 10:45 within horizon; 15:00 new
    )
    late_and_new.coalesce(1).write.mode("append").parquet(src)
    run_available_now(tumbling_counts_stream(read_event_stream(spark, src)), ckpt, out)
    # watermark advances to 13:00 -> windows through 12:00 finalized

    got = {
        (r.win_start.hour, r.n_events)
        for r in spark.read.schema("win_start TIMESTAMP, event_type STRING, n_events BIGINT, total_value DOUBLE")
        .parquet(out)
        .collect()
    }
    assert (7, 1) not in got, "late event beyond watermark must be dropped"
    assert (10, 3) in got  # 10:00, 10:30 from run1 + in-horizon 10:45 from run2
    assert (11, 1) in got and (12, 1) in got


def test_stream_stream_join_equals_batch_interval_join(spark, events_dir, events_batch, tmp_path):
    """ST stream-stream: two watermarked file streams joined on user_id
    within a time bound produce exactly the batch interval-join result
    (availableNow drains everything, the generous watermark drops
    nothing)."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.streaming import (
        read_event_stream,
        run_available_now,
        stream_stream_join,
    )

    out = str(tmp_path / "out")
    joined = stream_stream_join(
        read_event_stream(spark, events_dir),
        read_event_stream(spark, events_dir),
        "user_id",
        within="30 minutes",
        watermark="365 days",
    )
    run_available_now(joined, str(tmp_path / "ckpt"), out)
    got = spark.read.parquet(out)

    l = events_batch.select("user_id", F.col("ts").alias("l_ts"), F.col("event_type").alias("l_type"))
    r = events_batch.select(
        F.col("user_id").alias("rk"), F.col("ts").alias("r_ts"), F.col("event_type").alias("r_type")
    )
    want = (
        l.join(
            r,
            (F.col("user_id") == F.col("rk"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 30 minutes")),
        )
        .drop("rk")
    )
    assert got.count() == want.count() > 0
    key = lambda r: (r.user_id, r.l_ts, r.r_ts, r.l_type, r.r_type)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_text_index_stream_equals_batch_build(spark, tmp_path):
    """Streaming inverted-index maintenance: micro-batched arrivals
    appended to the persisted text index produce the SAME retrieval
    results as a batch index over the full union — including documents
    from different micro-batches, and with replay-safe appends."""
    from mlb_data_pipeline_spark.operators.search import (
        bm25_topk,
        build_text_index,
        load_text_index,
        save_text_index,
    )
    from mlb_data_pipeline_spark.streaming import read_document_stream, text_index_stream

    corpus = spark.createDataFrame(
        [(i, " ".join(f"base{i}w{j}" for j in range(8))) for i in range(10)],
        "doc_id BIGINT, text STRING",
    )
    b1 = spark.createDataFrame(
        [(100, "spark shuffle join alpha"), (101, "spark filter beta")],
        "doc_id BIGINT, text STRING",
    )
    b2 = spark.createDataFrame(
        [(200, "spark shuffle gamma gamma"), (201, "unrelated words")],
        "doc_id BIGINT, text STRING",
    )
    idx_path = str(tmp_path / "tindex")
    src = str(tmp_path / "src")
    save_text_index(build_text_index(corpus), idx_path)
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    text_index_stream(
        read_document_stream(spark, src, max_files_per_trigger=1),
        idx_path,
        str(tmp_path / "ckpt"),
    )
    terms = [(0, "spark"), (0, "shuffle")]
    streamed = sorted(
        map(tuple, bm25_topk(None, terms, k=10, index=load_text_index(spark, idx_path)).collect())
    )
    batch = sorted(
        map(
            tuple,
            bm25_topk(corpus.unionByName(b1).unionByName(b2), terms, k=10).collect(),
        )
    )
    assert streamed == batch
    assert len(streamed) == 3  # docs 100, 101, 200 match


def test_ivf_index_stream_equals_batch_build(spark, tmp_path):
    """Streaming vector-store maintenance (the third leg of the
    streaming-store trio): micro-batched vector arrivals appended via
    foreachBatch + append_ivf_index must leave the reloaded index
    equivalent, under full probe, to exact brute force over the full
    union — including vectors from BOTH micro-batches (cross-batch
    visibility through the persisted inverted file)."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.catalog import load_table
    from mlb_data_pipeline_spark.operators.vector import (
        build_ivf_index,
        ivf_knn_join,
        knn_join,
        load_ivf_index,
        save_ivf_index,
    )
    from mlb_data_pipeline_spark.streaming import ivf_index_stream

    emb = load_table(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"), "embeddings").select(
        "vec_id", "embedding"
    ).limit(120).cache()
    corpus = emb.filter(F.col("vec_id") >= 40)
    b1 = emb.filter(F.col("vec_id") < 20)
    b2 = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))

    path = str(tmp_path / "ivf")
    save_ivf_index(build_ivf_index(corpus, "vec_id", "embedding", n_lists=8), path)
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ivf_index_stream(stream, path, str(tmp_path / "ckpt"))

    loaded = load_ivf_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 5)
    got = ivf_knn_join(None, queries, "vec_id", "embedding", k=3, n_probe=8, index=loaded)
    exact = knn_join(emb, queries, "vec_id", "embedding", k=3)
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in got.collect()) == sorted(
        (r.query_id, r.rank, r.vec_id) for r in exact.collect()
    )
    # restart with the same checkpoint: no new data -> index unchanged
    n = spark.read.parquet(path + "/assignments").count()
    stream2 = spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>").parquet(src)
    ivf_index_stream(stream2, path, str(tmp_path / "ckpt"))
    assert spark.read.parquet(path + "/assignments").count() == n


def test_contamination_stream_equals_batch_probe(spark, tmp_path):
    """Streaming decontamination (foreachBatch over the span store):
    hits collected across micro-batch epoch dirs equal the batch probe
    over the union of arrivals — winnowed store honored, replays
    overwrite their own epoch dir."""
    from mlb_data_pipeline_spark.operators.dedup import (
        build_span_store,
        probe_span_store,
    )
    from mlb_data_pipeline_spark.streaming import contamination_stream, read_document_stream

    leak_a = " ".join(f"leakA{j}" for j in range(12))
    leak_b = " ".join(f"leakB{j}" for j in range(12))
    bench = spark.createDataFrame(
        [(1, "bench one " + leak_a + " end"), (2, "bench two " + leak_b + " end")],
        "doc_id BIGINT, text STRING",
    )
    b1 = spark.createDataFrame(
        [(100, "arrival " + leak_a + " trailing"), (101, " ".join(f"clean{j}" for j in range(15)))],
        "doc_id BIGINT, text STRING",
    )
    b2 = spark.createDataFrame(
        [(200, "second wave " + leak_b + " words")],
        "doc_id BIGINT, text STRING",
    )
    store = str(tmp_path / "spanstore")
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    build_span_store(bench, "doc_id", "text", store, span_tokens=8, winnow_w=4)
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    contamination_stream(
        read_document_stream(spark, src, max_files_per_trigger=1),
        store, out, ckpt,
    )
    streamed = {
        (r.corpus_id, r.bench_id, r.n_shared_spans)
        for r in spark.read.option("recursiveFileLookup", "true").parquet(out).collect()
    }
    batch = {
        (r.corpus_id, r.bench_id, r.n_shared_spans)
        for r in probe_span_store(b1.unionByName(b2), store, "doc_id", "text").collect()
    }
    assert streamed == batch
    assert {(c, b) for c, b, _ in streamed} == {(100, 1), (200, 2)}


def test_scd2_stream_preserves_intermediate_history(spark, tmp_path):
    """Streaming SCD2: two sequential micro-batches changing the same
    key keep BOTH closed versions (the collapsed single-batch apply
    would keep only the latest) — plus an unseen-key insert and a
    no-op, through the persisted dimension."""
    import datetime

    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.streaming import read_event_stream, scd2_stream

    d = datetime.date
    dim = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "gold", d(2023, 1, 1), None), (2, "bronze", d(2023, 1, 1), None)],
        "k BIGINT, tier STRING, valid_from DATE, valid_to DATE",
    ).write.parquet(dim)
    src = str(tmp_path / "src")
    b1 = spark.createDataFrame([(1, "silver", d(2024, 1, 1)), (2, "bronze", d(2024, 1, 1))],
                               "k BIGINT, tier STRING, change_ts DATE")
    b2 = spark.createDataFrame([(1, "plat", d(2024, 6, 1)), (9, "new", d(2024, 6, 1))],
                               "k BIGINT, tier STRING, change_ts DATE")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k BIGINT, tier STRING, change_ts DATE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    scd2_stream(stream, dim, str(tmp_path / "ckpt"), ["k"], ["tier"])
    rows = {(r.k, r.tier, r.valid_from, r.valid_to)
            for r in spark.read.parquet(dim).collect()}
    assert rows == {
        (1, "gold", d(2023, 1, 1), d(2024, 1, 1)),
        (1, "silver", d(2024, 1, 1), d(2024, 6, 1)),  # intermediate version kept
        (1, "plat", d(2024, 6, 1), None),
        (2, "bronze", d(2023, 1, 1), None),            # no-op stayed open
        (9, "new", d(2024, 6, 1), None),
    }


def test_sketch_store_stream_equals_batch(spark, tmp_path):
    """Streamed sketch-store appends == a store built in one batch pass:
    identical rollup estimates, and a restart (replayed batch) is a
    no-op."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.sketch import (
        build_sketch_store, rollup_estimate,
    )
    from mlb_data_pipeline_spark.streaming import sketch_store_stream

    def mk(day_lo, day_hi):
        return (
            spark.range(day_lo * 1000, day_hi * 1000)
            .select(
                (F.col("id") / 1000).cast("int").alias("day"),
                F.when(F.col("id") % 3 == 0, "click").otherwise("view").alias("etype"),
                ((F.col("id") * 7919) % 400).alias("user_id"),
            )
        )

    src = str(tmp_path / "src")
    mk(0, 2).coalesce(1).write.mode("append").parquet(src)
    mk(2, 4).coalesce(1).write.mode("append").parquet(src)
    store = str(tmp_path / "store")
    # no bootstrap needed: the first streamed append creates the store
    stream = (
        spark.readStream.schema("day INT, etype STRING, user_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sketch_store_stream(stream, store, str(tmp_path / "ckpt"), "day", ["etype"], "user_id")
    streamed = sorted(map(tuple, rollup_estimate(spark, store, ["etype"]).collect()))
    whole = str(tmp_path / "whole")
    build_sketch_store(mk(0, 4), "day", ["etype"], "user_id", whole)
    assert streamed == sorted(map(tuple, rollup_estimate(spark, whole, ["etype"]).collect()))
    # replayed batch: append the same files again via a fresh stream+ckpt
    stream2 = (
        spark.readStream.schema("day INT, etype STRING, user_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sketch_store_stream(stream2, store, str(tmp_path / "ckpt2"), "day", ["etype"], "user_id")
    assert streamed == sorted(map(tuple, rollup_estimate(spark, store, ["etype"]).collect()))


def test_sq8_index_stream_equals_batch_store(spark, tmp_path):
    """Streaming SQ8-store maintenance: micro-batched appends through
    foreachBatch + append_sq8_index must leave the probed store
    identical to a batch in-memory sq8_knn_join over the full union —
    cross-batch visibility through the persisted codes table, bounds
    pinned at build."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.catalog import load_table
    from mlb_data_pipeline_spark.operators.vector import (
        save_sq8_index,
        sq8_index_knn,
        sq8_knn_join,
    )
    from mlb_data_pipeline_spark.streaming.jobs import sq8_index_stream

    emb = load_table(
        spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"), "embeddings"
    ).select("vec_id", "embedding").limit(120).cache()
    corpus = emb.filter(F.col("vec_id") >= 40)
    b1 = emb.filter(F.col("vec_id") < 20)
    b2 = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))

    path = str(tmp_path / "sq8")
    save_sq8_index(corpus, "vec_id", "embedding", 64, path)
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sq8_index_stream(stream, path, str(tmp_path / "ckpt"))

    assert spark.read.parquet(path + "/codes").count() == 120
    queries = emb.filter(F.col("vec_id") < 3)
    got = sq8_index_knn(spark, path, queries, k=3)
    # batch mirror must encode under the SAME bounds the store pinned at
    # build (corpus-only), so compare against a store-bounds re-encode:
    bounds = spark.read.parquet(path + "/bounds")
    from mlb_data_pipeline_spark.operators.vector import sq8_encode, sq8_reconstruct
    # simplest equivalent: probe == sq8_knn_join over the union with
    # corpus bounds is exactly what the store computes; rebuild by hand
    import pyspark.sql.functions as SF
    ce = sq8_encode(emb.select("vec_id", "embedding"), "embedding", bounds)
    from mlb_data_pipeline_spark.functions.vector_math import cosine as _cos
    q = queries.select(SF.col("vec_id").alias("query_id"), SF.col("embedding").alias("__qv"))
    joined = (
        ce.join(SF.broadcast(q)).filter(SF.col("query_id") != SF.col("vec_id"))
        .crossJoin(SF.broadcast(bounds))
    )
    scored = joined.withColumn("sim", _cos(sq8_reconstruct("sq8"), "__qv"))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(SF.col("sim").desc(), SF.col("vec_id").asc())
    want = (
        scored.withColumn("rank", SF.row_number().over(w)).filter(SF.col("rank") <= 3)
        .select("query_id", "vec_id", "rank")
    )
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in got.collect()) == sorted(
        (r.query_id, r.rank, r.vec_id) for r in want.collect()
    )


def test_session_window_exact_gap_merges(spark):
    """Boundary pin for the r58 oracle rule (ADVICE r9 claimed the
    opposite): measured on Spark 4.1.2, an event arriving EXACTLY
    gap-width after the previous one MERGES into the session (a new
    window whose start equals the current session end still merges),
    so the gap-rule twin must break strictly on > gap, not >= gap.
    Both engines checked on an exact-1800s pair."""
    import datetime as dt

    import duckdb

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (1, 100, t0, 1.0),
        (2, 100, t0 + dt.timedelta(minutes=30), 2.0),  # exactly gap-width later
        (3, 100, t0 + dt.timedelta(minutes=59), 3.0),  # < gap after #2: merges
    ]
    events = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE"
    )
    got = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .orderBy("session_start")
        .collect()
    )
    # one merged session covering all three events, ending 30m after the last
    assert [r.n_events for r in got] == [3]
    assert got[0].session_start == rows[0][2]
    assert got[0].session_end == rows[2][2] + dt.timedelta(minutes=30)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({eid}, {uid}, TIMESTAMP '{ts}', {v})" for eid, uid, ts, v in rows
        )
        + ") t(event_id, user_id, ts, value)"
    )
    # the fixed-gap oracle is q26's 'fixed' branch since round 11;
    # columns shift by one for the part tag
    from mlb_data_pipeline_spark.plans.stream_queries import _R58_BODY

    duck = con.execute(_R58_BODY + " ORDER BY user_id, session_start").fetchall()
    assert [r[4] for r in duck] == [3]  # n_events per session matches Spark
    assert duck[0][3] == got[0].session_end  # session_end convention matches


def test_dynamic_gap_session_bridges_over_short_gap_event(spark):
    """Dynamic-gap pin (round 10): a long-gap event's window can merge
    an event that arrived AFTER a short-gap event's window closed —
    the LAG(prev) rule would split here; the running-max-of-ends rule
    (the r66 oracle) must not. Exact-boundary merge holds for dynamic
    gaps too, and session end is MAX(ts+gap) over the merged events."""
    import datetime as dt

    import duckdb

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (1, 1, t0, "view", 1.0),                              # end 12:30
        (2, 1, t0 + dt.timedelta(minutes=12), "click", 1.0),  # end 12:22
        (3, 1, t0 + dt.timedelta(minutes=25), "click", 1.0),  # bridged by #1
        (4, 2, t0, "click", 1.0),                             # end 12:10
        (5, 2, t0 + dt.timedelta(minutes=10), "click", 1.0),  # exact boundary
    ]
    events = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    gap = F.when(F.col("event_type") == "view", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    got = (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("session_window.end").alias("e"), "n")
        .orderBy("user_id")
        .collect()
    )
    assert [(r.user_id, r.n) for r in got] == [(1, 3), (2, 2)]
    assert got[0].e == rows[2][2] + dt.timedelta(minutes=10)  # max(ts+gap)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({eid}, {uid}, TIMESTAMP '{ts}', '{et}', {v})"
            for eid, uid, ts, et, v in rows
        )
        + ") t(event_id, user_id, ts, event_type, value)"
    )
    # the dynamic-gap oracle is q26's 'dynamic' branch since round 11
    # (ex-r66); columns shift by one for the part tag
    from mlb_data_pipeline_spark.plans.stream_queries import _R66_BODY

    duck = con.execute(_R66_BODY + " ORDER BY user_id, session_start").fetchall()
    assert [(r[1], r[4]) for r in duck] == [(1, 3), (2, 2)]
    assert duck[0][3] == got[0].e


def test_dynamic_session_stream_equals_batch(spark, events_dir, events_batch):
    """ST4 dynamic-gap streaming form (round 11): the per-event-gap
    session_window under a watermark produces, over a finished
    availableNow stream, exactly the batch dynamic-gap result — the
    q26 'dynamic' branch semantics (running-max-of-ends merging) in
    the state store."""
    from mlb_data_pipeline_spark.streaming import (
        dynamic_session_counts_stream,
        read_event_stream,
    )

    res = _run_to_memory(
        spark,
        dynamic_session_counts_stream(read_event_stream(spark, events_dir), watermark="365 days"),
        "complete",
    )
    batch = dynamic_session_counts_stream(events_batch, watermark="365 days")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(res, *cols) == _rows(batch, *cols)
    assert res.count() > events_batch.select("user_id").distinct().count()  # real sessions
