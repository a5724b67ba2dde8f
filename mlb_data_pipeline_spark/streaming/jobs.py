"""Structured Streaming surface — SURVEY §2.8 ST1-ST9.

The reference's incremental model is daily date-keyed blob arrival with
at-least-once retries and latest-only catchup (mlb_pipeline_dag.py:39-41,
:31-32); its Spark-native form is a file stream source + windowed
aggregation + watermark + exactly-once checkpointed sink. Every
transformation here is also valid on a batch DataFrame — the
batch-equivalence tests (SURVEY §5.2.5) run the same function against
the static table and against ``availableNow`` micro-batches and assert
equal results (Q32-Q34 in plans/stream_queries.py are the oracled batch
forms).

100 TB notes: state stores (window aggs, dedup, session merge) are keyed
by (group key, window) and bounded by the watermark — late data past the
watermark is dropped and its state evicted, so state size is
O(active keys x windows-in-watermark-horizon), independent of total
history. Sinks use availableNow + checkpoint for exactly-once batch
catch-up runs (ST9), the streaming analogue of the reference's
idempotent daily re-runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dec

EVENT_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"


def read_event_stream(spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """ST1: incremental parquet file source with an explicit schema (a
    streaming scan cannot infer). One file = one arrival unit, the
    engine's analogue of the reference's daily blob drops."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def tumbling_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """ST2+ST5: tumbling 1h counts per event_type with watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value")), 2).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """ST3: sliding window (1 h length, 15 min slide)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
    )


def session_counts_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """ST4: gap-based session windows per user. Spark merges windows
    closer than ``gap`` in the state store; the batch-SQL formulation of
    the same semantics is Q33's lag/cumsum."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), F.col("win.end").alias("session_end"), "n_events")
    )


def dynamic_session_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """ST4, dynamic-gap form (round 11): the session gap varies per
    event — 'view' keeps attention 30 minutes, anything else 10. Spark
    accepts a gap COLUMN in streaming session_window; merge semantics
    are transitive interval-chaining on the running max of window ends
    (the q26 'dynamic' branch pins them bit-exact in batch; this is the
    same expression under a watermark)."""
    gap = F.when(F.col("event_type") == "view", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """ST6: keyed dedup with watermark-bounded state — the reference's
    id=URL idempotent upsert (pipeline.py:69) as a stream. State holds
    one entry per event_id inside the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stream_static_join(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """ST8: stream ⋈ static dimension. The static side is planned per
    micro-batch; small dims broadcast (same rule as batch: forced
    broadcast only for fixed-size dims)."""
    return events.join(F.broadcast(dim), on)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: both sides watermarked, equi-join on
    ``key`` plus a time-bound (right.ts within [left.ts, left.ts +
    ``within``]) — the constraint that lets Spark EVICT join state (an
    unbounded stream-stream join would buffer both streams forever).
    The reference has no streaming analogue; this is the engine's form
    of correlating two live feeds (e.g. schedule updates x article
    arrivals) without a batch rendezvous.

    State per side is bounded by the watermark horizon: rows older than
    max(event time) - watermark - within are dropped from the buffer.
    Returns (key, l_ts, r_ts, l/r payload columns)."""
    lw = left.withWatermark("ts", watermark).select(
        F.col(key), F.col("ts").alias("l_ts"), F.col("event_type").alias("l_type")
    )
    rw = right.withWatermark("ts", watermark).select(
        F.col(key).alias("__rk"), F.col("ts").alias("r_ts"), F.col("event_type").alias("r_type")
    )
    return lw.join(
        rw,
        (F.col(key) == F.col("__rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"interval {within}")),
    ).drop("__rk")


def run_available_now(df: DataFrame, checkpoint_dir: str, out_dir: str, output_mode: str = "append") -> None:
    """ST9: exactly-once parquet sink, availableNow trigger — processes
    everything currently available as bounded micro-batches, then stops.
    Re-running with the same checkpoint is a no-op (idempotent catch-up,
    the reference's retry-safe daily run)."""
    q = (
        df.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", out_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


DOCUMENT_SCHEMA = "doc_id BIGINT, text STRING"


def read_document_stream(spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """ST1 over the documents shape: incremental parquet arrival of
    (doc_id, text) — the stream form of the reference's daily article
    drops (mlb_pipeline_dag.py:119)."""
    reader = spark.readStream.schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def incremental_neardup_stream(
    docs_stream: DataFrame,
    store_path: str,
    pairs_out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 4,
    shingle_n: int = 3,
) -> None:
    """Streaming corpus near-dup (ST6 x SURVEY §2.11 I2): each
    micro-batch is a delta deduped against the persisted signature store
    via ``incremental_neardup_pairs`` (flagged pairs append to
    ``pairs_out_dir``), then appended to the store — so batch N+1 sees
    batch N's documents. This is the reference's daily cadence collapsed
    to micro-batch granularity; the state is the PARQUET STORE, not the
    Spark state store, so it survives restarts and is shared with the
    batch path.

    Delivery semantics: foreachBatch is at-least-once on retry. The
    signature-store append is idempotent (id guard in
    ``append_signature_store``), and a replayed batch re-emits pairs
    against the same store state (its own signatures were already
    appended, but the id guard keeps them out of the join's store side
    only for NEW ids — replayed pair output may therefore duplicate).
    Readers of ``pairs_out_dir`` dedup on (id_a, id_b), which is cheap
    and exact; pair emission is deterministic so duplicates are
    identical rows."""
    from ..operators.dedup import append_signature_store, incremental_neardup_pairs

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the batch feeds the pair join AND the store append; eager
        # checkpoint so the source isn't re-read per consumer
        delta = batch_df.localCheckpoint(eager=True)
        incremental_neardup_pairs(
            delta, store_path, id_col, text_col, threshold, n_hashes, shingle_n
        ).write.mode("append").parquet(pairs_out_dir)
        append_signature_store(delta, id_col, text_col, store_path, n_hashes, shingle_n)

    q = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """ST7: custom stateful per-key operator via applyInPandasWithState.

    Keeps (count, total) per user across micro-batches and emits the
    running values each time the key appears — the engine's form of the
    reference's (declared, unimplemented) agent memory
    (config.py:96-100). State per key is two scalars; at 100 TB the
    state store is bounded by |active users|, not event volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def text_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> None:
    """Streaming inverted-index maintenance (§2.11 I9's streaming form,
    the keyword-channel sibling of ``incremental_neardup_stream``): each
    micro-batch tokenizes ONLY its delta and appends the postings via
    ``append_text_index`` — a query against the loaded index after batch
    N sees batches 1..N without any corpus re-tokenization. State is the
    PARQUET INDEX (restart-safe, shared with the batch path), not the
    Spark state store.

    Delivery: foreachBatch is at-least-once on retry. The append keys
    its writes on the micro-batch epoch (``batch_id``): a replayed
    epoch recomputes the same fresh set (the doc-registry guard excludes
    every batch except its own) and OVERWRITES its own ``batch=<epoch>``
    directories, so partial failures between the postings, registry and
    stats writes can neither duplicate postings nor permanently drop
    docs from stats — stats are rebuilt from the registry on every
    append. Token-less docs register too, so replaying them cannot
    re-count n/avgdl. The index must exist (``build_text_index`` +
    ``save_text_index``, possibly over an empty corpus) before the
    stream starts."""
    from ..operators.search import append_text_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_text_index(
            batch_df.localCheckpoint(eager=True),
            index_path,
            text_col=text_col,
            batch_id=f"epoch{batch_id}",
        )

    q = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ivf_index_stream(
    vectors_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming vector-store maintenance (§2.11 I3/I4's streaming
    form) — the third leg of the streaming-store trio next to
    ``incremental_neardup_stream`` (signatures) and
    ``text_index_stream`` (postings): each micro-batch's (id, vector)
    rows are assigned to their nearest persisted centroids and appended
    to the inverted file via ``append_ivf_index`` — a probe after batch
    N sees batches 1..N with zero re-assignment of the existing corpus.
    State is the PARQUET INDEX (restart-safe, shared with the batch
    path), not the Spark state store. Centroids do NOT retrain on the
    stream — a deployment retrains per corpus version
    (``build_ivf_index``); recall between retrains degrades gracefully
    because probing still ranks exactly within the probed lists.

    Delivery: foreachBatch is at-least-once on retry. The append is a
    SINGLE job (assignments append) guarded by a left-anti on the
    inverted file's ids, so a replayed batch appends nothing and a
    batch whose job never committed leaves nothing behind — either way
    the retry converges. The index must exist (``build_ivf_index`` +
    ``save_ivf_index``) before the stream starts."""
    from ..operators.vector import append_ivf_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_ivf_index(batch_df.localCheckpoint(eager=True), index_path)

    q = (
        vectors_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def contamination_stream(
    docs_stream: DataFrame,
    span_store_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_span_freq: int | None = None,
) -> None:
    """Streaming decontamination: each arriving corpus micro-batch is
    probed against the PERSISTED benchmark span store
    (``probe_span_store`` — winnowed or full, whatever the store's
    meta says) and its contamination hits land under
    ``out_path/batch=epoch<N>/`` — the gate a streaming ingest runs
    BEFORE documents reach training shards, completing the streaming
    coverage of the store family (signatures / postings / vectors /
    spans). The eval suite is never re-hashed: per batch the only work
    is the delta's span explode + one equi-join against the store
    scan.

    Delivery: foreachBatch is at-least-once on retry; writes are keyed
    on the micro-batch epoch and a replayed epoch OVERWRITES its own
    ``batch=<epoch>`` directory (dynamic partition overwrite), so hits
    are exactly-once per epoch in the output. Readers scan
    ``out_path`` recursively (one subdir per epoch)."""
    from ..operators.dedup import probe_span_store

    def process(batch_df: DataFrame, batch_id: int) -> None:
        hits = probe_span_store(
            batch_df.localCheckpoint(eager=True),
            span_store_path,
            id_col,
            text_col,
            max_span_freq=max_span_freq,
        )
        hits.write.mode("overwrite").parquet(
            out_path.rstrip("/") + f"/batch=epoch{batch_id}"
        )

    q = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def scd2_stream(
    changes_stream: DataFrame,
    dim_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str = "change_ts",
) -> None:
    """Streaming SCD Type-2 maintenance: each micro-batch of change
    rows merges into the persisted versioned dimension at ``dim_path``
    via ``scd2_apply`` (read -> merge -> atomic-swap rewrite: the new
    dimension lands in a temp dir and replaces the old one by rename,
    so a crash mid-write never destroys history). Sequential batches
    preserve INTERMEDIATE history — a key changed in batch 1 and again
    in batch 2 keeps both closed versions, which is exactly what
    distinguishes the streaming form from one collapsed batch apply.

    Delivery: foreachBatch is at-least-once on retry; ``scd2_apply``
    is idempotent on a re-delivered batch (an identical change against
    the now-open row is a no-op, pinned by test), so replays converge.
    The dimension must exist (write the initial open rows with
    valid_from/valid_to) before the stream starts."""
    from ..sources.warehouse import scd2_apply

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources.writers import safe_rewrite

        spark = batch_df.sparkSession
        current = spark.read.parquet(dim_path)
        merged = scd2_apply(current, batch_df, key_cols, attr_cols, ts_col)
        safe_rewrite(
            spark, dim_path, lambda tmp: merged.write.mode("overwrite").parquet(tmp)
        )

    q = (
        changes_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sketch_store_stream(
    events_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    part_col: str,
    group_cols: list[str],
    value_col: str,
) -> None:
    """Streaming maintenance for the HLL sketch store (the fourth leg of
    the streaming-store family: signatures, postings, inverted file,
    now sketches): each micro-batch folds into one sketch row per
    (partition, group) and appends through the store's partition-value
    guard — so a rollup after batch N reflects batches 1..N and raw
    events are never retained. State is the PARQUET STORE (restart-safe,
    shared with the batch path).

    Delivery: foreachBatch is at-least-once; the append's partition
    guard (left-anti on existing part values) makes a replayed batch a
    no-op. Contract: a micro-batch carries whole partitions (e.g. the
    stream is day-files and part_col is the day) — a partition split
    ACROSS batches would be half-sketched, exactly as in the batch
    append path. The store must exist (``build_sketch_store``, possibly
    over an empty frame) before the stream starts."""
    from ..operators.sketch import append_sketch_store

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_sketch_store(
            batch_df.localCheckpoint(eager=True),
            part_col, group_cols, value_col, store_path,
        )

    q = (
        events_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def bloom_store_stream(
    keys_stream: DataFrame,
    on: list[str],
    store_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming maintenance for the Bloom seen-keys store (the fifth
    leg of the streaming-store family: signatures, postings, inverted
    file, sketches, now the ingest membership bitmap): each micro-batch
    ORs its keys into the persisted bitmap, so the next ingest's
    definitely-new/maybe-seen gate reflects every batch so far without
    retaining a single raw key. State is the PARQUET STORE
    (restart-safe, shared with the batch path).

    Delivery: foreachBatch is at-least-once — and this store is the one
    whose merge is NATURALLY idempotent (bit_or of already-set bits is
    a no-op), so redelivered batches need no replay guard at all. The
    store must exist (``build_bloom_store``, sized for the lifetime key
    count) before the stream starts."""
    from ..operators.bloomstore import append_bloom_store

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_bloom_store(batch_df.localCheckpoint(eager=True), on, store_path)

    q = (
        keys_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def jaccard_store_stream(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming maintenance for the EXACT-near-dup prefix store (the
    sixth leg of the streaming-store family): each micro-batch's docs
    append under the store's pinned df-order snapshot, so the next
    probe's losslessness guarantee covers every batch so far. State is
    the PARQUET STORE (restart-safe, shared with the batch path).

    Delivery: foreachBatch is at-least-once; the append's id guard
    makes a replayed batch a no-op. The store must exist
    (``build_jaccard_store``) before the stream starts — the build is
    what pins the threshold and the token order."""
    from ..operators.dedup import append_jaccard_store

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_jaccard_store(
            batch_df.localCheckpoint(eager=True), id_col, text_col, store_path
        )

    q = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sq8_index_stream(
    vectors_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming SQ8-store maintenance (the quantized tier's streaming
    leg, round 9) — same contract as ``ivf_index_stream``: each
    micro-batch's (id, vector) rows encode under the PERSISTED bounds
    and append to the codes table via ``append_sq8_index``; a probe
    after batch N sees batches 1..N. Bounds do NOT retrain on the
    stream (retrain per corpus version — the centroid contract);
    out-of-range values clamp to the rails, so drift degrades
    quantization precision gracefully, never correctness.

    Delivery: foreachBatch is at-least-once on retry; the append is a
    single id-guarded job, so replays converge. The store must exist
    (``save_sq8_index``) before the stream starts."""
    from ..operators.vector import append_sq8_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_sq8_index(batch_df.localCheckpoint(eager=True), index_path)

    q = (
        vectors_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def lake_snapshot_stream(
    rows_stream: DataFrame,
    lake_path: str,
    checkpoint_dir: str,
    optimize_every: int | None = None,
    optimize_specs: list[tuple[str, int, int]] | None = None,
    optimize_bits: int = 10,
    vacuum_keep_last: int | None = None,
    branch: str | None = None,
    publish_every: int | None = None,
    publish_expect_zero: list[str] | None = None,
    compact_min_rows: int | None = None,
) -> None:
    """Streaming ingestion into a SNAPSHOT lake (operators/snapshots.py)
    with exactly-once VISIBILITY: each micro-batch's files land
    invisible (no snapshot references them), then ONE atomic commit
    flips them live. A reader can NEVER observe a half-ingested batch:
    it sees the pre-commit snapshot or the post-commit one, nothing
    between. A plain parquet dir adopts into the log before the first
    batch is written (v1 = ``adopt``, or ``stream_init`` when empty).

    Replay guard: the commit summary records ``batch_id``; a
    redelivered batch whose id is already in the retained history is
    skipped wholesale (its orphan files, if the crash landed between
    write and commit, are ``vacuum_lake`` fodder). foreachBatch retries
    therefore converge to exactly-once visible rows.

    Each commit records its files' row counts and column stats, so the
    catalog plans reads from the record.

    Maintenance cadence (round 11): every ``optimize_every`` committed
    batches an in-stream ``optimize_clustered`` (with
    ``optimize_specs``) re-sorts the accumulated wide-span batch files
    (one optimize commit, old bytes stay for time travel), so range
    reads through the catalog keep skipping files across batches, and
    — when ``vacuum_keep_last`` is set — ``vacuum_lake``
    expires history down to the last N versions in the same tick, so
    the log and the dead bytes stay bounded on an infinite stream.

    100 TB note: per-batch cost is the batch write + one json link +
    O(batch) footer reads. History grows one snapshot per batch; the
    vacuum cadence bounds it.

    ``branch`` (round 13 — STREAMING WRITE-AUDIT-PUBLISH): micro-
    batches commit on an existing WAP branch instead of main — a
    continuous feed stages invisibly, gets audited (read_branch /
    read_changes(branch=) / branch DML cleanup), and publishes
    atomically on the operator's cadence. Same exactly-once replay
    guard, keyed to the branch's own history; in-stream OPTIMIZE /
    vacuum maintenance is main-scoped and therefore rejected with
    branch= (run them after publish).

    ``publish_every`` (round 14 — the AUTOMATED WAP cadence, VERDICT
    r13 ask #3): every N batches the staged branch publishes to main
    FROM INSIDE ``foreachBatch`` — where no concurrent branch writer
    exists by construction, so the head-pinned publish never races —
    then the branch re-forks at the new main head and staging
    continues. ``publish_expect_zero`` runs as the publish's audit
    gate; a gate hit fails the STREAM (loudly — bad staged data must
    never auto-publish; clean the branch with branch DML and restart).
    Replay safety across a kill at ANY point in the cycle: the publish
    commit records the cadence's ``batch_id`` on MAIN, so the guard —
    max over the branch chain and main's publish records — still
    skips a redelivered batch after the branch was dropped and
    re-forked; a crash between the publish commit and the drop is
    detected at the next batch's ENTRY (everything staged is already
    live on main) and resolves to drop-and-refork before any new
    append — never a double publish, never a name collision.

    ``compact_min_rows``: before each cadence publish, branch files
    below this row count coalesce via ``lake_branch_compact`` — every
    micro-batch lands as its own file, and without in-staging
    compaction the publish would ship that fragmentation straight to
    main (at 100 TB, a small-files problem on the PUBLISHED table)."""
    from ..operators.snapshots import (
        _adopt,
        _commit_append,
        _ref_info,
        _versions,
        _write_new_files,
        lake_branch_create,
        lake_branch_drop,
        lake_publish_branch,
        last_stream_batch_id,
        snapshot_files,
        snapshot_info,
    )

    if branch is not None and (optimize_every or vacuum_keep_last is not None):
        raise ValueError(
            "in-stream OPTIMIZE/vacuum are main-scoped; with branch= run "
            "maintenance after lake_publish_branch"
        )
    if publish_every is not None and branch is None:
        raise ValueError("publish_every requires branch= (the WAP cadence)")
    if publish_every is not None and publish_every < 1:
        raise ValueError("publish_every must be >= 1")
    if vacuum_keep_last is not None and vacuum_keep_last < 2:
        # the maintenance tick commits optimize AFTER the batch's
        # stream_append; keep_last=1 would expire the append record and
        # a redelivered batch could re-ingest — two retained versions
        # always keep the newest batch_id visible to the replay guard
        raise ValueError("vacuum_keep_last must be >= 2 for the snapshot stream")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if branch is not None:
            # branch leg: the branch (and therefore the lake) must
            # already exist — v1 is the fork record, so the
            # establish-before-write invariant holds by construction
            # and a crash between write and commit leaves only
            # grace-windowed orphans, same as main. With a publish
            # cadence the branch re-forks here when the previous
            # cycle's drop landed (or after a crash between drop and
            # re-create).
            if publish_every is not None and not _versions(lake_path, branch):
                lake_branch_create(lake_path, branch)
            elif publish_every is not None:
                # crash recovery BEFORE touching the branch: if every
                # staged file is already live on main, a previous
                # cycle's publish landed but the drop didn't — re-fork
                # now, never publish twice (and never let the stale
                # staged names collide with main's live set later)
                info = _ref_info(lake_path, branch=branch)
                fork_files = set(_ref_info(lake_path, 1, branch)["files"])
                stale = set(info["files"]) - fork_files
                if stale and stale <= set(snapshot_files(lake_path)):
                    lake_branch_drop(lake_path, branch)
                    lake_branch_create(lake_path, branch)
            # replay guard: newest-first raw-summary scan (O(1) jsons
            # per batch, round 14), over the branch chain AND — with a
            # publish cadence — main's publish records, which carry
            # the batch id across the drop/re-fork cycle
            seen = [last_stream_batch_id(lake_path, branch=branch)]
            if publish_every is not None:
                seen.append(last_stream_batch_id(lake_path))
            seen = [b for b in seen if b is not None]
            if seen and batch_id <= max(seen):
                return  # redelivery of a committed batch: no-op
            # column mapping (round 14): a mapped table's batches must
            # store mapped columns under their physical names too
            new = _write_new_files(
                batch_df, lake_path, [], info=_ref_info(lake_path, branch=branch)
            )
            _commit_append(
                lake_path, new, "stream_append",
                summary={"branch": branch, "files_added": len(new), "batch_id": batch_id},
                spark=spark, branch=branch,
            )
            if publish_every is not None and (batch_id + 1) % publish_every == 0:
                info = _ref_info(lake_path, branch=branch)
                fork_info = _ref_info(lake_path, 1, branch)
                added = set(info["files"]) - set(fork_info["files"])
                if added:
                    if compact_min_rows is not None:
                        # coalesce the cycle's micro-batch files in
                        # STAGING so main receives compact files, not
                        # one file per trigger
                        from ..operators.snapshots import lake_branch_compact

                        lake_branch_compact(
                            spark, lake_path, branch, min_rows=compact_min_rows
                        )
                    # single writer by construction inside foreachBatch
                    # — the head-pinned publish's conditional drop
                    # never trips; an expect_zero hit raises and FAILS
                    # the stream (bad staged rows must not publish)
                    lake_publish_branch(
                        lake_path,
                        branch,
                        drop=True,
                        expect_zero=publish_expect_zero,
                        spark=spark,
                        summary={"batch_id": batch_id},
                    )
                    lake_branch_create(lake_path, branch)
            return
        # establish v1 BEFORE writing any batch file (round 12, ADVICE
        # fix): pre-existing plain parquet adopts; an empty dir commits
        # an empty init. Either way the first batch's files are written
        # AFTER a snapshot exists, so a crash between write and commit
        # leaves orphans the retry never adopts (the old code re-listed
        # the dir and committed the first attempt's files PLUS the
        # rewrite — duplicate rows).
        _adopt(spark, lake_path)
        # monotonic replay guard: stream batch ids only grow, so a
        # batch at or below the highest committed id is a
        # redelivery — robust to vacuum expiring OLD records; the
        # newest-first raw-summary scan keeps it O(1) per batch
        last = last_stream_batch_id(lake_path)
        if last is not None and batch_id <= last:
            return  # redelivery of a committed batch: no-op
        new = _write_new_files(
            batch_df, lake_path, [], info=snapshot_info(lake_path)
        )
        # append-shaped commit with head assertion + re-union retry
        # (round 12): a concurrent committer (in-stream OPTIMIZE,
        # another writer) can no longer be silently built over
        _commit_append(
            lake_path,
            new,
            "stream_append",
            summary={"batch_id": batch_id, "files_added": len(new)},
            spark=spark,
        )
        if optimize_every and optimize_specs and (batch_id + 1) % optimize_every == 0:
            from ..operators.layout import optimize_clustered
            from ..operators.snapshots import vacuum_lake

            optimize_clustered(spark, lake_path, optimize_specs, optimize_bits)
            if vacuum_keep_last is not None:
                vacuum_lake(lake_path, keep_last=vacuum_keep_last)

    q = (
        rows_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
