"""Entry point C — the pretraining-data curation chain as ONE Spark job.

The end-to-end release pipeline that SURVEY §2.10 (curation) and §2.11
(incremental/persisted state) exist for, composed in the order a real
data release runs them:

    quality filter -> exact dedup -> incremental near-dup vs the corpus
    signature store -> contamination scan vs the benchmark set ->
    stratified mixing -> deterministic split -> PII redaction ->
    token counting + sequence packing -> split-partitioned shard write
    -> signature-store append (so tomorrow's delta sees today's docs)

Beyond-reference by design: the reference's corpus handling stops at
id-keyed upsert (pipeline.py:58-77); this is the 100 TB training-data
shape layered on the same engine. Every stage is an existing tested
operator — the pipeline adds ordering and the day-boundary contract,
not new semantics.

100 TB notes: the only corpus-sized state touched is the signature
store SCAN (never re-shingled); every join is an equi-join (span hash,
band+minhash, id); quality/mix/split/redact are narrow; packing windows
partition by (split) so no global sort exists. The whole chain is a
handful of shuffles bounded by delta size, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfn import token_count
from ..operators.curation import (
    hash_split,
    pack_sequences,
    redact,
    repeated_ngram_fraction,
    stratified_hash_sample,
)
from ..operators.dedup import (
    append_signature_store,
    cross_corpus_span_overlap,
    dedup_exact,
    incremental_dedup_keep,
    incremental_neardup_pairs,
)
from ..sources.writers import write_partitioned


def pretraining_data_pipeline(
    spark: SparkSession,
    delta: DataFrame,
    bench: DataFrame | None,
    store_path: str,
    out_path: str,
    *,
    bench_store_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
    mix: dict[str, float],
    min_chars: int = 20,
    max_repetition: float = 0.5,
    gopher_rules: bool = False,
    quality_model=None,
    min_quality_prob: float = 0.5,
    perplexity_keep: tuple[str, ...] | None = None,
    neardup_threshold: float = 0.5,
    contamination_span_tokens: int = 8,
    semantic_bench: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
    token_budget: int | None = None,
    exact_neardup_store: str | None = None,
    max_dup_chunk_pct: int | None = None,
    pack_budget: int = 2048,
    salt: str = "",
    min_compression_ratio: float | None = None,
    per_source_quota: int | None = None,
    remove_dup_spans: bool = False,
    n_shuffle_shards: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Run one day's delta through the full curation chain and write
    packed, split-partitioned shards to ``out_path``. Returns the
    per-(split, source) summary frame (n_docs, n_chunks, total_tokens).

    ``bench_store_path`` (round 6, preferred at daily cadence): probe
    the PERSISTED benchmark span store (``build_span_store``) instead
    of re-hashing ``bench`` every run — the eval suite is fixed per
    release, so its span table is a build-once artifact and the gate
    becomes O(delta). Pass ``bench=None`` with it.

    Day-boundary contract: the signature store at ``store_path`` must
    exist (``build_signature_store`` at corpus bootstrap); kept docs are
    appended to it at the END, so a failed run can re-execute without
    having poisoned the store with docs that were never released
    (the append's id guard additionally makes replays no-ops).

    ``metrics_out``: pass a dict to receive per-gate surviving row
    counts (input/quality/exact_dedup/neardup/decontaminated/mixed —
    the funnel a release report needs). Implemented with
    ``pyspark.sql.Observation`` metrics, which piggyback on the
    chain's ONE materializing action — observability costs zero extra
    jobs, exactly the property a 100 TB run requires."""
    from pyspark.sql import Observation

    observations: list[tuple[str, Observation]] = []

    def gate(df: DataFrame, name: str) -> DataFrame:
        if metrics_out is None:
            return df
        obs = Observation(f"gate_{name}")
        observations.append((name, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    delta = gate(delta, "input")
    # 1. quality: minimum length + repetition ceiling (Gopher/C4-style);
    #    optionally the zlib redundancy floor (round 6 — boilerplate and
    #    generated spam compress far below prose)
    q = delta.filter(
        (F.length(text_col) >= min_chars)
        & (repeated_ngram_fraction(text_col) <= max_repetition)
    )
    if min_compression_ratio is not None:
        from ..operators.enrich import compression_ratio_udf

        q = q.filter(
            compression_ratio_udf()(F.col(text_col)) >= F.lit(min_compression_ratio)
        )
    if gopher_rules:
        # the full published rule pack (round 7): integer-exact rule
        # verdicts, same narrow no-shuffle projection as the filters
        # above — drop the signal columns after gating
        from ..operators.curation import gopher_signals

        sig = gopher_signals(q, text_col)
        q = sig.filter(F.col("gopher_pass")).select(*q.columns)
    if quality_model is not None:
        # trained-classifier tier (round 7): frozen weights, one narrow
        # per-row pass — train_quality_model fits once on the seed set,
        # every daily delta scores against the same model
        from ..operators.quality import score_quality

        scored = score_quality(quality_model, q, text_col=text_col)
        q = scored.filter(F.col("quality_prob") >= F.lit(min_quality_prob)).select(
            *q.columns
        )
    if max_dup_chunk_pct is not None:
        # partial-boilerplate gate (round 7): drop docs where more than
        # max_dup_chunk_pct percent of CDC chunks appear in OTHER delta
        # docs — integer cross-multiplied verdict, one hash agg + join
        from ..operators.curation import duplicate_chunk_fraction

        base = q.select(id_col, text_col).localCheckpoint(eager=True)
        frac = duplicate_chunk_fraction(base, id_col, text_col)
        keep = frac.filter(
            F.lit(100) * F.col("n_dup_chunks")
            <= F.lit(int(max_dup_chunk_pct)) * F.col("n_chunks")
        ).select(id_col)
        q = q.join(keep, on=id_col, how="left_semi")
    if perplexity_keep is not None:
        # CCNet tier gate (round 7): keep only the named perplexity
        # tiers of the delta's bigram-LM score. Boundaries come from a
        # deterministic hash-sample calibration, never a global sort;
        # docs under two tokens carry no LM score and are dropped with
        # the tail (min_chars catches them first in practice)
        from ..operators.search import perplexity_tiers

        # checkpoint: the LM's tf/context/vocab passes and the semi-join
        # back all reuse one materialization — and the branch must not
        # re-embed the upstream gate Observations (an observe node may
        # appear in a plan only once)
        base = q.select(id_col, text_col).localCheckpoint(eager=True)
        tiers = perplexity_tiers(base, id_col=id_col, text_col=text_col, salt=salt)
        keep = tiers.filter(F.col("tier").isin(*perplexity_keep)).select(id_col)
        q = q.join(keep, on=id_col, how="left_semi")
    q = gate(q, "quality")
    # 2. exact dedup inside the delta (deterministic canonical row)
    q = dedup_exact(q, [text_col], [id_col])
    q = gate(q, "exact_dedup")
    # 3. near-dup vs the persisted corpus + within-delta (one banding
    #    pass over the delta; the corpus side is a store scan). With
    #    ``exact_neardup_store`` the tier is the LOSSLESS prefix-join
    #    store instead of MinHash (round 7): every threshold pair is
    #    found, no recall bound — the corpus side is still only the
    #    store's prefix postings
    if exact_neardup_store is not None:
        from ..operators.dedup import incremental_jaccard_pairs

        # eager checkpoint: the pair plan must not re-embed the gate
        # Observations (an observe node may appear in a plan only once)
        pairs = incremental_jaccard_pairs(
            q.select(id_col, text_col).localCheckpoint(eager=True),
            exact_neardup_store, id_col, text_col,
        )
    else:
        pairs = incremental_neardup_pairs(
            q, store_path, id_col, text_col, neardup_threshold
        )
    q = incremental_dedup_keep(q, pairs, id_col)
    q = gate(q, "neardup")
    # 4. contamination: drop any doc sharing a verbatim span with the
    #    benchmark set (train-test leakage gate) — through the persisted
    #    span store when given (eval suite hashed once per release),
    #    else the two-sided scan
    if bench_store_path is not None:
        from ..operators.dedup import probe_span_store

        overlaps = probe_span_store(q, bench_store_path, id_col, text_col)
    else:
        if bench is None:
            raise ValueError("pass bench or bench_store_path")
        overlaps = cross_corpus_span_overlap(
            q, bench, id_col, text_col, span_tokens=contamination_span_tokens
        )
    dirty = overlaps.select(F.col("corpus_id").alias(id_col)).distinct()
    q = q.join(dirty, on=id_col, how="left_anti")
    if semantic_bench is not None:
        # paraphrase-tier contamination (round 7): a reworded eval item
        # shares no 8-gram with its source, but its embedding is still
        # within cosine threshold. semantic_bench carries the benchmark
        # EMBEDDINGS (id_col + "embedding"); the delta embeds here —
        # one narrow pass, eval-suite-sized probe fan-out
        from ..functions.embed import embed_column
        from ..operators.vector import semantic_contamination

        # checkpoint: the count that sizes n_lists, the KMeans fit and
        # the assignment pass all reuse one materialization
        delta_emb = embed_column(q.select(id_col, text_col), text_col).localCheckpoint(
            eager=True
        )
        n_kept = delta_emb.count()
        sem_dirty = semantic_contamination(
            delta_emb,
            semantic_bench,
            id_col,
            "embedding",
            threshold=semantic_threshold,
            n_lists=max(2, min(64, n_kept // 64)),
        ).select(id_col).distinct()
        q = q.join(sem_dirty, on=id_col, how="left_anti")
    q = gate(q, "decontaminated")
    # 4c. optional DSIR selection (round 7): keep ``dsir_keep`` docs
    #     sampled proportional to exp(importance logratio) toward the
    #     target domain — Gumbel-max top-k, draws keyed on (salt, id)
    if dsir_target is not None:
        if dsir_keep is None:
            raise ValueError("dsir_target needs dsir_keep")
        from ..operators.curation import gumbel_topk
        from ..operators.search import dsir_logratio

        scored = dsir_logratio(
            q, dsir_target, id_col=id_col, text_col=text_col
        )
        chosen = gumbel_topk(scored, id_col, "logratio", dsir_keep, salt=salt)
        q = q.join(chosen.select(id_col), on=id_col, how="left_semi")
        q = gate(q, "dsir_selected")
    # 4b. optional within-release duplicate-span removal (round 6,
    #     ExactSubstr at fixed width): rewrites, never drops — O(delta)
    #     because only the delta's spans participate
    if remove_dup_spans:
        from ..operators.dedup import remove_duplicate_spans

        cleaned = remove_duplicate_spans(q, id_col, text_col, contamination_span_tokens)
        q = (
            q.drop(text_col)
            .join(cleaned.select(id_col, F.col("clean_text").alias(text_col)), id_col)
        )
    # 5-7. mixing -> split -> redaction (all narrow); optionally an
    #     exact per-source quota after the fractional mix (round 6)
    if token_budget is not None:
        # budget-driven mix (round 7): solve the water-filling
        # allocation over the SURVIVING delta's per-source token
        # counts, then realize it as per-source keep fractions. The
        # allocation summary is #strata rows — bounded metadata, the
        # same class of driver collect as the IVF centroid load.
        from ..functions.textfn import token_count as _tc
        from ..operators.curation import mixture_allocation

        weights = {k: int(round(v)) for k, v in mix.items()}
        counted = q.select(strata_col, _tc(text_col).alias("__n_tok"))
        summary = mixture_allocation(
            counted, strata_col, "__n_tok", weights, token_budget
        ).collect()
        fractions = {
            r[strata_col]: (1.0 if r["saturated"] else min(1.0, r["alloc"] / r["avail"]))
            for r in summary
            if r["avail"] > 0
        }
        q = stratified_hash_sample(q, id_col, strata_col, fractions, salt=salt)
    else:
        q = stratified_hash_sample(q, id_col, strata_col, mix, salt=salt)
    if per_source_quota is not None:
        from ..operators.curation import group_quota_sample

        q = group_quota_sample(q, [strata_col], id_col, per_source_quota, salt=salt)
    q = gate(q, "mixed")
    q = hash_split(q, id_col)
    q = q.withColumn(text_col, redact(text_col))
    # the kept set feeds packing, the write, the summary AND the store
    # append — checkpoint once instead of recomputing the chain 4x
    q = q.withColumn("n_tok", token_count(text_col)).localCheckpoint(eager=True)
    if metrics_out is not None:
        # the eager checkpoint above is the chain's materializing
        # action; every gate observation is now populated
        for name, obs in observations:
            metrics_out[name] = obs.get["rows"]
    # 8. packing per split (window partitions by split — no global sort)
    packed = pack_sequences(q, id_col, "n_tok", pack_budget, partition_cols=["split"])
    # 9. split-partitioned shard write + release manifest (_-prefixed
    #    so parquet discovery ignores it; written AFTER the data commit).
    #    With ``n_shuffle_shards`` the packs additionally get a
    #    reproducible pseudo-random training order (shuffle_packs: pack
    #    granularity, so packed sequences stay contiguous) and land as
    #    (split, shard) dirs whose files are sorted by position — ready
    #    to stream into training in reading order.
    if n_shuffle_shards is not None:
        from ..operators.curation import shuffle_packs

        packed = shuffle_packs(
            packed, ["split", "chunk_id"], n_shuffle_shards, salt=salt,
            partition_cols=["split"],
        )
        ordered = packed.repartition("split", "shard").sortWithinPartitions("position")
        # static overwrite: a rerun with a different n_shuffle_shards
        # must not leave stale shard dirs for the manifest to certify
        write_partitioned(ordered, out_path, ["split", "shard"], dynamic=False)
    else:
        write_partitioned(packed, out_path, ["split"], dynamic=False)
    from ..sources.writers import shard_manifest

    shard_manifest(spark, out_path).coalesce(1).write.mode("overwrite").parquet(
        out_path.rstrip("/") + "/_MANIFEST"
    )
    # 10. extend the corpus store with what was RELEASED
    append_signature_store(q, id_col, text_col, store_path)
    if exact_neardup_store is not None:
        from ..operators.dedup import append_jaccard_store

        append_jaccard_store(q, id_col, text_col, exact_neardup_store)
    return (
        packed.groupBy("split", strata_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("chunk_id").alias("n_chunks"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
        .orderBy("split", strata_col)
    )
