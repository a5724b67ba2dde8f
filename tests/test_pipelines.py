"""Entry points A and B run hermetically end-to-end (SURVEY §3.1-§3.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlb_data_pipeline_spark.pipelines import daily_content_pipeline, rag_answer, retrieve  # noqa: E501
from mlb_data_pipeline_spark.sources import ARTICLES
from mlb_data_pipeline_spark.sources.fixtures import articles_rows


def _articles(spark, n=80):
    return spark.createDataFrame(articles_rows(n), ARTICLES)


def test_daily_pipeline_end_to_end(spark, tmp_path):
    lake = str(tmp_path / "lake")
    store = str(tmp_path / "store")
    arts = _articles(spark)
    n_valid = arts.filter(F.col("body").isNotNull() & (F.length("body") > 0)).count()

    daily_content_pipeline(spark, arts, lake, store)

    lake_df = spark.read.parquet(lake)
    assert lake_df.count() == n_valid
    assert "dt" in lake_df.columns  # date-partitioned layout
    assert lake_df.filter(F.col("title").isNull()).count() == 0  # Untitled default
    store_df = spark.read.parquet(store)
    assert store_df.count() == n_valid
    assert dict(store_df.dtypes)["embedding"] == "array<float>"

    # rerun = idempotent upsert (reference's retry-safe daily run)
    daily_content_pipeline(spark, arts, lake, store)
    assert spark.read.parquet(store).count() == n_valid
    assert spark.read.parquet(lake).count() == n_valid


def test_retrieval_and_rag_answer(spark, tmp_path):
    lake = str(tmp_path / "lake")
    store_path = str(tmp_path / "store")
    daily_content_pipeline(spark, _articles(spark), lake, store_path)
    store = spark.read.parquet(store_path)

    hits = retrieve(spark, store, "walk-off homer in extra innings", k=3).collect()
    assert len(hits) == 3
    assert [h.rank for h in hits] == [1, 2, 3]
    assert hits[0].sim >= hits[1].sim >= hits[2].sim

    ans = rag_answer(spark, store, "Who hit the walk-off homer?").collect()
    assert len(ans) == 1
    assert ans[0].n_docs == 3
    assert ans[0].completion.startswith("[mock:")
    # deterministic: same question -> same completion
    ans2 = rag_answer(spark, store, "Who hit the walk-off homer?").collect()
    assert ans2[0].completion == ans[0].completion


def test_agent_pipeline_entry_point_c(spark):
    from mlb_data_pipeline_spark.pipelines.agent import (
        SPECIALIZED_AGENTS,
        agent_pipeline,
        create_plan,
        execute_plan,
    )

    plan = create_plan(spark, "trade deadline", "relief pitchers")
    p = plan.first()
    assert p.topic == "trade deadline" and p.focus == "relief pitchers"
    assert list(p.agents) == list(SPECIALIZED_AGENTS)
    assert p.config["model"] == "mock"

    sections = execute_plan(spark, plan).collect()
    assert {s.agent for s in sections} == set(SPECIALIZED_AGENTS)  # independent dispatch
    assert all(s.section_text.startswith("[mock:") for s in sections)

    out = agent_pipeline(spark, "trade deadline", "relief pitchers").collect()
    assert len(out) == 1 and out[0].n_sections == 3
    # deterministic end to end
    again = agent_pipeline(spark, "trade deadline", "relief pitchers").collect()
    assert out[0].script == again[0].script


def test_pretraining_data_pipeline_end_to_end(spark, tmp_path):
    """Entry point C: every gate fires on its planted case, survivors
    come out packed and split-partitioned, and the store extends so a
    second day sees day one."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(20)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "store")
    build_signature_store(corpus, "doc_id", "text", store)

    probe = " ".join(f"p{j}" for j in range(8))
    bench = spark.createDataFrame(
        [(900, probe + " held out")], "doc_id BIGINT, text STRING"
    )
    good = " ".join(f"g{{0}}x{j}" for j in range(30))
    delta_rows = [
        (100, "too short", "web"),                                   # quality: length
        (101, " ".join(["loop the"] * 30), "web"),                   # quality: repetition
        (102, " ".join(f"c5w{j}" for j in range(11)) + " tail", "web"),  # near-dups corpus doc 5
        (103, " ".join(f"a{j}" for j in range(30)) + " " + probe, "web"),  # contaminated
        (104, good.format(4), "web"),                                 # survivor
        (105, good.format(5), "web"),
        (106, good.format(6), "unlisted_source"),                     # mixing: dropped stratum
        (107, good.format(7) + " mail me x@y.org", "web"),            # survivor, needs redaction
    ]
    delta = spark.createDataFrame(delta_rows, "doc_id BIGINT, text STRING, source STRING")

    out = str(tmp_path / "shards")
    summary = pretraining_data_pipeline(
        spark, delta, bench, store, out,
        mix={"web": 1.0}, pack_budget=64,
    )
    rows = summary.collect()
    assert all(r.source == "web" for r in rows)
    written = spark.read.parquet(out)
    kept = {r.doc_id for r in written.collect()}
    assert kept == {104, 105, 107}  # every gate dropped its planted doc
    assert written.filter(F.col("text").contains("x@y.org")).count() == 0
    assert written.filter(F.col("text").contains("<EMAIL>")).count() == 1
    assert {r.split for r in written.collect()} <= {"train", "val", "test"}
    assert written.select("chunk_id").distinct().count() >= 1
    # the store now contains the released docs: a day-2 near-dup of 104
    # is caught against the STORE, not the original corpus
    from mlb_data_pipeline_spark.operators.dedup import incremental_neardup_pairs

    day2 = spark.createDataFrame(
        [(200, good.format(4).replace("x29", "x99"), "web")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    got = {(r.id_a, r.id_b) for r in
           incremental_neardup_pairs(day2, store, "doc_id", "text", 0.5).collect()}
    assert (104, 200) in got


def test_hybrid_retrieve_consensus_wins(spark, tmp_path):
    from mlb_data_pipeline_spark.pipelines.rag import hybrid_retrieve

    lake = str(tmp_path / "lake")
    store_path = str(tmp_path / "store")
    daily_content_pipeline(spark, _articles(spark), lake, store_path)
    store = spark.read.parquet(store_path)

    hits = hybrid_retrieve(spark, store, "walk-off homer in extra innings", k=3).collect()
    assert len(hits) == 3
    # both channel ranks surfaced; fused order is score-desc
    assert hits[0]["rrf_score"] >= hits[1]["rrf_score"] >= hits[2]["rrf_score"]
    assert {"rank_1", "rank_2", "rrf_score", "text"} <= set(hits[0].asDict())
    # a doc present in BOTH channels must outrank a same-rank
    # single-channel doc: verify the invariant on the fused frame
    both = [h for h in hits if h["rank_1"] is not None and h["rank_2"] is not None]
    if both:
        assert both[0]["rrf_score"] == hits[0]["rrf_score"]
    # deterministic
    again = hybrid_retrieve(spark, store, "walk-off homer in extra innings", k=3).collect()
    assert [h["url"] for h in again] == [h["url"] for h in hits]


def test_build_chunk_store_and_retrieve(spark, tmp_path):
    from mlb_data_pipeline_spark.pipelines.rag import build_chunk_store

    docs = spark.createDataFrame(
        [(10, "alpha beta " * 60), (11, "tiny doc")], "url long, text string"
    )
    store = build_chunk_store(docs, size=100, overlap=20)
    rows = store.collect()
    # doc 10 is 660 chars -> ceil chunking at step 80; doc 11 -> 1 chunk
    n10 = [r for r in rows if r["url"] == 10]
    assert len(n10) == (660 - 1) // 80 + 1
    assert [r["chunk_key"] for r in rows if r["url"] == 11] == ["11#0"]
    # every chunk embedded with the deterministic fake encoder
    assert all(len(r["embedding"]) == 64 for r in rows)
    # chunk-granular retrieval: hits are chunk keys, re-anchorable
    from mlb_data_pipeline_spark.functions.embed import fake_encode
    from mlb_data_pipeline_spark.operators.vector import cosine_topk

    top = cosine_topk(store, fake_encode("alpha beta"), "chunk_key", "embedding", 2).collect()
    assert len(top) == 2 and all("#" in t["chunk_key"] for t in top)


def test_pretraining_pipeline_with_persisted_bench_store(spark, tmp_path):
    """The daily-cadence contamination gate through the persisted span
    store (bench_store_path): same drops as the two-sided scan, with
    the eval suite hashed once at build time."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.dedup import (
        build_signature_store,
        build_span_store,
    )
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(20)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "store")
    build_signature_store(corpus, "doc_id", "text", store)
    probe = " ".join(f"p{j}" for j in range(8))
    bench = spark.createDataFrame(
        [(900, probe + " held out")], "doc_id BIGINT, text STRING"
    )
    bench_store = str(tmp_path / "benchstore")
    build_span_store(bench, "doc_id", "text", bench_store, span_tokens=8)

    good = " ".join(f"g{{0}}x{j}" for j in range(30))
    delta = spark.createDataFrame(
        [
            (103, " ".join(f"a{j}" for j in range(30)) + " " + probe, "web"),  # contaminated
            (104, good.format(4), "web"),                                       # survivor
        ],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out = str(tmp_path / "shards")
    pretraining_data_pipeline(
        spark, delta, None, store, out,
        bench_store_path=bench_store, mix={"web": 1.0}, pack_budget=64,
    )
    written = spark.read.parquet(out)
    assert {r.doc_id for r in written.collect()} == {104}


def test_pretraining_pipeline_round6_knobs(spark, tmp_path):
    """The optional round-6 stages: zlib redundancy floor drops the
    compressible spam doc, duplicate-span removal rewrites (not drops)
    the doc quoting another, and the per-source quota caps survivors
    exactly."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(5)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "store")
    build_signature_store(corpus, "doc_id", "text", store)
    bench = spark.createDataFrame(
        [(900, " ".join(f"held{j}" for j in range(10)))], "doc_id BIGINT, text STRING"
    )

    para = " ".join(f"q{j}" for j in range(8))
    good = " ".join("word%dx%d" % (j, j * 7 % 13) for j in range(30))
    delta_rows = [
        # compressible spam: passes the 3-gram repetition ceiling
        # (cycle period 40 -> rep frac ~0.8 < 0.95) but zlib-crushes
        # to ratio ~0.12 — only the zlib floor catches it
        (200, " ".join(f"w{i % 40}" for i in range(200)), "web"),
        # first occurrence of the quoted paragraph
        (201, "original context " + para + " more original words here", "web"),
        # quotes 201's paragraph -> span-removed, doc survives rewritten
        (202, "derivative intro " + para + " derivative outro words", "web"),
        # plain survivors to exercise the quota
        (203, good + " tail203", "web"),
        (204, good.replace("word", "other") + " tail204", "web"),
        (205, good.replace("word", "third") + " tail205", "web"),
    ]
    delta = spark.createDataFrame(delta_rows, "doc_id BIGINT, text STRING, source STRING")
    out = str(tmp_path / "shards")
    pretraining_data_pipeline(
        spark, delta, bench, store, out,
        mix={"web": 1.0}, pack_budget=64, max_repetition=0.95,
        min_compression_ratio=0.2, per_source_quota=4, remove_dup_spans=True,
    )
    written = spark.read.parquet(out)
    ids = {r.doc_id for r in written.collect()}
    assert 200 not in ids  # zlib floor fired
    assert len(ids) == 4  # quota: exactly 4 of the 5 remaining survivors
    if 202 in ids:  # quota is hash-ordered; check the rewrite when kept
        t202 = written.filter(F.col("doc_id") == 202).first().text
        assert para not in t202 and "derivative intro" in t202
    if 201 in ids:  # first occurrence keeps its copy
        assert para in written.filter(F.col("doc_id") == 201).first().text


def test_pretraining_pipeline_writes_manifest(spark, tmp_path):
    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(5)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "store")
    build_signature_store(corpus, "doc_id", "text", store)
    bench = spark.createDataFrame([(900, "held out words")], "doc_id BIGINT, text STRING")
    delta = spark.createDataFrame(
        [(100 + i, " ".join(f"d{i}x{j}" for j in range(25)), "web") for i in range(6)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out = str(tmp_path / "shards")
    pretraining_data_pipeline(spark, delta, bench, store, out, mix={"web": 1.0}, pack_budget=64)
    data_rows = spark.read.parquet(out).count()
    manifest = spark.read.parquet(out + "/_MANIFEST").collect()
    assert sum(r.n_rows for r in manifest) == data_rows > 0


def test_pretraining_pipeline_shuffled_shards(spark, tmp_path):
    """n_shuffle_shards: the release lands as (split, shard) dirs, rows
    of one pack stay contiguous and share a (shard, position), files
    are sorted by position, and the layout is reproducible."""
    import os

    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    seedc = spark.createDataFrame(
        [(0, " ".join(f"s0w{j}" for j in range(12)), "web")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    bench = spark.createDataFrame(
        [(900, " ".join(f"held{j}" for j in range(10)))], "doc_id BIGINT, text STRING"
    )
    delta = spark.createDataFrame(
        [
            (100 + i, " ".join("d%dw%dx%d" % (i, j, (i * j) % 11) for j in range(20)), "web")
            for i in range(40)
        ],
        "doc_id BIGINT, text STRING, source STRING",
    )

    def run(tag):
        store = str(tmp_path / f"store_{tag}")
        build_signature_store(seedc, "doc_id", "text", store)
        out = str(tmp_path / f"shards_{tag}")
        pretraining_data_pipeline(
            spark, delta, bench, store, out,
            mix={"web": 1.0}, pack_budget=48, n_shuffle_shards=3,
        )
        return out

    out = run("a")
    # (split, shard) directory layout exists
    train_dir = os.path.join(out, "split=train")
    assert any(d.startswith("shard=") for d in os.listdir(train_dir))
    written = spark.read.parquet(out)
    rows = written.select("split", "shard", "position", "chunk_id", "doc_id").collect()
    # all rows of one pack share one (shard, position)
    packs = {}
    for r in rows:
        packs.setdefault((r.split, r.chunk_id), set()).add((r.shard, r.position))
    assert all(len(v) == 1 for v in packs.values())
    # positions are contiguous pack ranks per shard
    per_shard = {}
    for (split, _), locs in packs.items():
        shard, pos = next(iter(locs))
        per_shard.setdefault((split, shard), []).append(pos)
    for key, poss in per_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), key
    # reproducible end-to-end
    out2 = run("b")
    again = spark.read.parquet(out2).select("shard", "position", "doc_id").collect()
    assert sorted(map(tuple, again)) == sorted(
        (r.shard, r.position, r.doc_id) for r in rows
    )


def test_pretraining_pipeline_gopher_gate(spark, tmp_path):
    """gopher_rules=True: the full rule pack gates inside the chain —
    a stopword-free doc dies at the gopher stage while a natural-text
    doc of the same length survives every other gate untouched."""
    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(5)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "store")
    build_signature_store(corpus, "doc_id", "text", store)
    # >= 50 words, stopword-rich, NON-repetitive (the chain's own
    # repetition ceiling must not be what drops anything here)
    natural = " ".join(
        f"the row{j} is good and that table{j} works with value{j}" for j in range(8)
    )
    synthetic = " ".join(f"tok{j}" for j in range(90))  # 90 words, zero stopwords
    delta = spark.createDataFrame(
        [(1, natural, "web"), (2, synthetic, "web")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    bench = spark.createDataFrame([(900, "held out probe words")], "doc_id BIGINT, text STRING")
    out = str(tmp_path / "shards")
    pretraining_data_pipeline(
        spark, delta, bench, store, out,
        mix={"web": 1.0}, pack_budget=512, gopher_rules=True,
    )
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1}
    # and with the gate off, both survive (nothing else drops doc 2)
    out2 = str(tmp_path / "shards2")
    pretraining_data_pipeline(
        spark, delta, bench, store, out2,
        mix={"web": 1.0}, pack_budget=512, gopher_rules=False,
    )
    assert {r.doc_id for r in spark.read.parquet(out2).collect()} == {1, 2}


def test_pretraining_pipeline_gate_metrics(spark, tmp_path):
    """metrics_out reports the per-gate funnel off the chain's single
    materializing action — each planted victim shows up as a drop at
    exactly its gate."""
    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(20)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "store")
    build_signature_store(corpus, "doc_id", "text", store)
    probe = " ".join(f"p{j}" for j in range(8))
    bench = spark.createDataFrame([(900, probe + " held out")], "doc_id BIGINT, text STRING")
    good = " ".join(f"g{{0}}x{j}" for j in range(30))
    delta = spark.createDataFrame(
        [
            (100, "too short", "web"),
            (101, " ".join(["loop the"] * 30), "web"),
            (102, " ".join(f"c5w{j}" for j in range(11)) + " tail", "web"),
            (103, " ".join(f"a{j}" for j in range(30)) + " " + probe, "web"),
            (104, good.format(4), "web"),
            (105, good.format(5), "web"),
            (106, good.format(6), "unlisted_source"),
            (107, good.format(7), "web"),
        ],
        "doc_id BIGINT, text STRING, source STRING",
    )
    metrics: dict = {}
    pretraining_data_pipeline(
        spark, delta, bench, store, str(tmp_path / "shards"),
        mix={"web": 1.0}, pack_budget=64, metrics_out=metrics,
    )
    assert metrics["input"] == 8
    assert metrics["quality"] == 6          # 100 (short) + 101 (repetition)
    assert metrics["exact_dedup"] == 6
    assert metrics["neardup"] == 5          # 102 near-dups corpus doc
    assert metrics["decontaminated"] == 4   # 103 contaminated
    assert metrics["mixed"] == 3            # 106 unlisted stratum


def test_pretraining_pipeline_round7_gates(spark, tmp_path):
    """Round-7 gates: the trained quality model drops fluent-looking
    gibberish the heuristics pass, the semantic gate drops a benchmark
    item too short for the span scan, and DSIR selection keeps the
    target-domain docs."""
    import random

    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.functions.embed import embed_column
    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.operators.quality import train_quality_model
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    random.seed(5)
    # two FLUENT vocabularies (both label-1 for the model) so the model
    # axis (fluent vs junk) is independent of the DSIR axis (domain)
    general_vocab = "the quick brown fox jumps over a lazy dog near the still river bank".split()
    domain_vocab = "stock market bond yield trade price index fund share dividend".split()
    junk_vocab = ["j%04x" % random.randrange(1 << 16) for _ in range(50)]
    seed = [(i, " ".join(random.choices(general_vocab, k=25)), 1) for i in range(80)]
    seed += [(i + 80, " ".join(random.choices(domain_vocab, k=25)), 1) for i in range(80)]
    seed += [(i + 160, " ".join(random.choices(junk_vocab, k=25)), 0) for i in range(160)]
    model = train_quality_model(
        spark.createDataFrame(seed, "doc_id BIGINT, text STRING, label INT")
    )

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(10)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "store7")
    build_signature_store(corpus, "doc_id", "text", store)

    span_probe = " ".join(f"p{j}" for j in range(8))
    bench = spark.createDataFrame(
        [(900, span_probe + " held out")], "doc_id BIGINT, text STRING"
    )
    short_eval = "stock market bond yield trade price"  # 6 tokens < span width 8
    sem_bench = embed_column(
        spark.createDataFrame([(901, short_eval)], "doc_id BIGINT, text STRING"),
        "text",
    ).select("doc_id", "embedding")
    target = spark.createDataFrame(
        [(950, " ".join(random.choices(domain_vocab, k=40)))], "doc_id BIGINT, text STRING"
    )

    def domain_doc(i):
        return " ".join(random.choices(domain_vocab, k=20)) + f" tail{i}"

    delta_rows = [
        (200, " ".join(random.choices(junk_vocab, k=20)), "web"),       # model gate
        (201, short_eval, "web"),                                        # semantic gate
        (202, " ".join(random.choices(general_vocab, k=20)), "web"),     # dsir: fluent but off-domain
        (203, domain_doc(3), "web"),
        (204, domain_doc(4), "web"),
        (205, domain_doc(5), "web"),
    ]
    delta = spark.createDataFrame(delta_rows, "doc_id BIGINT, text STRING, source STRING")

    metrics = {}
    out = str(tmp_path / "shards7")
    pretraining_data_pipeline(
        spark, delta, bench, store, out,
        mix={"web": 1.0}, pack_budget=64, min_chars=10,
        quality_model=model, min_quality_prob=0.2,
        semantic_bench=sem_bench, semantic_threshold=0.95,
        dsir_target=target, dsir_keep=3,
        metrics_out=metrics,
    )
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {203, 204, 205}
    assert metrics["input"] == 6
    assert metrics["quality"] == 5          # 200 dropped by the model
    assert metrics["decontaminated"] == 4   # 201 dropped semantically
    assert metrics["dsir_selected"] == 3    # 202 loses the importance draw


def test_pretraining_pipeline_perplexity_gate(spark, tmp_path):
    """The CCNet tier gate drops scrambled-order junk: the junk docs
    score in the tail of the delta's bigram LM and never reach the
    shards, while fluent docs survive."""
    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(10)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "storep")
    build_signature_store(corpus, "doc_id", "text", store)
    bench = spark.createDataFrame(
        [(900, " ".join(f"p{j}" for j in range(8)))], "doc_id BIGINT, text STRING"
    )

    phrase = "the quick brown fox jumps over the lazy dog again and again"
    delta_rows = [(200 + i, phrase + f" tail{i}", "web") for i in range(30)]
    delta_rows += [
        (400 + i, "zz%d qq%d vv%d kk%d ww%d nn%d" % (i, i + 1, i + 2, i + 3, i + 4, i + 5), "web")
        for i in range(3)
    ]
    delta = spark.createDataFrame(delta_rows, "doc_id BIGINT, text STRING, source STRING")

    metrics = {}
    out = str(tmp_path / "shardsp")
    pretraining_data_pipeline(
        spark, delta, bench, store, out,
        mix={"web": 1.0}, pack_budget=64, min_chars=10,
        perplexity_keep=("head", "middle"), salt="pgate",
        metrics_out=metrics,
    )
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept  # fluent docs survive
    assert not kept & {400, 401, 402}  # scrambled junk gated out
    assert metrics["input"] == 33
    assert metrics["quality"] < 33  # the tier gate actually dropped rows


def test_pretraining_pipeline_token_budget_mix(spark, tmp_path):
    """Budget-driven mixing: with token_budget set, mix weights act as
    water-filling PARTS — a source whose capacity falls short takes
    everything it has and the slack flows to the others; the realized
    shard token counts respect both the caps and the budget."""
    from mlb_data_pipeline_spark.functions.textfn import token_count
    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(5)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "storeb")
    build_signature_store(corpus, "doc_id", "text", store)
    bench = spark.createDataFrame(
        [(900, " ".join(f"p{j}" for j in range(8)))], "doc_id BIGINT, text STRING"
    )
    # web: plenty of tokens; code: tiny capacity with a huge weight ->
    # saturates, its slack flows to web
    rows = [(200 + i, " ".join(f"w{i}t{j}" for j in range(20)), "web") for i in range(40)]
    rows += [(400 + i, " ".join(f"k{i}t{j}" for j in range(20)), "code") for i in range(2)]
    delta = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")

    out = str(tmp_path / "shardsb")
    pretraining_data_pipeline(
        spark, delta, bench, store, out,
        mix={"web": 1, "code": 9}, token_budget=300,
        pack_budget=64, min_chars=10, salt="b",
    )
    kept = spark.read.parquet(out).select("doc_id", "source", "text").distinct()
    per = {r.source: r.tok for r in kept.groupBy("source").agg(
        F.sum(token_count("text")).alias("tok")).collect()}
    # code saturates: both its docs (40 tokens) survive in full
    assert per.get("code", 0) == 40
    # web gets roughly the remaining 260 tokens (hash sampling is
    # Bernoulli, so allow slack) and never exceeds its capacity
    assert 0 < per["web"] <= 800
    assert per["web"] + per["code"] <= 300 + 200  # budget + sampling slack


def test_retrieve_diverse_spends_slots_on_distinct_evidence(spark):
    """A store holding three near-identical chunks of one page plus one
    distinct page: plain top-3 retrieval wastes two slots on clones;
    retrieve_diverse keeps the best clone and the distinct page."""
    from mlb_data_pipeline_spark.functions.embed import embed_column
    from mlb_data_pipeline_spark.pipelines.rag import retrieve, retrieve_diverse

    rows = [
        ("a#0", "alpha beta gamma delta"),
        ("a#1", "alpha beta gamma delta"),      # identical chunk
        ("a#2", "alpha beta gamma delta"),      # identical chunk
        ("b#0", "totally different topic here"),
    ]
    store = embed_column(
        spark.createDataFrame(rows, "url STRING, text STRING"), "text"
    )
    q = "alpha beta gamma delta"
    plain = [r.url for r in retrieve(spark, store, q, 3).orderBy("rank").collect()]
    assert plain == ["a#0", "a#1", "a#2"]  # the failure mode
    diverse = [r.url for r in retrieve_diverse(spark, store, q, 2, lam=0.5).orderBy("pos").collect()]
    assert diverse[0] == "a#0" and diverse[1] == "b#0"


def test_pretraining_pipeline_exact_neardup_tier(spark, tmp_path):
    """With exact_neardup_store the chain's near-dup gate is the
    lossless prefix-join tier: a delta doc whose token set matches a
    corpus doc at the store threshold is dropped, the rest pass, kept
    docs are appended so day 2 sees them."""
    from mlb_data_pipeline_spark.operators.dedup import (
        build_jaccard_store,
        build_signature_store,
    )
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(10)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    sig_store = str(tmp_path / "sig")
    build_signature_store(corpus, "doc_id", "text", sig_store)
    jstore = str(tmp_path / "jstore")
    build_jaccard_store(corpus, "doc_id", "text", jstore, 80)
    bench = spark.createDataFrame(
        [(900, " ".join(f"p{j}" for j in range(8)))], "doc_id BIGINT, text STRING"
    )
    delta_rows = [
        # same token SET as corpus doc 3 (reordered + one dup token):
        # jaccard 1.0 — the exact tier must drop it
        (200, " ".join(reversed([f"c3w{j}" for j in range(12)])) + " c3w0", "web"),
        (201, " ".join(f"n1x{j}" for j in range(12)), "web"),
        (202, " ".join(f"n2x{j}" for j in range(12)), "web"),
    ]
    delta = spark.createDataFrame(delta_rows, "doc_id BIGINT, text STRING, source STRING")
    out = str(tmp_path / "shards")
    metrics = {}
    pretraining_data_pipeline(
        spark, delta, bench, sig_store, out,
        mix={"web": 1.0}, pack_budget=64, min_chars=10,
        exact_neardup_store=jstore, metrics_out=metrics,
    )
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {201, 202}
    assert metrics["neardup"] == 2
    # day-2: the appended kept docs are corpus now
    day2 = spark.createDataFrame(
        [(300, " ".join(f"n1x{j}" for j in range(12)), "web")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out2 = str(tmp_path / "shards2")
    pretraining_data_pipeline(
        spark, day2, bench, sig_store, out2,
        mix={"web": 1.0}, pack_budget=64, min_chars=10,
        exact_neardup_store=jstore,
    )
    import pytest

    with pytest.raises(Exception):
        spark.read.parquet(out2).collect()  # everything deduped: empty release


def test_build_chunk_store_cdc_rows_stable_under_edit(spark):
    """CDC-mode chunk store: re-ingesting an edited page produces
    mostly identical chunk rows (same text, re-embeddable from cache);
    the sliding-window store misaligns every window after the edit."""
    import pytest

    from mlb_data_pipeline_spark.pipelines.rag import build_chunk_store

    import random
    random.seed(8)
    base = "".join(random.choice("abcdef gh") for _ in range(600))
    v1 = spark.createDataFrame([("u", base)], "url STRING, text STRING")
    v2 = spark.createDataFrame([("u", "EDIT " + base)], "url STRING, text STRING")
    c1 = {r.text for r in build_chunk_store(v1, chunking="cdc", size=40).collect()}
    c2 = {r.text for r in build_chunk_store(v2, chunking="cdc", size=40).collect()}
    shared = len(c1 & c2)
    assert shared >= len(c1) - 2  # only the chunk(s) at the edit differ
    s1 = {r.text for r in build_chunk_store(v1, size=40, overlap=8).collect()}
    s2 = {r.text for r in build_chunk_store(v2, size=40, overlap=8).collect()}
    assert len(s1 & s2) < shared  # fixed stride loses alignment
    with pytest.raises(ValueError):
        build_chunk_store(v1, chunking="nope")


def test_pretraining_pipeline_dup_chunk_gate(spark, tmp_path):
    """The boilerplate gate drops a delta doc that is mostly other
    docs' chunks while unique docs pass."""
    import random

    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    random.seed(12)

    def prose(n):
        return "".join(random.choice("abcdef gh") for _ in range(n))

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(5)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "sig")
    build_signature_store(corpus, "doc_id", "text", store)
    bench = spark.createDataFrame(
        [(900, " ".join(f"p{j}" for j in range(8)))], "doc_id BIGINT, text STRING"
    )
    shared = prose(400)
    delta = spark.createDataFrame(
        [
            (200, prose(400), "web"),              # unique: passes
            (201, shared + prose(400), "web"),     # half shared: passes at 80
            (202, shared + prose(30), "web"),      # mostly 201's chunks: gated
        ],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out = str(tmp_path / "sh")
    metrics = {}
    pretraining_data_pipeline(
        spark, delta, bench, store, out,
        mix={"web": 1.0}, pack_budget=64, min_chars=10,
        max_dup_chunk_pct=80, metrics_out=metrics,
    )
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 200 in kept and 201 in kept and 202 not in kept
    assert metrics["quality"] == 2


def test_pretraining_release_registers_and_prunes(spark, tmp_path):
    """Round-9 integration: a consumer registers the released shards
    (registration adopts them into the snapshot log, each file's stats
    in the adoption record), then scans and counts over a numeric
    column exactly, reading only the files those stats keep."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.catalog import lake_count, lake_scan, register_lake_table
    from mlb_data_pipeline_spark.operators.dedup import build_signature_store
    from mlb_data_pipeline_spark.operators.snapshots import snapshot_info
    from mlb_data_pipeline_spark.pipelines import pretraining_data_pipeline

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12)), "web") for i in range(5)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    store = str(tmp_path / "store")
    build_signature_store(corpus, "doc_id", "text", store)
    bench = spark.createDataFrame([(900, "held out words")], "doc_id BIGINT, text STRING")
    delta = spark.createDataFrame(
        [(100 + i, " ".join(f"d{i}x{j}" for j in range(10 + 3 * i)), "web") for i in range(8)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out = str(tmp_path / "shards")
    pretraining_data_pipeline(
        spark, delta, bench, store, out, mix={"web": 1.0}, pack_budget=64,
    )
    release = spark.read.parquet(out)
    total = release.count()
    assert total > 0
    register_lake_table(spark, "release", out)
    # pruning never loses rows, whole-range metadata count is exact
    assert lake_count(spark, "release", "n_tok BETWEEN 0 AND 1000000000") == total
    pred = F.col("n_tok").between(20, 25)
    got = lake_scan(spark, "release", "n_tok BETWEEN 20 AND 25").select(*release.columns)
    assert sorted(got.collect()) == sorted(release.filter(pred).collect())
    # the read set is exactly the files whose recorded n_tok range meets [20, 25]
    stats = snapshot_info(out)["file_stats"]
    kept = [n for n, st in stats.items() if st["min"]["n_tok"] <= 25 and st["max"]["n_tok"] >= 20]
    assert len(got.inputFiles()) == len(kept) < len(stats)
