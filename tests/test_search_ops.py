"""Behavioral tests for the keyword / hybrid retrieval operators
(operators/search.py): BM25 ranking semantics and RRF fusion algebra.
Engine parity for q73/q74 is covered by test_oracle_parity."""

from __future__ import annotations

import math
import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.operators.search import (
    bm25_scores,
    bm25_topk,
    rrf_fuse,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_ranks_matching_doc_first(spark):
    docs = _docs(
        spark,
        [
            (1, "spark shuffle join spark shuffle join"),
            (2, "spark only once here with filler words words words"),
            (3, "nothing relevant in this document at all"),
            (4, "shuffle appears here once"),
        ],
    )
    out = bm25_topk(docs, [(0, "spark"), (0, "shuffle"), (0, "join")], k=10)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 3 matches no term: absent
    assert 3 not in rows
    # doc 1 matches all three terms repeatedly: rank 1
    assert rows[1]["rank"] == 1
    assert rows[1]["n_terms"] == 3
    # every matching doc scored positive
    assert all(r["score"] > 0 for r in rows.values())
    # doc 1 outscores the single-term docs
    assert rows[1]["score"] > rows[2]["score"]
    assert rows[1]["score"] > rows[4]["score"]


def test_bm25_idf_favors_rare_terms(spark):
    # 'rare' appears in 1 of 10 docs, 'common' in 9 of 10; same tf and
    # identical doc lengths -> the rare-term doc must outscore.
    rows = [(i, "common filler filler") for i in range(9)]
    rows.append((9, "rare filler filler"))
    docs = _docs(spark, rows)
    out = bm25_scores(docs, [(0, "rare"), (1, "common")])
    by_q = {(r["query_id"], r["doc_id"]): r["score"] for r in out.collect()}
    assert by_q[(0, 9)] > by_q[(1, 0)]


def test_bm25_length_normalization(spark):
    # same tf for the term, but doc 2 is much longer -> lower score
    docs = _docs(
        spark,
        [
            (1, "target word word"),
            (2, "target " + " ".join(["pad"] * 40)),
        ],
    )
    out = bm25_scores(docs, [(0, "target")])
    scores = {r["doc_id"]: r["score"] for r in out.collect()}
    assert scores[1] > scores[2]


def test_bm25_tokenization_case_and_punct(spark):
    docs = _docs(spark, [(1, "Spark, SHUFFLE! (join)"), (2, "sparkling water")])
    out = bm25_scores(docs, [(0, "spark"), (0, "shuffle"), (0, "join")])
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_terms"] == 3  # case-folded, punctuation-split
    assert 2 not in rows  # 'sparkling' is not a match for 'spark'


def test_bm25_topk_tie_break_by_id(spark):
    docs = _docs(spark, [(5, "alpha beta"), (3, "alpha beta"), (9, "alpha beta")])
    out = bm25_topk(docs, [(0, "alpha")], k=3).collect()
    # identical docs -> identical scores; rank order must be doc_id asc
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] == [3, 5, 9]


def test_rrf_fuse_known_scores(spark):
    a = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank int")
    out = {r["doc_id"]: r for r in rrf_fuse([a, b], ["doc_id"]).collect()}
    assert out[10]["rank_1"] == 1 and out[10]["rank_2"] is None
    assert math.isclose(out[10]["rrf_score"], 1.0 / 61.0)
    assert math.isclose(out[20]["rrf_score"], 1.0 / 62.0 + 1.0 / 61.0)
    assert math.isclose(out[30]["rrf_score"], 1.0 / 62.0)
    # consensus item (20) beats either single-channel item
    assert out[20]["rrf_score"] > out[10]["rrf_score"] > out[30]["rrf_score"]


def test_rrf_fuse_three_channels_and_validation(spark):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, rank int")
    out = rrf_fuse(
        [mk([(1, 1)]), mk([(1, 2)]), mk([(1, 3), (2, 1)])], ["doc_id"]
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert math.isclose(
        rows[1]["rrf_score"], 1.0 / 61.0 + 1.0 / 62.0 + 1.0 / 63.0
    )
    assert rows[2]["rank_1"] is None and rows[2]["rank_3"] == 1
    with pytest.raises(ValueError):
        rrf_fuse([], ["doc_id"])


def test_text_index_roundtrip_matches_direct(spark, tmp_path):
    from mlb_data_pipeline_spark.operators.search import (
        build_text_index,
        load_text_index,
        save_text_index,
    )

    docs = _docs(
        spark,
        [
            (1, "spark shuffle join spark"),
            (2, "spark filter scan"),
            (3, "unrelated words entirely"),
        ],
    )
    terms = [(0, "spark"), (0, "shuffle"), (1, "scan")]
    direct = sorted(
        map(tuple, bm25_topk(docs, terms, k=5).collect())
    )
    path = str(tmp_path / "tindex")
    save_text_index(build_text_index(docs), path)
    idx = load_text_index(spark, path)
    indexed = sorted(
        map(tuple, bm25_topk(None, terms, k=5, index=idx).collect())
    )
    assert direct == indexed


def test_text_index_append_equals_full_rebuild(spark, tmp_path):
    from mlb_data_pipeline_spark.operators.search import (
        append_text_index,
        build_text_index,
        load_text_index,
        save_text_index,
    )

    corpus = _docs(spark, [(1, "alpha beta gamma"), (2, "beta beta delta")])
    delta = _docs(spark, [(3, "alpha alpha epsilon"), (2, "beta beta delta")])
    both = corpus.unionByName(delta).dropDuplicates(["doc_id"])
    terms = [(0, "alpha"), (0, "beta"), (0, "epsilon")]

    path = str(tmp_path / "tindex")
    save_text_index(build_text_index(corpus), path)
    append_text_index(delta, path)  # doc 2 is a replay: id guard drops it
    idx = load_text_index(spark, path)
    appended = sorted(map(tuple, bm25_topk(None, terms, k=10, index=idx).collect()))
    rebuilt = sorted(map(tuple, bm25_topk(both, terms, k=10).collect()))
    assert appended == rebuilt
    # replaying the same delta is a no-op
    append_text_index(delta, path)
    idx2 = load_text_index(spark, path)
    again = sorted(map(tuple, bm25_topk(None, terms, k=10, index=idx2).collect()))
    assert again == rebuilt


def test_indexed_probe_pushes_term_filter(spark, tmp_path):
    """The persisted-index probe must push the term IN-filter into the
    postings parquet scan (posting-list reads, not index scans)."""
    from mlb_data_pipeline_spark.operators.search import (
        bm25_scores,
        build_text_index,
        load_text_index,
        save_text_index,
    )

    docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
    path = str(tmp_path / "tindex")
    save_text_index(build_text_index(docs), path)
    idx = load_text_index(spark, path)
    plan = (
        bm25_scores(None, [(0, "alpha"), (0, "beta")], index=idx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the multi-term isin pushes as In(term, ...); a single term folds
    # to EqualTo — either way it must reach PushedFilters on the
    # postings scan
    import re

    assert re.search(r"PushedFilters: \[[^\]]*In\(term, \[alpha,beta\]", plan), plan


def test_bm25_posting_probe_is_broadcast(spark):
    """The query-term probe of the inverted index must be a broadcast
    join — the corpus-side tf table never shuffles for the probe."""
    from mlb_data_pipeline_spark.operators.search import build_text_index

    docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
    idx = build_text_index(docs)
    plan = bm25_scores(None, [(0, "alpha")], index=idx)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere in the probe pipeline
    assert "SortMergeJoin" not in plan


def test_bm25_without_index_is_narrow(spark):
    """Index-less scoring is two narrow passes over the docs: the
    scored plan holds no exchange and no join, and top-k adds exactly
    one exchange (the per-query rank) under WindowGroupLimit."""
    docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma"), (3, "")])
    terms = [(0, "alpha"), (0, "beta"), (1, "gamma")]
    plan = bm25_scores(docs, terms)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    plan = bm25_topk(docs, terms, k=2)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_text_index_append_empty_delta_is_noop(spark, tmp_path):
    """An empty daily delta (or a fully-replayed one) must leave the
    index byte-identical in behavior: same stats, same retrieval."""
    from mlb_data_pipeline_spark.operators.search import (
        append_text_index,
        bm25_topk,
        build_text_index,
        load_text_index,
        save_text_index,
    )

    docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
    path = str(tmp_path / "tindex")
    save_text_index(build_text_index(docs), path)
    before = sorted(
        map(tuple, bm25_topk(None, [(0, "beta")], k=5, index=load_text_index(spark, path)).collect())
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    append_text_index(empty, path)
    idx = load_text_index(spark, path)
    after = sorted(map(tuple, bm25_topk(None, [(0, "beta")], k=5, index=idx).collect()))
    assert after == before
    stats = idx.stats.collect()[0]
    assert (stats.n, stats.sumdl) == (2, 4)


def test_bm25_oracle_sql_rejects_non_token_terms():
    from mlb_data_pipeline_spark.operators.search import bm25_oracle_sql

    with pytest.raises(ValueError, match="query terms"):
        bm25_oracle_sql([(0, "o'brien")])
    with pytest.raises(ValueError, match="query terms"):
        bm25_oracle_sql([(0, "Two Words")])
    assert "(0, 'ok')" in bm25_oracle_sql([(0, "ok")])


def test_text_index_tokenless_replay_does_not_skew_stats(spark, tmp_path):
    """ADVICE r5: a delta doc whose text tokenizes to nothing produces
    no postings — the old postings-based guard re-counted it into
    stats.n on every replay. The doc REGISTRY guard must register it
    once and keep replays no-ops."""
    from mlb_data_pipeline_spark.operators.search import (
        append_text_index,
        build_text_index,
        load_text_index,
        save_text_index,
    )

    docs = _docs(spark, [(1, "alpha beta")])
    path = str(tmp_path / "tindex")
    save_text_index(build_text_index(docs), path)
    tokenless = _docs(spark, [(2, "!!! ??? ...")])  # zero tokens
    append_text_index(tokenless, path)
    append_text_index(tokenless, path)  # replay
    append_text_index(tokenless, path)  # replay again
    stats = load_text_index(spark, path).stats.collect()[0]
    # n counts the token-less doc exactly ONCE; sumdl unchanged
    assert (stats.n, stats.sumdl) == (2, 2)


def test_text_index_append_retry_after_partial_failure(spark, tmp_path):
    """ADVICE r5: the append is multiple writes; a crash between them
    must not lose docs from stats or duplicate postings on retry. We
    simulate 'crashed after the postings write' (postings batch dir
    exists, registry and stats untouched) and retry with the same
    batch id — the protocol overwrites its own directory and completes
    the registry + stats writes."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.search import (
        append_text_index,
        bm25_topk,
        build_text_index,
        load_text_index,
        save_text_index,
    )

    corpus = _docs(spark, [(1, "alpha beta gamma")])
    delta = _docs(spark, [(2, "alpha alpha delta")])
    both = corpus.unionByName(delta)
    path = str(tmp_path / "tindex")
    save_text_index(build_text_index(corpus), path)

    # simulate the dying first attempt: postings written, nothing else
    bid = "batchX"
    partial = build_text_index(delta)
    partial.postings.write.mode("overwrite").parquet(path + f"/postings/batch={bid}")

    # retry with the same batch id
    append_text_index(delta, path, batch_id=bid)
    idx = load_text_index(spark, path)
    terms = [(0, "alpha"), (0, "delta")]
    got = sorted(map(tuple, bm25_topk(None, terms, k=10, index=idx).collect()))
    want = sorted(map(tuple, bm25_topk(both, terms, k=10).collect()))
    assert got == want
    # no duplicate postings for the retried doc
    n_rows = idx.postings.filter(F.col("doc_id") == 2).count()
    assert n_rows == 2  # one row per distinct term (alpha, delta), no duplicates
    stats = idx.stats.collect()[0]
    assert (stats.n, stats.sumdl) == (2, 6)


def test_refresh_text_index_reflects_changed_content(spark, tmp_path):
    """Keyed content-change upsert (reference delete-then-add,
    scrape_store_embed.py:79): re-ingesting a doc with CHANGED text via
    refresh must purge the stale postings — probes see only the new
    text, stats reflect the new length — while an unchanged-doc replay
    through the plain append stays a no-op, and refresh itself is
    replay-idempotent."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.search import (
        append_text_index,
        bm25_topk,
        build_text_index,
        load_text_index,
        refresh_text_index,
        save_text_index,
    )

    corpus = _docs(spark, [(1, "alpha beta"), (2, "gamma gamma stale")])
    path = str(tmp_path / "tindex")
    save_text_index(build_text_index(corpus), path)

    changed = _docs(spark, [(2, "epsilon fresh words here")])
    refresh_text_index(changed, path)
    idx = load_text_index(spark, path)
    # stale term gone, new term present
    assert idx.postings.filter(F.col("term") == "gamma").count() == 0
    got = {r.doc_id: r.rank for r in bm25_topk(None, [(0, "epsilon")], k=5, index=idx).collect()}
    assert got == {2: 1}
    stats = idx.stats.collect()[0]
    assert (stats.n, stats.sumdl) == (2, 2 + 4)
    # equivalent to a full rebuild over the new corpus state
    new_corpus = _docs(spark, [(1, "alpha beta"), (2, "epsilon fresh words here")])
    terms = [(0, "alpha"), (0, "epsilon"), (0, "fresh")]
    want = sorted(map(tuple, bm25_topk(new_corpus, terms, k=10).collect()))
    assert sorted(map(tuple, bm25_topk(None, terms, k=10, index=idx).collect())) == want
    # refresh replay is idempotent
    refresh_text_index(changed, path)
    idx2 = load_text_index(spark, path)
    assert sorted(map(tuple, bm25_topk(None, terms, k=10, index=idx2).collect())) == want
    # unchanged-doc replay through the plain append: still a no-op
    append_text_index(changed, path)
    idx3 = load_text_index(spark, path)
    assert sorted(map(tuple, bm25_topk(None, terms, k=10, index=idx3).collect())) == want


def test_tfidf_keywords_characteristic_term_wins(spark, tmp_path):
    from mlb_data_pipeline_spark.operators.search import (
        build_text_index,
        load_text_index,
        save_text_index,
        tfidf_keywords,
    )

    rows = [
        (1, "zebra zebra zebra common common"),
        (2, "common apple common banana common"),
        (3, "common cherry cherry common plum"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    kw = tfidf_keywords(df, k=2)
    got = {(r.doc_id, r.rank): r.term for r in kw.collect()}
    assert got[(1, 1)] == "zebra"  # tf=3/5 and rare -> top
    # 'common' is in every doc (df = n) -> dropped by max_doc_frac=0.5
    assert "common" not in set(got.values())
    # index-probe path produces the identical result
    idx = build_text_index(df, id_col="doc_id", text_col="text")
    save_text_index(idx, str(tmp_path / "ti"))
    loaded = load_text_index(spark, str(tmp_path / "ti"))
    got2 = {(r.doc_id, r.rank): r.term for r in tfidf_keywords(index=loaded, k=2).collect()}
    assert got2 == got


def test_unigram_logprob_flags_rare_token_doc(spark):
    from mlb_data_pipeline_spark.operators.search import unigram_logprob

    common = "the cat sat on the mat " * 5
    rows = [
        (1, common.strip()),
        (2, common.strip()),
        (3, "zxqv jkwp qqzi vvbn mmlo pprt"),  # corpus-rare gibberish
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r.doc_id: r.logprob for r in unigram_logprob(df).collect()}
    assert got[3] < got[1] < 0  # gibberish scores strictly lower; all <= 0
    assert abs(got[1] - got[2]) < 1e-12  # identical docs, identical score


def test_bigram_logprob_detects_scrambled_order(spark):
    """A doc with corpus-common TOKENS in corpus-unseen ORDER scores
    ~equal at unigram order but far lower at bigram order — the
    property that makes the conditional scorer worth its extra
    aggregation."""
    from mlb_data_pipeline_spark.operators.search import bigram_logprob, unigram_logprob

    phrase = "the quick brown fox jumps over the lazy dog"
    scrambled = "dog the over fox lazy quick jumps brown the"
    rows = [(i, phrase) for i in range(20)] + [(100, scrambled), (101, "solo")]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    uni = {r.doc_id: r.logprob for r in unigram_logprob(docs).collect()}
    bi = {r.doc_id: r.logprob for r in bigram_logprob(docs).collect()}
    assert 101 not in bi and 101 in uni  # dl<2: no transition likelihood
    assert abs(uni[100] - uni[0]) < 0.2  # same bag of words
    assert bi[100] < bi[0] - 1.0  # unseen transitions crater the score
    assert all(v <= 0 for v in bi.values())


def test_perplexity_tiers_orders_planted_docs_and_is_partition_stable(spark):
    """Fluent repeated-phrase docs tier above scrambled ones; the tail
    catches the junk. Boundaries come from a deterministic hash sample,
    so the assignment must not move under a different partitioning."""
    import pytest

    from mlb_data_pipeline_spark.operators.search import perplexity_tiers

    phrase = "the quick brown fox jumps over the lazy dog"
    rows = [(i, phrase) for i in range(40)]
    rows += [(100 + i, "zz%d qq%d vv%d kk%d ww%d" % (i, i + 1, i + 2, i + 3, i + 4)) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = perplexity_tiers(docs, calib_fraction=0.5, salt="t")
    got = {r.doc_id: r.tier for r in out.collect()}
    # every junk doc must tier at or below every fluent doc; junk fills the tail
    fluent = {got[i] for i in range(40)}
    junk = {got[100 + i] for i in range(6)}
    # ties take the better tier: the identically-scored fluent mass
    # sits ON both cutoffs and lands in head, junk falls below
    assert fluent == {"head"}
    assert junk == {"tail"}
    # deterministic under repartitioning (the rand()-sampling failure mode)
    got2 = {r.doc_id: r.tier for r in perplexity_tiers(docs.repartition(13), calib_fraction=0.5, salt="t").collect()}
    assert got2 == got
    with pytest.raises(ValueError):
        perplexity_tiers(docs, calib_fraction=0.0)
    with pytest.raises(ValueError):
        perplexity_tiers(docs, cuts=(0.7, 0.3))


# -- index-less vs indexed BM25: one formula, two plans, equal rows ----------

_VOCAB = ["alpha", "beta", "gamma", "delta", "omega"]
_ABSENT = ["zzz", "nowhere"]
# 40 queries x 5 terms, every query sharing terms with its neighbours
_BATCH = [(q, _VOCAB[(q + j) % 5] if j < 4 else _ABSENT[q % 2]) for q in range(40) for j in range(5)]

_doc_text = st.one_of(
    st.lists(st.sampled_from(_VOCAB + ["x1", "Beta", "!?"]), max_size=8).map(" ".join),
    st.just(""),  # token-less and null docs still count toward n
    st.none(),
    st.just("-- ..."),
)
_query_terms = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), st.sampled_from(_VOCAB + _ABSENT)),
    max_size=10,  # duplicates and shared terms across queries come for free
)


@given(texts=st.lists(_doc_text, min_size=1, max_size=12), query_terms=_query_terms)
@example(texts=["alpha beta", "", "beta beta gamma"], query_terms=[])
@example(texts=["", "!!"], query_terms=[(0, "alpha"), (1, "zzz")])
@example(texts=["alpha beta gamma", "delta omega alpha", "", "beta"], query_terms=_BATCH)
@settings(
    max_examples=40 if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1" else 4,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
def test_bm25_scores_without_index_equal_indexed(spark, texts, query_terms):
    from mlb_data_pipeline_spark.operators.search import build_text_index

    docs = _docs(spark, list(enumerate(texts)))
    direct = bm25_scores(docs, query_terms)
    probed = bm25_scores(None, query_terms, index=build_text_index(docs))
    assert direct.dtypes == probed.dtypes
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, probed.collect()))
