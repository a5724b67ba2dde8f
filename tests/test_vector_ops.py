"""Vector operator invariants (SURVEY §5.2.4): exactness and LSH recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.catalog import load_table
from mlb_data_pipeline_spark.functions.vector_math import cosine
from mlb_data_pipeline_spark.operators.vector import (
    cosine_pairs_exact,
    cosine_pairs_lsh,
    cosine_topk,
    knn_join,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").limit(200).cache()


def test_cosine_self_is_one(spark, emb):
    bad = emb.withColumn("self_sim", cosine("embedding", "embedding")).filter(
        F.abs(F.col("self_sim") - 1.0) > 1e-9
    )
    assert bad.count() == 0


def test_topk_subset_of_topk_plus_one(spark, emb):
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    ids3 = {r.vec_id for r in cosine_topk(emb, qvec, "vec_id", "embedding", 3).collect()}
    ids4 = {r.vec_id for r in cosine_topk(emb, qvec, "vec_id", "embedding", 4).collect()}
    assert ids3 <= ids4 and len(ids3) == 3 and len(ids4) == 4


def test_knn_join_matches_single_query_topk(spark, emb):
    qvec = emb.filter(F.col("vec_id") == 2).select("embedding").first()[0]
    single = [r.vec_id for r in cosine_topk(emb, qvec, "vec_id", "embedding", 4).collect()]
    joined = (
        knn_join(emb, emb.filter(F.col("vec_id") == 2), "vec_id", "embedding", k=3)
        .orderBy("rank")
        .collect()
    )
    # knn_join excludes self; cosine_topk does not (self ranks first at sim 1)
    assert single[0] == 2
    assert [r.vec_id for r in joined] == single[1:]


def test_lsh_pairs_subset_of_exact_with_recall(spark, emb):
    exact = {
        (r.a_vec_id, r.b_vec_id)
        for r in cosine_pairs_exact(emb, "vec_id", "embedding", threshold=0.3).collect()
    }
    approx = {
        (r.a_vec_id, r.b_vec_id)
        for r in cosine_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.3, dim=64, n_planes=32, bands=8
        ).collect()
    }
    assert approx <= exact, "LSH must have exact precision (residual check)"
    assert exact, "threshold too high — test is vacuous"
    recall = len(approx) / len(exact)
    assert recall >= 0.4, f"LSH recall collapsed: {recall:.2f}"


def test_exact_pairs_guard_refuses_large_input(spark, emb):
    # the quadratic tier must refuse to run at scale — cosine_pairs_lsh
    # is the declared scale path
    with pytest.raises(ValueError, match="quadratic"):
        cosine_pairs_exact(emb, "vec_id", "embedding", threshold=0.3, max_rows=10).collect()


def test_lsh_high_threshold_finds_planted_neardups(spark):
    # Plant true near-duplicates: v and v+tiny noise -> cosine ~0.999.
    base = [[float((i * 31 + j * 7) % 17 - 8) for j in range(16)] for i in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        rows.append((1000 + i, [x + 0.01 * ((i + j) % 3 - 1) for j, x in enumerate(v)]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    found = {
        (r.a_vec_id, r.b_vec_id)
        for r in cosine_pairs_lsh(df, "vec_id", "embedding", threshold=0.99, dim=16, n_planes=32, bands=8).collect()
    }
    planted = {(i, 1000 + i) for i in range(20)}
    assert planted <= found


def test_lsh_multiprobe_expands_recall_keeps_precision(spark, emb):
    # probe_bits=1 lands every row in its 1-bit-flip buckets too:
    # candidates are a superset, so recall is monotone non-decreasing;
    # the exact residual keeps precision at 1 regardless
    exact = {
        (r.a_vec_id, r.b_vec_id)
        for r in cosine_pairs_exact(emb, "vec_id", "embedding", threshold=0.3).collect()
    }
    base = {
        (r.a_vec_id, r.b_vec_id)
        for r in cosine_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.3, dim=64, n_planes=32, bands=8
        ).collect()
    }
    probed = {
        (r.a_vec_id, r.b_vec_id)
        for r in cosine_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.3, dim=64, n_planes=32, bands=8, probe_bits=1
        ).collect()
    }
    assert probed <= exact  # precision still exact
    assert base <= probed  # multi-probe candidates are a superset
    assert len(probed) > len(base)  # and the extra probes actually find pairs


def test_lsh_wide_band_scale_config_finds_high_sim_neardups(spark):
    # The 100 TB operating point (vector.py docstring): 16-bit bands cut
    # random-pair candidates ~1000x vs the 4-bit recall-study point, and
    # with single-bit multi-probe still recall genuine near-dups
    # (sim ~0.999 here — where dedup thresholds actually live).
    base = [[float((i * 31 + j * 7) % 17 - 8) for j in range(16)] for i in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        rows.append((1000 + i, [x + 0.01 * ((i + j) % 3 - 1) for j, x in enumerate(v)]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    found = {
        (r.a_vec_id, r.b_vec_id)
        for r in cosine_pairs_lsh(
            df, "vec_id", "embedding", threshold=0.99, dim=16,
            n_planes=64, bands=4, probe_bits=1,
        ).collect()
    }
    assert {(i, 1000 + i) for i in range(20)} <= found


def test_lsh_multiprobe_rejects_unsupported_depth(spark, emb):
    with pytest.raises(ValueError, match="probe_bits"):
        cosine_pairs_lsh(emb, "vec_id", "embedding", threshold=0.3, dim=64, probe_bits=2)


def test_knn_join_guard_refuses_large_query_set(spark, emb):
    # the broadcast tier must refuse a large query side — ivf_knn_join /
    # similarity_join are the declared scale paths
    with pytest.raises(ValueError, match="broadcast"):
        knn_join(emb, emb, "vec_id", "embedding", k=3, max_queries=50).collect()


def test_similarity_join_routes_small_to_exact_broadcast(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import similarity_join

    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_join(emb, queries, "vec_id", "embedding", k=3)
    routed = similarity_join(emb, queries, "vec_id", "embedding", k=3, max_broadcast_queries=50)
    want = sorted((r.query_id, r.rank, r.vec_id) for r in exact.collect())
    got = sorted((r.query_id, r.rank, r.neighbor_id) for r in routed.collect())
    assert got == want  # small query set -> exact broadcast route, same results


def test_similarity_join_routes_large_to_ivf(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import ivf_knn_join, similarity_join

    # cap below the query count forces the IVF route; with
    # n_probe == n_lists the IVF route itself is exact, so the planner's
    # routing is observable purely through plan equivalence of outputs
    queries = emb.filter(F.col("vec_id") < 30)
    routed = similarity_join(
        emb, queries, "vec_id", "embedding", k=3,
        max_broadcast_queries=10, n_lists=8, n_probe=8,
    )
    ivf = ivf_knn_join(emb, queries, "vec_id", "embedding", k=3, n_lists=8, n_probe=8)
    want = sorted((r.query_id, r.rank, r.neighbor_id) for r in ivf.collect())
    got = sorted((r.query_id, r.rank, r.neighbor_id) for r in routed.collect())
    assert got == want
    assert len({r[0] for r in got}) == 30  # every query served despite the cap


def test_ivf_with_full_probe_equals_brute_force(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import ivf_knn_join

    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_join(emb, queries, "vec_id", "embedding", k=3)
    ivf_full = ivf_knn_join(emb, queries, "vec_id", "embedding", k=3, n_lists=8, n_probe=8)
    want = sorted((r.query_id, r.rank, r.vec_id) for r in exact.collect())
    got = sorted((r.query_id, r.rank, r.neighbor_id) for r in ivf_full.collect())
    assert got == want  # n_probe == n_lists degrades to exact brute force


def test_lsh_params_candidate_bound_and_recall(spark):
    """The auto operating point must satisfy the documented math:
    expected random-pair candidates stay <= 8n at every corpus size
    (the hard constraint — linear candidate volume), and at sim >= 0.95
    (where dedup thresholds live) predicted recall reaches the 0.95
    target wherever the int32-keyspace budget allows (it provably can't
    past ~10^7 rows: bands * ball(b)/2^b <= 16/n forces b so wide that
    p^b collapses — the regime the docstring routes to ivf_knn_join)."""
    import math

    from mlb_data_pipeline_spark.operators.vector import _band_match_prob, lsh_params

    p = 1.0 - math.acos(0.95) / math.pi
    for n, want_recall in ((1_000, 0.95), (100_000, 0.95), (10_000_000, 0.85), (1_000_000_000, None)):
        n_planes, bands, probe = lsh_params(n, 0.95)
        per_band = n_planes // bands
        assert n_planes == bands * per_band and bands * (1 << per_band) <= 2**31
        exp_cand = bands * _band_match_prob(0.5, per_band, probe) * n * (n - 1) / 2
        assert exp_cand <= 8 * n, f"n={n}: candidate volume {exp_cand:.0f} superlinear"
        if want_recall is not None:
            recall = 1.0 - (1.0 - _band_match_prob(p, per_band, probe)) ** bands
            assert recall >= want_recall, f"n={n}: predicted recall {recall:.3f}"


def test_lsh_auto_defaults_find_planted_neardups(spark):
    """cosine_pairs_lsh with NO (n_planes, bands) routes through
    lsh_params and still recovers every planted near-dup pair."""
    from mlb_data_pipeline_spark.operators.vector import cosine_pairs_lsh

    base = [[float((i * 31 + j * 7) % 17 - 8) for j in range(16)] for i in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        rows.append((1000 + i, [x + 0.01 * ((i + j) % 3 - 1) for j, x in enumerate(v)]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    found = {
        (r.a_vec_id, r.b_vec_id)
        for r in cosine_pairs_lsh(df, "vec_id", "embedding", threshold=0.99, dim=16).collect()
    }
    assert {(i, 1000 + i) for i in range(20)} <= found


def test_ivf_index_save_load_roundtrip(spark, emb, tmp_path):
    """Persistence contract: a reloaded index answers identically to the
    in-memory build it was saved from, with no retraining and no
    re-assignment (corpus=None on the loaded path)."""
    from mlb_data_pipeline_spark.operators.vector import (
        build_ivf_index,
        ivf_knn_join,
        load_ivf_index,
        save_ivf_index,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    built = build_ivf_index(emb, "vec_id", "embedding", n_lists=8)
    save_ivf_index(built, str(tmp_path / "ivf"))
    loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
    assert loaded.centroids == built.centroids
    assert loaded.id_col == "vec_id" and loaded.vec_col == "embedding"
    mem = ivf_knn_join(None, queries, "vec_id", "embedding", k=3, n_probe=2, index=built)
    disk = ivf_knn_join(None, queries, "vec_id", "embedding", k=3, n_probe=2, index=loaded)
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, round(r.sim, 9))  # noqa: E731
    assert sorted(map(key, mem.collect())) == sorted(map(key, disk.collect()))


def test_ivf_loaded_index_full_probe_equals_brute_force(spark, emb, tmp_path):
    from mlb_data_pipeline_spark.operators.vector import (
        build_ivf_index,
        ivf_knn_join,
        load_ivf_index,
        save_ivf_index,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    save_ivf_index(build_ivf_index(emb, "vec_id", "embedding", n_lists=8), str(tmp_path / "ivf"))
    loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
    exact = knn_join(emb, queries, "vec_id", "embedding", k=3)
    ivf_full = ivf_knn_join(None, queries, "vec_id", "embedding", k=3, n_probe=8, index=loaded)
    want = sorted((r.query_id, r.rank, r.vec_id) for r in exact.collect())
    got = sorted((r.query_id, r.rank, r.neighbor_id) for r in ivf_full.collect())
    assert got == want


def test_ivf_append_extends_index_idempotently(spark, emb, tmp_path):
    """Daily-delta contract for the vector index: appended vectors are
    retrievable through the reloaded index; re-appending is a no-op; and
    the appended rows rank identically to a from-scratch build that used
    the same centroids (assignment uses the persisted quantizer)."""
    from mlb_data_pipeline_spark.operators.vector import (
        append_ivf_index,
        build_ivf_index,
        ivf_knn_join,
        load_ivf_index,
        save_ivf_index,
    )

    corpus = emb.filter(F.col("vec_id") >= 20)
    delta = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "ivf")
    built = build_ivf_index(corpus, "vec_id", "embedding", n_lists=8)
    save_ivf_index(built, path)
    append_ivf_index(delta, path)
    n = spark.read.parquet(path + "/assignments").count()
    append_ivf_index(delta, path)  # id guard: no-op
    assert spark.read.parquet(path + "/assignments").count() == n
    loaded = load_ivf_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 5)
    got = ivf_knn_join(None, queries, "vec_id", "embedding", k=3, n_probe=8, index=loaded)
    # full probe over corpus+delta == exact brute force over the union
    exact = knn_join(emb, queries, "vec_id", "embedding", k=3)
    want = sorted((r.query_id, r.rank, r.vec_id) for r in exact.collect())
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in got.collect()) == want


def test_ivf_loaded_index_plan_is_scan_not_assign(spark, emb, tmp_path):
    """The loaded-index probe must read the inverted file from parquet:
    with in-memory queries, the only parquet scan is the assignments
    table, and no corpus-assignment UDF runs (exactly one Arrow eval —
    the query-side probe_lists)."""
    from mlb_data_pipeline_spark.operators.vector import (
        build_ivf_index,
        ivf_knn_join,
        load_ivf_index,
        save_ivf_index,
    )

    queries = spark.createDataFrame(
        [(900 + i, [float(i)] * 64) for i in range(3)], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    save_ivf_index(build_ivf_index(emb, "vec_id", "embedding", n_lists=8), str(tmp_path / "ivf"))
    loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
    plan = (
        ivf_knn_join(None, queries, "vec_id", "embedding", k=3, n_probe=2, index=loaded)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1  # assignments only
    assert plan.count("ArrowEvalPython") == 2  # probe_lists (queries) + pair scoring


def test_pq_encode_deterministic_and_compact(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import pq_encode, train_pq_codebooks

    books = train_pq_codebooks(emb, "embedding", m_subvectors=8, n_codes=32)
    books2 = train_pq_codebooks(emb, "embedding", m_subvectors=8, n_codes=32)
    assert books == books2  # seeded training is deterministic
    codes = pq_encode(emb, "embedding", books).select("vec_id", "pq_code").collect()
    assert all(len(r.pq_code) == 8 for r in codes)  # 8 codes vs 64 floats: 32x
    assert all(0 <= c < 32 for r in codes for c in r.pq_code)
    again = pq_encode(emb, "embedding", books).select("vec_id", "pq_code").collect()
    assert sorted(map(repr, codes)) == sorted(map(repr, again))


def test_pq_full_rerank_equals_exact(spark, emb):
    """Two-stage contract: ADC shortlist of the WHOLE corpus + exact
    rerank must reproduce the exact k-NN result — the PQ analogue of
    the IVF full-probe invariant."""
    from mlb_data_pipeline_spark.operators.vector import (
        pq_encode,
        pq_knn_join,
        train_pq_codebooks,
    )

    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    books = train_pq_codebooks(emb, "embedding", m_subvectors=8, n_codes=32)
    codes = pq_encode(emb, "embedding", books)
    got = pq_knn_join(
        codes, queries, "vec_id", "embedding", k=3, codebooks=books,
        rerank=n, corpus_vectors=emb,
    )
    exact = knn_join(emb, queries, "vec_id", "embedding", k=3)
    want = sorted((r.query_id, r.rank, r.vec_id) for r in exact.collect())
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in got.collect()) == want


def test_pq_adc_recall_floor_and_rerank_improves(spark, emb):
    """ADC-only recall is imperfect by design; a modest exact rerank of
    the ADC shortlist must not reduce it."""
    from mlb_data_pipeline_spark.operators.vector import (
        pq_encode,
        pq_knn_join,
        train_pq_codebooks,
    )

    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.vec_id) for r in knn_join(emb, queries, "vec_id", "embedding", k=3).collect()}
    books = train_pq_codebooks(emb, "embedding", m_subvectors=8, n_codes=32)
    codes = pq_encode(emb, "embedding", books)
    adc = {(r.query_id, r.neighbor_id)
           for r in pq_knn_join(codes, queries, "vec_id", "embedding", k=3, codebooks=books).collect()}
    adc_recall = len(adc & exact) / len(exact)
    rer = {(r.query_id, r.neighbor_id)
           for r in pq_knn_join(codes, queries, "vec_id", "embedding", k=3, codebooks=books,
                                rerank=20, corpus_vectors=emb).collect()}
    rr_recall = len(rer & exact) / len(exact)
    assert adc_recall >= 0.3, f"ADC recall collapsed: {adc_recall:.2f}"
    assert rr_recall >= adc_recall, (rr_recall, adc_recall)


def test_ivf_pq_full_probe_full_rerank_equals_exact(spark, emb):
    """Stacked-approximation contract: with every list probed and the
    whole shortlist exact-reranked, IVF-PQ degrades to exact k-NN —
    both approximations removed at once."""
    from mlb_data_pipeline_spark.operators.vector import (
        build_ivf_index,
        ivf_pq_knn_join,
        train_pq_codebooks,
    )

    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    index = build_ivf_index(emb, "vec_id", "embedding", n_lists=8)
    books = train_pq_codebooks(emb, "embedding", m_subvectors=8, n_codes=32)
    got = ivf_pq_knn_join(index, queries, k=3, codebooks=books, n_probe=8, rerank=n)
    exact = knn_join(emb, queries, "vec_id", "embedding", k=3)
    want = sorted((r.query_id, r.rank, r.vec_id) for r in exact.collect())
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in got.collect()) == want


def test_pq_knn_guard_refuses_large_query_side(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import (
        pq_encode,
        pq_knn_join,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, "embedding", m_subvectors=8, n_codes=32)
    codes = pq_encode(emb, "embedding", books)
    with pytest.raises(ValueError, match="ivf_pq_knn_join"):
        pq_knn_join(codes, emb, "vec_id", "embedding", k=3, codebooks=books, max_queries=10)


def test_pq_codebooks_save_load_roundtrip(spark, emb, tmp_path):
    from mlb_data_pipeline_spark.operators.vector import (
        load_pq_codebooks,
        save_pq_codebooks,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, "embedding", m_subvectors=8, n_codes=32)
    save_pq_codebooks(spark, books, str(tmp_path / "pq"))
    assert load_pq_codebooks(spark, str(tmp_path / "pq")) == books


def test_ivf_pq_through_loaded_index(spark, emb, tmp_path):
    """The deployment path: IVF-PQ over a RELOADED index answers
    identically to the in-memory build."""
    from mlb_data_pipeline_spark.operators.vector import (
        build_ivf_index,
        ivf_pq_knn_join,
        load_ivf_index,
        save_ivf_index,
        train_pq_codebooks,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    built = build_ivf_index(emb, "vec_id", "embedding", n_lists=8)
    save_ivf_index(built, str(tmp_path / "ivf"))
    loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
    books = train_pq_codebooks(emb, "embedding", m_subvectors=8, n_codes=32)
    key = lambda r: (r.query_id, r.rank, r.neighbor_id)  # noqa: E731
    mem = ivf_pq_knn_join(built, queries, k=3, codebooks=books, n_probe=2, rerank=10)
    disk = ivf_pq_knn_join(loaded, queries, k=3, codebooks=books, n_probe=2, rerank=10)
    assert sorted(map(key, mem.collect())) == sorted(map(key, disk.collect()))


def test_ivf_partial_probe_is_subset_and_ranked(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import ivf_knn_join

    queries = emb.filter(F.col("vec_id") < 5)
    res = ivf_knn_join(emb, queries, "vec_id", "embedding", k=3, n_lists=8, n_probe=2).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert len(rows) <= 3


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (operators/vector.py semdedup_pairs /
# semantic_dedup)
# ---------------------------------------------------------------------------


def _planted_corpus(spark, emb, every=10, alpha=0.97):
    """Union emb with a deterministic near-copy (cos >= 0.999) of every
    ``every``-th vector at id = -vec_id - 1."""
    rolled = F.expr("concat(slice(embedding, 2, size(embedding) - 1), slice(embedding, 1, 1))")
    mixed = F.zip_with(
        F.col("embedding"), rolled, lambda x, y: x * F.lit(alpha) + y * F.lit(1.0 - alpha)
    )
    planted = emb.filter(F.col("vec_id") % every == 0).select(
        (-F.col("vec_id") - 1).alias("vec_id"),
        mixed.cast("array<float>").alias("embedding"),
        "label",
    )
    return emb.unionByName(planted), planted.count()


def test_semdedup_single_cluster_equals_exact(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import semdedup_pairs

    small = emb.limit(80)
    corpus, _ = _planted_corpus(spark, small)
    exact = {
        (r["a_vec_id"], r["b_vec_id"])
        for r in cosine_pairs_exact(corpus, "vec_id", "embedding", 0.95).collect()
    }
    sem = {
        (r["a_vec_id"], r["b_vec_id"])
        for r in semdedup_pairs(
            corpus, "vec_id", "embedding", threshold=0.95, n_lists=1
        ).collect()
    }
    # one cluster holds everything -> no approximation survives
    assert sem == exact and len(exact) > 0


def test_semdedup_clustered_recall(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import semdedup_pairs

    corpus, n_planted = _planted_corpus(spark, emb)
    pairs = semdedup_pairs(corpus, "vec_id", "embedding", threshold=0.95, n_lists=8)
    found = pairs.filter(F.col("a_vec_id") + F.col("b_vec_id") == -1).count()
    # a near-copy lands in its original's cluster except at voronoi
    # boundaries; recall stays high and precision is exact
    assert found / n_planted >= 0.8
    assert pairs.filter(F.col("sim") < 0.95).count() == 0


def test_semantic_dedup_collapses_chain_to_one(spark):
    from mlb_data_pipeline_spark.operators.vector import semantic_dedup

    base = [float(i % 7 - 3) for i in range(8)]
    import math

    def mix(v, alpha):
        rolled = v[1:] + v[:1]
        out = [alpha * x + (1 - alpha) * y for x, y in zip(v, rolled)]
        return out

    rows = [
        (1, base, "a"),
        (2, mix(base, 0.98), "a"),   # ~base
        (3, mix(base, 0.96), "a"),   # ~base and ~2, chain member
        (10, [1.0, -2.0, 3.0, -4.0, 1.0, 0.5, -0.5, 2.0], "b"),  # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    kept = semantic_dedup(df, "vec_id", "embedding", threshold=0.95, n_lists=1)
    ids = sorted(r["vec_id"] for r in kept.collect())
    # the 1-2-3 clique keeps its minimum id only; 10 untouched
    assert ids == [1, 10]


def test_semdedup_hot_cluster_cap(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import semdedup_pairs

    # a degenerate blob: 120 near-identical vectors (one semantic point
    # mass) would alone contribute ~7k pairs; the default cap derived
    # from n_rows drops the over-full cluster instead
    one = [1.0] * 8
    blob = spark.createDataFrame(
        [(1000 + i, [v + i * 1e-4 for v in one], "blob") for i in range(120)],
        "vec_id long, embedding array<float>, label string",
    )
    small = emb.limit(40).select(
        "vec_id", F.slice("embedding", 1, 8).cast("array<float>").alias("embedding"), "label"
    )
    corpus = small.unionByName(blob)
    n = corpus.count()
    capped = semdedup_pairs(
        corpus, "vec_id", "embedding", threshold=0.95, n_lists=8, n_rows=n
    )
    uncapped = semdedup_pairs(
        corpus, "vec_id", "embedding", threshold=0.95, n_lists=8
    )
    # cap = max(64, 8*160/8) = 160 > 120 -> cap must NOT trip here; make
    # the blob bigger than the cap by shrinking the allowance
    tight = semdedup_pairs(
        corpus, "vec_id", "embedding", threshold=0.95, n_lists=8,
        max_cluster_freq=100,
    )
    assert uncapped.count() >= 120 * 119 // 2  # the blob is quadratic
    assert capped.count() == uncapped.count()  # default cap generous here
    assert tight.filter(F.col("a_vec_id") >= 1000).count() == 0  # blob dropped


def test_ivf_params_operating_points():
    from mlb_data_pipeline_spark.operators.vector import ivf_params

    import pytest as _pytest

    assert ivf_params(1) == 4
    assert ivf_params(10_000) == 100          # sqrt heuristic
    assert ivf_params(1_000_000) == 1000
    # candidate target dominates when tighter than sqrt
    assert ivf_params(1_000_000, target_candidates_per_query=1000, n_probe=4) == 4000
    # clamp: never fewer than ~8 rows per list
    assert ivf_params(40) == 5
    assert ivf_params(100, target_candidates_per_query=1) == 12  # 100//8
    with _pytest.raises(ValueError):
        ivf_params(100, target_candidates_per_query=0)


def test_refresh_ivf_index_reflects_changed_vectors(spark, emb, tmp_path):
    """Keyed content-change upsert for the vector store (reference
    delete-then-add, scrape_store_embed.py:79): re-ingesting ids with
    CHANGED vectors via refresh must purge the stale assignments —
    full-probe retrieval equals exact brute force over the UPDATED
    corpus, the id count stays stable (no duplicates), and an
    unchanged-id replay through the plain append stays a no-op."""
    from mlb_data_pipeline_spark.operators.vector import (
        append_ivf_index,
        build_ivf_index,
        ivf_knn_join,
        load_ivf_index,
        refresh_ivf_index,
        save_ivf_index,
    )

    corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    save_ivf_index(build_ivf_index(corpus, "vec_id", "embedding", n_lists=8), path)

    # ids 12/13 re-ingested with the vectors of rows 0/1 (content change)
    donors = {r.vec_id: r.embedding for r in emb.filter(F.col("vec_id") < 2).collect()}
    changed = spark.createDataFrame(
        [(12, donors[0]), (13, donors[1])], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    n_before = spark.read.parquet(path + "/assignments").count()
    refresh_ivf_index(changed, path)
    assert spark.read.parquet(path + "/assignments").count() == n_before
    loaded = load_ivf_index(spark, path)
    assert loaded.assignments.filter(F.col("vec_id").isin([12, 13])).count() == 2

    new_corpus = corpus.filter(~F.col("vec_id").isin([12, 13])).unionByName(changed)
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    got = ivf_knn_join(None, queries, "vec_id", "embedding", k=3, n_probe=8, index=loaded)
    exact = knn_join(new_corpus, queries, "vec_id", "embedding", k=3)
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in got.collect()) == sorted(
        (r.query_id, r.rank, r.vec_id) for r in exact.collect()
    )
    # plain append of the already-refreshed ids: id guard -> no-op
    append_ivf_index(changed, path)
    assert spark.read.parquet(path + "/assignments").count() == n_before
    # refresh replay: idempotent
    refresh_ivf_index(changed, path)
    assert spark.read.parquet(path + "/assignments").count() == n_before


def test_similarity_join_memory_budget_routes_to_pq(spark, emb):
    """Planner memory tier: with a budget below the float inverted-file
    size, the batch route must go through IVF-PQ — provable two ways:
    (a) with rerank disabled the returned sims are ADC approximations
    (not exact cosines), and (b) with the default exact rerank and a
    full probe the results equal exact brute force. A generous budget
    keeps the plain IVF route."""
    from mlb_data_pipeline_spark.operators.vector import similarity_join

    corpus = emb.select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.rank): (r.vec_id, r.sim)
        for r in knn_join(corpus, queries, "vec_id", "embedding", k=3).collect()
    }

    # (a) tiny budget: the plan scores PQ codes (structural route check)
    adc_df = similarity_join(
        corpus, queries, "vec_id", "embedding", k=3,
        max_broadcast_queries=0, n_lists=4, n_probe=4,
        memory_budget_bytes=1024, pq_rerank=0,
    )
    assert "pq_code" in adc_df._jdf.queryExecution().optimizedPlan().toString()

    # (b) tiny budget + full probe + exact rerank of everything: == exact
    got = similarity_join(
        corpus, queries, "vec_id", "embedding", k=3,
        max_broadcast_queries=0, n_lists=4, n_probe=4,
        memory_budget_bytes=1024, pq_rerank=10**6,
    )
    got_map = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in got.collect()}
    assert {kk: v for kk, (v, _) in got_map.items()} == {kk: v for kk, (v, _) in exact.items()}
    # reranked sims are exact cosines up to kernel accumulation order
    assert all(abs(got_map[kk][1] - exact[kk][1]) < 1e-6 for kk in exact)

    # (c) generous budget: plain IVF route, full probe == exact
    got2 = similarity_join(
        corpus, queries, "vec_id", "embedding", k=3,
        max_broadcast_queries=0, n_lists=4, n_probe=4,
        memory_budget_bytes=10**12,
    )
    assert "pq_code" not in got2._jdf.queryExecution().optimizedPlan().toString()
    assert {
        (r.query_id, r.rank): r.neighbor_id for r in got2.collect()
    } == {kk: v for kk, (v, _) in exact.items()}


# ---------------------------------------------------------------------------
# semantic_contamination (r28): cross-corpus paraphrase-tier scan
# ---------------------------------------------------------------------------


def _contamination_fixture(spark, emb, every=10):
    """benchmark = every Nth embedding; corpus = the rest + a planted
    near-paraphrase (id = -src - 1, cos >= 0.999) of each benchmark
    item — so the true contaminated set is exactly the planted ids."""
    union, n_planted = _planted_corpus(spark, emb, every=every)
    bench = emb.filter(F.col("vec_id") % every == 0)
    corpus = union.filter((F.col("vec_id") % every != 0) | (F.col("vec_id") < 0))
    return corpus, bench, n_planted


def test_semantic_contamination_full_probe_is_exact(spark, emb):
    """n_probe == n_lists degrades to brute force: flagged pairs equal
    the exact cross-corpus cosine pairs."""
    from mlb_data_pipeline_spark.operators.vector import semantic_contamination

    corpus, bench, _ = _contamination_fixture(spark, emb.limit(120))
    got = {
        (r.vec_id, r.bench_id)
        for r in semantic_contamination(
            corpus, bench, "vec_id", "embedding",
            threshold=0.95, n_lists=4, n_probe=4,
        ).collect()
    }
    cross = corpus.select(
        F.col("vec_id"), F.col("embedding").alias("__cv")
    ).crossJoin(bench.select(F.col("vec_id").alias("bench_id"), F.col("embedding").alias("__bv")))
    dot = F.aggregate(F.zip_with("__cv", "__bv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(F.zip_with(c, c, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x))
    exact = {
        (r.vec_id, r.bench_id)
        for r in cross.withColumn("sim", dot / (nrm("__cv") * nrm("__bv")))
        .filter(F.col("sim") >= 0.95)
        .collect()
    }
    assert got == exact and len(exact) > 0


def test_semantic_contamination_probed_recall_and_precision(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import semantic_contamination

    corpus, bench, n_planted = _contamination_fixture(spark, emb)
    flagged = semantic_contamination(
        corpus, bench, "vec_id", "embedding", threshold=0.95, n_lists=8, n_probe=3
    )
    rows = flagged.collect()
    hit = {r.vec_id for r in rows if r.vec_id < 0 and r.vec_id == -r.bench_id - 1}
    assert len(hit) / n_planted >= 0.8  # probe locality bounds recall
    assert all(r.sim >= 0.95 for r in rows)  # precision exact by verification
    # decontamination: anti-join removes exactly the flagged docs
    kept = corpus.join(flagged.select("vec_id").distinct(), "vec_id", "left_anti")
    assert kept.count() == corpus.count() - flagged.select("vec_id").distinct().count()


def test_hard_negative_mining_planted_clusters(spark):
    """Two tight clusters with labels: each anchor's positive is its
    same-label twin; the hard negatives are the other cluster's nearest
    members, ALWAYS k_neg of them even though same-label rows crowd the
    neighborhood (the top-k-then-filter failure mode); a single-member
    label emits no positive row."""
    import pytest

    from mlb_data_pipeline_spark.operators.vector import hard_negative_mining

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 2

    rows = [
        (0, "a", vec(1.00, 0.00)),
        (1, "a", vec(0.99, 0.01)),
        (2, "a", vec(0.98, 0.02)),
        (3, "b", vec(0.00, 1.00)),
        (4, "b", vec(0.01, 0.99)),
        (5, "c", vec(0.70, 0.70)),  # single-member label: no positive
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, label STRING, embedding ARRAY<DOUBLE>")
    out = hard_negative_mining(emb, "vec_id", "embedding", "label", k_neg=2)
    by_anchor = {}
    for r in out.collect():
        by_anchor.setdefault(r.anchor_id, {}).setdefault(r.role, []).append(r)
    # anchor 0: positive is same-label (1, the closest twin)
    assert by_anchor[0]["positive"][0].vec_id == 1
    assert all(r.label == "a" for r in by_anchor[0]["positive"])
    # negatives: exactly k_neg, none share the anchor's label
    negs = by_anchor[0]["negative"]
    assert len(negs) == 2 and all(r.label != "a" for r in negs)
    # nearest different-label row for cluster a is c's diagonal vector
    assert negs[0].vec_id == 5
    # single-member label c: no positive row, negatives still mined
    assert "positive" not in by_anchor[5]
    assert len(by_anchor[5]["negative"]) == 2
    with pytest.raises(ValueError):
        hard_negative_mining(emb, "vec_id", "embedding", "label", k_neg=0)
    with pytest.raises(ValueError):
        hard_negative_mining(emb, "vec_id", "embedding", "label", max_queries=2)


def test_mmr_select_prefers_diverse_over_near_duplicate(spark):
    import pytest

    from mlb_data_pipeline_spark.operators.vector import mmr_select

    rows = [
        (1, [1.0, 0.0, 0.0], 0.99),
        (2, [0.999, 0.001, 0.0], 0.985),   # near-dup of 1, higher sim than 3
        (3, [0.0, 1.0, 0.0], 0.80),        # diverse
        (4, [0.998, 0.002, 0.0], 0.984),   # near-dup of 1
    ]
    cand = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, sim DOUBLE")
    got = [(r.pos, r.vec_id) for r in mmr_select(cand, "vec_id", "embedding", "sim", 2, lam=0.5).orderBy("pos").collect()]
    # slot 1 = top sim; slot 2 = the DIVERSE doc despite lower sim —
    # pure top-k would have picked the near-duplicate 2
    assert got == [(1, 1), (2, 3)]
    # lam=1.0 degenerates to pure top-k (penalty ignored)
    topk = [(r.pos, r.vec_id) for r in mmr_select(cand, "vec_id", "embedding", "sim", 3, lam=1.0).orderBy("pos").collect()]
    assert topk == [(1, 1), (2, 2), (3, 4)]
    # k beyond candidates: returns all, no crash
    assert mmr_select(cand, "vec_id", "embedding", "sim", 10).count() == 4
    with pytest.raises(ValueError):
        mmr_select(cand, "vec_id", "embedding", "sim", 0)
    with pytest.raises(ValueError):
        mmr_select(cand, "vec_id", "embedding", "sim", 2, lam=1.5)
    with pytest.raises(ValueError):
        mmr_select(cand, "vec_id", "embedding", "sim", 2, max_candidates=2)


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (round 9): the oracle-able compression tier
# ---------------------------------------------------------------------------


def test_sq8_codes_are_true_int8(spark, emb):
    from pyspark.sql.types import ArrayType, ByteType

    from mlb_data_pipeline_spark.operators.vector import sq8_bounds, sq8_encode

    bounds = sq8_bounds(emb, "embedding", dim=64)
    enc = sq8_encode(emb, "embedding", bounds)
    field = dict((f.name, f.dataType) for f in enc.schema.fields)["sq8"]
    assert isinstance(field, ArrayType) and isinstance(field.elementType, ByteType)
    rows = enc.select("sq8").collect()
    assert all(len(r.sq8) == 64 for r in rows)  # 64 BYTES vs 256 float32 bytes: 4x
    assert all(-128 <= c <= 127 for r in rows for c in r.sq8)
    # bounds rows hit both rails: some dim must reach -128 and some +127
    flat = [c for r in rows for c in r.sq8]
    assert min(flat) == -128 and max(flat) == 127


def test_sq8_recall_high_and_full_rerank_equals_exact(spark, emb):
    """256 quantization levels per dim keep the asymmetric-ADC cosine
    ranking near-exact (midpoint error <= span/510 per dim; recall
    pinned >= 0.9 on isotropic data, the hardest case); exact rerank
    of a bounded candidate set restores the exact result entirely —
    the PQ two-stage contract without any UDF in either stage."""
    from mlb_data_pipeline_spark.operators.vector import sq8_knn_join

    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_join(emb, queries, "vec_id", "embedding", k=3)
    want = {(r.query_id, r.vec_id) for r in exact.collect()}

    plain = sq8_knn_join(emb, queries, "vec_id", "embedding", k=3, dim=64)
    got = {(r.query_id, r.vec_id) for r in plain.collect()}
    assert len(got & want) / len(want) >= 0.9, (len(got & want), len(want))

    full = sq8_knn_join(
        emb, queries, "vec_id", "embedding", k=3, dim=64,
        rerank=True, rerank_factor=(n + 2) // 3,
    )
    got_full = sorted((r.query_id, r.rank, r.vec_id) for r in full.collect())
    want_ranked = sorted((r.query_id, r.rank, r.vec_id) for r in exact.collect())
    assert got_full == want_ranked


def test_sq8_query_guard_raises(spark, emb):
    from mlb_data_pipeline_spark.operators.vector import sq8_knn_join

    with pytest.raises(ValueError, match="max_queries"):
        sq8_knn_join(emb, emb, "vec_id", "embedding", k=2, dim=64, max_queries=10)


def test_similarity_join_memory_budget_routes_to_sq8(spark, emb):
    """The middle memory rung: a budget below the float inverted file
    (rows*dim*4) but above the int8 codes (rows*dim) must route through
    IVF-SQ8 — structural check on the plan, plus full-probe +
    full-rerank == exact."""
    from mlb_data_pipeline_spark.operators.vector import similarity_join

    corpus = emb.select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    n = corpus.count()
    budget = n * 64 * 2  # between n*64 (sq8) and n*64*4 (float)

    routed = similarity_join(
        corpus, queries, "vec_id", "embedding", k=3,
        max_broadcast_queries=0, n_lists=4, n_probe=4,
        memory_budget_bytes=budget, pq_rerank=0,
    )
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "sq8" in plan and "pq_code" not in plan

    exact = knn_join(corpus, queries, "vec_id", "embedding", k=3)
    want = sorted((r.query_id, r.rank, r.vec_id) for r in exact.collect())
    got = similarity_join(
        corpus, queries, "vec_id", "embedding", k=3,
        max_broadcast_queries=0, n_lists=4, n_probe=4,
        memory_budget_bytes=budget, pq_rerank=n,
    )
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in got.collect()) == want


def test_sq8_store_roundtrip_append_replay(spark, emb, tmp_path):
    """§2.11 contract for the SQ8 store: probe-after-save == in-memory
    result, delta appends are id-guarded (replay is a no-op), and the
    probe plan reads CODES only — never the float corpus."""
    from mlb_data_pipeline_spark.operators.vector import (
        save_sq8_index,
        append_sq8_index,
        sq8_index_knn,
        sq8_knn_join,
    )

    path = str(tmp_path / "sq8store")
    corpus = emb.filter(F.col("vec_id") < 150).select("vec_id", "embedding")
    delta = emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 200)).select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding")

    save_sq8_index(corpus, "vec_id", "embedding", 64, path)
    got1 = sq8_index_knn(spark, path, queries, k=3)
    mem = sq8_knn_join(corpus, queries, "vec_id", "embedding", k=3, dim=64)
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in got1.collect()) == sorted(
        (r.query_id, r.rank, r.vec_id) for r in mem.collect()
    )

    append_sq8_index(delta, path)
    n_codes = spark.read.parquet(path + "/codes").count()
    assert n_codes == 200
    append_sq8_index(delta, path)  # replay: id guard makes it a no-op
    assert spark.read.parquet(path + "/codes").count() == n_codes

    # corpus side is the CODES scan only: the float table appears once
    # (the query side), never as the corpus input
    probe = sq8_index_knn(spark, path, queries.limit(1), k=3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # exactly ONE float-vector scan (the query side); the corpus enters
    # as the tinyint codes relation
    assert plan.count("array<float>") == 1, plan
    assert "array<tinyint>" in plan, plan


def test_sq8_refresh_reflects_changed_content(spark, emb, tmp_path):
    """Content-change contract (the r5-verdict store rule, applied to
    the SQ8 store): re-ingesting an id with CHANGED vector through
    refresh_sq8_index must make probes score the NEW vector; the
    append path alone would silently keep the stale codes. Unchanged
    replay through append stays a no-op."""
    from mlb_data_pipeline_spark.operators.vector import (
        append_sq8_index,
        refresh_sq8_index,
        save_sq8_index,
        sq8_index_knn,
    )

    path = str(tmp_path / "sq8r")
    corpus = emb.filter(F.col("vec_id") < 100).select("vec_id", "embedding")
    save_sq8_index(corpus, "vec_id", "embedding", 64, path)

    # make doc 50 a near-clone of doc 7's vector -> it must become 7's
    # top neighbor after refresh
    target = corpus.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    clone = [float(x) + 1e-4 for x in target]
    changed = spark.createDataFrame([(50, clone)], "vec_id BIGINT, embedding ARRAY<FLOAT>")

    append_sq8_index(changed, path)  # id guard: stale codes survive
    q7 = corpus.filter(F.col("vec_id") == 7)
    before = sq8_index_knn(spark, path, q7, k=1).collect()[0]

    refresh_sq8_index(changed, path)
    after = sq8_index_knn(spark, path, q7, k=1).collect()[0]
    assert after.neighbor_id == 50, (before.neighbor_id, after.neighbor_id)
    assert spark.read.parquet(path + "/codes").count() == 100  # still one row per id


def test_sq8_bounds_rejects_wrong_dim(spark, emb):
    """The dim guard rides the bounds aggregate itself (round 10 — no
    separate probe job), so a wrong dim raises in-plan when the 1-row
    frame materializes, naming the declared and observed sizes."""
    from mlb_data_pipeline_spark.operators.vector import sq8_bounds

    with pytest.raises(Exception, match="dim=32"):
        sq8_bounds(emb, "embedding", dim=32).first()

    # an EMPTY corpus raises with a diagnosable message, not a null
    # concat inside raise_error (ADVICE r10)
    with pytest.raises(Exception, match="empty corpus"):
        sq8_bounds(emb.limit(0), "embedding", dim=64).first()


def test_sq8_knn_join_supplied_bounds_skip_the_train_agg(spark, emb):
    """VERDICT r9 ask #5: persisted store bounds passed into
    sq8_knn_join must remove the per-call min/max train aggregate from
    the lineage (and its dim-check probe job) — the plan scores off the
    supplied 1-row frame. Results stay identical either way."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.vector import sq8_bounds, sq8_knn_join

    queries = emb.filter(F.col("vec_id") < 5)
    b = sq8_bounds(emb, "embedding", dim=64).localCheckpoint(eager=True)
    with_b = sq8_knn_join(emb, queries, "vec_id", "embedding", k=3, dim=64, bounds=b)
    plan = with_b._jdf.queryExecution().optimizedPlan().toString()
    # no min/max aggregate anywhere: the only aggregate-free exchange
    # left is the ranking window's
    assert "min(" not in plan and "max(" not in plan, plan[:2000]
    without = sq8_knn_join(emb, queries, "vec_id", "embedding", k=3, dim=64)
    assert sorted(map(tuple, with_b.collect())) == sorted(map(tuple, without.collect()))


def test_lsh_gather_tier_matches_join_tier_bitexact(spark, emb):
    # round 14: the broadcast-gather scoring tier (n_rows within the
    # budget) must emit the IDENTICAL (pair, sim) set as the unbounded
    # vector-join tier — the gather changes transport (2 longs/pair vs
    # 2 x dim floats) and dedupe placement (survivors vs candidates),
    # never values
    n = emb.count()
    join_tier = {
        (r.a_vec_id, r.b_vec_id, r.sim)
        for r in cosine_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.3, dim=64, n_planes=32, bands=8
        ).collect()
    }
    gather_tier = {
        (r.a_vec_id, r.b_vec_id, r.sim)
        for r in cosine_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.3, dim=64, n_planes=32, bands=8, n_rows=n
        ).collect()
    }
    assert gather_tier == join_tier


def test_sq8_fused_quantize_reconstruct_matches_split_path(spark, emb):
    # round 14: the fused encode->dequantize transform must reproduce
    # sq8_reconstruct(sq8_encode(x)) bit-for-bit (the int8 round-trip it
    # skips is lossless), including the degenerate hi == lo convention
    from mlb_data_pipeline_spark.operators.vector import (
        sq8_bounds,
        sq8_encode,
        sq8_quantize_reconstruct,
        sq8_reconstruct,
    )

    # append a constant dim so one dimension is degenerate (hi == lo)
    aug = emb.select(
        "vec_id", F.concat(F.col("embedding").cast("array<double>"), F.array(F.lit(7.5))).alias("embedding")
    )
    bounds = sq8_bounds(aug, "embedding", 65).localCheckpoint(eager=True)
    split = (
        sq8_encode(aug, "embedding", bounds)
        .crossJoin(F.broadcast(bounds))
        .select("vec_id", sq8_reconstruct("sq8").alias("recon"))
    )
    fused = (
        aug.crossJoin(F.broadcast(bounds))
        .select("vec_id", sq8_quantize_reconstruct("embedding").alias("recon"))
    )
    s = {(r.vec_id, tuple(r.recon)) for r in split.collect()}
    f = {(r.vec_id, tuple(r.recon)) for r in fused.collect()}
    assert s == f


def test_table_row_count_matches_scan_count(spark, sf_dir):
    from mlb_data_pipeline_spark.catalog import table_row_count

    for name in ("embeddings", "documents", "nation"):
        assert table_row_count(sf_dir, name) == load_table(spark, sf_dir, name).count()


def test_table_row_count_skips_hidden_entries(spark, tmp_path):
    # a committed Spark output dir: part files beside a _SUCCESS marker,
    # .crc checksums and a leftover _temporary/ attempt dir — counted
    # the way spark.read.parquet reads it, hidden entries skipped
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mlb_data_pipeline_spark.catalog import table_path, table_row_count

    path = table_path(str(tmp_path), "documents")
    os.makedirs(os.path.join(path, "_temporary", "0"))
    pq.write_table(pa.table({"x": list(range(7))}), os.path.join(path, "part-00000.snappy.parquet"))
    pq.write_table(pa.table({"x": list(range(5))}), os.path.join(path, "part-00001.snappy.parquet"))
    pq.write_table(pa.table({"x": list(range(99))}), os.path.join(path, "_temporary", "0", "part-00002.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    open(os.path.join(path, ".part-00000.snappy.parquet.crc"), "w").close()
    assert table_row_count(str(tmp_path), "documents") == 12
    assert spark.read.parquet(path).count() == 12

    # a visible subdirectory is a partitioned layout: still refused
    os.makedirs(os.path.join(path, "year=2020"))
    with pytest.raises(ValueError, match="subdirectories"):
        table_row_count(str(tmp_path), "documents")
