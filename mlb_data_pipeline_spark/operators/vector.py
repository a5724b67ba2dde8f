"""Vector similarity / dedup operators (SURVEY §2.5 V2-V5).

The reference's signature query surface: Chroma ``collection.query``
top-k retrieval (/root/reference/airflow/dags/mlb_pipeline/pipeline.py:104-110,
/root/reference/scripts/rag_pipeline.py:42-52) and id-keyed upsert dedup
(pipeline.py:58-77). Here vectors are a plain ``array<float>`` column and
every operator is a composition of Catalyst primitives — similarity math
runs JVM-side via ``functions.vector_math`` (zip_with + aggregate), no
Python in the hot path.

Scale tiers:

* ``knn_join`` — broadcast the (small) query set, stream the corpus,
  per-query top-k via window. At 100 TB the corpus side never shuffles
  for scoring; the only shuffle is the group-by-query ranking, bounded
  by |queries| * corpus partitions rows after the per-partition filter.
* ``cosine_pairs_exact`` — all-pairs self-join; correctness tier ONLY
  (quadratic). The scale path is ``cosine_pairs_lsh``: random-hyperplane
  signatures, banded bucket equi-join candidate generation, exact
  cosine re-check. Candidates are a bucket-join, never a cross join.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector_math import cosine, norm


def _prefix(df: DataFrame, prefix: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{prefix}{c}") for c in df.columns])


def dot_arrow():
    """Vectorized dot product as an Arrow pandas UDF (numpy matmul).

    The JVM-side ``zip_with``+``aggregate`` fold in vector_math is the
    bit-exact oracled tier, but Catalyst evaluates higher-order lambdas
    per ELEMENT — ~50-100x slower than a native kernel at millions of
    pairs. This is the scale tier: whole Arrow batches hit one einsum.
    Float64 pairwise summation differs from the sequential fold by
    ~1 ulp, so this never backs an oracled query.
    """
    @F.pandas_udf("double")
    def pdot(a: pd.Series, b: pd.Series) -> pd.Series:
        am = np.stack(a.to_numpy())
        bm = np.stack(b.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", am, bm))

    return pdot


def dot_arrow_seq():
    """Vectorized dot product with the EXACT sequential fold order of
    ``vector_math.dot`` (zip_with + aggregate: ((0 + x0*y0) + x1*y1)...)
    and of DuckDB's list_dot_product — bit-identical results, so this
    kernel may back ORACLED queries. The fold runs left-to-right over
    dimensions but vectorized across the whole Arrow batch of rows:
    same IEEE result, ~100x the throughput of the per-element lambda."""

    @F.pandas_udf("double")
    def pdot(a: pd.Series, b: pd.Series) -> pd.Series:
        am = np.stack(a.to_numpy()).astype("float64")
        bm = np.stack(b.to_numpy()).astype("float64")
        acc = np.zeros(am.shape[0], dtype="float64")
        for j in range(am.shape[1]):  # sequential over dims = exact fold order
            acc = acc + am[:, j] * bm[:, j]
        return pd.Series(acc)

    return pdot


def _gather_sim(base: DataFrame, id_col: str, vec_col: str, norm_col: str):
    """Pair scoring over a BROADCAST id->vector matrix: a pandas UDF
    ``(id_a, id_b) -> cosine sim`` that gathers both rows (and their
    precomputed JVM norms) from one executor-held float32 matrix instead
    of shipping both vectors per candidate pair through the Arrow
    boundary — AND instead of joining the norms back onto the pair
    stream (the norms ride the same broadcast, so the two per-side
    norm joins disappear from the plan).

    Same arithmetic as the join path to the bit: the matrix dtype is
    matched to what Arrow delivers for the column's element type
    (float32 for ``array<float>``, float64 for ``array<double>``), so
    the per-pair ``einsum`` sees the identical operands in the identical
    order; the norms are the JVM ``norm()`` doubles collected as-is and
    the division is the same IEEE ``dot / (na * nb)`` double op — only
    the TRANSPORT changes (2 longs per pair instead of 2 x dim floats
    plus two joined norm doubles, a ~dim*4x cut in Python-boundary
    bytes; the guide's §8 rule: move decisions on lightweight proxies,
    not payloads).

    Collects the (id, vector, norm) frame to the driver ONCE per call —
    the caller must size-guard (see ``cosine_pairs_lsh``'s ``n_rows``
    gate): this is the standard broadcast-side collect of a broadcast
    join, never legal on an unbounded corpus."""
    from pyspark.sql.types import DoubleType, FloatType

    pdf = base.select(id_col, vec_col, norm_col).toPandas()
    idx = pd.Index(pdf[id_col].to_numpy())
    mat = np.stack(pdf[vec_col].to_numpy())
    # match the dtype Arrow would deliver to the join-path UDF exactly:
    # float32 rows for array<float>, float64 for array<double> — the
    # einsum then sees bit-identical operands either way
    elem = base.schema[vec_col].dataType.elementType
    if isinstance(elem, FloatType):
        mat = mat.astype("float32", copy=False)
    elif isinstance(elem, DoubleType):
        mat = mat.astype("float64", copy=False)
    nrm = pdf[norm_col].to_numpy().astype("float64", copy=False)
    bc = base.sparkSession.sparkContext.broadcast((idx, mat, nrm))

    @F.pandas_udf("double")
    def gsim(a_ids: pd.Series, b_ids: pd.Series) -> pd.Series:
        gidx, gmat, gn = bc.value
        if len(a_ids) == 0:
            return pd.Series(np.zeros(0))
        ia = gidx.get_indexer(a_ids.to_numpy())
        ib = gidx.get_indexer(b_ids.to_numpy())
        # float32 einsum == the join path's dot_arrow on array<float>
        # operands; the float64 cast then the (na*nb)-first division
        # reproduce the JVM's `dot / (norm_a * norm_b)` bit-for-bit
        d = np.einsum("ij,ij->i", gmat[ia], gmat[ib]).astype("float64")
        return pd.Series(d / (gn[ia] * gn[ib]))

    return gsim


# gather-scoring budget: float32 matrix bytes broadcast to each Python
# worker. Default 64 MB; a cluster deploy sizes it to executor RAM via
# SPARK_GRAFT_LSH_GATHER_BYTES (docs/DEPLOY.md §0) — past the budget the
# candidate join ships vectors per pair (the unbounded-corpus plan).
_LSH_GATHER_BYTES = int(os.environ.get("SPARK_GRAFT_LSH_GATHER_BYTES", str(64 << 20)))


def _over_limit(df: DataFrame, id_col: str, cap: int) -> bool:
    """True when ``df`` has more than ``cap`` rows. The probe scans at
    most cap+1 rows of one column (limit-bounded count), so guarding a
    petabyte input costs a metadata-scale job, not a full scan."""
    return df.select(id_col).limit(cap + 1).count() > cap


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool = True,
    sim_col: str = "sim",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Exact batch k-NN join (V3): each query row -> its k cosine-nearest
    corpus rows. Reference shape: k results per query
    (scripts/rag_pipeline_2.py:46).

    Output columns: query_id, neighbor ids/cols, ``sim_col``, ``rank``.
    Deterministic tiebreak: (sim DESC, neighbor id ASC).

    Guarded: the query set is BROADCAST (each executor holds all of it,
    and the scored intermediate is |corpus| x |queries| rows), so a
    large query side must not silently run — it would OOM the broadcast
    and explode the scoring stage. Inputs with more than ``max_queries``
    query rows raise, pointing at ``ivf_knn_join`` /
    ``similarity_join``; the probe is limit-bounded (scans <=
    max_queries+1 ids, never the full query side). ``max_queries=None``
    skips the probe — ONLY for callers that have already size-checked
    the query side (``similarity_join`` routes here after its own
    probe; re-probing would double the job).

    Scoring runs through ``dot_arrow_seq`` — the Arrow kernel with the
    EXACT sequential fold order of the JVM ``cosine`` expression (and of
    the DuckDB oracle's list_dot_product), so results stay bit-identical
    while pair scoring vectorizes per Arrow batch instead of Catalyst's
    per-element lambda evaluation. Norms are one JVM fold per ROW (not
    per pair), in the same dot(a,a) order as ``cosine``.
    """
    if max_queries is not None and _over_limit(queries, id_col, max_queries):
        raise ValueError(
            f"knn_join broadcasts the query set: more than max_queries={max_queries} "
            "query rows would OOM the broadcast and quadratically inflate the scoring "
            "stage; use ivf_knn_join (bounded probe) or similarity_join (size-keyed "
            "planner) at scale"
        )
    q = _prefix(queries.select(id_col, vec_col), "q_").withColumn("__qn", norm(f"q_{vec_col}"))
    joined = corpus.withColumn("__cn", norm(vec_col)).join(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(f"q_{id_col}") != F.col(id_col))
    pdot = dot_arrow_seq()
    # same expression shape as cosine(): dot / (norm(q) * norm(c))
    scored = joined.withColumn(
        sim_col, pdot(f"q_{vec_col}", vec_col) / (F.col("__qn") * F.col("__cn"))
    ).drop("__qn", "__cn")
    w = Window.partitionBy(f"q_{id_col}").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop(f"q_{vec_col}")
        .withColumnRenamed(f"q_{id_col}", "query_id")
    )


def cosine_topk(corpus: DataFrame, query_vec, id_col: str, vec_col: str, k: int, sim_col: str = "sim") -> DataFrame:
    """Top-k rows of ``corpus`` most cosine-similar to one query vector
    (V2 — the reference's ``collection.query(n_results=k)``).

    Single narrow scan + score, then global top-k: Spark plans
    TakeOrderedAndProject, so no full sort and nothing but k rows ever
    reaches the driver side of the exchange.
    """
    scored = corpus.withColumn(sim_col, cosine(F.lit(query_vec).cast("array<double>"), vec_col))
    return scored.orderBy(F.col(sim_col).desc(), F.col(id_col).asc()).limit(k)


def cosine_pairs_exact(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, sim_col: str = "sim", max_rows: int = 20_000
) -> DataFrame:
    """All-pairs cosine >= threshold (V4 exact tier). Quadratic — valid
    for correctness checks and small partitions only; use
    ``cosine_pairs_lsh`` at scale.

    Guarded: refuses inputs above ``max_rows`` (the BNLJ self-join is
    O(n^2) — at cluster scale this operator must not silently run; the
    scale path is ``cosine_pairs_lsh`` / ``ivf_knn_join``). The guard
    costs one count of the id column only.

    Norms are precomputed per side (one JVM fold per ROW); each pair
    then costs one ``dot_arrow_seq`` kernel evaluation — same bit-exact
    fold order as the JVM expression, but vectorized per Arrow batch.
    """
    if _over_limit(df, id_col, max_rows):
        raise ValueError(
            f"cosine_pairs_exact is quadratic: input has more than max_rows={max_rows} "
            "rows; use cosine_pairs_lsh (banded candidates) or ivf_knn_join at scale"
        )
    a = _prefix(df.select(id_col, vec_col).withColumn("__norm", norm(vec_col)), "a_")
    b = _prefix(df.select(id_col, vec_col).withColumn("__norm", norm(vec_col)), "b_")
    pdot = dot_arrow_seq()
    pairs = (
        a.join(b, F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
        .withColumn(sim_col, pdot(f"a_{vec_col}", f"b_{vec_col}") / (F.col("a___norm") * F.col("b___norm")))
        .filter(F.col(sim_col) >= F.lit(threshold))
    )
    return pairs.select(F.col(f"a_{id_col}"), F.col(f"b_{id_col}"), F.col(sim_col))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes. Components are
    derived from sha256(seed, plane, coord) mapped to [-1, 1) — no RNG
    state, reproducible across sessions/partitions by construction."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.sha256(struct.pack(">III", seed, p, d)).digest()
            (u,) = struct.unpack(">Q", h[:8])
            row.append(u / 2**63 - 1.0)
        planes.append(row)
    return planes


def band_freq_cap(n_rows: int, per_band: int, factor: int = 8) -> int:
    """Default hot-bucket cap for LSH banding: ``factor`` x the expected
    uniform bucket size n / 2^per_band, floored at 64. A uniform corpus
    never trips it; a point-mass bucket — one band key collecting a
    large share of the corpus, the vector analogue of boilerplate text —
    is dropped before the pair join goes quadratic (see
    ``dedup.cap_hot_keys``: the pair count is the problem, not partition
    balance, so AQE cannot fix it). Capping only costs recall on the
    degenerate mass; precision is untouched (exact residual verify)."""
    return max(64, (factor * n_rows) >> per_band)


def _band_match_prob(p: float, b: int, probe_bits: int) -> float:
    """P(one b-bit band makes a pair a candidate) given per-plane
    agreement probability ``p``. Without probing that is an exact band
    match, p^b. With single-bit multi-probe BOTH rows also land in every
    1-flip bucket, so the pair collides iff their band keys differ in
    <= 2 bits: sum of the hamming-0/1/2 terms."""
    if not probe_bits:
        return p**b
    q = 1.0 - p
    return p**b + b * p ** (b - 1) * q + (b * (b - 1) / 2) * p ** (b - 2) * q * q


def lsh_params(
    n_rows: int,
    threshold: float,
    *,
    max_candidate_factor: float = 8.0,
    target_recall: float = 0.95,
) -> tuple[int, int, int]:
    """Auto operating-point selection for ``cosine_pairs_lsh``: pick
    (n_planes, bands, probe_bits) from the corpus size and similarity
    threshold, implementing the candidate-volume math documented on
    ``cosine_pairs_lsh`` (random pair collides in one b-bit band with
    prob ~2^-b, so expected candidates ~= bands * n^2 / 2^(b+1); the
    multi-probe variant multiplies by the hamming<=2 ball size).

    Selection rule — the number that matters at 100 TB is CANDIDATE
    VOLUME, so feasibility is a hard constraint and recall is the
    objective:

    * feasible = expected random-pair candidates <= max_candidate_factor
      * n_rows (linear in the corpus, the only shape that scales) AND
      band keys fit int32 (the shuffle-key contract);
    * among feasible points, reach ``target_recall`` at ``threshold``
      (per-plane agreement p = 1 - arccos(threshold)/pi) if any point
      can, preferring fewer planes (signature compute + banded-shuffle
      rows scale with n_planes), then fewer candidates;
    * if no feasible point reaches the target (huge n with a low
      threshold — semi-similarity territory), return the max-recall
      feasible point; ``ivf_knn_join`` is the documented alternative
      there.
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_rows < 2:
        return (16, 4, 0)
    p = 1.0 - math.acos(threshold) / math.pi
    bound = max_candidate_factor * n_rows
    n_pairs = n_rows * (n_rows - 1) / 2
    best = None
    for bands in (2, 4, 6, 8, 12, 16, 24, 32):
        for per_band in range(4, 31):
            if bands * (1 << per_band) > 2**31:  # int32 band-key contract
                continue
            for probe in (0, 1):
                exp_cand = bands * _band_match_prob(0.5, per_band, probe) * n_pairs
                if exp_cand > bound:
                    continue
                recall = 1.0 - (1.0 - _band_match_prob(p, per_band, probe)) ** bands
                # reach the target first; past it, cheaper beats higher
                key = (min(recall, target_recall), -bands * per_band, -exp_cand)
                if best is None or key > best[0]:
                    best = (key, (bands * per_band, bands, probe))
    if best is None:
        raise ValueError(
            f"no feasible LSH operating point for n_rows={n_rows} under "
            f"max_candidate_factor={max_candidate_factor}; use ivf_knn_join"
        )
    return best[1]


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    *,
    dim: int,
    n_planes: int | None = None,
    bands: int | None = None,
    sim_col: str = "sim",
    seed: int = 42,
    max_band_freq: int | None = None,
    probe_bits: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate near-dup pairs at scale: random-hyperplane LSH.

    ``dim`` (the embedding dimensionality) is REQUIRED: the hyperplane
    matrix is built driver-side before any job runs, and inferring the
    dimension would cost a silent ``first()`` driver action per call.
    Callers know their embedding schema; pass it.

    Candidate generation is OR-of-ANDs banding — each row emits one
    (band_idx, band_bits) key per band; candidates are a plain hash
    equi-join on that key (never a cross join), then the exact cosine
    residual filter keeps only true pairs. Result is a subset of
    ``cosine_pairs_exact`` (recall < 1 by design); precision is exact.

    Physical shape (the part that matters at 100 TB):
    * the banded self-join carries ONLY (id, band key) — vectors never
      enter the candidate shuffle;
    * vectors are L2-normalized once per row up front, so the residual
      check is a single dot-product fold per surviving pair (not
      dot + two norms);
    * candidate id-pairs are deduped before the vectors join back in.
    Shuffle volume: rows x bands tiny keys + |candidates| x dim floats.
    Skewed buckets (dense regions) are split by AQE skew-join; for
    pathologically dense regions (one band key collecting a large share
    of the corpus — the vector analogue of boilerplate text),
    ``max_band_freq`` drops over-full buckets before the pair join (see
    ``dedup.cap_hot_keys``: pair count is the problem, not partition
    balance). Tune recall with (n_planes, bands): more bands -> higher
    recall.

    ``probe_bits=1`` enables multi-probe: every row additionally lands
    in the ``per_band`` buckets one bit-flip away, so pairs within
    hamming <= 2 of a band key become candidates. Recall rises steeply
    (a near-dup pair only needs one band within 2 flipped bits instead
    of an exact match) at the cost of (1 + per_band)x banded rows and
    denser buckets — the standard knob when a corpus needs more recall
    than its (n_planes, bands) budget gives, WITHOUT adding bands
    (which would grow signature compute and shuffle keys instead).

    CHOOSING THE OPERATING POINT (the number that matters at 100 TB is
    candidate volume): a random pair collides in one b-bit band with
    probability ~2^-b, so expected candidates ~= bands * n^2 / 2^(b+1).
    * b = per_band = 4 (the q52 recall-measurement point): n^2/32-ish —
      acceptable for recall studies at bench scale, QUADRATIC in spirit;
      never ship this to a large corpus.
    * b >= 16 with probe_bits=1: candidates ~ 4n^2/2^16 (1000x fewer),
      while true near-dups (sim >= 0.95, where dedup thresholds live)
      keep ~0.98 recall — the scale configuration
      (n_planes=64, bands=4, probe_bits=1), pinned by
      tests/test_vector_ops.py::test_lsh_wide_band_scale_config...
    * thresholds much below ~0.7 are semi-similarity search, not
      near-dup — hyperplane banding cannot bound candidates there; use
      ``ivf_knn_join`` (probe-bounded) or the guarded exact tier.

    DEFAULTS route through ``lsh_params``: leave (n_planes, bands)
    unset and the operating point is chosen from the corpus size and
    threshold (candidate volume <= 8n, recall-maximizing). The size
    comes from ``n_rows`` if given, else one count of the input (for a
    parquet source that is a metadata-scale job). Explicit (n_planes,
    bands) — pass BOTH — bypasses the count entirely; ``probe_bits``
    then defaults to 0 unless set.
    """
    if probe_bits not in (None, 0, 1):
        raise ValueError("probe_bits supports 0 (off) or 1 (single-bit multi-probe)")
    if (n_planes is None) != (bands is None):
        raise ValueError("pass both n_planes and bands, or neither (auto via lsh_params)")
    if n_planes is None:
        n = n_rows if n_rows is not None else df.count()
        n_rows = n  # the resolved size also feeds the scoring-tier gate below
        n_planes, bands, auto_probe = lsh_params(n, threshold)
        if probe_bits is None:
            probe_bits = auto_probe
        if max_band_freq is None:
            # the auto route is the production default — it ships with
            # the skew guard on (explicit-params callers opt in). The
            # bucket count includes probe rows, so the expected uniform
            # occupancy is n * (1 + per_band * probe_bits) / 2^per_band.
            pb = n_planes // bands
            max_band_freq = band_freq_cap(n * (1 + pb * probe_bits), pb)
    if probe_bits is None:
        probe_bits = 0
    per_band = n_planes // bands
    if per_band < 1:
        raise ValueError(f"n_planes={n_planes} must be >= bands={bands}")
    # band keys are int32 by design (the candidate shuffle carries
    # (id, int32) only); the band-index prefix lives above the per_band
    # value bits, so the largest key is bands * 2^per_band - 1. Past
    # int32 the astype would WRAP silently, merging band keyspaces —
    # recall accounting degrades with no error (precision survives via
    # the exact residual). Refuse instead of widening to int64: the
    # 2x-smaller shuffle key is the point, and per_band >= 28 is far
    # beyond any useful operating point (see lsh_params).
    if bands * (1 << per_band) > 2**31:
        raise ValueError(
            f"band keys overflow int32: bands={bands} * 2^per_band (per_band={per_band}) "
            "exceeds 2^31; use more bands / fewer planes per band"
        )
    planes_mat = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf("array<int>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        # sign bits are scale-invariant — no normalization needed; one
        # matmul per Arrow batch, band index packed into the key int
        pm = np.asarray(planes_mat).T  # dim x n_planes
        v = np.stack(vecs.to_numpy()).astype("float64")
        bits = (v @ pm) >= 0  # n x n_planes
        weights = 1 << np.arange(per_band - 1, -1, -1)
        keys = []
        for i in range(bands):
            band_bits = bits[:, i * per_band : (i + 1) * per_band]
            keys.append((band_bits @ weights) + (i << per_band))
        out = np.stack(keys, axis=1)  # n x bands
        if probe_bits:
            # flips stay within the low per_band bits, so the band-index
            # prefix survives and probes never cross bands
            out = np.concatenate([out] + [out ^ (1 << j) for j in range(per_band)], axis=1)
        return pd.Series(list(out.astype("int32")))

    base = df.select(id_col, vec_col).withColumn("__n", norm(vec_col))
    sig = base.select(id_col, band_keys(F.col(vec_col)).alias("__keys"))
    banded = sig.select(id_col, F.explode("__keys").alias("__bk"))
    if max_band_freq is not None:
        from .dedup import cap_hot_keys

        banded = cap_hot_keys(banded, ["__bk"], max_band_freq)
    # lazy localCheckpoint: the banded key set feeds BOTH sides of the
    # candidate self-join — without it the signature UDF (scan + matmul
    # + explode + the cap's window) executes once per side (the plan
    # carried 12 ArrowEvalPython nodes for ONE logical signature pass).
    # The checkpoint materializes (id, int32 key) rows only — the
    # narrowest frame in the pipeline, rows x bands x (1 + per_band *
    # probe_bits) — so at cluster scale this is the moral equivalent of
    # persisting the banding pass, which every published LSH pipeline
    # does before the bucket join.
    banded = banded.localCheckpoint(eager=False)
    cand = (
        banded.select(F.col(id_col).alias("id_a"), "__bk")
        .join(banded.select(F.col(id_col).alias("id_b"), "__bk"), "__bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # Residual scoring. The candidate set is the large side here (a 4-bit
    # recall-study point yields ~n^2/4 candidates), so shipping BOTH full
    # vectors per pair through the Arrow boundary dominates the wall.
    # When the corpus provably fits the gather budget (caller passed
    # n_rows), score via a broadcast id->matrix gather instead: the pair
    # stream carries 2 longs only (norms ride the broadcast), a ~dim*4x
    # cut in boundary and join bytes with bit-identical float32 einsum
    # arithmetic — and scoring runs on the RAW band matches so the
    # dedupe aggregate moves from the full candidate volume down to the
    # threshold survivors (sim is a pure function of the pair, so
    # distinct-after-score keeps the same set). Past the budget (or with
    # no n_rows bound) the vector join below is the scale plan —
    # candidates there are bounded by lsh_params (<= 8n), not quadratic,
    # and distinct-first stays right because every extra pair costs
    # 2 x dim floats through the join.
    if n_rows is not None and n_rows * dim * 4 <= _LSH_GATHER_BYTES:
        gsim = _gather_sim(base, id_col, vec_col, "__n")
        return (
            cand.withColumn(sim_col, gsim(F.col("id_a"), F.col("id_b")))
            .filter(F.col(sim_col) >= F.lit(threshold))
            .distinct()
            .select(F.col("id_a").alias(f"a_{id_col}"), F.col("id_b").alias(f"b_{id_col}"), F.col(sim_col))
        )
    cand = cand.distinct()
    va = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__n").alias("__na"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"))
    pdot = dot_arrow()
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(sim_col, pdot("__va", "__vb") / (F.col("__na") * F.col("__nb")))
        .filter(F.col(sim_col) >= F.lit(threshold))
        .select(F.col("id_a").alias(f"a_{id_col}"), F.col("id_b").alias(f"b_{id_col}"), F.col(sim_col))
    )


def context_assembly(ranked: DataFrame, text_col: str, rank_col: str = "rank", sep: str = "\n\n") -> DataFrame:
    """V5: top-k retrieved docs -> one context string in rank order
    (reference "\\n\\n".join(docs), pipeline.py:110). Returns a 1-row
    DataFrame (context, n_docs)."""
    return ranked.agg(
        F.array_join(F.array_sort(F.collect_list(F.struct(F.col(rank_col), F.col(text_col)))).getField(text_col), sep).alias(
            "context"
        ),
        F.count("*").alias("n_docs"),
    )


def train_ivf_centroids(corpus: DataFrame, vec_col: str, n_lists: int, seed: int = 42) -> list[list[float]]:
    """Train the IVF coarse quantizer (MLlib KMeans, fixed seed) and
    return the centroid matrix as plain floats. The model is tiny
    (n_lists x dim) — persist/reuse it across probe calls; a production
    deployment trains once per corpus version, not per query."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    km = KMeans(k=n_lists, seed=seed, maxIter=10).fit(train)
    return [list(map(float, c)) for c in km.clusterCenters()]


class IvfIndex:
    """A trained IVF index: the tiny centroid matrix plus the inverted
    file (corpus rows with their list assignment). Mirrors the
    reference's persistent vector collection
    (airflow/dags/mlb_pipeline/pipeline.py:51-56 — the Chroma store
    survives across runs): at 100 TB, re-training the quantizer and
    re-assigning the corpus per session is the dominant cost, so both
    persist to parquet and reload as a scan.

    ``assignments`` carries (id, vec, __list) — the inverted file IS a
    copy of the corpus vectors keyed by list, the standard IVF layout;
    probing reads only the probed lists' rows."""

    def __init__(self, centroids: list[list[float]], assignments: DataFrame, id_col: str, vec_col: str):
        self.centroids = centroids
        self.assignments = assignments
        self.id_col = id_col
        self.vec_col = vec_col


def _nearest_list_udf(cents):
    @F.pandas_udf("int")
    def nearest_list(vs: pd.Series) -> pd.Series:
        cm = np.asarray(cents)  # n_lists x dim
        v = np.stack(vs.to_numpy()).astype("float64")
        d = ((v[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return nearest_list


def build_ivf_index(
    corpus: DataFrame, id_col: str, vec_col: str, n_lists: int = 16, seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> IvfIndex:
    """Train (or accept) centroids and assign every corpus row to its
    nearest list — one narrow pass with broadcast centroids."""
    cents = centroids if centroids is not None else train_ivf_centroids(corpus, vec_col, n_lists, seed)
    assigned = corpus.select(id_col, vec_col).withColumn("__list", _nearest_list_udf(cents)(F.col(vec_col)))
    return IvfIndex(cents, assigned, id_col, vec_col)


def save_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist the index: centroids + meta as tiny parquet tables, the
    inverted file partitioned by list id (so a probe of n_probe lists
    prunes to n_probe/n_lists of the files)."""
    spark = index.assignments.sparkSession
    base = path.rstrip("/")
    spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(index.centroids)], "list_id INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(base + "/centroids")
    spark.createDataFrame(
        [(index.id_col, index.vec_col)], "id_col STRING, vec_col STRING"
    ).coalesce(1).write.mode("overwrite").parquet(base + "/meta")
    index.assignments.write.mode("overwrite").partitionBy("__list").parquet(base + "/assignments")


def append_ivf_index(new_rows: DataFrame, path: str) -> None:
    """Daily-cadence index maintenance: assign NEW vectors with the
    persisted centroids and append them to the inverted file — no
    retraining, no re-assignment of the existing corpus (the vector
    analogue of ``dedup.append_signature_store``; reference shape:
    incremental adds to the persistent collection,
    scrape_store_embed.py:69-79). Append-only with an id guard
    (left-anti on the inverted file's pruned id column), so re-running
    the same delta is a no-op. The centroids drift as the corpus grows —
    a deployment retrains per corpus VERSION (``build_ivf_index``), not
    per delta; recall between retrains degrades gracefully because
    probing still ranks exactly within the probed lists."""
    spark = new_rows.sparkSession
    base = path.rstrip("/")
    idx = load_ivf_index(spark, base)
    existing_ids = idx.assignments.select(idx.id_col)
    fresh = new_rows.select(idx.id_col, idx.vec_col).join(existing_ids, on=idx.id_col, how="left_anti")
    fresh.withColumn("__list", _nearest_list_udf(idx.centroids)(F.col(idx.vec_col))).write.mode(
        "append"
    ).partitionBy("__list").parquet(base + "/assignments")


def refresh_ivf_index(changed_rows: DataFrame, path: str) -> None:
    """Keyed content-change upsert for the persisted IVF index
    (reference delete-then-add, scrape_store_embed.py:79): purge the
    changed ids from the inverted file (partition-aware — the filtered
    rewrite preserves the ``__list`` layout) and re-append their new
    vectors through the normal append path, which re-assigns them to
    their (possibly different) nearest lists under the SAME persisted
    centroids. After a refresh, probes rank the NEW vectors; the
    append-only id guard alone would have silently kept the stale
    ones. O(store) I/O by nature (content-change cadence); unchanged-id
    replays should keep using ``append_ivf_index``."""
    from ..sources.writers import delete_keys_partitioned

    spark = changed_rows.sparkSession
    base = path.rstrip("/")
    idx = load_ivf_index(spark, base)
    delete_keys_partitioned(
        spark, base + "/assignments", changed_rows.select(idx.id_col), idx.id_col, "__list", -1
    )
    append_ivf_index(changed_rows, base)


def load_ivf_index(spark, path: str) -> IvfIndex:
    """Reload a persisted index. Centroids collect to the driver (tiny:
    n_lists x dim floats — they ship to executors as literals, exactly
    as a freshly-trained quantizer would); the inverted file stays a
    lazy parquet scan."""
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    cents = [
        list(r.centroid)
        for r in sorted(spark.read.parquet(base + "/centroids").collect(), key=lambda r: r.list_id)
    ]
    assignments = spark.read.parquet(base + "/assignments")
    return IvfIndex(cents, assignments, meta.id_col, meta.vec_col)


def ivf_knn_join(
    corpus: DataFrame | None,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    sim_col: str = "sim",
    centroids: list[list[float]] | None = None,
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate k-NN join — the coarse-quantizer
    scale path next to ``cosine_pairs_lsh``.

    Train KMeans centroids (MLlib, fixed seed) on the corpus, assign
    every corpus row to its nearest list, then for each query probe only
    the ``n_probe`` nearest lists and exact-re-rank inside them. With
    ``n_probe == n_lists`` this degrades gracefully to exact brute force
    (the pytest invariant).

    100 TB shape: assignment is a narrow pass with broadcast centroids;
    the probe is an equi-join on (query_id x probed list) vs corpus list
    id — candidate volume is |corpus| * n_probe / n_lists per query,
    never the full corpus. Centroid training samples the corpus; the
    model is tiny (n_lists x dim) and ships as literals. Pass
    ``centroids`` (from ``train_ivf_centroids``) to reuse a trained
    quantizer across calls instead of re-fitting per invocation, or
    ``index`` (from ``build_ivf_index`` / ``load_ivf_index``) to skip
    BOTH KMeans and the corpus assignment pass — the persisted-index
    route a deployment runs daily (``corpus`` is then ignored and may
    be None).
    """
    if index is not None:
        cents = index.centroids
        assigned = index.assignments
        n_lists = len(cents)
    else:
        if corpus is None:
            raise ValueError("ivf_knn_join needs either a corpus or a prebuilt index")
        cents = centroids if centroids is not None else train_ivf_centroids(corpus, vec_col, n_lists, seed)
        assigned = corpus.select(id_col, vec_col).withColumn(
            "__list", _nearest_list_udf(cents)(F.col(vec_col))
        )

    @F.pandas_udf("array<int>")
    def probe_lists(vs: pd.Series) -> pd.Series:
        cm = np.asarray(cents)
        v = np.stack(vs.to_numpy()).astype("float64")
        d = ((v[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    # norms once per ROW (query pre-explode, corpus pre-join), never per
    # candidate pair — the knn_join __qn/__cn shape; same fold, same
    # (qn*cn)-first IEEE division, bit-identical scores
    probed = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .withColumn("__qn", norm("__qv"))
        .withColumn("__list", F.explode(probe_lists(F.col("__qv"))))
    )
    pdot = dot_arrow()
    cand = probed.join(assigned.withColumn("__cn", norm(vec_col)), "__list").filter(
        F.col("query_id") != F.col(id_col)
    )
    scored = cand.withColumn(
        sim_col,
        pdot("__qv", vec_col) / (F.col("__qn") * F.col("__cn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bounded ANN tier
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    m_subvectors: int = 8,
    n_codes: int = 256,
    sample_rows: int = 20_000,
    n_iter: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split each vector into ``m_subvectors``
    contiguous sub-vectors and learn ``n_codes`` k-means centroids per
    subspace (Lloyd's, fixed iterations, seeded — deterministic). The
    corpus is SAMPLED to the driver for training (codebook fitting needs
    thousands of rows, not the corpus; the model is m x k x dsub floats,
    a few hundred KB). Encoded vectors cost m bytes instead of
    4*dim — 32x compression at dim=64/m=8, the difference between an
    inverted file that fits executor memory at 100 TB and one that
    doesn't."""
    rows = corpus.select(vec_col).limit(sample_rows).collect()
    x = np.asarray([list(r[0]) for r in rows], dtype="float64")
    dim = x.shape[1]
    if dim % m_subvectors:
        raise ValueError(f"dim={dim} not divisible by m_subvectors={m_subvectors}")
    dsub = dim // m_subvectors
    rng = np.random.RandomState(seed)
    books = []
    for mi in range(m_subvectors):
        sub = x[:, mi * dsub : (mi + 1) * dsub]
        k = min(n_codes, len(sub))
        cents = sub[rng.choice(len(sub), size=k, replace=False)].copy()
        for _ in range(n_iter):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    cents[ci] = sub[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def save_pq_codebooks(spark, codebooks, path: str) -> None:
    """Persist PQ codebooks as one tiny parquet table
    (subspace, code, centroid) — per-corpus-version state, exactly like
    the IVF centroids; retrain on corpus re-version, never per session."""
    rows = [
        (mi, ci, [float(v) for v in cent])
        for mi, book in enumerate(codebooks)
        for ci, cent in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace INT, code INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark, path: str) -> list[list[list[float]]]:
    rows = spark.read.parquet(path).collect()
    m = max(r.subspace for r in rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(rows, key=lambda r: (r.subspace, r.code)):
        books[r.subspace].append(list(r.centroid))
    return books


def pq_encode(df: DataFrame, vec_col: str, codebooks, code_col: str = "pq_code") -> DataFrame:
    """Encode vectors to PQ codes (array<int>, one code per subspace) —
    a narrow Arrow pass with the codebooks shipped as literals."""
    cb = [np.asarray(b, dtype="float64") for b in codebooks]
    dsub = cb[0].shape[1]

    @F.pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        v = np.stack(vs.to_numpy()).astype("float64")
        codes = np.empty((v.shape[0], len(cb)), dtype="int32")
        for mi, book in enumerate(cb):
            sub = v[:, mi * dsub : (mi + 1) * dsub]
            d = ((sub[:, None, :] - book[None, :, :]) ** 2).sum(axis=2)
            codes[:, mi] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(code_col, enc(F.col(vec_col)))


def _adc_udf(cb: list, dsub: int):
    """ADC scoring kernel: per Arrow batch, build one m x n_codes
    sub-dot-product lookup table per DISTINCT query (queries repeat
    across the candidate join — cached by the vector's bytes) and score
    each candidate as m table lookups."""

    @F.pandas_udf("double")
    def adc(qvs: pd.Series, codes: pd.Series) -> pd.Series:
        qv = np.stack(qvs.to_numpy()).astype("float64")
        cd = np.stack(codes.to_numpy()).astype("int64")
        out = np.empty(len(qv))
        luts: dict[bytes, np.ndarray] = {}
        for i in range(len(qv)):
            key = qv[i].tobytes()
            lut = luts.get(key)
            if lut is None:
                lut = np.stack(
                    [qv[i, mi * dsub : (mi + 1) * dsub] @ cb[mi].T for mi in range(len(cb))]
                )  # m x n_codes of sub dot products
                luts[key] = lut
            out[i] = lut[np.arange(len(cb)), cd[i]].sum()
        return pd.Series(out)

    return adc


def pq_knn_join(
    corpus_codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    codebooks,
    code_col: str = "pq_code",
    rerank: int = 0,
    corpus_vectors: DataFrame | None = None,
    sim_col: str = "sim",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Asymmetric-distance (ADC) k-NN over PQ codes: each query builds
    an m x n_codes lookup table of sub-dot-products against the
    codebooks; a candidate's approximate dot product is m table lookups
    — no float vector ever leaves the (compressed) inverted file.

    Guarded like ``knn_join``: the query set broadcasts and the ADC
    stage scores |corpus| x |queries| candidates, so an oversized query
    side raises (limit-bounded probe) and points at ``ivf_pq_knn_join``
    — the probe-bounded composition — instead.

    ``rerank > 0`` re-scores the top ``rerank`` ADC candidates per
    query with EXACT cosine against ``corpus_vectors`` (id, vec) — the
    standard two-stage shape: ADC recalls a shortlist from codes,
    exact math fixes the order. Returns (query_id, neighbor_id,
    sim, rank); sim is the ADC approximation unless reranked."""
    if max_queries is not None and _over_limit(queries, id_col, max_queries):
        raise ValueError(
            f"pq_knn_join broadcasts the query set and ADC-scores |corpus| x |queries| "
            f"candidates: more than max_queries={max_queries} query rows; use "
            "ivf_pq_knn_join (probe-bounded) for corpus-scale query sets"
        )
    cb = [np.asarray(b, dtype="float64") for b in codebooks]
    dsub = cb[0].shape[1]
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    joined = corpus_codes.select(id_col, code_col).join(F.broadcast(q))
    joined = joined.filter(F.col("query_id") != F.col(id_col))
    scored = joined.withColumn(sim_col, _adc_udf(cb, dsub)("__qv", code_col))
    w = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
    shortlist_n = max(k, rerank)
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_n)
    )
    if rerank and corpus_vectors is not None:
        cv = corpus_vectors.select(F.col(id_col), F.col(vec_col).alias("__cv"))
        pdot = dot_arrow()
        rescored = (
            shortlist.drop(sim_col, "rank", code_col)
            .join(cv, id_col)
            .withColumn(sim_col, pdot("__qv", "__cv") / (norm("__qv") * norm("__cv")))
        )
        w2 = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
        return (
            rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank")
        )
    return shortlist.filter(F.col("rank") <= k).select(
        "query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank"
    )


def ivf_pq_knn_join(
    index: IvfIndex,
    queries: DataFrame,
    k: int,
    codebooks,
    n_probe: int = 4,
    rerank: int = 0,
    sim_col: str = "sim",
) -> DataFrame:
    """The composed 100 TB configuration (FAISS-style IVF-PQ): probe
    ``n_probe`` lists through the index centroids, ADC-score ONLY the
    probed lists' PQ codes, optionally exact-rerank the shortlist
    against the index's vectors. Candidate volume is
    |corpus| * n_probe / n_lists per query AND each candidate costs m
    byte-lookups instead of a dim-float dot — the probe bounds work,
    PQ bounds memory; both approximations stack, which is why the
    rerank stage is the default deployment shape (``rerank=10*k`` is a
    standard choice).

    Returns (query_id, neighbor_id, sim, rank); ``sim`` is the exact
    cosine when reranked, the ADC dot approximation otherwise."""
    cb = [np.asarray(b, dtype="float64") for b in codebooks]
    dsub = cb[0].shape[1]
    id_col, vec_col = index.id_col, index.vec_col
    cents = index.centroids
    n_probe_eff = min(n_probe, len(cents))

    @F.pandas_udf("array<int>")
    def probe_lists(vs: pd.Series) -> pd.Series:
        cm = np.asarray(cents)
        v = np.stack(vs.to_numpy()).astype("float64")
        d = ((v[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(list(np.argsort(d, axis=1)[:, :n_probe_eff].astype("int32")))

    codes = pq_encode(index.assignments, vec_col, cb).select(id_col, "__list", "pq_code")
    probed = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .withColumn("__list", F.explode(probe_lists(F.col("__qv"))))
    )
    cand = probed.join(codes, "__list").filter(F.col("query_id") != F.col(id_col))
    scored = cand.withColumn(sim_col, _adc_udf(cb, dsub)("__qv", "pq_code"))
    w = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max(k, rerank))
    )
    if rerank:
        cv = index.assignments.select(F.col(id_col), F.col(vec_col).alias("__cv"))
        pdot = dot_arrow()
        rescored = (
            shortlist.drop(sim_col, "rank", "pq_code", "__list")
            .join(cv, id_col)
            .withColumn(sim_col, pdot("__qv", "__cv") / (norm("__qv") * norm("__cv")))
        )
        w2 = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
        return (
            rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank")
        )
    return shortlist.filter(F.col("rank") <= k).select(
        "query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank"
    )


def similarity_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    max_broadcast_queries: int = 10_000,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    sim_col: str = "sim",
    centroids: list[list[float]] | None = None,
    index: IvfIndex | None = None,
    memory_budget_bytes: int | None = None,
    pq_m: int = 8,
    pq_rerank: int | None = None,
    sq8_bounds_df: DataFrame | None = None,
) -> DataFrame:
    """Size-keyed similarity planner (SURVEY §4.2): the library-level
    physical-strategy choice between the exact broadcast k-NN join, the
    IVF coarse-quantized join, and the IVF-PQ memory tier — decided by
    the QUERY-SET size and (optionally) a per-executor memory budget
    for the inverted file.

    * <= ``max_broadcast_queries`` query rows -> ``knn_join``: broadcast
      the query set, exact scores, zero recall loss. The right plan for
      interactive retrieval (the reference's ``collection.query``,
      pipeline.py:104-110: one query, k=3).
    * more -> ``ivf_knn_join``: broadcast only the tiny centroid matrix,
      probe ``n_probe``/``n_lists`` of the corpus per query — candidate
      volume |corpus| * n_probe / n_lists, approximate recall. The right
      plan for corpus-vs-corpus joins at 100 TB.
    * more AND ``memory_budget_bytes`` set AND the float inverted file
      (~ rows x dim x 4 bytes) exceeds it -> the compressed tiers, in
      fidelity order (round 9): if the SQ8 codes (rows x dim BYTES, 4x
      smaller) fit the budget -> ``ivf_sq8_knn_join`` — near-exact
      codegen-only scoring, small default rerank; only if even int8
      codes blow the budget -> ``ivf_pq_knn_join`` (32x at dim=64/m=8,
      ADC UDF scoring) with an exact rerank of the shortlist
      (``pq_rerank``, default 10*k — the standard FAISS deployment
      shape), so precision at k survives the compression.

    The decision probes are limit/metadata-bounded: the query-side
    probe scans <= cap+1 ids, the corpus-side size estimate is a count
    (parquet footer metadata on a persisted index) plus one first-row
    dim sample — mirroring how AQE keys physical strategy on runtime
    sizes. Output schema is identical on all routes:
    (query_id, neighbor_id, sim, rank).
    """
    # cap <= 0 pins the IVF route outright (batch deployments) — no
    # probe job; otherwise probe ONCE and hand knn_join max_queries=None
    # so the guard doesn't re-run the identical count
    if max_broadcast_queries <= 0 or _over_limit(queries, id_col, max_broadcast_queries):
        if memory_budget_bytes is not None:
            idx = index
            if idx is None:
                idx = build_ivf_index(
                    corpus.select(id_col, vec_col), id_col, vec_col, n_lists, seed,
                    centroids=centroids,
                )
            first = idx.assignments.select(idx.vec_col).first()
            dim = len(first[0]) if first is not None else 0
            n_rows = idx.assignments.count()
            inverted_file_bytes = n_rows * dim * 4
            if inverted_file_bytes > memory_budget_bytes:
                if n_rows * dim <= memory_budget_bytes:
                    # SQ8 rung: int8 codes fit — near-exact, per-row
                    # dequantize + Arrow dot scoring. Persisted store
                    # bounds (``sq8_bounds_df``) skip the train agg —
                    # without them the rung pays one min/max pass here.
                    return ivf_sq8_knn_join(
                        idx, queries, k, dim=dim, n_probe=n_probe,
                        rerank=(pq_rerank if pq_rerank is not None else 2 * k),
                        sim_col=sim_col, bounds=sq8_bounds_df,
                    )
                codebooks = train_pq_codebooks(
                    idx.assignments, idx.vec_col, m_subvectors=pq_m, seed=seed
                )
                return ivf_pq_knn_join(
                    idx, queries, k, codebooks, n_probe=n_probe,
                    rerank=(pq_rerank if pq_rerank is not None else 10 * k),
                    sim_col=sim_col,
                )
            index = idx  # reuse the built index on the plain IVF route
        return ivf_knn_join(
            corpus, queries, id_col, vec_col, k,
            n_lists=n_lists, n_probe=n_probe, seed=seed, sim_col=sim_col,
            centroids=centroids, index=index,
        )
    return knn_join(
        corpus, queries, id_col, vec_col, k, sim_col=sim_col, max_queries=None
    ).select("query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank")


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster-bucketed embedding near-dup.
#
# Published approach (Abbas et al. 2023, "SemDeDup: Data-efficient
# learning at web-scale through semantic deduplication"): k-means
# cluster the embeddings, compute pairwise cosine WITHIN each cluster
# only, and drop all but one member of every semantic-duplicate group.
# Where MinHash/SimHash catch lexical duplication and cosine-LSH catches
# directional near-identity, semantic dedup targets paraphrase-level
# redundancy at a lower threshold (~0.95 of normalized embeddings in
# the paper) — thresholds where hyperplane banding can no longer bound
# candidates but cluster-locality still can.
# ---------------------------------------------------------------------------


def semdedup_pairs(
    df: DataFrame | None,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    n_lists: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    index: "IvfIndex | None" = None,
    n_rows: int | None = None,
    max_cluster_freq: int | None = None,
    sim_col: str = "sim",
) -> DataFrame:
    """Within-cluster cosine pairs >= threshold over a k-means
    clustering of the embeddings (the SemDeDup candidate structure).

    100 TB shape: assignment is one narrow pass with broadcast
    centroids (or comes free from a persisted/loaded ``IvfIndex``);
    candidates are a SELF-EQUI-JOIN ON THE CLUSTER ID — expected volume
    sum(c_i^2)/2 ~ n^2 / (2 * n_lists) for balanced clusters, so
    ``n_lists`` must scale with the corpus (the paper uses tens of
    thousands of clusters at web scale). Cluster skew is the same
    failure mode as hot LSH bands: pass ``n_rows`` to cap clusters at
    8x the balanced size (or set ``max_cluster_freq`` explicitly) —
    over-full clusters are dense semantic blobs whose pair lists
    explode; dropping them trades recall only on that degenerate mass,
    and precision is exact everywhere (every candidate is verified with
    the bit-exact sequential-fold kernel).

    Pairs cannot duplicate across clusters (each row belongs to exactly
    one list), and pairs whose members land in DIFFERENT clusters are
    missed — that is the approximation; recall is measured in
    tests/test_vector_ops.py against the exact quadratic tier.
    """
    idx = index
    if idx is None:
        if df is None:
            raise ValueError("pass df or index")
        if n_lists == 1 and centroids is None:
            # degenerate single cluster (the exact-equivalence tier):
            # no quantizer to train — MLlib KMeans requires k > 1
            assigned = df.select(id_col, vec_col).withColumn("__list", F.lit(0))
            n_clusters = 1
        else:
            idx = build_ivf_index(
                df.select(id_col, vec_col), id_col, vec_col, n_lists, seed,
                centroids=centroids,
            )
    if idx is not None:
        assigned = idx.assignments
        id_col, vec_col = idx.id_col, idx.vec_col
        n_clusters = len(idx.centroids)
    if max_cluster_freq is None and n_rows is not None:
        max_cluster_freq = max(64, 8 * n_rows // max(1, n_clusters))
    if max_cluster_freq is not None:
        from .dedup import cap_hot_keys

        assigned = cap_hot_keys(assigned, ["__list"], max_cluster_freq)
    assigned = assigned.withColumn("__norm", norm(vec_col))
    a = _prefix(assigned, "a_")
    b = _prefix(assigned, "b_")
    pdot = dot_arrow_seq()
    return (
        a.join(
            b,
            (F.col("a___list") == F.col("b___list"))
            & (F.col(f"a_{id_col}") < F.col(f"b_{id_col}")),
        )
        .withColumn(
            sim_col,
            pdot(f"a_{vec_col}", f"b_{vec_col}")
            / (F.col("a___norm") * F.col("b___norm")),
        )
        .filter(F.col(sim_col) >= F.lit(threshold))
        .select(F.col(f"a_{id_col}"), F.col(f"b_{id_col}"), F.col(sim_col))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    n_lists: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    index: "IvfIndex | None" = None,
    n_rows: int | None = None,
    max_cluster_freq: int | None = None,
) -> DataFrame:
    """The keep-side of SemDeDup: connected components over the
    within-cluster pair graph (paraphrase similarity is not transitive
    — a~b~c must collapse even when a~c was never emitted), keep the
    minimum id per component, return the kept rows of ``df`` via a
    single anti-join. Deterministic: same corpus, same kept set."""
    from .dedup import connected_components

    if index is not None:
        # the pair columns are named after the INDEX's id column (same
        # rule as bm25_topk): adopt it so the component extraction and
        # the final anti-join resolve — ``df`` must carry that column
        id_col, vec_col = index.id_col, index.vec_col
    pairs = semdedup_pairs(
        df, id_col, vec_col, threshold=threshold, n_lists=n_lists, seed=seed,
        centroids=centroids, index=index, n_rows=n_rows,
        max_cluster_freq=max_cluster_freq,
    )
    comp = connected_components(pairs, f"a_{id_col}", f"b_{id_col}")
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def semantic_contamination(
    corpus: DataFrame | None,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    *,
    threshold: float,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    index: "IvfIndex | None" = None,
    sim_col: str = "sim",
) -> DataFrame:
    """Cross-corpus SEMANTIC contamination scan: corpus documents whose
    embedding sits within cosine ``threshold`` of any benchmark item —
    the paraphrase tier the exact-span scan (dedup.contamination_scan)
    and the winnowing store cannot see, because a reworded eval question
    shares no 8-gram with its source. Complements them the way SemDeDup
    complements MinHash.

    Same candidate structure as ``ivf_knn_join``: corpus rows sit in
    their IVF list (or come free from a persisted/loaded index — the
    daily-cadence route, where the benchmark suite is re-screened
    against a 100 TB corpus without re-clustering it); each benchmark
    vector probes its ``n_probe`` nearest lists; candidates are the
    (probed list = corpus list) equi-join, |corpus| * n_probe / n_lists
    per benchmark item, never the full cross product. Every candidate
    is verified with an exact cosine, so precision is exact; recall is
    bounded by probe locality and measured in tests against the
    brute-force tier (``n_probe == n_lists`` IS brute force — the
    pytest invariant). The benchmark side is eval-suite sized: its
    probe fan-out (|benchmark| * n_probe rows) broadcasts.

    Returns one row per contaminated (corpus doc, benchmark item) pair:
    (id_col, bench_id, sim), sim >= threshold. Feed the distinct
    id_col set to a left_anti join to decontaminate."""
    if index is not None:
        cents = index.centroids
        assigned = index.assignments
        id_col, vec_col = index.id_col, index.vec_col
        n_lists = len(cents)
    else:
        if corpus is None:
            raise ValueError("semantic_contamination needs a corpus or a prebuilt index")
        cents = centroids if centroids is not None else train_ivf_centroids(
            corpus, vec_col, n_lists, seed
        )
        assigned = corpus.select(id_col, vec_col).withColumn(
            "__list", _nearest_list_udf(cents)(F.col(vec_col))
        )
    n_probe = min(n_probe, n_lists)

    @F.pandas_udf("array<int>")
    def probe_lists(vs: pd.Series) -> pd.Series:
        cm = np.asarray(cents)
        v = np.stack(vs.to_numpy()).astype("float64")
        d = ((v[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    # norms once per ROW (bench pre-explode, corpus pre-join), never per
    # candidate pair — same fold and division order, bit-identical scores
    probed = (
        benchmark.select(F.col(id_col).alias("bench_id"), F.col(vec_col).alias("__bv"))
        .withColumn("__bn", norm("__bv"))
        .withColumn("__list", F.explode(probe_lists(F.col("__bv"))))
    )
    pdot = dot_arrow()
    cand = F.broadcast(probed).join(assigned.withColumn("__cn", norm(vec_col)), "__list")
    return (
        cand.withColumn(sim_col, pdot("__bv", vec_col) / (F.col("__bn") * F.col("__cn")))
        .filter(F.col(sim_col) >= threshold)
        .select(id_col, "bench_id", sim_col)
    )


def ivf_params(n_rows: int, *, target_candidates_per_query: int | None = None, n_probe: int = 4) -> int:
    """Auto operating point for the IVF family (the coarse-quantizer
    analogue of ``lsh_params``): pick ``n_lists``.

    The probe cost per query is |corpus| * n_probe / n_lists and the
    assignment/training cost grows with n_lists, so the standard
    heuristic is n_lists ~ sqrt(n) — which balances (corpus/n_lists)
    rows scanned per probed list against n_lists centroid comparisons
    per row at assignment time. With ``target_candidates_per_query``
    set, n_lists is raised so a probe examines at most that many rows:
    n_lists >= n_rows * n_probe / target. Clamped to [4, n_rows // 8]
    (below 8 rows per list, KMeans wastes lists on near-empty cells;
    SemDeDup additionally wants sum(c_i^2) control — see
    ``semdedup_pairs``)."""
    import math

    if n_rows < 2:
        return 4
    n_lists = int(round(math.sqrt(n_rows)))
    if target_candidates_per_query is not None:
        if target_candidates_per_query <= 0:
            raise ValueError("target_candidates_per_query must be > 0")
        n_lists = max(n_lists, -(-n_rows * n_probe // target_candidates_per_query))
    return max(4, min(n_lists, max(4, n_rows // 8)))


def hard_negative_mining(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    *,
    k_neg: int = 3,
    queries: DataFrame | None = None,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Contrastive-pair construction for embedding-model training: for
    each anchor, the nearest SAME-label row is the positive and the
    ``k_neg`` nearest DIFFERENT-label rows are the hard negatives — the
    near-the-margin examples that teach the model more per pair than
    random negatives (in-batch random negatives are mostly trivially
    far; the hard ones sit just across the decision boundary).

    The label split must happen BEFORE ranking (a plain k-NN top-k then
    filter would return fewer-than-k negatives whenever same-label rows
    crowd the neighborhood), so this is one scored broadcast join
    ranked per (anchor, role) — same guarded broadcast shape, Arrow
    dot kernel and (sim DESC, id ASC) determinism as ``knn_join``.

    Returns (anchor_id, role 'positive'|'negative', rank, neighbor id,
    label, sim). Anchors whose label has no other member emit no
    positive row — a single-member class has nothing to contrast.
    """
    if k_neg < 1:
        raise ValueError(f"k_neg must be >= 1, got {k_neg}")
    anchors = queries if queries is not None else emb
    if max_queries is not None and _over_limit(anchors, id_col, max_queries):
        raise ValueError(
            f"hard_negative_mining broadcasts the anchor set: more than "
            f"max_queries={max_queries} anchors would OOM the broadcast; batch the "
            "anchor side (or route candidate generation through ivf_knn_join) at scale"
        )
    q = _prefix(anchors.select(id_col, vec_col, label_col), "q_").withColumn(
        "__qn", norm(f"q_{vec_col}")
    )
    joined = emb.withColumn("__cn", norm(vec_col)).join(F.broadcast(q)).filter(
        F.col(f"q_{id_col}") != F.col(id_col)
    )
    pdot = dot_arrow_seq()
    scored = joined.withColumn(
        "sim", pdot(f"q_{vec_col}", vec_col) / (F.col("__qn") * F.col("__cn"))
    ).withColumn(
        "role",
        F.when(F.col(f"q_{label_col}") == F.col(label_col), "positive").otherwise(
            "negative"
        ),
    )
    w = Window.partitionBy(f"q_{id_col}", "role").orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    kept = ranked.filter(
        ((F.col("role") == "positive") & (F.col("rank") == 1))
        | ((F.col("role") == "negative") & (F.col("rank") <= k_neg))
    )
    return kept.select(
        F.col(f"q_{id_col}").alias("anchor_id"),
        "role",
        "rank",
        F.col(id_col),
        F.col(label_col),
        "sim",
    )


def mmr_select(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    sim_col: str,
    k: int,
    *,
    lam: float = 0.7,
    max_candidates: int = 1_000,
) -> DataFrame:
    """Maximal Marginal Relevance selection over a BOUNDED candidate
    set (Carbonell & Goldstein 1998): pick k results that are relevant
    AND mutually diverse. Iteration i takes
    argmax lam*sim(q,d) - (1-lam)*max_{s in selected} sim(d,s) —
    pure top-k ranking returns near-duplicate passages; MMR's penalty
    term spends the k slots on distinct evidence, the re-rank step a
    RAG context assembler wants between retrieval and prompt packing.

    Selection is inherently sequential, so this is the PageRank shape:
    k tiny iterations, each one anti-join + bounded pairwise cosine
    against the (<= k)-row selected set + a deterministic
    TakeOrdered(1) on (score DESC, id ASC) — never a driver-side loop
    over collected vectors. Candidates are a rerank set by contract
    (someone's top-N), so the operator refuses more than
    ``max_candidates`` rows rather than silently running a quadratic
    pass. Determinism: sims arrive bit-exact (Arrow-seq/JVM fold), the
    score mix is one IEEE multiply-subtract with identical literals on
    both engines, ties break on id — the r37 oracle replays the exact
    unrolled selection.

    Returns the selected rows (id, sim) with ``pos`` 1..k in selection
    order; fewer than k rows when the candidate set is smaller.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if _over_limit(candidates, id_col, max_candidates):
        raise ValueError(
            f"mmr_select is a re-rank over a bounded candidate set: more than "
            f"max_candidates={max_candidates} rows means the caller skipped the "
            "retrieval top-N; run knn/ivf first"
        )
    base = candidates.select(id_col, vec_col, sim_col)
    first = (
        base.orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
        .limit(1)
        .withColumn("pos", F.lit(1))
    )
    selected = first.localCheckpoint(eager=True)
    for i in range(2, k + 1):
        sel_vecs = _prefix(selected.select(id_col, vec_col), "s_")
        rest = base.join(
            selected.select(id_col), on=id_col, how="left_anti"
        )
        pen = (
            rest.join(F.broadcast(sel_vecs))
            .withColumn("__pair", cosine(vec_col, f"s_{vec_col}"))
            .groupBy(id_col, vec_col, sim_col)
            .agg(F.max("__pair").alias("__pen"))
        )
        score = F.lit(lam) * F.col(sim_col) - F.lit(1.0 - lam) * F.col("__pen")
        nxt = (
            pen.withColumn("__score", score)
            .orderBy(F.col("__score").desc(), F.col(id_col).asc())
            .limit(1)
            .select(id_col, vec_col, sim_col)
            .withColumn("pos", F.lit(i))
        )
        selected = selected.unionByName(nxt).localCheckpoint(eager=True)
    return selected.drop(vec_col)


# ---------------------------------------------------------------------------
# SQ8 scalar quantization — the ORACLE-ABLE compression tier (round 9)
# ---------------------------------------------------------------------------


def sq8_bounds(corpus: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Per-dimension [min, max] of a vector column as ONE 1-row
    DataFrame with two double arrays — the train step of SQ8 scalar
    quantization. Never collected: callers cross-join (broadcast) it
    into the encode plan, the same in-plan-bounds pattern as the
    z-order key (operators/layout.py).

    Unlike PQ codebooks (KMeans — seed-dependent, rows-only by design),
    min/max are ORDER-FREE and engine-neutral, so everything downstream
    of this aggregate is bit-exact oracle-able."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    # dim guard folded INTO the aggregate (round 10): a wrong dim would
    # yield NULL bounds and silently null scores downstream, but probing
    # with a separate first() job doubled the train cost in the knn hot
    # path — instead min/max vector sizes ride the same single pass and
    # an in-plan raise fires on mismatch.
    #
    # Shape (round 14): posexplode + two-level aggregate instead of
    # 2*dim+2 element_at aggregates in one row. The wide-agg form spent
    # more on plan analysis + interpreted aggregate evaluation than on
    # data (130 expressions: ~0.6 s planning + ~0.6 s execution per call
    # at sf0.1); the exploded form is 4 codegen expressions and a
    # partial-aggregated shuffle of dim groups (measured 1.6 s -> 0.3 s).
    # min/max are order-free, so the bounds are bit-identical.
    ex = corpus.select(
        F.size(F.col(vec_col)).alias("__sz"),
        F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias("__i", "__x"),
    )
    per = ex.groupBy("__i").agg(
        F.min("__sz").alias("__szmn"),
        F.max("__sz").alias("__szmx"),
        F.min("__x").alias("__lo"),
        F.max("__x").alias("__hi"),
    )
    agged = per.agg(
        F.min("__szmn").alias("__sz_min"),
        F.max("__szmx").alias("__sz_max"),
        F.array_sort(F.collect_list(F.struct(F.col("__i").alias("i"), F.col("__lo").alias("v")))).alias("__los"),
        F.array_sort(F.collect_list(F.struct(F.col("__i").alias("i"), F.col("__hi").alias("v")))).alias("__his"),
    )
    dim_ok = (F.col("__sz_min") == dim) & (F.col("__sz_max") == dim)
    # coalesce the size columns in the message: on an EMPTY corpus the
    # agg row is all NULLs, dim_ok is NULL, the otherwise branch fires —
    # and concat over NULL would make raise_error throw with a null
    # message (an opaque failure). With the coalesce the raise still
    # fires but says "empty corpus" (ADVICE r10).
    err = F.raise_error(
        F.concat(
            F.lit(f"sq8_bounds: dim={dim} but {vec_col} vectors have "),
            F.coalesce(F.col("__sz_min").cast("string"), F.lit("<empty corpus>")),
            F.lit(".."),
            F.coalesce(F.col("__sz_max").cast("string"), F.lit("<empty corpus>")),
            F.lit(" elements"),
        )
    )
    return agged.select(
        F.when(dim_ok, F.transform(F.col("__los"), lambda s: s["v"]))
        .otherwise(err.cast("array<double>"))
        .alias("sq_lo"),
        F.transform(F.col("__his"), lambda s: s["v"]).alias("sq_hi"),
    )


def sq8_encode(df: DataFrame, vec_col: str, bounds: DataFrame, code_col: str = "sq8") -> DataFrame:
    """Quantize ``vec_col`` to TRUE int8 codes (array<tinyint>, one BYTE
    per dimension — 4x smaller than float32, 8x smaller than double):
    code_i = clamp(floor(((x_i - lo_i) * 255.0) / (hi_i - lo_i)), 0, 255) - 128.

    The whole expression is floor/mult/div/compare on IEEE doubles —
    correctly-rounded, identical in any engine — so codes are bit-exact
    vs the DuckDB mirror (r48). Runs entirely inside whole-stage
    codegen: no UDF, no Arrow hop (PQ's ADC path needs a pandas UDF;
    this tier does not — the scale argument for SQ8 as the FIRST
    memory rung). Degenerate dims (hi == lo) map to code 0 (-128
    shifted), mirroring scale_to_bits_cols' convention."""
    lo = lambda i: F.element_at(F.col("sq_lo"), i + F.lit(1))  # noqa: E731
    hi = lambda i: F.element_at(F.col("sq_hi"), i + F.lit(1))  # noqa: E731

    def q(x, i):
        raw = F.floor(((x.cast("double") - lo(i)) * F.lit(255.0)) / (hi(i) - lo(i)))
        clamped = F.least(F.greatest(raw, F.lit(0).cast("long")), F.lit(255).cast("long"))
        return F.when(hi(i) > lo(i), clamped).otherwise(F.lit(0).cast("long")) - F.lit(128)

    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(code_col, F.transform(F.col(vec_col), q).cast("array<tinyint>"))
        .drop("sq_lo", "sq_hi")
    )


def sq8_reconstruct(code_col: str, lo_col: str = "sq_lo", hi_col: str = "sq_hi"):
    """Dequantize int8 codes back to the cell MIDPOINT:
    x̂_i = lo_i + (((c_i + 128) + 0.5) * (hi_i - lo_i)) / 255.0.
    Pure IEEE add/mult/div in a fixed order — the DuckDB mirror
    computes the identical doubles, so reconstructed vectors (and any
    fold over them) stay bit-exact cross-engine."""

    def recon(c, i):
        span = F.element_at(F.col(hi_col), i + F.lit(1)) - F.element_at(F.col(lo_col), i + F.lit(1))
        return F.element_at(F.col(lo_col), i + F.lit(1)) + (
            ((c.cast("long") + F.lit(128)).cast("double") + F.lit(0.5)) * span
        ) / F.lit(255.0)

    return F.transform(F.col(code_col), recon)


def sq8_quantize_reconstruct(vec_col: str, lo_col: str = "sq_lo", hi_col: str = "sq_hi"):
    """Fused encode->midpoint-dequantize in ONE array transform:
    x̂_i = lo_i + ((clamp(floor(((x_i - lo_i) * 255.0) / (hi_i - lo_i)), 0, 255) + 0.5)
                   * (hi_i - lo_i)) / 255.0,
    with degenerate dims (hi == lo) pinned to lo — exactly
    ``sq8_reconstruct(sq8_encode(x))`` expression-for-expression: the
    int8 round-trip there is lossless ((c + 128) recovers the clamped
    long bit-for-bit), so fusing skips the intermediate codes array, a
    second 64-element lambda pass per row, and the second bounds
    broadcast — while every IEEE op keeps the same operands in the same
    order (bit-exact vs the oracle's codes->recon mirror). For callers
    that PERSIST codes (the index tiers), the split ``sq8_encode`` /
    ``sq8_reconstruct`` pair stays the storage path."""

    def qr(x, i):
        lo = F.element_at(F.col(lo_col), i + F.lit(1))
        hi = F.element_at(F.col(hi_col), i + F.lit(1))
        span = hi - lo
        raw = F.floor(((x.cast("double") - lo) * F.lit(255.0)) / span)
        clamped = F.least(F.greatest(raw, F.lit(0).cast("long")), F.lit(255).cast("long"))
        # sq8_encode's degenerate-dim convention: hi == lo -> code 0
        level = F.when(hi > lo, clamped).otherwise(F.lit(0).cast("long"))
        return lo + ((level.cast("double") + F.lit(0.5)) * span) / F.lit(255.0)

    return F.transform(F.col(vec_col), qr)


def sq8_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    rerank: bool = False,
    rerank_factor: int = 4,
    max_queries: int | None = 10_000,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Batch k-NN through SQ8 codes, asymmetric-distance style (the
    FAISS SQ8 pattern): the CORPUS side lives as int8 codes (1 byte per
    dim), each candidate is dequantized to its cell midpoint ONCE PER
    CORPUS ROW — reconstruction and its norm are materialized BEFORE
    the broadcast join (``knn_join``'s ``__cn``/``__qn`` shape), and
    the per-pair work is one Arrow-batched dot + one divide. With 256
    levels per dim the midpoint error is <= span/510, so ranking is
    near-exact (recall pinned in pytest); ``rerank=True`` rescores the
    top k*rerank_factor candidates with exact cosine over the original
    vectors.

    Unlike PQ (KMeans codebooks — seed-bound, rows-only by design),
    every SQ8 step is oracle-able: bounds are order-free min/max,
    codes are floor-quantized doubles, reconstruction is fixed-order
    IEEE arithmetic, and the scoring dot runs through ``dot_arrow_seq``
    — the SAME sequential fold order as the JVM ``cosine`` expression
    and DuckDB's list_dot_product — so the whole path stays hash-exact
    vs the oracle (q18).

    Scoring the reconstruction inside the pair expression instead (the
    round-9 plan) re-evaluated the 64-element dequantize transform and
    its norm fold per (corpus x query) pair: 64x the oracle's wall at
    sf1, and at 100x corpus it multiplies away SQ8's codegen-cheap
    selling point. Never do per-pair work that is per-row computable.

    100 TB: corpus codes are dim BYTES per row — a billion 64-dim
    vectors fit in 64 GB of executor cache vs 256 GB float32. The
    query side is broadcast-guarded exactly like knn_join. Pass
    ``bounds`` (a persisted 1-row store frame) to skip the train
    aggregate entirely."""
    if max_queries is not None and _over_limit(queries, id_col, max_queries):
        raise ValueError(
            f"sq8_knn_join broadcasts the query set: more than max_queries={max_queries} "
            "query rows; route through similarity_join / ivf_knn_join at scale"
        )
    if bounds is None:
        # single consumer below (the fused quantize-reconstruct), so the
        # aggregate is built exactly once inside the broadcast build —
        # no checkpoint job needed (never driver-collected either way)
        bounds = sq8_bounds(corpus, vec_col, dim)
    from .relational import spread_for_cpu

    # fused encode->midpoint-dequantize + norm fold: ONE 64-element
    # lambda pass and ONE bounds broadcast per corpus ROW, pre-join
    # (the split encode/reconstruct pair ran two passes and broadcast
    # the bounds twice; the int8 round-trip between them is lossless,
    # so the fused expression is bit-identical — see
    # sq8_quantize_reconstruct). spread_for_cpu: the per-element
    # lambdas are the CPU-bound step; unlock every core when the scan's
    # split count is degenerate (no-op at scale).
    ce = (
        spread_for_cpu(corpus.select(id_col, vec_col))
        .crossJoin(F.broadcast(bounds))
        .withColumn("__recon", sq8_quantize_reconstruct(vec_col))
        .drop("sq_lo", "sq_hi")
        .withColumn("__cn", norm("__recon"))
    )
    q = _prefix(queries.select(id_col, vec_col), "q_").withColumn("__qn", norm(f"q_{vec_col}"))
    joined = ce.join(F.broadcast(q)).filter(F.col(f"q_{id_col}") != F.col(id_col))
    pdot = dot_arrow_seq()
    # same expression shape (and bit pattern) as cosine(recon, q):
    # dot(recon, q) / (norm(recon) * norm(q))
    scored = joined.withColumn(
        "sim", pdot("__recon", f"q_{vec_col}") / (F.col("__cn") * F.col("__qn"))
    ).drop("__recon", "__cn", "__qn")
    w = Window.partitionBy(f"q_{id_col}").orderBy(F.col("sim").desc(), F.col(id_col).asc())
    pre_k = k * rerank_factor if rerank else k
    top = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= pre_k)
    if not rerank:
        return top.drop(f"q_{vec_col}", "sq8").withColumnRenamed(f"q_{id_col}", "query_id")
    # exact-cosine rerank over the bounded candidate set (k*factor per query)
    rescored = top.withColumn("sim", cosine(vec_col, f"q_{vec_col}")).drop("rank")
    w2 = Window.partitionBy(f"q_{id_col}").orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop(f"q_{vec_col}", "sq8")
        .withColumnRenamed(f"q_{id_col}", "query_id")
    )


def ivf_sq8_knn_join(
    index: IvfIndex,
    queries: DataFrame,
    k: int,
    dim: int,
    n_probe: int = 4,
    rerank: int = 0,
    sim_col: str = "sim",
    bounds: DataFrame | None = None,
) -> DataFrame:
    """IVF + SQ8: probe ``n_probe`` lists through the index centroids,
    score the probed lists' int8 codes by in-plan midpoint dequantize +
    cosine vs the full-precision query, optionally exact-rerank the
    shortlist against the index's float vectors.

    The middle memory rung of the IVF family: 4x smaller than the
    float inverted file (dim bytes/row) where IVF-PQ is 32x — but the
    scoring stage is pure codegen arithmetic (PQ's ADC pays a pandas
    UDF per batch) and near-exact (midpoint error <= span/510/dim vs
    PQ's subspace centroid error), so the default deployment needs a
    far smaller rerank. Returns (query_id, neighbor_id, sim, rank)."""
    id_col, vec_col = index.id_col, index.vec_col
    cents = index.centroids
    n_probe_eff = min(n_probe, len(cents))
    b = bounds if bounds is not None else sq8_bounds(index.assignments, vec_col, dim)
    # dequantize + norm once per CODE row, before the probe join — the
    # per-pair-dequantize plan was the q18/r9 64x regression (see
    # sq8_knn_join); the inverted-file variant shares the fix
    codes = (
        sq8_encode(index.assignments, vec_col, b)
        .select(id_col, "__list", "sq8")
        .crossJoin(F.broadcast(b))
        .withColumn("__recon", sq8_reconstruct("sq8"))
        .drop("sq_lo", "sq_hi")
        .withColumn("__cn", norm("__recon"))
    )

    @F.pandas_udf("array<int>")
    def probe_lists(vs: pd.Series) -> pd.Series:
        cm = np.asarray(cents)
        v = np.stack(vs.to_numpy()).astype("float64")
        d = ((v[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(list(np.argsort(d, axis=1)[:, :n_probe_eff].astype("int32")))

    probed = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .withColumn("__qn", norm("__qv"))
        .withColumn("__list", F.explode(probe_lists(F.col("__qv"))))
    )
    cand = probed.join(codes, "__list").filter(F.col("query_id") != F.col(id_col))
    pdot = dot_arrow_seq()
    scored = cand.withColumn(
        sim_col, pdot("__recon", "__qv") / (F.col("__cn") * F.col("__qn"))
    ).drop("__recon", "__cn", "__qn")
    w = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max(k, rerank))
    )
    if rerank:
        cv = index.assignments.select(F.col(id_col), F.col(vec_col).alias("__cv"))
        pdot = dot_arrow()
        rescored = (
            shortlist.drop(sim_col, "rank", "sq8", "__list")
            .join(cv, id_col)
            .withColumn(sim_col, pdot("__qv", "__cv") / (norm("__qv") * norm("__cv")))
        )
        w2 = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
        return (
            rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank")
        )
    return shortlist.filter(F.col("rank") <= k).select(
        "query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank"
    )


# ---------------------------------------------------------------------------
# Persisted SQ8 store — the quantized tier's §2.11 day-2 leg
# ---------------------------------------------------------------------------


def save_sq8_index(corpus: DataFrame, id_col: str, vec_col: str, dim: int, path: str) -> None:
    """Persist bounds (1 row) + meta + int8 codes. Bounds pin at build
    time — deltas encode under the SAME bounds (out-of-range values
    clamp to the rails, the standard SQ deployment: retrain bounds per
    corpus VERSION, not per delta — the IVF-centroid contract)."""
    spark = corpus.sparkSession
    base = path.rstrip("/")
    b = sq8_bounds(corpus, vec_col, dim)
    b.coalesce(1).write.mode("overwrite").parquet(base + "/bounds")
    spark.createDataFrame([(id_col, vec_col, dim)], "id_col STRING, vec_col STRING, dim INT").coalesce(
        1
    ).write.mode("overwrite").parquet(base + "/meta")
    bounds = spark.read.parquet(base + "/bounds")
    sq8_encode(corpus.select(id_col, vec_col), vec_col, bounds).select(id_col, "sq8").write.mode(
        "overwrite"
    ).parquet(base + "/codes")


def append_sq8_index(new_rows: DataFrame, path: str) -> None:
    """Encode a delta under the persisted bounds and append — id-guarded
    (left-anti on the stored ids), so replays are no-ops."""
    spark = new_rows.sparkSession
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    bounds = spark.read.parquet(base + "/bounds")
    existing = spark.read.parquet(base + "/codes").select(meta.id_col)
    fresh = new_rows.select(meta.id_col, meta.vec_col).join(existing, meta.id_col, "left_anti")
    sq8_encode(fresh, meta.vec_col, bounds).select(meta.id_col, "sq8").write.mode("append").parquet(
        base + "/codes"
    )


def sq8_index_knn(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    rerank: int = 0,
    corpus_vectors: DataFrame | None = None,
    sim_col: str = "sim",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Probe the persisted SQ8 store: the corpus side is a CODES-ONLY
    parquet scan (dim bytes/row — the float vectors never load unless
    reranking a bounded shortlist against ``corpus_vectors``)."""
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    id_col, vec_col = meta.id_col, meta.vec_col
    if max_queries is not None and _over_limit(queries, id_col, max_queries):
        raise ValueError(
            f"sq8_index_knn broadcasts the query set: more than max_queries={max_queries} "
            "query rows; route through similarity_join / ivf_knn_join at scale"
        )
    bounds = spark.read.parquet(base + "/bounds")
    # dequantize + norm once per stored-code row before the broadcast
    # join (the q18/r9 per-pair-dequantize fix — see sq8_knn_join)
    codes = (
        spark.read.parquet(base + "/codes")
        .crossJoin(F.broadcast(bounds))
        .withColumn("__recon", sq8_reconstruct("sq8"))
        .drop("sq_lo", "sq_hi")
        .withColumn("__cn", norm("__recon"))
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")).withColumn(
        "__qn", norm("__qv")
    )
    joined = codes.join(F.broadcast(q)).filter(F.col("query_id") != F.col(id_col))
    pdot = dot_arrow_seq()
    scored = joined.withColumn(
        sim_col, pdot("__recon", "__qv") / (F.col("__cn") * F.col("__qn"))
    ).drop("__recon", "__cn", "__qn")
    w = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= max(k, rerank))
    )
    if rerank and corpus_vectors is not None:
        cv = corpus_vectors.select(F.col(id_col), F.col(vec_col).alias("__cv"))
        pdot = dot_arrow()
        rescored = (
            shortlist.drop(sim_col, "rank", "sq8")
            .join(cv, id_col)
            .withColumn(sim_col, pdot("__qv", "__cv") / (norm("__qv") * norm("__cv")))
        )
        w2 = Window.partitionBy("query_id").orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
        return (
            rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank")
        )
    return shortlist.filter(F.col("rank") <= k).select(
        "query_id", F.col(id_col).alias("neighbor_id"), sim_col, "rank"
    )


def refresh_sq8_index(changed_rows: DataFrame, path: str) -> None:
    """Keyed content-change upsert for the persisted SQ8 store
    (reference delete-then-add, scrape_store_embed.py:79): purge the
    changed ids from the codes table via the crash-safe directory swap
    and re-encode their new vectors under the SAME persisted bounds.
    After a refresh, probes score the NEW vectors; the append-only id
    guard alone would have silently kept the stale codes. O(store) I/O
    by nature (content-change cadence); unchanged-id replays should
    keep using ``append_sq8_index``."""
    from ..sources.writers import safe_rewrite

    spark = changed_rows.sparkSession
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    changed_ids = changed_rows.select(meta.id_col).localCheckpoint(eager=True)

    def build(tmp: str) -> None:
        spark.read.parquet(base + "/codes").join(changed_ids, meta.id_col, "left_anti").write.mode(
            "overwrite"
        ).parquet(tmp)

    safe_rewrite(spark, base + "/codes", build)
    append_sq8_index(changed_rows, base)
