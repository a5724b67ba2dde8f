"""Deduplication operators — the north-star dedup family.

Exact (hash/key dedup), MinHash banding (LSH), SimHash, and n-gram
Jaccard — all as Catalyst-only compositions (no Python UDFs). Reference
analogue: id-keyed idempotent upsert (pipeline.py:58-77,
scrape_store_embed.py:69-79); the near-dup tiers are the standard
LLM-training-corpus operators layered on the same engine.

Hashing is md5-based and therefore ENGINE-NEUTRAL: every hash value
here reproduces bit-for-bit in any SQL engine with md5 — which is what
makes the MinHash/SimHash queries oracle-checkable against DuckDB
(engine-specific hash functions like xxhash64 would not be).

100 TB notes: every candidate-generation step is an equi-join on a
bounded key (dedup key, (salt, minhash) band, simhash block) — never an
all-pairs product. Shuffle volume is O(rows x bands). Skewed bands
(boilerplate-heavy corpora) are handled by AQE skew-join; precision is
always restored by an exact verify (Jaccard residual) after candidate
generation, so banding parameters only affect recall, not correctness
of emitted pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_exact(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Deterministic exact dedup: keep the first row per key under an
    explicit order (dropDuplicates keeps an *arbitrary* row — fine for
    idempotence, unusable under a value-hash contract)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def token_set(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(F.split(c, " "))


def shingle_set(col: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles via zipped offset slices: shingle i is
    the positional concat of toks[i..i+n-1], built with n-1 zip_with
    passes over n aligned slices. ~4x faster than the naive
    transform(sequence, i -> concat_ws(slice(toks, i, n))) — Catalyst
    evaluates higher-order lambdas interpreted per element, so one fused
    concat per position beats a per-position slice+concat_ws chain.
    Short docs (< n tokens) yield an empty set (greatest(...) clamps the
    slice length; the when() keeps the semantics explicit)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    sh = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        sh = F.zip_with(sh, F.slice(toks, k, m), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(F.array().cast("array<string>"))


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard of two array columns. int/int double division —
    bit-identical across engines, no rounding needed."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def jaccard_presized(a: Column, b: Column, size_a: Column, size_b: Column) -> Column:
    """``jaccard`` for arrays KNOWN to be distinct, with their sizes
    precomputed per SIDE (one ``size()`` per row instead of per pair):
    |A∪B| = |A| + |B| - |A∩B| exactly when A and B are sets, so the
    per-pair ``array_union`` allocation (a fresh ~|A|+|B| array built
    only to take its length) drops out of the verify join. Same integer
    operands, same single int/int double division — bit-identical to
    ``jaccard`` on distinct inputs (every verify site feeds
    ``array_distinct``-constructed arrays)."""
    overlap = F.size(F.array_intersect(a, b))
    return overlap.cast("double") / (size_a + size_b - overlap)


_MH_MASK = (1 << 30) - 1  # low 30 bits
_MH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """Distinct shingles as 60-bit integer hashes (array<long>): ONE md5
    per shingle, truncated to 15 hex chars. All downstream minhash /
    Jaccard work runs on longs — one hash pass instead of one per band,
    integer set ops instead of string set ops, and ~4x smaller arrays on
    the verify shuffle. Engine-neutral: DuckDB mirrors with
    ('0x' || substr(md5(s), 1, 15))::BIGINT."""
    return F.array_distinct(
        F.transform(
            shingle_set(col, n),
            lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("long"),
        )
    )


def minhash_longs(gset_col: Column, n_hashes: int) -> Column:
    """MinHash signature (array<long>) from 60-bit shingle hashes via the
    Kirsch-Mitzenmacher construction: band i minimizes
    (h1 + i*h2) mod p over members, with h1 = g >> 30 and h2 = g & mask
    the two independent 30-bit halves of the md5-derived g. Pure integer
    ops (no per-band re-hash), values < 2^32 so every engine's BIGINT
    arithmetic agrees bit-for-bit."""

    def mixed(i: int):
        return lambda g: (F.shiftright(g, 30) + F.lit(i) * g.bitwiseAND(F.lit(_MH_MASK))) % F.lit(_MH_P)

    return F.array(*[F.array_min(F.transform(gset_col, mixed(i))) for i in range(n_hashes)])


def cap_hot_keys(df: DataFrame, key_cols: list[str], max_freq: int) -> DataFrame:
    """Drop rows whose banding key is shared by more than ``max_freq``
    rows — the skew mitigation for boilerplate-heavy corpora, where one
    shared shingle/band value collects a huge bucket and the candidate
    equi-join on that key goes quadratic (a 10^6-row bucket alone is
    5*10^11 pairs; AQE skew-split balances partitions but cannot shrink
    the pair count itself).

    Hot keys are, by construction, boilerplate: a band value shared by
    thousands of documents carries no near-dup signal (the docs merely
    share a common template), so dropping it trades recall ONLY on
    boilerplate-overlap pairs; precision is untouched because the exact
    verify still runs on every surviving candidate. Salting is wrong
    here — a pair-join key must match exactly, and salting a hot key
    into s buckets silently drops the cross-bucket pairs anyway, with
    an extra shuffle. One window count over the join key (same shuffle
    partitioning the candidate join needs) implements the cap."""
    w = Window.partitionBy(*key_cols)
    return (
        df.withColumn("__kf", F.count(F.lit(1)).over(w))
        .filter(F.col("__kf") <= max_freq)
        .drop("__kf")
    )


def minhash_signature_rows(df: DataFrame, id_col: str, gset_col: str, n_hashes: int) -> DataFrame:
    """Exploded banded MinHash signatures: one (id, band, mh) row per
    band. This is the unit both the batch candidate join and the
    persisted signature store operate on."""
    return df.select(id_col, F.posexplode(minhash_longs(F.col(gset_col), n_hashes)).alias("band", "mh"))


def _pairs_from_sig_rows(sig: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate id pairs (id_a < id_b) from exploded signature
    rows — a pure equi-join on (band, mh), never a cross product."""
    a = sig.select(F.col(id_col).alias("id_a"), "band", "mh")
    b = sig.select(F.col(id_col).alias("id_b"), "band", "mh")
    return (
        a.join(b, ["band", "mh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame, id_col: str, gset_col: str, n_hashes: int = 4, max_band_freq: int | None = None
) -> DataFrame:
    """LSH banding with one minhash per band (rows-per-band=1):
    candidates are id pairs sharing ANY minhash value. A pair with
    Jaccard j survives with prob 1-(1-j)^n_hashes. Pure equi-join on
    (band, value) — the 100 TB-safe shape.

    ``max_band_freq`` caps the bucket size per (band, value) key via
    ``cap_hot_keys`` — set it on boilerplate-heavy corpora where a
    template shingle would otherwise make one bucket quadratic."""
    sig = minhash_signature_rows(df, id_col, gset_col, n_hashes)
    if max_band_freq is not None:
        sig = cap_hot_keys(sig, ["band", "mh"], max_band_freq)
    # lazy localCheckpoint: the signature rows feed BOTH sides of the
    # candidate self-join — without it the banding pass (minhash
    # transforms + explode + the cap's window) executes once per side
    # (the q44 plan carried two Window+Generate subtrees for ONE logical
    # pass). (id, band, mh) is the narrowest frame in the pipeline, so
    # this is the same materialize-the-banding-pass move as
    # vector.cosine_pairs_lsh.
    sig = sig.localCheckpoint(eager=False)
    return _pairs_from_sig_rows(sig, id_col)


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n_hashes: int = 4,
    shingle_n: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    """MinHash LSH candidates + exact Jaccard verify >= threshold over
    the hashed shingle sets. Emitted pairs are exactly correct for the
    hashed-shingle Jaccard (identical in any engine; 60-bit collisions
    are the only divergence from raw-string Jaccard); banding only
    affects recall.

    The verify stage deliberately stays a JOIN: a round-15 gather tier
    (broadcast id->shingle-set dict scored by a pandas UDF, the q52
    move) was built, parity-pinned bit-exact, and A/B'd SLOWER —
    1.43 -> 1.73 s median at sf0.1 and 3.70 -> 6.16 s at sf1
    (interleaved runs): collecting the whole shingled corpus through
    the driver costs far more than the candidate-bounded verify join it
    replaces, because near-dup candidate volume is capped at ~8n by the
    banding while the dict is O(corpus). Kept as a negative result."""
    from .relational import spread_for_cpu

    # lazy localCheckpoint: the hashed-shingle corpus feeds THREE
    # subtrees (signatures + both verify sides); without it Catalyst
    # recomputes the shingling per subtree. At cluster scale this is the
    # moral equivalent of persisting the shingled corpus for the pass.
    sh = (
        spread_for_cpu(df)
        .select(id_col, shingle_hashes(text_col, shingle_n).alias("__sh"))
        .localCheckpoint(eager=False)
    )
    cand = minhash_candidate_pairs(sh, id_col, "__sh", n_hashes, max_band_freq=max_band_freq)
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sha"), F.size("__sh").alias("__sza"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__shb"), F.size("__sh").alias("__szb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jacc", jaccard_presized(F.col("__sha"), F.col("__shb"), F.col("__sza"), F.col("__szb"))
        )
        .filter(F.col("jacc") >= F.lit(threshold))
        .select("id_a", "id_b", "jacc")
    )


def simhash16(tokens_col: Column) -> Column:
    """16-bit SimHash over a token set: token hash = first 16 bits of
    md5; simhash bit b is the sign of sum over tokens of (2*bit_b - 1).
    All integer arithmetic — engine-neutral."""
    tok_val = F.transform(
        tokens_col, lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 4), 16, 10).cast("int")
    )
    def bit_contrib(b: int):
        # factory avoids default-arg lambda (PySpark dispatches on arity)
        return lambda acc, v: acc + (F.shiftright(v, b).bitwiseAND(F.lit(1)) * 2 - 1)

    bits = []
    for b in range(16):
        contrib = F.aggregate(tok_val, F.lit(0), bit_contrib(b))
        bits.append(F.when(contrib > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    out = bits[0]
    for expr in bits[1:]:
        out = out + expr
    return out


def simhash16_arrow():
    """Arrow kernel computing the SAME 16-bit simhash as ``simhash16``:
    token value = int(md5(token)[:4], 16) via hashlib (identical hex to
    any engine's md5), bit sums are INTEGER arithmetic (order-free), so
    the result is bit-identical to the JVM expression and to the DuckDB
    oracle — safe for oracled queries, ~5x the fold throughput."""
    import hashlib

    @F.pandas_udf("int")
    def sim16(tok_arrays: pd.Series) -> pd.Series:
        out = []
        for toks in tok_arrays:
            vals = np.fromiter(
                (int(hashlib.md5(t.encode()).hexdigest()[:4], 16) for t in toks),
                dtype="int64",
                count=len(toks),
            )
            bits = (vals[:, None] >> np.arange(16)[None, :]) & 1  # n_tok x 16
            contrib = (2 * bits - 1).sum(axis=0)
            out.append(int(((contrib > 0) << np.arange(16)).sum()))
        return pd.Series(out, dtype="int32")

    return sim16


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str, block_col: str, max_hamming: int = 3, threshold: float = 0.3
) -> DataFrame:
    """SimHash near-dup: pairs within a block whose 16-bit simhashes are
    within ``max_hamming`` bits, verified by exact token-set Jaccard.
    The block key (e.g. source/domain) keeps the pair join bounded; a
    production variant blocks on simhash bit-prefixes instead."""
    sim16 = simhash16_arrow()
    sigs = (
        df.select(F.col(id_col), F.col(block_col), token_set(text_col).alias("__toks"))
        .withColumn("__sim", sim16(F.col("__toks")))
        .localCheckpoint(eager=False)  # feeds the pair join + both verify sides
    )
    # banded candidate generation (pigeonhole): hamming(sig_a, sig_b) <= 3
    # over 16 bits split into 4 disjoint 4-bit bands forces at least one
    # band to match EXACTLY — so candidates come from an equi-join on
    # (block, band_id, band_value), never an all-pairs product within the
    # block. Exact-preserving for max_hamming < 4; the residual bit_count
    # filter restores precision. The join still carries only (id, simhash)
    # ints — token arrays join back in after the pairs are deduped.
    if not 0 <= max_hamming < 4:
        raise ValueError("banded candidate generation assumes max_hamming in [0, 4)")
    slim = sigs.select(F.col(id_col), F.col(block_col).alias("__blk"), "__sim")
    banded = slim.select(
        id_col,
        "__blk",
        "__sim",
        F.explode(
            F.array(*[F.shiftright("__sim", 4 * b).bitwiseAND(F.lit(15)) + F.lit(16 * b) for b in range(4)])
        ).alias("__band"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), "__blk", "__band", F.col("__sim").alias("__sim_a"))
    b = banded.select(F.col(id_col).alias("id_b"), "__blk", "__band", F.col("__sim").alias("__sim_b"))
    cand = (
        a.join(b, ["__blk", "__band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("__sim_a").bitwiseXOR(F.col("__sim_b"))) <= max_hamming)
        .select("id_a", "id_b")
        .distinct()
    )
    ta = sigs.select(
        F.col(id_col).alias("id_a"), F.col("__toks").alias("__toks_a"), F.size("__toks").alias("__sza")
    )
    tb = sigs.select(
        F.col(id_col).alias("id_b"), F.col("__toks").alias("__toks_b"), F.size("__toks").alias("__szb")
    )
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jacc",
            jaccard_presized(F.col("__toks_a"), F.col("__toks_b"), F.col("__sza"), F.col("__szb")),
        )
        .filter(F.col("jacc") >= F.lit(threshold))
        .select("id_a", "id_b", "jacc")
    )


def _cc_local(edges_rows, src_type) -> tuple:
    """Driver-side union-find (path-halving) over a SMALL edge list:
    (id, component) with component = min reachable id — the identical
    fixpoint the iterative operator converges to, computed in one pass.
    ``edges_rows`` is any iterable of (src, dst) pairs (plain tuples
    from an Arrow collect — no Row boxing). Returns (rows, schema) for
    createDataFrame."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges_rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so every root is its component's smallest id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(x, find(x)) for x in parent]
    schema = StructType(
        [StructField("id", src_type, True), StructField("component", src_type, True)]
    )
    return rows, schema


def _cc_local_budget() -> int:
    """Driver union-find budget for connected_components: below this
    many symmetrized edges the component fixpoint is computed
    driver-side in one pass instead of O(diameter) iterative join+count
    rounds (each a full Spark job). Honest sizing (ADVICE r14): the
    Arrow collect itself is 16 B/edge, but the union-find parent dict
    holds up to 2 boxed Python ints per edge — ~150-300 B/edge of
    transient driver heap — so the default 250k edges costs tens of MB,
    the same order as a broadcast-join build side, not the raw buffer
    size. Read at CALL time (not import) so a long-lived driver can
    retune via SPARK_GRAFT_CC_LOCAL_EDGES (docs/DEPLOY.md); 0 disables
    the local tier entirely."""
    return int(os.environ.get("SPARK_GRAFT_CC_LOCAL_EDGES", str(250_000)))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    local_edge_budget: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair list: (id, component)
    where component = the minimum id reachable. Near-dup similarity is
    not transitive, so clustering the pairs (SURVEY §7.4) needs this —
    a chain a~b~c collapses to one cluster even though a~c was never
    emitted.

    Min-label propagation as iterative joins: each round every node
    adopts the smallest label among itself and its neighbors (edges are
    symmetrized, so labels flow both ways per round); early-stops when a
    round changes nothing. Each round ends in a LAZY localCheckpoint —
    the convergence-count action materializes it, so lineage truncation
    costs no extra job (measured 1.9 s → 1.2 s on the sf0.1 near-dup
    graph vs eager).

    SMALL-GRAPH TIER (round 14, tightened round 15): when the
    symmetrized edge list is within ``local_edge_budget`` (default env
    ``SPARK_GRAFT_CC_LOCAL_EDGES``, see ``_cc_local_budget`` for the
    honest driver-heap sizing), the fixpoint is computed driver-side by
    union-find in one pass over the collected (src, dst) pairs instead
    of O(diameter) sequential join+count rounds, each of which is a
    full Spark job. Near-dup pair graphs are tiny relative to their
    corpora (a 30x corpus sweep measured 255 -> 7,676 pairs), so this
    is the common case; past the budget the iterative operator runs
    unchanged. Same result by construction: union-by-min + path
    compression yields component = min reachable id, the identical
    fixpoint — pinned against the iterative path in
    tests/test_dedup_ops.py. The collect goes through Arrow
    (``toArrow`` — two flat columns, no Row boxing) and the returned
    frame carries an explicit BROADCAST hint: its size is proved by the
    tier's own gate (<= 2 x budget rows held on the driver), and
    without the hint a downstream corpus join sees an unknown-size
    ExistingRDD relation and writes a corpus-side shuffle for a
    SortMergeJoin (the r14 q59 plan) that AQE can only partially undo.
    """
    # lazy localCheckpoint on the NARROW pair projection: the
    # symmetrizing union references it twice, and without the
    # checkpoint Catalyst computes the whole upstream pair pipeline
    # (shingling + banding + verify for the near-dup callers) once per
    # union branch (round 15; the same §2.4 shared-pass move as the
    # banding checkpoints)
    p2 = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).localCheckpoint(
        eager=False
    )
    # no distinct here (round 15): both tiers compute the same fixpoint
    # under duplicate edges (union-find unions are idempotent; min-label
    # is a min), every internal caller emits unique id_a < id_b pairs
    # anyway, and the distinct was a full extra shuffle+aggregate stage
    # per invocation (interleaved A/B on q59: median 2.07 -> 1.91 s).
    # The iterative tier re-adds it below, where dup edges would
    # otherwise multiply EVERY round's neighbor-min join.
    edges = p2.unionByName(
        p2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    budget = _cc_local_budget() if local_edge_budget is None else local_edge_budget
    # plain count, not a limit probe: the count doubles as the edge
    # checkpoint's materialization (which EITHER tier needs before its
    # first join/collect), whereas limit(budget+1) on a frame smaller
    # than the budget re-scans partitions in sequential scale-up waves.
    # The count (and so the budget) is over pre-distinct rows — exactly
    # what the collect below would materialize.
    if budget > 0 and edges.count() <= budget:
        tbl = edges.toArrow()  # cached checkpoint blocks -> Arrow, no Rows
        rows, schema = _cc_local(
            zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist()),
            edges.schema["src"].dataType,
        )
        out = pairs.sparkSession.createDataFrame(rows, schema)
        # size is proved by the gate (<= 2 x budget driver-held rows):
        # hint the broadcast so consumers joining the corpus against the
        # labels get a BroadcastHashJoin statically instead of shuffling
        # the corpus into a SortMergeJoin against an unknown-size
        # ExistingRDD (guide §3.1 — estimates are wrong after collects;
        # hint when the bound is known)
        return F.broadcast(out)
    # Iterative tier: dedup the edges first — duplicates would multiply
    # every round's neighbor-min join fan-out, and this tier runs
    # O(diameter) rounds over them. Reads the already-materialized raw
    # edge checkpoint, so the distinct costs one aggregate, not a
    # pipeline recompute.
    edges = edges.distinct().localCheckpoint(eager=False)
    # Seed labels with round 1 already applied: against identity labels
    # the first neighbor-min join degenerates to min(dst) per src, so one
    # aggregation replaces that round's two joins and its convergence
    # count. Symmetrized edges list every node as src, so this also
    # enumerates the node set (which the identity init needed a distinct
    # for anyway).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__mn"))
        .select(F.col("src").alias("id"), F.least("src", "__mn").alias("component"))
        .localCheckpoint(eager=False)
    )
    n_changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
            "id",
            F.least(F.col("component"), F.coalesce("nbr_component", F.col("component"))).alias("component"),
            F.col("component").alias("__prev"),
        )
        updated = stepped.select(
            "id",
            "component",
            (F.col("component") < F.col("__prev")).alias("__changed"),
        ).localCheckpoint(eager=False)  # materialized by the count below
        n_changed = updated.filter(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            break
    if n_changed != 0:
        # partially-propagated labels are WRONG labels — never return them
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({n_changed} labels still changing); raise max_iter (graph "
            "diameter exceeds the round budget)"
        )
    return labels


# ---------------------------------------------------------------------------
# Incremental delta-vs-corpus near-dup dedup (signature store)
#
# The production shape the reference's daily cadence implies
# (mlb_pipeline_dag.py:39 daily schedule + scrape_store_embed.py:79 keyed
# delete-then-add): dedup TODAY'S arrivals against a pre-banded corpus
# without re-shingling the corpus. The store persists two parquet tables:
#
#   {path}/signatures  — (id, mh, band), partitioned by band: the
#                        candidate-join side. Banding a 100 TB corpus is
#                        the dominant cost of batch near-dup; the store
#                        pays it ONCE per corpus version.
#   {path}/shingles    — (id, shingles array<long>): the exact-verify
#                        side, keyed by id.
#
# Each daily delta is shingled/banded fresh (it is small), equi-joined
# against the signature scan, verified against the shingle scan, and then
# appended — so day N+1's delta sees day N's docs without any recompute.
# ---------------------------------------------------------------------------


def _store_paths(path: str) -> tuple[str, str]:
    return path.rstrip("/") + "/signatures", path.rstrip("/") + "/shingles"


def _shingled(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    from .relational import spread_for_cpu

    return (
        spread_for_cpu(df)
        .select(id_col, shingle_hashes(text_col, shingle_n).alias("shingles"))
        .localCheckpoint(eager=False)
    )


def build_signature_store(
    df: DataFrame, id_col: str, text_col: str, path: str, n_hashes: int = 4, shingle_n: int = 3
) -> None:
    """One-time (per corpus version) banding pass: shingle + minhash the
    corpus and persist signatures (partitioned by band) and shingle sets.
    Overwrites any existing store at ``path``."""
    sh = _shingled(df, id_col, text_col, shingle_n)
    sig = minhash_signature_rows(sh, id_col, "shingles", n_hashes)
    sig.write.mode("overwrite").partitionBy("band").parquet(_store_paths(path)[0])
    sh.write.mode("overwrite").parquet(_store_paths(path)[1])


def append_signature_store(
    new_docs: DataFrame, id_col: str, text_col: str, path: str, n_hashes: int = 4, shingle_n: int = 3
) -> None:
    """Append the delta's signatures + shingles to the store — the
    reference's keyed add half (scrape_store_embed.py:69-79), APPEND-only
    so a daily delta never rewrites the 100 TB store (a full keyed
    rewrite via ``upsert_by_key`` would touch every band partition, since
    each doc emits all bands). Idempotence comes from the id guard: ids
    already present are skipped (left-anti on the store's pruned id
    column), so re-running the same delta adds nothing. Content CHANGES
    under an existing id need the keyed delete path
    (``sources.writers.delete_by_predicate``) first — same contract as
    the reference's delete-then-add."""
    spark = new_docs.sparkSession
    sig_path, sh_path = _store_paths(path)
    existing_ids = spark.read.parquet(sh_path).select(id_col)
    # eager checkpoint: the shingled delta feeds BOTH writes; lazy would
    # re-shingle on the second write action
    fresh = new_docs.join(existing_ids, on=id_col, how="left_anti")
    sh = _shingled(fresh, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    minhash_signature_rows(sh, id_col, "shingles", n_hashes).write.mode("append").partitionBy(
        "band"
    ).parquet(sig_path)
    sh.write.mode("append").parquet(sh_path)


def refresh_signature_store(
    changed_docs: DataFrame, id_col: str, text_col: str, path: str, n_hashes: int = 4, shingle_n: int = 3
) -> None:
    """Keyed content-change upsert for the signature store (reference
    delete-then-add, scrape_store_embed.py:79): purge the changed ids'
    signature rows (partition-aware — each doc spans ALL band
    partitions, so the filtered rewrite preserves the ``band`` layout)
    and shingle sets, then re-append the new text through the normal
    append path. After a refresh, ``incremental_neardup_pairs`` judges
    deltas against the NEW content; the append-only id guard alone
    would have silently kept the stale signatures. O(store) I/O by
    nature (content-change cadence, not delta cadence); unchanged-id
    replays should keep using ``append_signature_store``."""
    from ..sources.writers import delete_keys_partitioned, safe_rewrite

    spark = changed_docs.sparkSession
    sig_path, sh_path = _store_paths(path)
    ids = changed_docs.select(id_col)
    delete_keys_partitioned(spark, sig_path, ids, id_col, "band", -1)
    kept = spark.read.parquet(sh_path).join(ids.distinct(), id_col, "left_anti")
    safe_rewrite(spark, sh_path, lambda tmp: kept.write.mode("overwrite").parquet(tmp))
    append_signature_store(changed_docs, id_col, text_col, path, n_hashes, shingle_n)


def incremental_neardup_pairs(
    new_docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float,
    n_hashes: int = 4,
    shingle_n: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, jacc) involving at least one NEW doc:
    delta-vs-corpus plus delta-internal. The corpus side is a parquet
    SCAN of the signature/shingle store — never re-shingled, never
    re-banded. Exactly equivalent to the batch operator restricted to
    pairs touching the delta (MinHash is deterministic md5 arithmetic,
    so delta signatures equal what a batch run would compute):

        incremental(delta, store(corpus)) ∪ batch(corpus)
            == batch(corpus ∪ delta)            # pinned by pytest

    Physical shape at 100 TB: the candidate join carries (id, band, mh)
    only — the store scan reads 3 int columns; shingle arrays enter only
    for the (delta-bounded) candidate verify. ``max_band_freq`` caps
    hot (band, mh) keys across the COMBINED corpus: hot keys are counted
    on the unioned signature rows and anti-joined away from both sides.
    Hot keys are few by construction (boilerplate bands), so AQE picks a
    broadcast anti-join at runtime — not forced, per the engine's rule
    that only fixed-size dims carry broadcast hints (a pathological
    corpus where *many* keys breach the cap must not OOM the driver)."""
    spark = new_docs.sparkSession
    sig_path, sh_path = _store_paths(path)
    sh_delta = _shingled(new_docs, id_col, text_col, shingle_n)
    # lazy localCheckpoint: the raw delta signature rows feed the hot
    # count (cap branch) and every candidate subtree below — banding the
    # delta must run once, not once per appearance
    sig_delta = minhash_signature_rows(sh_delta, id_col, "shingles", n_hashes).localCheckpoint(
        eager=False
    )
    store_sig = spark.read.parquet(sig_path).select(id_col, "band", "mh")
    if max_band_freq is not None:
        hot = (
            sig_delta.select("band", "mh")
            .unionByName(store_sig.select("band", "mh"))
            .groupBy("band", "mh")
            .agg(F.count(F.lit(1)).alias("__kf"))
            .filter(F.col("__kf") > max_band_freq)
            .select("band", "mh")
        )
        # the anti-joined frame again feeds the cross join plus both
        # sides of the delta-internal self-join: materialize the narrow
        # (id, band, mh) result once instead of re-running the anti-join
        # per subtree
        sig_delta = sig_delta.join(hot, ["band", "mh"], "left_anti").localCheckpoint(eager=False)
        store_sig = store_sig.join(hot, ["band", "mh"], "left_anti")
    cross = (
        sig_delta.select(F.col(id_col).alias("__new"), "band", "mh")
        .join(store_sig.select(F.col(id_col).alias("__old"), "band", "mh"), ["band", "mh"])
        .select(
            F.least("__new", "__old").alias("id_a"), F.greatest("__new", "__old").alias("id_b")
        )
        .distinct()
    )
    cand = cross.unionByName(_pairs_from_sig_rows(sig_delta, id_col)).distinct()
    lookup = sh_delta.unionByName(spark.read.parquet(sh_path).select(id_col, "shingles"))
    sa = lookup.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("__sha"), F.size("shingles").alias("__sza")
    )
    sb = lookup.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("__shb"), F.size("shingles").alias("__szb")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jacc", jaccard_presized(F.col("__sha"), F.col("__shb"), F.col("__sza"), F.col("__szb"))
        )
        .filter(F.col("jacc") >= F.lit(threshold))
        .select("id_a", "id_b", "jacc")
    )


def exact_span_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_shared: int = 1,
    max_span_freq: int | None = None,
) -> DataFrame:
    """Cross-document EXACT span duplication (the "Deduplicating
    Training Data" signal — long verbatim n-token overlaps, a different
    duplication class from MinHash near-dup: a doc quoting one paragraph
    of another has low Jaccard but a long exact span): pairs
    (id_a, id_b, n_shared_spans) of documents sharing >= ``min_shared``
    distinct exact spans of ``span_tokens`` tokens.

    Candidates ARE matches — span hashes are 60-bit md5 truncations, so
    hash equality is span equality up to 2^-60 collisions, and there is
    NO verify stage; this is a single equi-join on the span hash, the
    cheapest operator in the dedup family. ``max_span_freq`` drops
    spans shared by more than that many docs (boilerplate paragraphs)
    before the pair join, same rationale as ``cap_hot_keys``. The
    engine-neutral md5 hashing keeps the operator fully
    DuckDB-oracle-able (q66)."""
    from .relational import spread_for_cpu

    sp = (
        spread_for_cpu(df)
        .select(id_col, F.explode(shingle_hashes(text_col, span_tokens)).alias("__h"))
    )
    if max_span_freq is not None:
        sp = cap_hot_keys(sp, ["__h"], max_span_freq)
    # lazy localCheckpoint: (id, hash) feeds both sides of the pair
    # self-join — materialize the span-hashing pass (md5 per shingle +
    # explode + cap window) once, not once per side
    sp = sp.localCheckpoint(eager=False)
    a = sp.select(F.col(id_col).alias("id_a"), "__h")
    b = sp.select(F.col(id_col).alias("id_b"), "__h")
    return (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= min_shared)
    )


def cross_corpus_span_overlap(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    max_span_freq: int | None = None,
) -> DataFrame:
    """Benchmark-contamination scan: corpus documents sharing a verbatim
    ``span_tokens``-token span with any benchmark/eval document —
    the train-test overlap check every pretraining pipeline runs before
    a data release. Returns (corpus_id, bench_id, n_shared_spans).

    Same single-equi-join shape as ``exact_span_overlap_pairs`` but
    two-sided: the (small) benchmark side's span hashes join against the
    corpus span scan, so the shuffle carries (id, hash) only and the
    benchmark side broadcasts when small. ``max_span_freq`` caps spans
    by their CORPUS-side frequency (boilerplate); benchmark spans are
    never dropped — a contaminated boilerplate span is still
    contamination worth flagging, just noisy."""
    from .relational import spread_for_cpu

    ca = (
        spread_for_cpu(corpus)
        .select(F.col(id_col).alias("corpus_id"), F.explode(shingle_hashes(text_col, span_tokens)).alias("__h"))
    )
    if max_span_freq is not None:
        ca = cap_hot_keys(ca, ["__h"], max_span_freq)
    cb = bench.select(
        F.col(id_col).alias("bench_id"), F.explode(shingle_hashes(text_col, span_tokens)).alias("__h")
    )
    return (
        ca.join(cb, "__h")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )


def _span_units(text_col: str, span_tokens: int, winnow_w: int | None) -> Column:
    """The store/probe hashing unit: full distinct span hashes, or —
    with ``winnow_w`` — winnowing fingerprints over the same k-grams.
    Winnowed stores keep ~2/(w+1) of the hashes; the guarantee weakens
    from "any shared span_tokens-token span" to "any shared
    (span_tokens + winnow_w - 1)-token span" (both sides select the
    identical minimum inside any fully-shared window), which is the
    right trade for decontamination: leakage worth acting on is
    paragraphs, not a single 8-token collision."""
    if winnow_w is not None:
        return winnow_fingerprints(text_col, k=span_tokens, w=winnow_w)
    return shingle_hashes(text_col, span_tokens)


def build_span_store(
    bench: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    span_tokens: int = 8,
    winnow_w: int | None = None,
) -> None:
    """Persist the benchmark/eval suite's span hashes once (§2.11
    family, the contamination analogue of the MinHash signature store):
    a pretraining pipeline decontaminates EVERY delta against a fixed
    eval suite, so re-hashing the benchmark per run is pure waste — the
    store makes the daily check O(delta): the delta's spans join a
    2-column (bench_id, hash) parquet SCAN. Hash-clustered and sorted
    so each posting file covers a disjoint hash range (footer min/max
    pruning for range-bounded probes). ``winnow_w`` stores winnowing
    fingerprints instead (see ``_span_units``): ~(w+1)/2x smaller
    store AND probe explode for a (span_tokens + w - 1)-token
    guarantee. Overwrites ``path``."""
    spark = bench.sparkSession
    spans = bench.select(
        F.col(id_col).alias("bench_id"),
        F.explode(_span_units(text_col, span_tokens, winnow_w)).alias("__h"),
    )
    base = path.rstrip("/")
    spans.repartition(F.col("__h")).sortWithinPartitions("__h").write.mode(
        "overwrite"
    ).parquet(base + "/spans")
    spark.createDataFrame(
        [(id_col, span_tokens, winnow_w)],
        "id_col STRING, span_tokens INT, winnow_w INT",
    ).coalesce(1).write.mode("overwrite").parquet(base + "/meta")


def append_span_store(new_bench: DataFrame, text_col: str, path: str) -> None:
    """Eval suites grow: append a NEW benchmark delta's span hashes.
    Append-only with an id guard (left-anti on the store's bench ids) —
    replaying the same benchmark delta is a no-op; changed benchmark
    content should rebuild (eval suites are versioned artifacts, not
    mutable stores)."""
    spark = new_bench.sparkSession
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    existing = spark.read.parquet(base + "/spans").select(
        F.col("bench_id").alias(meta.id_col)
    ).distinct()
    fresh = new_bench.join(existing, meta.id_col, "left_anti")
    fresh.select(
        F.col(meta.id_col).alias("bench_id"),
        F.explode(
            _span_units(text_col, meta.span_tokens, meta.asDict().get("winnow_w"))
        ).alias("__h"),
    ).repartition(F.col("__h")).sortWithinPartitions("__h").write.mode("append").parquet(
        base + "/spans"
    )


def probe_span_store(
    delta: DataFrame,
    path: str,
    id_col: str,
    text_col: str = "text",
    max_span_freq: int | None = None,
) -> DataFrame:
    """Contamination scan of a delta against the persisted benchmark
    span store: (corpus_id, bench_id, n_shared_spans) — exactly
    ``cross_corpus_span_overlap(delta, bench, ...)`` (span hashing is
    deterministic md5 arithmetic) but the benchmark side is a parquet
    scan, never re-tokenized. ``max_span_freq`` caps spans by their
    DELTA-side frequency (boilerplate paragraphs in the delta);
    benchmark spans are never dropped."""
    from .relational import spread_for_cpu

    spark = delta.sparkSession
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    ca = spread_for_cpu(delta).select(
        F.col(id_col).alias("corpus_id"),
        F.explode(
            _span_units(text_col, meta.span_tokens, meta.asDict().get("winnow_w"))
        ).alias("__h"),
    )
    if max_span_freq is not None:
        ca = cap_hot_keys(ca, ["__h"], max_span_freq)
    store = spark.read.parquet(base + "/spans")
    return (
        ca.join(store, "__h")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )


def ordered_shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """POSITIONAL n-token shingle hashes (array<long>, one per start
    offset, duplicates preserved in order) — the ordered sibling of
    ``shingle_hashes``, needed by window-based selectors like
    winnowing where offset adjacency matters. Same 60-bit md5
    truncation, same DuckDB mirror."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    sh = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        sh = F.zip_with(sh, F.slice(toks, k, m), lambda a, b: F.concat(a, F.lit(" "), b))
    hs = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("long")
    )
    return F.when(F.size(toks) >= n, hs).otherwise(F.array().cast("array<long>"))


def winnow_fingerprints(col: Column | str, k: int = 4, w: int = 5) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): over the ordered k-gram hash
    sequence, slide a window of ``w`` consecutive hashes and keep each
    window's MINIMUM; the distinct kept hashes are the fingerprint set.

    Guarantee: any verbatim overlap of >= w + k - 1 tokens shares at
    least one whole window of k-grams, hence at least one selected
    fingerprint — the same detection threshold as an exact
    (w+k-1)-token span join (``exact_span_overlap_pairs``) while
    KEEPING only ~2/(w+1) of the positions (expected density of
    sliding-window minima), so the downstream explode + equi-join
    shuffle carries ~(w+1)/2x fewer rows for the same guarantee. The
    paper's positional tie-break (rightmost minimum) only changes which
    OFFSET is recorded, never the selected hash value, so a
    value-distinct fingerprint set needs no tie-break at all — keeping
    the whole operator a pure array expression (zero shuffle, zero
    UDF): O(n*w) JVM-side work per document.

    Docs with >= 1 but < w k-grams yield one fingerprint (the global
    min); docs shorter than k tokens yield an empty set."""
    hs = ordered_shingle_hashes(col, k)
    n = F.size(hs)
    nwin = F.greatest(n - (w - 1), F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), nwin), lambda i: F.array_min(F.slice(hs, i, F.lit(w)))
        )
    )
    return F.when(n >= 1, fps).otherwise(F.array().cast("array<long>"))


def winnow_fingerprint_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
    min_shared: int = 1,
    max_fp_freq: int | None = None,
) -> DataFrame:
    """Cross-document overlap pairs (id_a, id_b, n_shared_fps) via
    winnowing fingerprints: detects every verbatim overlap of
    >= w + k - 1 tokens (guaranteed, not probabilistic) at ~(w+1)/2x
    less join traffic than the full span join. Same single-equi-join
    shape as ``exact_span_overlap_pairs`` — candidates ARE matches
    (60-bit hashes), no verify stage. ``max_fp_freq`` drops
    boilerplate fingerprints shared by more than that many docs before
    the pair join (``cap_hot_keys``), the standard skew guard at
    corpus scale."""
    from .relational import spread_for_cpu

    sp = (
        spread_for_cpu(df)
        .select(id_col, F.explode(winnow_fingerprints(text_col, k, w)).alias("__h"))
    )
    if max_fp_freq is not None:
        sp = cap_hot_keys(sp, ["__h"], max_fp_freq)
    # lazy localCheckpoint: winnowing (k-gram hashing + window-min
    # selection) is the expensive pass and (id, hash) feeds both sides
    # of the self-join — materialize it once, not once per side
    sp = sp.localCheckpoint(eager=False)
    a = sp.select(F.col(id_col).alias("id_a"), "__h")
    b = sp.select(F.col(id_col).alias("id_b"), "__h")
    return (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def char_qgrams(col: Column | str, q: int = 3) -> Column:
    """Distinct character q-grams of a string (array<string>) — the
    blocking key family for edit-distance joins (Gravano et al.,
    VLDB'01). Strings shorter than ``q`` yield an empty set."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (q - 1), F.lit(0))),
            lambda i: c.substr(i, F.lit(q)),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    string_col: str,
    max_dist: int = 2,
    q: int = 3,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Edit-distance similarity join: pairs (id_a, id_b, edit_dist)
    with levenshtein(a, b) <= ``max_dist`` — the fuzzy-title /
    entity-dedup tier below token-level near-dup (two titles differing
    by a typo share every shingle BUT one; MinHash happily matches
    them, yet a catalog dedup wants the exact edit distance and a
    tight threshold).

    q-gram blocking + exact verify: candidates are pairs sharing ANY
    distinct character q-gram (one equi-join on the gram — never a
    cross join), then a length prefilter (|len_a - len_b| <= d; an
    edit changes length by at most 1) and Spark's THRESHOLDED
    levenshtein (banded O(d*n) DP, Spark 3.5+, vs O(n^2) full DP)
    verify exactly. Blocking is LOSSLESS when len - q + 1 > d*q (the
    positional-q-gram pigeonhole: d edits destroy at most d*q grams),
    i.e. guaranteed for strings longer than ~(d+1)*q chars; between
    ``q`` and that bound it is high-recall heuristic blocking —
    callers wanting exact semantics there should lower ``max_dist``
    or ``q``. Strings SHORTER than ``q`` have no q-grams, so they
    additionally block on the WHOLE STRING as their key: identical
    sub-q strings always pair (previously even exact duplicates were
    silently dropped), while NEAR-matches with a sub-q member are
    excluded by construction (they share no q-gram and different
    whole-string keys) — documented loss, bounded by design. A
    wider net (per-character blocks for every string that could pair
    with a short one) was tried and rejected: with a generous
    ``max_dist`` it turns common letters into corpus-hot join keys
    and the candidate set quadratic — measured as a 15-CPU-hour
    sf1 blowup against this data.
    ``max_gram_freq`` drops stop-grams ("the", "ing") shared by more
    than that many strings before the pair join (``cap_hot_keys``) —
    at corpus scale hot grams, not pair verification, are the
    scale risk."""
    from .relational import spread_for_cpu

    base = spread_for_cpu(df).select(
        F.col(id_col).alias("__id"), F.col(string_col).alias("__s")
    )
    length = F.length("__s")
    empty = F.array().cast("array<string>")
    block_keys = F.concat(
        F.when(length >= q, char_qgrams("__s", q)).otherwise(empty),
        # sub-q strings have zero q-grams: block them on the whole
        # string (exact-duplicate pairing; see docstring for the
        # documented near-match loss and why wider nets blow up)
        F.when(
            (length > 0) & (length < q),
            F.array(F.concat(F.lit("\x00s:"), F.col("__s"))),
        ).otherwise(empty),
    )
    g = base.select("__id", "__s", F.explode(block_keys).alias("__g"))
    if max_gram_freq is not None:
        g = cap_hot_keys(g, ["__g"], max_gram_freq)
    # lazy localCheckpoint: the q-gram blocking rows feed both sides of
    # the candidate self-join — hash + explode (+ cap window) once
    g = g.localCheckpoint(eager=False)
    a = g.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"), "__g")
    b = g.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"), "__g")
    cand = (
        a.join(b, "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "__sa", "id_b", "__sb")
        .distinct()
        .filter(
            F.abs(F.length("__sa") - F.length("__sb")) <= F.lit(max_dist)
        )
    )
    dist = F.levenshtein("__sa", "__sb", max_dist)
    return (
        cand.select("id_a", "id_b", dist.cast("long").alias("edit_dist"))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


_SPAN_POS_BITS = 20  # positions per doc < 2^20 for the first-occurrence encoding


def remove_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int = 8
) -> DataFrame:
    """Span-granular dedup ("Deduplicating Training Data Makes
    Language Models Better", ExactSubstr at fixed span width): every
    occurrence of a duplicated ``span_tokens``-token span EXCEPT the
    globally first one (lexicographic (doc, offset) order) is removed
    from the text, and the surviving tokens are re-joined — the
    transform sibling of ``exact_span_overlap_pairs``, which only
    REPORTS the duplication. Within-doc repeats are spans too: a doc
    repeating its own paragraph keeps one copy.

    Shape: positional span hashes (one md5 per offset), one global
    (hash)-keyed min to find first occurrences, one join back to tag
    duplicate occurrences, then a per-doc array rebuild — coverage
    testing and token filtering are higher-order array expressions
    (no UDF), O(tokens x dup_spans) per doc only for docs that
    actually contain duplicates. First-occurrence order is encoded as
    id * 2^20 + offset in one BIGINT (exact integer compare on both
    engines); ids must be non-negative and docs shorter than 2^20
    tokens — violated inputs raise.

    Returns (id_col, clean_text, n_removed_tokens); docs without
    duplicated spans pass through with n_removed_tokens = 0."""
    from .relational import spread_for_cpu

    enc_base = F.lit(1 << _SPAN_POS_BITS)
    # the encoding's precondition is enforced INSIDE the plan (lazy,
    # per-row, no extra scan): a negative id or an offset >= 2^20
    # poisons the lexicographic order, so it raises instead
    enc = F.when(
        (F.col(id_col) < 0) | (F.col("__pos") >= enc_base),
        F.raise_error(
            F.lit(
                f"remove_duplicate_spans: {id_col} must be >= 0 and docs "
                f"shorter than 2^{_SPAN_POS_BITS} tokens"
            )
        ).cast("long"),
    ).otherwise(F.col(id_col) * enc_base + F.col("__pos"))
    grams = (
        spread_for_cpu(df)
        .select(
            F.col(id_col),
            F.posexplode(ordered_shingle_hashes(text_col, span_tokens)).alias(
                "__pos", "__h"
            ),
        )
        .withColumn("__enc", enc)
    )
    first = grams.groupBy("__h").agg(F.min("__enc").alias("__first"))
    dup_spans = (
        grams.join(first, "__h")
        .filter(F.col("__enc") != F.col("__first"))
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__dps"))
    )
    toks = F.split(F.col(text_col), " ")
    dps = F.coalesce(F.col("__dps"), F.array().cast("array<bigint>"))
    k = F.lit(span_tokens)
    covered = lambda t, i: F.exists(  # noqa: E731 — two-arg filter lambda
        dps, lambda s: (s <= i) & (i <= s + k - 1)
    )
    kept = F.filter(toks, lambda t, i: ~covered(t, i))
    return (
        df.join(dup_spans, id_col, "left")
        .select(
            id_col,
            F.array_join(kept, " ").alias("clean_text"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_removed_tokens"),
        )
    )


def incremental_dedup_keep(delta: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """The daily-cadence keep/drop decision: from a delta and its
    ``incremental_neardup_pairs`` output, keep only the delta docs that
    do NOT near-dup an already-kept document. A doc is dropped when it
    is the GREATER id of any pair — the same min-id-canonical rule as
    the batch ``neardup_dedup``, applied pairwise: corpus docs (already
    kept, and in a daily pipeline ids grow monotonically) always win,
    and within the delta the earliest id of a dup group survives.

    Pairwise, not connected-components: on a chain a~c, b~c (with a~b
    never emitted) CC merges all three and keeps only `a`, while this
    rule keeps `a` AND `b` (neither directly lost to a smaller id) —
    pairwise retains more on transitive-only duplicates. That is the
    standard daily-pipeline trade: one narrow anti-join instead of CC
    iteration; run the batch ``neardup_dedup`` (full CC) at corpus
    re-version time to collapse any accumulated chains."""
    losers = pairs.select(F.greatest("id_a", "id_b").alias(id_col)).distinct()
    return delta.join(losers, on=id_col, how="left_anti")


def neardup_dedup(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep one canonical row (min id) per near-dup cluster, plus every
    row that belongs to no cluster — the corpus-dedup end state the
    reference approximates with id-keyed upsert (pipeline.py:69).

    Shape (round 15): one ANTI-join against the LOSERS (clustered ids
    that are not their cluster's minimum — at most one row per pair
    graph node, a pairs-scale frame) instead of a left join against the
    full (id, component) labeling plus a filter. Same kept set row for
    row: a row was kept iff it had no label or equaled its component,
    i.e. iff its id is not a loser; unmatched (incl. NULL) ids never
    join, so they pass through both forms. The corpus side carries one
    fewer wide column through the join and — with the CC local tier's
    broadcast-hinted labels — the whole dedup tail is a single
    BroadcastHashJoin LeftAnti with ZERO corpus-side exchange."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def neardup_dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_by: list[Column],
) -> DataFrame:
    """``neardup_dedup`` with an explicit keep POLICY: one survivor per
    near-dup cluster chosen by ``order_by`` (e.g. quality score
    descending — curation usually wants the best-written copy, not the
    numerically smallest id; min-id is this with ``[col(id).asc()]``).
    Ties must be broken deterministically, so ``order_by`` is always
    extended with the id ascending as the final key.

    Same plan shape as ``neardup_dedup``: connected components over the
    pair graph, then ONE window ranking cluster members. Singletons
    (the overwhelming majority of a deduped corpus) NEVER enter the
    window — ranking them too would funnel every unclustered row into
    the single NULL-component partition, one task sorting ~the whole
    corpus. They pass through a filter instead, so the extra cost over
    min-id is a row_number over just the clustered rows (each cluster
    a few rows). The ordering columns are resolved against ``df``,
    letting the policy use any corpus column (length, quality score,
    recency) without a second join."""
    comp = connected_components(pairs).select(
        F.col("id").alias("__cc_id"), F.col("component").alias("__cc_component")
    )
    labeled = df.join(comp, df[id_col] == comp["__cc_id"], "left")
    singles = labeled.filter(F.col("__cc_component").isNull())
    clustered = labeled.filter(F.col("__cc_component").isNotNull())
    w = Window.partitionBy("__cc_component").orderBy(*order_by, F.col(id_col).asc())
    best = (
        clustered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return singles.unionByName(best).drop("__cc_id", "__cc_component")


def jaccard_prefix_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold_pct: int,
    *,
    min_tokens: int = 1,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join via prefix filtering
    (Chaudhuri et al. SSJoin / Xiao et al. PPJoin): all pairs with
    jaccard(tokens(a), tokens(b)) >= threshold_pct/100 — lossless, the
    exact tier between hash-identical dedup and the probabilistic
    MinHash/SimHash family (q44/q46 trade recall for volume; this
    trades volume bounds for a guarantee).

    Why it scales: under ANY global token order, two sets meeting the
    threshold MUST share a token inside their (|s| - ceil(t|s|) + 1)-
    prefixes — if the prefixes were disjoint, the overlap would be
    capped by the suffix lengths, below what jaccard >= t requires. So
    candidates come from an equi-join on PREFIX tokens only, and the
    order is chosen rarest-first (ascending document frequency, token
    tiebreak), which puts each doc's least-common tokens in its prefix
    and keeps per-token join fan-out near the df floor. No global sort
    anywhere: each doc's tokens order locally by the joined (df, token)
    struct. The size-ratio filter (100|a| >= t|b| both ways) prunes
    before verification; verification is an exact sorted-array
    intersect compared by INTEGER cross-multiplication
    (100*overlap >= t*(|a|+|b|-overlap)) — no float anywhere in the
    verdict, hence oracle-safe.

    Cost shape: one token-df shuffle, one per-doc regroup, one prefix
    equi-join (bounded by rare-token co-occurrence), one id-pair join
    back to the token arrays. A corpus of mass near-duplicates makes
    any EXACT join quadratic in the duplicate class size by definition
    of its output; the probabilistic tiers with caps are the escape
    hatch there.

    Returns (id_a, id_b, overlap, size_a, size_b) with id_a < id_b.
    Docs with fewer than ``min_tokens`` distinct tokens are excluded.
    """
    if not 0 < threshold_pct <= 100:
        raise ValueError(f"threshold_pct must be in (0, 100], got {threshold_pct}")
    t = threshold_pct
    base = docs.select(F.col(id_col), token_set(text_col).alias("__set")).filter(
        F.size("__set") >= min_tokens
    )
    toks = base.select(id_col, F.explode("__set").alias("__tok"))
    dfreq = toks.groupBy("__tok").agg(F.count("*").alias("__df"))
    ordered = (
        toks.join(dfreq, "__tok")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__tok"))),
                lambda s: s["__tok"],
            ).alias("__arr")
        )
        .withColumn("__n", F.size("__arr"))
        # prefix length |s| - ceil(t|s|/100) + 1, ceil in exact ints
        .withColumn(
            "__p",
            F.col("__n")
            - F.floor((F.col("__n") * t + F.lit(99)) / F.lit(100)).cast("int")
            + F.lit(1),
        )
    ).localCheckpoint(eager=False)
    pref = ordered.select(
        F.col(id_col), "__n", F.explode(F.slice("__arr", 1, F.col("__p"))).alias("__tok")
    )
    a = _prefix_cols(pref, "a_", id_col)
    b = _prefix_cols(pref, "b_", id_col)
    cand = (
        a.join(b, a["a___tok"] == b["b___tok"])
        .filter(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
        # size ratio: jac >= t needs t|b| <= 100|a| (and symmetrically)
        .filter(
            (F.lit(100) * F.col("a___n") >= F.lit(t) * F.col("b___n"))
            & (F.lit(100) * F.col("b___n") >= F.lit(t) * F.col("a___n"))
        )
        .select(
            F.col(f"a_{id_col}").alias("id_a"), F.col(f"b_{id_col}").alias("id_b")
        )
        .distinct()
    )
    la = ordered.select(F.col(id_col).alias("id_a"), F.col("__arr").alias("__arr_a"), F.col("__n").alias("size_a"))
    lb = ordered.select(F.col(id_col).alias("id_b"), F.col("__arr").alias("__arr_b"), F.col("__n").alias("size_b"))
    verified = (
        cand.join(la, "id_a")
        .join(lb, "id_b")
        .withColumn("overlap", F.size(F.array_intersect("__arr_a", "__arr_b")))
        .filter(
            F.lit(100) * F.col("overlap")
            >= F.lit(t) * (F.col("size_a") + F.col("size_b") - F.col("overlap"))
        )
    )
    return verified.select("id_a", "id_b", "overlap", "size_a", "size_b")


def _prefix_cols(df: DataFrame, prefix: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{prefix}{id_col}"),
        F.col("__n").alias(f"{prefix}__n"),
        F.col("__tok").alias(f"{prefix}__tok"),
    )


def containment_prefix_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold_pct: int,
    *,
    min_tokens: int = 1,
) -> DataFrame:
    """EXACT asymmetric containment join: all ordered pairs (a, b),
    a != b, where |tokens(a) ∩ tokens(b)| >= t*|tokens(a)| — "most of
    a's vocabulary sits inside b". The quote/subset tier Jaccard
    cannot see: a paragraph wholly quoted inside a long article has
    tiny Jaccard (the union is article-sized) but containment 1.0.

    Prefix filtering works one-sided here: if the pair meets the
    threshold, the overlap is at least ceil(t|a|), so a's
    (|a| - ceil(t|a|) + 1)-prefix under the global rarest-first order
    must hit SOME token of b (any b token, not just b's prefix — with
    no upper bound on |b| the candidate join runs a-prefix tokens
    against the full posting list, bounded by the document frequency
    of a's rarest tokens). Verification is the exact sorted-array
    intersect with the integer cross-multiplied verdict
    (100*overlap >= t*|a|), lossless like ``jaccard_prefix_join``.

    Returns (id_sub, id_super, overlap, size_sub, size_super): id_sub
    is the (near-)contained doc. Pairs are ORDERED — containment is
    not symmetric — so (a,b) and (b,a) can both appear (mutual
    containment == near-identical sets).
    """
    if not 0 < threshold_pct <= 100:
        raise ValueError(f"threshold_pct must be in (0, 100], got {threshold_pct}")
    t = threshold_pct
    base = docs.select(F.col(id_col), token_set(text_col).alias("__set")).filter(
        F.size("__set") >= min_tokens
    )
    toks = base.select(id_col, F.explode("__set").alias("__tok"))
    dfreq = toks.groupBy("__tok").agg(F.count("*").alias("__df"))
    ordered = (
        toks.join(dfreq, "__tok")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__tok"))),
                lambda s: s["__tok"],
            ).alias("__arr")
        )
        .withColumn("__n", F.size("__arr"))
        .withColumn(
            "__p",
            F.col("__n")
            - F.floor((F.col("__n") * t + F.lit(99)) / F.lit(100)).cast("int")
            + F.lit(1),
        )
    ).localCheckpoint(eager=False)
    pref = ordered.select(
        F.col(id_col).alias("id_sub"),
        F.explode(F.slice("__arr", 1, F.col("__p"))).alias("__tok"),
    )
    postings = ordered.select(
        F.col(id_col).alias("id_super"), F.explode("__arr").alias("__tok")
    )
    cand = (
        pref.join(postings, "__tok")
        .filter(F.col("id_sub") != F.col("id_super"))
        .select("id_sub", "id_super")
        .distinct()
    )
    la = ordered.select(
        F.col(id_col).alias("id_sub"),
        F.col("__arr").alias("__arr_a"),
        F.col("__n").alias("size_sub"),
    )
    lb = ordered.select(
        F.col(id_col).alias("id_super"),
        F.col("__arr").alias("__arr_b"),
        F.col("__n").alias("size_super"),
    )
    return (
        cand.join(la, "id_sub")
        .join(lb, "id_super")
        .withColumn("overlap", F.size(F.array_intersect("__arr_a", "__arr_b")))
        .filter(F.lit(100) * F.col("overlap") >= F.lit(t) * F.col("size_sub"))
        .select("id_sub", "id_super", "overlap", "size_sub", "size_super")
    )


def _jstore_paths(path: str) -> tuple[str, str, str]:
    base = path.rstrip("/")
    return f"{base}/jdocs", f"{base}/jpostings", f"{base}/jdfreq"


def _jaccard_ordered(docs: DataFrame, id_col: str, text_col: str, dfreq: DataFrame, t: int) -> DataFrame:
    """Per-doc token arrays sorted under the GIVEN df order (unseen
    tokens df=0, i.e. rarest) + prefix length for threshold ``t``."""
    base = docs.select(F.col(id_col), token_set(text_col).alias("__set")).filter(
        F.size("__set") >= 1
    )
    toks = base.select(id_col, F.explode("__set").alias("__tok"))
    keyed = toks.join(dfreq, "__tok", "left").withColumn(
        "__df", F.coalesce("__df", F.lit(0))
    )
    return (
        keyed.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__tok"))),
                lambda s: s["__tok"],
            ).alias("__arr")
        )
        .withColumn("__n", F.size("__arr"))
        .withColumn(
            "__p",
            F.col("__n")
            - F.floor((F.col("__n") * t + F.lit(99)) / F.lit(100)).cast("int")
            + F.lit(1),
        )
    )


def build_jaccard_store(
    docs: DataFrame, id_col: str, text_col: str, path: str, threshold_pct: int
) -> None:
    """One-time (per corpus version) build of the EXACT-near-dup store:
    the incremental leg of ``jaccard_prefix_join``. Persists the token
    document-frequency snapshot (the global prefix ORDER — pinned at
    build time so every later delta computes prefixes under the SAME
    total order, which is all the losslessness theorem needs; a common
    order, not a current one), each doc's ordered token array, and the
    corpus PREFIX postings (token -> doc, the only rows a delta's
    candidate join ever touches). ``threshold_pct`` is part of the
    store contract — prefixes are threshold-specific."""
    if not 0 < threshold_pct <= 100:
        raise ValueError(f"threshold_pct must be in (0, 100], got {threshold_pct}")
    docs_p, post_p, dfreq_p = _jstore_paths(path)
    base = docs.select(F.col(id_col), token_set(text_col).alias("__set")).filter(
        F.size("__set") >= 1
    )
    toks = base.select(id_col, F.explode("__set").alias("__tok"))
    dfreq = toks.groupBy("__tok").agg(F.count("*").alias("__df"))
    dfreq.write.mode("overwrite").parquet(dfreq_p)
    spark = docs.sparkSession
    ordered = _jaccard_ordered(docs, id_col, text_col, spark.read.parquet(dfreq_p), threshold_pct)
    ordered.withColumn("__t", F.lit(threshold_pct)).write.mode("overwrite").parquet(docs_p)
    spark.read.parquet(docs_p).select(
        F.col(id_col), F.col("__n"), F.explode(F.slice("__arr", 1, F.col("__p"))).alias("__tok")
    ).write.mode("overwrite").parquet(post_p)


def incremental_jaccard_pairs(
    delta: DataFrame, path: str, id_col: str, text_col: str
) -> DataFrame:
    """All EXACT Jaccard pairs (at the store's threshold) involving a
    delta doc: delta-vs-corpus plus within-delta — O(delta) by the
    store design: the corpus side is touched only through the PREFIX
    POSTINGS equi-join (token-pruned) and an id-keyed array fetch for
    the survivors; the corpus is never re-tokenized or re-sorted. Both
    sides order tokens under the store's df snapshot, so the prefix-
    intersection theorem applies to every pair and the result is
    LOSSLESS — identical to ``jaccard_prefix_join`` over corpus ∪
    delta restricted to delta-involving pairs (pinned in pytest; as
    true document frequencies drift from the snapshot only candidate
    SELECTIVITY degrades, never correctness — rebuild to refresh).

    Returns (id_a, id_b, overlap, size_a, size_b), id_a < id_b."""
    spark = delta.sparkSession
    docs_p, post_p, dfreq_p = _jstore_paths(path)
    store_docs = spark.read.parquet(docs_p)
    t = int(store_docs.select("__t").first()[0])
    dfreq = spark.read.parquet(dfreq_p)
    ordered = _jaccard_ordered(delta, id_col, text_col, dfreq, t).localCheckpoint(
        eager=False
    )
    dpref = ordered.select(
        F.col(id_col), "__n", F.explode(F.slice("__arr", 1, F.col("__p"))).alias("__tok")
    )
    # delta-vs-corpus candidates: delta prefix ∩ corpus prefix postings
    cpost = spark.read.parquet(post_p)
    cross = (
        dpref.select(F.col(id_col).alias("__did"), F.col("__n").alias("__dn"), "__tok")
        .join(
            cpost.select(F.col(id_col).alias("__cid"), F.col("__n").alias("__cn"), "__tok"),
            "__tok",
        )
        .filter(F.col("__did") != F.col("__cid"))
        .filter(
            (F.lit(100) * F.col("__dn") >= F.lit(t) * F.col("__cn"))
            & (F.lit(100) * F.col("__cn") >= F.lit(t) * F.col("__dn"))
        )
        .select("__did", "__cid")
        .distinct()
    )
    darr = ordered.select(F.col(id_col).alias("__did"), F.col("__arr").alias("__arr_d"), F.col("__n").alias("__n_d"))
    carr = store_docs.select(F.col(id_col).alias("__cid"), F.col("__arr").alias("__arr_c"), F.col("__n").alias("__n_c"))
    cross_v = (
        cross.join(darr, "__did")
        .join(carr, "__cid")
        .withColumn("overlap", F.size(F.array_intersect("__arr_d", "__arr_c")))
        .filter(
            F.lit(100) * F.col("overlap")
            >= F.lit(t) * (F.col("__n_d") + F.col("__n_c") - F.col("overlap"))
        )
        .select(
            F.least("__did", "__cid").alias("id_a"),
            F.greatest("__did", "__cid").alias("id_b"),
            "overlap",
            F.when(F.col("__did") < F.col("__cid"), F.col("__n_d")).otherwise(F.col("__n_c")).alias("size_a"),
            F.when(F.col("__did") < F.col("__cid"), F.col("__n_c")).otherwise(F.col("__n_d")).alias("size_b"),
        )
    )
    # within-delta pairs under the SAME stored order
    a = dpref.select(F.col(id_col).alias("a_id"), F.col("__n").alias("a_n"), "__tok")
    b = dpref.select(F.col(id_col).alias("b_id"), F.col("__n").alias("b_n"), "__tok")
    within_c = (
        a.join(b, "__tok")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            (F.lit(100) * F.col("a_n") >= F.lit(t) * F.col("b_n"))
            & (F.lit(100) * F.col("b_n") >= F.lit(t) * F.col("a_n"))
        )
        .select("a_id", "b_id")
        .distinct()
    )
    la = ordered.select(F.col(id_col).alias("a_id"), F.col("__arr").alias("__arr_a"), F.col("__n").alias("size_a"))
    lb = ordered.select(F.col(id_col).alias("b_id"), F.col("__arr").alias("__arr_b"), F.col("__n").alias("size_b"))
    within_v = (
        within_c.join(la, "a_id")
        .join(lb, "b_id")
        .withColumn("overlap", F.size(F.array_intersect("__arr_a", "__arr_b")))
        .filter(
            F.lit(100) * F.col("overlap")
            >= F.lit(t) * (F.col("size_a") + F.col("size_b") - F.col("overlap"))
        )
        .select(
            F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"),
            "overlap", "size_a", "size_b",
        )
    )
    return cross_v.unionByName(within_v)


def append_jaccard_store(delta: DataFrame, id_col: str, text_col: str, path: str) -> None:
    """Append the delta's docs to the exact-near-dup store under the
    STORED order (id guard: already-present ids are skipped, so
    replays are no-ops). The df snapshot is deliberately NOT updated —
    the pinned order is what keeps every historical prefix valid;
    rebuild when drift makes candidates too loose."""
    spark = delta.sparkSession
    docs_p, post_p, dfreq_p = _jstore_paths(path)
    store_docs = spark.read.parquet(docs_p)
    t = int(store_docs.select("__t").first()[0])
    existing = store_docs.select(id_col)
    fresh = delta.join(existing, on=id_col, how="left_anti")
    ordered = _jaccard_ordered(
        fresh, id_col, text_col, spark.read.parquet(dfreq_p), t
    ).withColumn("__t", F.lit(t)).localCheckpoint(eager=True)
    ordered.write.mode("append").parquet(docs_p)
    ordered.select(
        F.col(id_col), F.col("__n"), F.explode(F.slice("__arr", 1, F.col("__p"))).alias("__tok")
    ).write.mode("append").parquet(post_p)
