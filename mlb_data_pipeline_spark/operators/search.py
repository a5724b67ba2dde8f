"""Keyword and hybrid retrieval operators: BM25 scoring and
reciprocal-rank fusion (RRF).

The reference's retrieval surface is vector-only (Chroma similarity
search, ``airflow/dags/mlb_pipeline/pipeline.py:51-56`` and
``scripts/rag_pipeline_2.py:40-48``), but every production RAG stack
pairs that with a keyword (lexical) channel and fuses the two rankings —
the hybrid-search shape. These operators supply that channel
Spark-first: BM25 is the classic Robertson/Sparck-Jones probabilistic
ranking (public literature), RRF is Cormack/Clarke/Buettcher '09.

Scale notes (the 100 TB story):

* The term-frequency table IS the inverted index: ``(doc, dl, term,
  tf)`` built by explode + partial-aggregated groupBy — one shuffle
  keyed on (doc, term), the same cardinality as the token stream after
  map-side combine. ``build_text_index``/``save_text_index`` persist it
  term-sorted so a probe reads posting lists, not the corpus.
* Probing is a literal IN-filter on the query terms (pushes into the
  postings parquet scan) followed by broadcast joins of the query
  pairs, the derived per-term document frequencies, and the one-row
  corpus stats — the corpus side never shuffles at query time.
  Scoring emits one row per (query, matching doc, term) — bounded by
  the posting lists of the query terms, not the corpus.
* Without an index, ``bm25_scores`` never builds one: it projects each
  doc once to (id, dl, tf of each query term), collects n, sumdl and
  the per-term df in one global aggregate, and scores the projection
  with those as literals — two narrow passes, no join, no token
  explode, no shuffle. It scans the whole corpus per request, so
  repeated callers should persist an index.
* ``append_text_index`` is the daily-cadence shape: tokenize only the
  delta, append postings, update the stats row; document frequencies
  are derived at probe time so appends can't stale them.

Determinism contract (bit-exact vs the DuckDB oracle):

* tokenization is ``lower`` + ``[a-z0-9]+`` extraction — identical
  regex semantics in both engines;
* every scalar in the score is a fixed-order IEEE double expression;
  divisions and multiplies are correctly rounded per IEEE-754, and the
  one transcendental (idf's ln, where the JVM disagrees with libm by
  1 ulp on some inputs) is floor-quantized to 1e-6 so both engines
  carry the identical double forward;
* the ONLY multi-value float reduction — the per-(query, doc) sum over
  matched terms — is a sequential left fold over the term-sorted list
  (``aggregate(array_sort(collect_list(...)))`` in Spark — unrolled
  over the sorted query terms, +0.0 for an unmatched one, when there
  is no index — and ``list_reduce(list(... ORDER BY term))`` in
  DuckDB), so both engines add in the same order. Float constants are passed through ``repr``
  (shortest round-trip decimal) so both engines parse the identical
  double.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


@dataclass(frozen=True)
class TextIndex:
    """Inverted index for BM25: per-(doc, term) postings plus the
    corpus stats row. Document frequency is NOT stored — it derives
    from the postings at probe time (so appends never invalidate it).
    ``docs`` is the applied-document registry (id, dl) — one row per
    ingested doc INCLUDING token-less ones, the source of truth for
    stats and for append idempotence (postings alone can't represent a
    zero-token doc)."""

    postings: DataFrame  # (id_col, dl, term, tf)
    stats: DataFrame  # single row: (n, sumdl)
    id_col: str
    docs: DataFrame | None = None  # (id_col, dl) applied-doc registry


def build_text_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> TextIndex:
    """Tokenize into the postings table (doc, dl, term, tf) — one
    shuffle keyed on (doc, term) with map-side partial counts; dl rides
    the explode as a functionally-dependent key. The doc registry
    (id, dl) counts ALL docs (empty docs count toward N, the standard
    BM25 convention); stats aggregate the registry, never a second
    corpus pass of their own."""
    base = docs.select(F.col(id_col), _tokens(F.col(text_col)).alias("__toks"))
    registry = base.select(id_col, F.size("__toks").alias("dl"))
    postings = base.select(
        id_col,
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("term"),
    ).groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
    stats = registry.agg(F.count("*").alias("n"), F.sum("dl").alias("sumdl"))
    return TextIndex(postings, stats, id_col, registry)


def _batch_dir(base: str, component: str, batch_id: str) -> str:
    return f"{base}/{component}/batch={batch_id}"


def _delta_batch_id(delta: DataFrame, id_col: str, salt: str = "") -> str:
    """Deterministic batch id for a delta: md5 over the sorted id set
    (one aggregation — the collect is the id list of a DELTA, daily
    cadence, not the corpus). Retries of the same delta derive the same
    id, which is what makes the append protocol replay-idempotent."""
    row = delta.agg(
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(F.collect_list(F.col(id_col).cast("string"))),
            )
        ).alias("h")
    ).collect()[0]
    return (salt + (row.h or "empty"))[:40]


def save_text_index(index: TextIndex, path: str) -> None:
    """Persist the index. Postings are hash-clustered then SORTED by
    term inside each file, so parquet row-group min/max stats prune a
    term-filter probe to the files actually holding those posting
    lists — the probe of a persisted 100 TB index reads posting lists,
    not the corpus. Postings and the doc registry are laid out as
    ``batch=`` partition directories: the initial build is batch
    ``full``, and each append lands in its own batch directory so a
    retried append OVERWRITES its own directory instead of duplicating
    rows (see ``append_text_index``)."""
    base = path.rstrip("/")
    (
        index.postings.withColumn("batch", F.lit("full"))
        .repartition(F.col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("batch")
        .parquet(base + "/postings")
    )
    reg = index.docs
    if reg is None:
        raise ValueError("save_text_index needs an index built by build_text_index (doc registry missing)")
    reg.withColumn("batch", F.lit("full")).write.mode("overwrite").partitionBy(
        "batch"
    ).parquet(base + "/docs")
    _rewrite_stats(index.postings.sparkSession, base)
    index.postings.sparkSession.createDataFrame(
        [(index.id_col,)], "id_col STRING"
    ).coalesce(1).write.mode("overwrite").parquet(base + "/meta")


def _rewrite_stats(spark, base: str) -> None:
    """Stats are DERIVED from the persisted doc registry, never patched
    incrementally — so a crash between a postings/registry append and
    the stats write self-heals on the next maintenance call, and
    token-less docs (no postings) still count toward n/avgdl."""
    reg = spark.read.parquet(base + "/docs")
    reg.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sumdl"),
    ).coalesce(1).write.mode("overwrite").parquet(base + "/stats")


def load_text_index(spark, path: str) -> TextIndex:
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    return TextIndex(
        spark.read.parquet(base + "/postings"),
        spark.read.parquet(base + "/stats"),
        meta.id_col,
        spark.read.parquet(base + "/docs"),
    )


def append_text_index(
    new_docs: DataFrame, path: str, *, text_col: str = "text", batch_id: str | int | None = None
) -> None:
    """Daily-cadence index maintenance: tokenize ONLY the delta and
    append its postings — the corpus is never re-tokenized (the keyword
    analogue of ``vector.append_ivf_index`` /
    ``dedup.append_signature_store``).

    At-least-once safe by construction (not just guarded):

    * the id guard is the DOC REGISTRY, not the postings — token-less
      docs register too, so replaying a batch of empty docs cannot
      re-count them into stats;
    * each append writes into its OWN ``batch=<id>`` partition
      directory with overwrite semantics, and the guard excludes the
      batch's own prior rows — so a retry after ANY partial failure
      recomputes the identical fresh set and overwrites its own
      directories instead of duplicating rows;
    * stats are rebuilt from the registry LAST — a crash between the
      postings/registry writes and the stats write leaves stats stale
      for exactly one retry, after which the rebuild heals them.

    ``batch_id`` defaults to a content hash of the delta's ids (retries
    of the same delta converge on the same directory); streaming
    callers pass the micro-batch epoch. Document frequencies need no
    maintenance: they are derived from postings at probe time."""
    import re as _re

    spark = new_docs.sparkSession
    base = path.rstrip("/")
    idx = load_text_index(spark, base)
    if batch_id is None:
        bid = _delta_batch_id(new_docs, idx.id_col)
    else:
        bid = str(batch_id)
        if not _re.fullmatch(r"[A-Za-z0-9_.-]{1,64}", bid):
            raise ValueError(f"batch_id must be a safe partition value: {bid!r}")
    # Guard against every batch EXCEPT this one: a retry whose previous
    # attempt already registered some of these docs must still see them
    # as fresh (it overwrites its own directories), while docs applied
    # by OTHER batches stay excluded.
    applied_elsewhere = idx.docs.filter(F.col("batch") != bid).select(idx.id_col)
    fresh = new_docs.join(applied_elsewhere, idx.id_col, "left_anti")
    # eager checkpoint: fresh feeds the postings AND registry writes
    delta = build_text_index(
        fresh.localCheckpoint(eager=True), id_col=idx.id_col, text_col=text_col
    )
    if delta.docs.limit(1).count() > 0:
        delta.postings.repartition(F.col("term")).sortWithinPartitions(
            "term"
        ).write.mode("overwrite").parquet(_batch_dir(base, "postings", bid))
        delta.docs.write.mode("overwrite").parquet(_batch_dir(base, "docs", bid))
    _rewrite_stats(spark, base)


def refresh_text_index(
    changed_docs: DataFrame, path: str, *, text_col: str = "text"
) -> None:
    """Keyed content-change upsert (reference delete-then-add,
    scrape_store_embed.py:79): purge the changed ids' postings and
    registry rows, then append the new text as a fresh batch — after
    which probes see ONLY the new content and stats reflect the new
    lengths (rebuilt from the registry inside the append).

    Unchanged-id replays should use ``append_text_index`` (no-op via
    the id guard); refresh is for ids whose TEXT changed — the one case
    the append-only guard would silently skip. The purge is a filtered
    rewrite preserving the batch partition layout: O(store) I/O, the
    honest cost of deleting from a term-clustered layout — refresh runs
    at content-change cadence, not delta cadence. The fresh batch id is
    salted so a later replay of the ORIGINAL ingest batch cannot
    resurrect the stale text (its directory no longer matches the
    registry's view of those ids)."""
    from ..sources.writers import delete_keys_partitioned

    spark = changed_docs.sparkSession
    base = path.rstrip("/")
    idx = load_text_index(spark, base)
    ids = changed_docs.select(idx.id_col)
    for component in ("postings", "docs"):
        delete_keys_partitioned(
            spark, f"{base}/{component}", ids, idx.id_col, "batch", "__schema__"
        )
    append_text_index(
        changed_docs,
        base,
        text_col=text_col,
        batch_id=_delta_batch_id(changed_docs, idx.id_col, salt="r"),
    )


def _bm25_term(tf, dl, df, n, sumdl, k1: float, b: float):
    """One query term's BM25 contribution — the single copy of the
    formula both ``bm25_scores`` branches call (column or literal
    arguments alike).

    idf is the ONE transcendental in the score, and the JVM's Math.log
    differs from libm (DuckDB, CPython) by 1 ulp on some inputs
    (measured: df=380, N=500). Quantize with an exact floor to 1e-6 —
    floor/multiply/divide are correctly rounded per IEEE, so both
    engines produce the identical double unless the 1-ulp disagreement
    straddles a quantum boundary (~1e-10 per value, and deterministic
    per corpus — the oracled test would catch it loudly, not flake).
    1e-6 absolute on idf values O(0.1..10) is far below ranking
    relevance."""
    idf = F.floor(
        F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
        * F.lit(1000000.0)
    ) / F.lit(1000000.0)
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / (sumdl / n))
    return (idf * (tf * F.lit(k1 + 1.0))) / denom


def bm25_scores(
    docs: DataFrame | None,
    query_terms: list[tuple[int, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    index: TextIndex | None = None,
) -> DataFrame:
    """BM25 score of every document that matches >= 1 term of each query.

    ``query_terms`` is the pre-tokenized query set as (query_id, term)
    pairs — queries are driver-side literals (the RAG request path), so
    tokenizing them in Python keeps the operator free of a second
    tokenization contract. Duplicate pairs are deduped (classic BM25
    uses distinct query terms).

    Pass ``index`` (from ``build_text_index``/``load_text_index``) to
    probe a prebuilt inverted index — the deployment shape: zero corpus
    scans, the term filter pushes into the postings parquet. Without an
    index the docs are scanned in two narrow passes — one driver
    collect of the corpus stats and query-term dfs, then scoring — with
    no join and no shuffle; repeated callers should still persist an
    index.

    Returns (query_id, ``id_col``, score, n_terms) — un-ranked; compose
    with ``top_k_per_group`` (or see ``bm25_topk``) for retrieval.
    """
    if index is None:
        if docs is None:
            raise ValueError("pass docs or index")
        return _bm25_scan_scores(docs, query_terms, id_col, text_col, k1, b)
    spark = index.postings.sparkSession
    id_col = index.id_col
    qt = spark.createDataFrame(
        sorted(set(query_terms)), "query_id int, term string"
    )
    term_list = sorted({t for _, t in query_terms})

    # The probe: a literal IN-filter (not a join) so it pushes down
    # into the postings scan and prunes row groups in the persisted
    # layout. hits is bounded by the query terms' posting lists.
    hits = index.postings.filter(F.col("term").isin(term_list))

    # Document frequency per query term: postings are unique per
    # (doc, term), so a plain count is df. Derived at probe time —
    # tiny, and always consistent with appends.
    dfreq = hits.groupBy("term").agg(F.count("*").alias("__df"))

    matched = (
        hits.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(index.stats))
    )
    per_term = _bm25_term(
        F.col("tf"), F.col("dl"), F.col("__df"), F.col("n"), F.col("sumdl"), k1, b
    )
    scored = matched.select(
        "query_id", id_col, F.col("term"), per_term.alias("__sc")
    )
    # Sequential fold over the term-sorted per-term scores — the one
    # place floats accumulate; order pinned for engine neutrality.
    return scored.groupBy("query_id", id_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "__sc"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__sc"],
        ).alias("score"),
        F.count("*").alias("n_terms"),
    )


def _bm25_scan_scores(
    docs: DataFrame,
    query_terms: list[tuple[int, str]],
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """The index-less branch of ``bm25_scores``: narrow passes only,
    bit-identical to the indexed probe of ``build_text_index(docs)``."""
    queries: dict[int, list[str]] = {}
    for qid, t in sorted(set(query_terms)):
        queries.setdefault(qid, []).append(t)
    if not queries:
        return docs.select(
            F.lit(None).cast("int").alias("query_id"),
            F.col(id_col),
            F.lit(None).cast("double").alias("score"),
            F.lit(None).cast("long").alias("n_terms"),
        ).limit(0)
    tf = {t: f"__tf{i}" for i, t in enumerate(sorted({t for _, t in query_terms}))}

    # Step 1: project each doc once to (id, dl, tf of each query term)
    # and lazily checkpoint that narrow projection, never the token
    # arrays; the tokens get their own select so the regex runs once
    # per doc. One global aggregate over it collects n, sumdl and every
    # term's df as ONE driver row, sized by the query terms.
    toks = docs.select(F.col(id_col), _tokens(F.col(text_col)).alias("__toks"))
    narrow = toks.select(
        id_col,
        F.size("__toks").alias("dl"),
        *[
            (F.size("__toks") - F.size(F.array_remove("__toks", t))).alias(c)
            for t, c in tf.items()
        ],
    ).localCheckpoint(eager=False)
    stats = narrow.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sumdl"),
        *[F.count_if(F.col(c) > 0).alias(c) for c in tf.values()],
    ).collect()[0]

    # Step 2: score every doc from the checkpoint, the stats as long
    # literals. Each query folds its terms in term-sorted order from
    # 0.0; an unmatched term adds +0.0, which leaves the non-negative
    # running sum unchanged, so the double equals the indexed fold over
    # the matched terms alone.
    def lit_long(v):
        return F.lit(v).cast("long")

    rows = []
    for qid, ts in queries.items():
        score, n_terms = F.lit(0.0), lit_long(0)
        for t in ts:
            hit = F.col(tf[t]) > 0
            sc = _bm25_term(
                F.col(tf[t]), F.col("dl"), lit_long(stats[tf[t]]),
                lit_long(stats.n), lit_long(stats.sumdl), k1, b,
            )
            score = score + F.when(hit, sc).otherwise(F.lit(0.0))
            n_terms = n_terms + hit.cast("long")
        rows.append(
            F.struct(
                F.lit(qid).cast("int").alias("query_id"),
                F.col(id_col),
                score.alias("score"),
                n_terms.alias("n_terms"),
            )
        )
    return narrow.select(F.inline(F.array(*rows))).filter(F.col("n_terms") > 0)


def bm25_topk(
    docs: DataFrame | None,
    query_terms: list[tuple[int, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    index: TextIndex | None = None,
) -> DataFrame:
    """Top-k BM25 retrieval per query: (query_id, id, rank, score,
    n_terms), rank 1-based by (score desc, id asc) — the deterministic
    retrieval order. One windowed rank over the scored rows (bounded by
    the query terms' posting lists, not the corpus). Pass ``index`` to
    probe a persisted inverted index instead of tokenizing ``docs``."""
    from .relational import top_k_per_group

    scored = bm25_scores(
        docs, query_terms, id_col=id_col, text_col=text_col, k1=k1, b=b,
        index=index,
    )
    if index is not None:
        id_col = index.id_col
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col(id_col).asc()],
        k,
        rn_col="rank",
    ).select("query_id", id_col, "rank", "score", "n_terms")


def bm25_oracle_sql(
    query_terms: list[tuple[int, str]],
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> str:
    """DuckDB mirror of ``bm25_topk`` — same tokenization, same
    fixed-order arithmetic, same sequential fold (``list_reduce`` over
    the term-ordered list; Spark's 0.0 init is IEEE-neutral for the
    positive addends), constants via ``repr`` so both engines parse the
    identical double."""
    import re

    bad = [t for _, t in query_terms if not re.fullmatch(TOKEN_RE, t)]
    if bad:
        # terms are embedded as SQL literals; anything outside the token
        # alphabet could never match the tokenizer anyway (and a quote
        # would corrupt the generated SQL) — refuse loudly
        raise ValueError(f"query terms must match {TOKEN_RE!r}: {bad[:5]}")
    pairs = ",\n         ".join(
        f"({qid}, '{t}')" for qid, t in sorted(set(query_terms))
    )
    return f"""
WITH qt(query_id, term) AS (VALUES {pairs}),
base AS (
  SELECT {id_col}, regexp_extract_all(lower({text_col}), '{TOKEN_RE}') AS toks
  FROM {table}
),
tok AS (
  SELECT {id_col}, len(toks) AS dl, unnest(toks) AS term FROM base
),
tf AS (
  SELECT {id_col}, dl, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3
),
stats AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS sumdl FROM base),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1
),
scored AS (
  -- every inexact float constant is ::DOUBLE — DuckDB parses bare
  -- decimal-point literals as DECIMAL, and e.g. tf * 2.2 in exact
  -- decimal arithmetic lands 1 ulp away from the double product the
  -- Spark side computes
  SELECT qt.query_id, tf.{id_col}, tf.term,
         ((floor(ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * 1000000.0) / 1000000.0)
          * (tf.tf * {k1 + 1.0!r}::DOUBLE))
         / (tf.tf + {k1!r}::DOUBLE * ({1.0 - b!r}::DOUBLE + {b!r}::DOUBLE * tf.dl / (stats.sumdl / stats.n)))
           AS sc
  FROM tf JOIN qt USING (term) JOIN dfreq USING (term), stats
),
summed AS (
  SELECT query_id, {id_col},
         list_reduce(list(sc ORDER BY term), (a, x) -> a + x) AS score,
         COUNT(*) AS n_terms
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, {id_col},
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, {id_col}) AS INT) AS rank,
         score, n_terms
  FROM summed
)
SELECT * FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


def rrf_fuse(
    rankings: list[DataFrame],
    on: list[str],
    *,
    rank_col: str = "rank",
    k_rrf: float = 60.0,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. '09): fused score =
    sum_i 1/(k + rank_i), with an item missing from a ranking
    contributing 0. Input DataFrames each carry ``on`` + ``rank_col``;
    the fusion is a chain of full-outer joins on ``on`` (ranked lists
    are top-k — tiny, broadcastable) and a FIXED-ORDER sum of the
    per-ranking reciprocal terms, so the double result is
    engine-deterministic (two-term sums are additionally commutative in
    IEEE, but the fixed expression order covers any fan-in).

    Returns ``on`` + rank_1..rank_N (int, null where absent) +
    rrf_score (double)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    tagged = [
        df.select(*on, F.col(rank_col).alias(f"rank_{i + 1}"))
        for i, df in enumerate(rankings)
    ]
    joined = reduce(lambda a, b: a.join(b, on, "full_outer"), tagged)
    score = reduce(
        lambda acc, i: acc
        + F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(f"rank_{i + 1}")), F.lit(0.0)
        ),
        range(1, len(rankings)),
        F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_1")), F.lit(0.0)),
    )
    return joined.select(
        *on,
        *[F.col(f"rank_{i + 1}") for i in range(len(rankings))],
        score.alias("rrf_score"),
    )


def tokenize_query(text: str, query_id: int = 0) -> list[tuple[int, str]]:
    """Driver-side query tokenization matching the corpus tokenizer
    (``lower`` + ``[a-z0-9]+``) — the (query_id, term) pairs
    ``bm25_scores`` expects. Distinct terms, order-insensitive."""
    import re

    return [(query_id, t) for t in sorted(set(re.findall(TOKEN_RE, text.lower())))]


def tfidf_keywords(
    docs: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    max_doc_frac: float = 0.5,
    index: TextIndex | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed tf-idf
    (sklearn convention: idf = ln((N+1)/(df+1)) + 1, tf normalized by
    document length) — the document-tagging / topic-labeling step of a
    curation pipeline, and the extractive half of the reference's
    summarize-and-tag intent (scripts/llm_summaries.py) without an LLM
    call.

    Runs off the SAME inverted-index postings as BM25 (pass ``index``
    to reuse a persisted one; else the postings are built from
    ``docs``). Unlike the BM25 probe, df is
    corpus-wide — keyword extraction needs every term's df, so this is
    one extra (term)-keyed aggregation + join, combiner-friendly.
    ``max_doc_frac`` drops terms appearing in more than that fraction
    of documents BEFORE the join: stopword-class terms are both
    non-characteristic (idf ~ 0) and exactly the hot join keys that
    skew at corpus scale — one knob addresses quality and skew
    together. idf is floor-quantized to 1e-6 (the ``bm25_scores``
    engine-neutrality contract: JVM Math.log differs from libm by 1
    ulp on some inputs); tf/dl and the product are single correctly
    rounded IEEE ops, so both engines agree bit-for-bit.

    Returns (id_col, rank, term, score), rank 1-based by
    (score desc, term asc)."""
    from .relational import top_k_per_group

    if index is None:
        if docs is None:
            raise ValueError("pass docs or index")
        index = build_text_index(docs, id_col=id_col, text_col=text_col)
    id_col = index.id_col
    dfreq = index.postings.groupBy("term").agg(F.count("*").alias("__df"))
    dfreq = dfreq.join(F.broadcast(index.stats)).filter(
        F.col("__df") <= F.col("n") * F.lit(max_doc_frac)
    )
    joined = index.postings.join(dfreq, "term")
    idf = F.floor(
        F.log((F.col("n") + F.lit(1.0)) / (F.col("__df") + F.lit(1.0)))
        * F.lit(1000000.0)
    ) / F.lit(1000000.0) + F.lit(1.0)
    score = (F.col("tf") / F.col("dl")) * idf
    scored = joined.select(id_col, "term", score.alias("score"))
    return top_k_per_group(
        scored, [id_col], [F.col("score").desc(), F.col("term").asc()], k, rn_col="rank"
    ).select(id_col, F.col("rank").cast("int").alias("rank"), "term", "score")


def unigram_logprob(
    docs: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    index: TextIndex | None = None,
) -> DataFrame:
    """Per-document mean unigram log-likelihood under the corpus's OWN
    unigram LM — the perplexity-filtering quality signal (CCNet-style)
    at unigram order, which needs no external model: documents full of
    corpus-rare tokens (gibberish, encoding noise, wrong-language
    spill) score very negative; stopword soup scores near the corpus
    ceiling. score(d) = sum_t tf_d(t) * ln p(t) / dl with Lidstone
    smoothing p(t) = (ctf(t) + alpha) / (T + alpha * V) over corpus
    term counts ctf, total tokens T, vocab size V.

    Same postings family as BM25/tf-idf (pass ``index`` to reuse a
    persisted one): ctf/T/V are one term-keyed aggregation and one
    tiny global aggregate, both combiner-friendly; the per-doc score
    is one more (doc)-keyed pass. Engine-neutral by the established
    contract: ln quantized to 1e-6 (JVM vs libm 1-ulp), per-doc sum
    folded in term-sorted order, every other op a single correctly
    rounded IEEE step. Docs with zero tokens have no postings and are
    absent from the result (they have no likelihood to speak of).

    Returns (id_col, dl, logprob) — logprob is per-token, <= 0."""
    if index is None:
        if docs is None:
            raise ValueError("pass docs or index")
        index = build_text_index(docs, id_col=id_col, text_col=text_col)
    id_col = index.id_col
    lm = index.postings.groupBy("term").agg(F.sum("tf").alias("__ctf"))
    totals = lm.agg(
        F.sum("__ctf").alias("__T"), F.count("*").alias("__V")
    )
    joined = index.postings.join(lm, "term").join(F.broadcast(totals))
    qln = F.floor(
        F.log(
            (F.col("__ctf") + F.lit(alpha))
            / (F.col("__T") + F.lit(alpha) * F.col("__V"))
        )
        * F.lit(1000000.0)
    ) / F.lit(1000000.0)
    per_term = joined.select(
        id_col, "dl", "term", (F.col("tf") * qln).alias("__lp")
    )
    return per_term.groupBy(id_col, "dl").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "__lp"))),
                F.lit(0.0),
                lambda acc, x: acc + x["__lp"],
            )
            / F.col("dl")
        ).alias("logprob")
    )


def dsir_logratio(
    candidates: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023) at unigram order: score every candidate document by the mean
    per-token log importance ratio ln p_target(t) - ln p_source(t),
    where both unigram LMs are Lidstone-smoothed over the SHARED vocab
    (the union of both corpora's terms, so a term unseen in the target
    gets mass alpha / (T_t + alpha*V), not zero). Feed the result to
    ``curation.gumbel_topk`` to draw the DSIR sample: Gumbel-max top-k
    on the log ratio IS sampling without replacement proportional to
    the importance weight exp(logratio), no exp() ever evaluated.

    Reference parity: the reference pipeline has no data-selection
    stage at all (its corpus is a fixed scrape list,
    scripts/scrape_store_embed.py); this is part of the
    training-data-curation surface the engine adds on top.

    Scale: two postings builds (one scan each side), two term-keyed
    LM aggregations, one broadcast totals row, one (doc)-keyed fold.
    The target corpus is typically tiny (a benchmark / domain sample)
    — its LM is a term-keyed aggregate, never a crossed structure.
    Engine-neutral by the established contract: each ln() floor-
    quantized at 1e-6 (JVM vs libm 1-ulp), per-doc sum folded in
    term-sorted order, all other steps single correctly-rounded IEEE
    ops. Zero-token candidates have no postings and are absent (no
    likelihood to speak of), matching ``unigram_logprob``.

    Returns (id_col, dl, logratio); logratio is per-token."""
    cand_idx = build_text_index(candidates, id_col=id_col, text_col=text_col)
    tgt_idx = build_text_index(target, id_col=id_col, text_col=text_col)
    src_lm = cand_idx.postings.groupBy("term").agg(F.sum("tf").alias("__ctf_s"))
    tgt_lm = tgt_idx.postings.groupBy("term").agg(F.sum("tf").alias("__ctf_t"))
    vocab = (
        src_lm.join(tgt_lm, "term", "full_outer")
        .select(
            "term",
            F.coalesce("__ctf_s", F.lit(0)).alias("__ctf_s"),
            F.coalesce("__ctf_t", F.lit(0)).alias("__ctf_t"),
        )
    )
    totals = vocab.agg(
        F.sum("__ctf_s").alias("__Ts"),
        F.sum("__ctf_t").alias("__Tt"),
        F.count("*").alias("__V"),
    )

    def _qln(num, den):
        return F.floor(F.log(num / den) * F.lit(1000000.0)) / F.lit(1000000.0)

    joined = cand_idx.postings.join(vocab, "term").join(F.broadcast(totals))
    lr = (
        _qln(
            F.col("__ctf_t") + F.lit(alpha),
            F.col("__Tt") + F.lit(alpha) * F.col("__V"),
        )
        - _qln(
            F.col("__ctf_s") + F.lit(alpha),
            F.col("__Ts") + F.lit(alpha) * F.col("__V"),
        )
    )
    per_term = joined.select(
        id_col, "dl", "term", (F.col("tf") * lr).alias("__lr")
    )
    return per_term.groupBy(id_col, "dl").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "__lr"))),
                F.lit(0.0),
                lambda acc, x: acc + x["__lr"],
            )
            / F.col("dl")
        ).alias("logratio")
    )


def bigram_logprob(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean CONDITIONAL log-likelihood under the corpus's
    own bigram LM — the next perplexity-filter order above
    ``unigram_logprob`` (a doc of corpus-common words in corpus-unseen
    ORDER scores low here while scoring fine at unigram order: shuffled
    text, boilerplate stitching, n-gram spam).

    score(d) = sum_{i=2..dl} ln p(w_i | w_{i-1}) / (dl - 1), with
    add-alpha smoothing p(b|a) = (c(ab) + alpha) / (c(a·) + alpha * V)
    where c(ab) are corpus bigram counts, c(a·) the bigram-derived
    context counts, and V the unigram vocab size — a proper
    conditional distribution (sums to 1 over the vocab per context).

    Scale shape: tokenize once, derive the bigram stream with an
    in-row array transform (no positional self-join), then the same
    combiner-friendly aggregation family as the unigram scorer: one
    (doc, bigram) count, one corpus bigram count, one context rollup
    OF THE BIGRAM COUNTS (never a second corpus pass), one broadcast
    V row. Engine-neutral by the established contract: ln
    floor-quantized at 1e-6, per-doc sum folded in bigram-sorted
    order. Docs with fewer than two tokens have no bigram likelihood
    and are absent.

    Returns (id_col, dl, logprob); logprob is per-transition, <= 0."""
    base = docs.select(F.col(id_col), _tokens(F.col(text_col)).alias("__toks"))
    base = base.withColumn("dl", F.size("__toks")).filter(F.col("dl") >= 2)
    bigrams = base.select(
        id_col,
        "dl",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.col("dl")),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("__toks", (i - 1).cast("int")),
                    F.element_at("__toks", i.cast("int")),
                ),
            )
        ).alias("bg"),
    )
    tf = bigrams.groupBy(id_col, "dl", "bg").agg(F.count("*").alias("tf"))
    lm = tf.groupBy("bg").agg(F.sum("tf").alias("__cbg"))
    ctx = lm.withColumn("__a", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
    ctx = ctx.groupBy("__a").agg(F.sum("__cbg").alias("__cctx"))
    vocab = (
        docs.select(F.explode(_tokens(F.col(text_col))).alias("term"))
        .agg(F.count_distinct("term").alias("__V"))
    )
    joined = (
        tf.join(lm, "bg")
        .withColumn("__a", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(ctx, "__a")
        .join(F.broadcast(vocab))
    )
    qln = F.floor(
        F.log(
            (F.col("__cbg") + F.lit(alpha))
            / (F.col("__cctx") + F.lit(alpha) * F.col("__V"))
        )
        * F.lit(1000000.0)
    ) / F.lit(1000000.0)
    per = joined.select(id_col, "dl", "bg", (F.col("tf") * qln).alias("__lp"))
    return per.groupBy(id_col, "dl").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("bg", "__lp"))),
                F.lit(0.0),
                lambda acc, x: acc + x["__lp"],
            )
            / (F.col("dl") - 1)
        ).alias("logprob")
    )


def perplexity_tiers(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    calib_fraction: float = 0.2,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    salt: str = "",
) -> DataFrame:
    """CCNet-style perplexity tiering: split the corpus into ``head`` /
    ``middle`` / ``tail`` by LM score (here ``bigram_logprob`` — higher
    logprob = lower perplexity = head), so downstream mixing can keep
    the head, subsample the middle, and drop or re-review the tail instead
    of applying one hard quality cutoff.

    Scale shape: CCNet's trick is that tier BOUNDARIES come from a
    calibration set, not a global ranking — a global ntile over 100 TB
    would be a single-partition sort. Here the boundaries are exact
    nearest-rank quantiles of a DETERMINISTIC hash sample
    (``hash_keep``, so the calibration set — and therefore every tier
    assignment — is reproducible across engines, sessions and
    partitionings; ``rand()`` sampling would make the whole output
    nondeterministic). The sample is the only thing sorted (one
    bounded window); assignment is a narrow comparison pass against
    the broadcast one-row cutoffs. Ties take the BETTER tier
    (logprob >= cut_high -> head, >= cut_low -> middle, else tail):
    a corpus with many identically-scored docs must not collapse into
    tail when the cutoff lands ON the shared score — at threshold
    means kept, as in CCNet's perplexity cutoffs. An
    empty calibration sample leaves both cutoffs NULL and every doc in
    ``tail`` (both engines agree on NULL CASE semantics) — size
    ``calib_fraction`` so that cannot happen.

    Returns (id_col, dl, logprob, tier); docs with fewer than two
    tokens carry no LM score and are absent, as in ``bigram_logprob``.
    """
    from pyspark.sql import Window

    from .curation import hash_keep

    if not 0.0 < calib_fraction <= 1.0:
        raise ValueError(f"calib_fraction must be in (0, 1], got {calib_fraction}")
    lo, hi = cuts
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"cuts must satisfy 0 < lo < hi < 1, got {cuts}")

    scored = bigram_logprob(docs, id_col=id_col, text_col=text_col)
    calib = scored.filter(hash_keep(id_col, calib_fraction, salt))
    # constant partition key: the ranking IS single-partition (that is
    # the point — only the bounded sample gets totally ordered), but an
    # empty partition spec makes WindowExec warn on every task
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("logprob").asc(), F.col(id_col).asc()
    )
    ranked = calib.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(F.lit(0)))
    )
    cutrow = ranked.agg(
        F.max(
            F.when(
                F.col("__rn") == F.greatest(F.lit(1), F.ceil(F.lit(lo) * F.col("__n"))),
                F.col("logprob"),
            )
        ).alias("__cut_lo"),
        F.max(
            F.when(
                F.col("__rn") == F.greatest(F.lit(1), F.ceil(F.lit(hi) * F.col("__n"))),
                F.col("logprob"),
            )
        ).alias("__cut_hi"),
    )
    tier = (
        F.when(F.col("logprob") >= F.col("__cut_hi"), F.lit("head"))
        .when(F.col("logprob") >= F.col("__cut_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cutrow))
        .withColumn("tier", tier)
        .drop("__cut_lo", "__cut_hi")
    )
