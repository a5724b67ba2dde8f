"""Entry point B — interactive RAG retrieval (SURVEY §3.2).

Reference: rag_pipeline(query_str) (pipeline.py:95-140): embed query ->
collection.query(n_results=3) -> "\\n\\n".join(docs) -> LLM. The engine's
physical plan: embed the query driver-side (one vector), broadcast it
through a literal, narrow scan+score over the store, TakeOrdered(k),
then the U6 enrichment operator for generation (mocked by default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.embed import fake_encode
from ..operators.enrich import MockLLMClient, llm_enrich
from ..operators.vector import context_assembly, cosine_topk


def retrieve(spark: SparkSession, store: DataFrame, query_text: str, k: int = 3) -> DataFrame:
    """Top-k docs for a text query against an embedded store
    (id, text, embedding). No shuffle until the final TakeOrdered(k)."""
    qvec = fake_encode(query_text)
    topk = cosine_topk(store, qvec, "url", "embedding", k)
    # k rows at this point — the global window is a no-op shuffle-wise
    return topk.withColumn("rank", F.row_number().over(Window.orderBy(F.col("sim").desc(), F.col("url"))))


def rag_answer(spark: SparkSession, store: DataFrame, question: str, k: int = 3, client_factory=MockLLMClient) -> DataFrame:
    """retrieve -> context assembly -> (mock) LLM completion. Returns a
    1-row frame (context, n_docs, prompt, completion)."""
    ranked = retrieve(spark, store, question, k)
    ctx = context_assembly(ranked.select("rank", F.col("text")), "text", "rank")
    prompt = ctx.withColumn(
        "prompt",
        F.concat(F.lit("Context:\n"), F.col("context"), F.lit(f"\n\nQuestion: {question}\nAnswer:")),
    )
    return llm_enrich(prompt, "prompt", client_factory=client_factory)


def build_chunk_store(docs: DataFrame, id_col: str = "url", text_col: str = "text",
                      *, size: int = 400, overlap: int = 80,
                      chunking: str = "sliding") -> DataFrame:
    """Encoder-context-safe store build: chunk then embed each window
    (V1). Retrieval granularity becomes the chunk — ``chunk_key`` is
    ``<doc id>#<window ordinal>`` and ``char_start`` re-anchors a hit
    into its source doc. Narrow end to end: the chunker adds no
    shuffle and the embed UDF maps over the chunk rows.

    ``chunking="sliding"`` (default) is the fixed-size overlapped
    window (C7); ``"cdc"`` uses content-defined boundaries
    (``cdc_chunks``, expected chunk length = ``size``, no overlap) —
    re-crawled pages with small edits then produce mostly IDENTICAL
    chunk rows, so store-level dedup and cached embeddings keep
    applying to the unedited remainder."""
    from ..operators.curation import cdc_chunks, chunk_text
    from ..operators.relational import spread_for_cpu

    if chunking == "cdc":
        chunks = cdc_chunks(docs, id_col, text_col, divisor=size)
    elif chunking == "sliding":
        chunks = chunk_text(docs, id_col, text_col, size=size, overlap=overlap)
    else:
        raise ValueError(f"chunking must be 'sliding' or 'cdc', got {chunking!r}")
    keyed = chunks.select(
        F.concat(F.col(id_col).cast("string"), F.lit("#"), F.col("chunk_idx")).alias("chunk_key"),
        F.col(id_col),
        "chunk_idx",
        "char_start",
        F.col("chunk_text").alias("text"),
    )
    from ..functions.embed import embed_column

    return embed_column(spread_for_cpu(keyed), "text")


def hybrid_retrieve(
    spark: SparkSession,
    store: DataFrame,
    query_text: str,
    k: int = 3,
    *,
    id_col: str = "url",
    channel_k: int = 20,
    k_rrf: float = 60.0,
) -> DataFrame:
    """Hybrid retrieval over an embedded store (id, text, embedding):
    the BM25 lexical channel and the cosine semantic channel each rank
    their top ``channel_k``, reciprocal-rank fusion merges them, top
    ``k`` come back with both channel ranks attached. The keyword
    channel has no index here, so it scans the store: two narrow passes
    (one stats collect, then scoring) and one rank exchange. The vector
    channel is a narrow scan + TakeOrdered, and the fusion a tiny
    ranked-list join."""
    from ..operators.search import bm25_topk, rrf_fuse, tokenize_query

    bm = (
        bm25_topk(store, tokenize_query(query_text), id_col=id_col, k=channel_k)
        .select(id_col, "rank")
    )
    qvec = fake_encode(query_text)
    vr = cosine_topk(store, qvec, id_col, "embedding", channel_k).select(
        id_col,
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col(id_col).asc()))
        .alias("rank"),
    )
    fused = rrf_fuse([bm, vr], [id_col], k_rrf=k_rrf)
    top = fused.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc()).limit(k)
    return top.join(store.select(id_col, "text"), id_col).orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )


def retrieve_diverse(
    spark: SparkSession,
    store: DataFrame,
    query_text: str,
    k: int = 3,
    *,
    id_col: str = "url",
    candidate_k: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Diversity-aware retrieval: cosine top-``candidate_k`` candidates,
    then MMR selects ``k`` of them (lam*relevance minus
    (1-lam)*max-similarity-to-already-chosen) — so a store where one
    passage was chunked into many overlapping windows fills ONE context
    slot with it, not all of them. The expensive part stays the narrow
    scan + TakeOrdered(candidate_k); MMR re-ranks only the bounded
    candidate set (k tiny iterations, see ``mmr_select``)."""
    from ..operators.vector import mmr_select

    qvec = fake_encode(query_text)
    cand = cosine_topk(store, qvec, id_col, "embedding", candidate_k).select(
        id_col, "embedding", "sim"
    )
    picked = mmr_select(cand, id_col, "embedding", "sim", k, lam=lam)
    return picked.join(store.select(id_col, "text"), id_col).orderBy("pos")
