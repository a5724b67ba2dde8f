"""``retrieval``: many small k=3 requests over a chunk store.

The store (about 7.2k chunks of the sf0.1 documents, each embedded) and
a BM25 text index over it are built in set-up, persisted, and read
back. Each request is one of cosine ``retrieve``, ``bm25_topk`` on the
prebuilt index, or ``hybrid_retrieve`` (both channels fused by RRF),
with a seeded query text, and collects its rows. Requests use the same
vector and search layers as the engine's bulk queries, but each is
small, so Spark's fixed cost per query (analysis, job scheduling, collect)
dominates: this workload shows a change in that cost.

Every request is checked against an exact reference computed here with
numpy from the collected store: the returned ids must carry the top-k
scores (ties may be broken either way).
"""

from __future__ import annotations

import math
import os
import re
import statistics
from collections import Counter
from dataclasses import dataclass

import datagen
import numpy as np

K = 3
CHANNEL_K = 20
K_RRF = 60.0
K1, B = 1.2, 0.75
TOL = 1e-9
# nominal seconds per request (a warm one takes 0.2-2.8 s on 4 cores,
# depending on its kind and the host): a run at --seconds 10 makes 15,
# five of each kind, so a kind's median is not set by its first timed
# request, which still runs slower than the later ones
REQUEST_SECONDS = 0.65


@dataclass
class Fixture:
    spark: object
    store: object
    index: object
    ref: "Reference | None" = None


def setup(spark, data: str, fx_dir: str, tracer) -> Fixture:
    from mlb_data_pipeline_spark.catalog import load_table
    from mlb_data_pipeline_spark.operators.search import build_text_index, load_text_index, save_text_index
    from mlb_data_pipeline_spark.pipelines.rag import build_chunk_store

    store_dir, index_dir = os.path.join(fx_dir, "store"), os.path.join(fx_dir, "index")
    docs = load_table(spark, data, "documents").withColumnRenamed("doc_id", "url")
    with tracer.span("fixture.rag.build_chunk_store"):
        build_chunk_store(docs).write.parquet(store_dir)
    store = spark.read.parquet(store_dir)
    with tracer.span("fixture.search.build_text_index"):
        save_text_index(build_text_index(store, id_col="chunk_key"), index_dir)
    return Fixture(spark, store, load_text_index(spark, index_dir))


class Reference:
    """Exact scores for every request kind, from the collected store."""

    def __init__(self, rows):
        self.keys = [r.chunk_key for r in rows]
        vec = np.array([r.embedding for r in rows], dtype=np.float32).astype(np.float64)
        self.unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
        self.tf = [Counter(tokens(r.text)) for r in rows]
        self.dl = [sum(c.values()) for c in self.tf]
        self.avgdl = sum(self.dl) / len(self.dl)
        self.df = Counter(t for c in self.tf for t in c)

    def cosine(self, text: str) -> dict[str, float]:
        from mlb_data_pipeline_spark.functions.embed import fake_encode

        q = np.array(fake_encode(text), dtype=np.float64)
        sims = self.unit @ (q / np.linalg.norm(q))
        return dict(zip(self.keys, sims.tolist()))

    def bm25(self, text: str) -> dict[str, float]:
        n, out = len(self.keys), {}
        terms = sorted(set(tokens(text)))
        idf = {
            t: math.floor(math.log(1.0 + (n - self.df[t] + 0.5) / (self.df[t] + 0.5)) * 1e6) / 1e6
            for t in terms if self.df[t]
        }
        for key, tf, dl in zip(self.keys, self.tf, self.dl):
            score, hit = 0.0, False
            for t in terms:
                if tf.get(t):
                    hit = True
                    denom = tf[t] + K1 * ((1.0 - B) + B * dl / self.avgdl)
                    score += (idf[t] * (tf[t] * (K1 + 1.0))) / denom
            if hit:
                out[key] = score
        return out

    def rrf(self, text: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for scores in (self.bm25(text), self.cosine(text)):
            for rank, key in enumerate(ranked(scores)[:CHANNEL_K], 1):
                out[key] = out.get(key, 0.0) + 1.0 / (K_RRF + rank)
        return out


def tokens(text: str) -> list[str]:
    return re.findall("[a-z0-9]+", text.lower())


def ranked(scores: dict[str, float]) -> list[str]:
    return sorted(scores, key=lambda k: (-scores[k], k))


def top_k_ok(got: list[str], scores: dict[str, float], k: int = K, tol: float = TOL) -> bool:
    """``got`` is a valid top-k of ``scores``: distinct ids whose scores,
    in descending order, equal the k best scores."""
    want = sorted(scores.values(), reverse=True)[:k]
    if len(got) != len(want) or len(set(got)) != len(got) or any(g not in scores for g in got):
        return False
    have = sorted((scores[g] for g in got), reverse=True)
    return all(abs(a - b) <= tol for a, b in zip(have, want))


def request(fx: Fixture, kind: str, text: str, tr):
    from mlb_data_pipeline_spark.operators.search import bm25_topk, tokenize_query
    from mlb_data_pipeline_spark.pipelines.rag import hybrid_retrieve, retrieve

    with tr.span(f"plan.{kind}"):
        if kind == "retrieve":
            df = retrieve(fx.spark, fx.store, text, k=K)
        elif kind == "bm25_topk":
            df = bm25_topk(None, tokenize_query(text), k=K, index=fx.index)
        else:
            df = hybrid_retrieve(fx.spark, fx.store, text, k=K, id_col="chunk_key", channel_k=CHANNEL_K, k_rrf=K_RRF)
    with tr.span(f"exec.{kind}"):
        return [r.chunk_key for r in df.collect()]


def check(fx: Fixture, kind: str, text: str):
    def ok(got: list[str]) -> bool:
        ref = fx.ref
        if kind == "retrieve":
            return top_k_ok(got, ref.cosine(text))
        if kind == "bm25_topk":
            return top_k_ok(got, ref.bm25(text))
        return top_k_ok(got, ref.rrf(text), tol=1e-12)
    return ok


def warmup_ops(fx: Fixture) -> list:
    from tracing import Tracer

    fx.ref = Reference(fx.store.select("chunk_key", "text", "embedding").collect())
    tr = Tracer()
    text = "warm up the spark query"
    return [(kind, lambda kind=kind: request(fx, kind, text, tr), check(fx, kind, text)) for kind in datagen.QUERY_KINDS]


@dataclass
class Plan:
    fx: Fixture
    requests: list[tuple[str, str]]

    def ops(self, tr) -> list:
        return [
            (kind, lambda kind=kind, text=text: request(self.fx, kind, text, tr), check(self.fx, kind, text))
            for kind, text in self.requests
        ]


def plan(fx: Fixture, seed: int, seconds: int) -> Plan:
    # a multiple of three, so every run has the same mix of kinds
    n = 3 * max(1, round(seconds / REQUEST_SECONDS / 3))
    return Plan(fx, datagen.retrieval_requests(seed, n))


def detail(r: dict) -> dict:
    """Per-kind layer figures of a traced run: the engine call that
    builds the request's DataFrame, its collect, and Spark jobs."""
    tr, work = r["tracer"], r["traced"].work
    out = {
        "rag.build_chunk_store_s": (tr.median("fixture.rag.build_chunk_store"), "s"),
        "search.build_text_index_s": (tr.median("fixture.search.build_text_index"), "s"),
    }
    for kind in datagen.QUERY_KINDS:
        out[f"rag.{kind}.build_s"] = (tr.median(f"plan.{kind}"), "s")
        out[f"rag.{kind}.collect_s"] = (tr.median(f"exec.{kind}"), "s")
        out[f"spark.jobs.{kind}"] = (statistics.median(w.jobs for w in work[kind]), "count")
    return out


def summary(r: dict) -> dict:
    return {f"p50_s.{kind}": (statistics.median(v), "s") for kind, v in r["loop"].latency.items()}
