"""Deterministic inputs for the benchmark.

Two kinds of input, both pure functions of their seed:

* the base tables: the sf0.1 ``lineitem`` (600k rows) that seeds the
  lake and the 5k ``documents`` the retrieval store is built from, with
  the same schemas and value distributions as the engine's testdata,
  written as one single-row-group parquet file per table. They are
  built once per checkout from ``BASE_SEED``;
* the workload inputs drawn from the run's ``--seed``: the lake's
  append batches, key ranges and scanned year, and the retrieval
  requests.

No Spark here: the generator is numpy + pyarrow, so it is cheap to test.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
SF = 0.1
VOCAB = (
    "a the data spark stream table column row key value query join group sort "
    "hash scan filter agg window merge order line part customer vector batch "
    "big small fast slow"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SHIP_LO = dt.date(1995, 1, 2)
SHIP_DAYS = 2499
LAKE_PARTITION = "ship_year"


def _day(d: dt.date) -> np.datetime64:
    return np.datetime64(d.isoformat(), "D")


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def lineitem_table(rng: np.random.Generator, n: int, orderkey_lo: int, orderkey_hi: int) -> pa.Table:
    """``n`` lineitem rows with order keys uniform in [lo, hi)."""
    ship = _day(SHIP_LO) + rng.integers(0, SHIP_DAYS, n)
    return pa.table({
        "l_orderkey": rng.integers(orderkey_lo, orderkey_hi, n, dtype=np.int64),
        "l_partkey": rng.integers(0, int(200_000 * SF), n, dtype=np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * SF), n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105_000.0, n)),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts_us(ship),
    })


def _document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random 10-100 word texts over a 30-word vocabulary; 5% of the
    documents are an earlier document plus a trailing ``dup`` token,
    the near-duplicates the dedup queries look for."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]) for _ in range(n)]
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def base_tables(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The sf0.1 ``lineitem`` (600k rows over 150k order keys) and the
    5k ``documents``."""
    rng = np.random.default_rng(seed)
    n_ord, n_line, n_doc = int(1_500_000 * SF), int(6_000_000 * SF), 5_000
    texts = _document_texts(rng, n_doc)
    return {
        "lineitem": lineitem_table(rng, n_line, 0, n_ord),
        "documents": pa.table({
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
    }


def write_base_tables(dst: str, seed: int = BASE_SEED) -> str:
    """Write the base tables under ``dst`` as ``<table>.parquet``. Built
    in a sibling temp dir and renamed into place, so an interrupted
    build never leaves a partial dataset that looks complete."""
    if os.path.isdir(dst):
        return dst
    tmp = dst.rstrip("/") + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in base_tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(table) or 1)
    os.rename(tmp, dst)
    return dst


# ---------------------------------------------------------------------------
# Workload inputs drawn from the run's seed.


def with_partition(table: pa.Table) -> pa.Table:
    """Add the lake's partition column, the ship year."""
    years = table["l_shipdate"].to_numpy().astype("datetime64[Y]").astype(np.int64) + 1970
    return table.append_column(LAKE_PARTITION, pa.array(years.astype(np.int32)))


def lake_cycles(
    seed: int, n_cycles: int, seed_keys: int, first_key: int, batch_rows: int, branch_rows: int, stream: int = 0,
) -> list[dict]:
    """One dict per lake cycle: the rows it appends on main and through a
    branch (new order keys from ``first_key`` up, above every existing
    one, so appended rows never alias older rows), the order-key ranges its delete and its
    update hit, and the ship year its scan reads. The delete range is
    drawn over the seed's order keys, ``[0, seed_keys)``, and covers 1.5%
    of them; the update
    range is the deleted range and the same number of keys after it. So
    every cycle deletes from and rewrites the same kind of file: a range
    over the appended keys would touch only the small compacted files,
    a cheaper cycle. ``stream`` selects an independent sequence for the
    same seed."""
    rng = np.random.default_rng([seed, 2, stream])
    out, hi = [], first_key
    width = max(1, seed_keys * 15 // 1000)
    for c in range(n_cycles):
        batch = with_partition(lineitem_table(rng, batch_rows, hi, hi + batch_rows // 4))
        branch = with_partition(lineitem_table(rng, branch_rows, hi + batch_rows // 4, hi + (batch_rows + branch_rows) // 4))
        hi += (batch_rows + branch_rows) // 4
        lo = int(rng.integers(0, seed_keys - 2 * width))
        year = int(rng.integers(1995, 2002))
        out.append({
            "cycle": c, "batch": batch, "branch": branch,
            "delete": (lo, lo + width - 1), "update": (lo, lo + 2 * width - 1),
            "year": year, "hi": hi,
        })
    return out


QUERY_KINDS = ("retrieve", "bm25_topk", "hybrid_retrieve")
QUERY_WORDS = 4


def retrieval_requests(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` (kind, query text) requests cycling through the three kinds
    in a fixed order, so each kind follows the same kind in every run. A
    text is 4 distinct vocabulary words drawn from the seed, so every
    request matches some chunks lexically, and every request of a kind
    scores the same number of terms."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    return [(QUERY_KINDS[i % 3], " ".join(rng.choice(vocab, QUERY_WORDS, replace=False))) for i in range(n)]
