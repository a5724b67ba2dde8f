"""Vector math over ``array<float>`` columns — pure built-in expressions.

The reference stores 384-d sentence embeddings and queries cosine top-k
(pipeline.py:85,106; scripts/rag_pipeline.py:42-52). Here vectors are a
plain ``array<float>`` Parquet column and similarity is an expression:
``F.zip_with`` multiply + ``F.aggregate`` sum runs JVM-side, so the exact
path needs no Python at all.

All arithmetic is done in DOUBLE (cast from float) so results match the
DuckDB oracle bit-for-bit before rounding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _arr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_arr(a), _arr(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
