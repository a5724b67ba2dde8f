"""Deterministic numeric aggregation helpers.

Float SUMs are order-dependent (partition order differs run to run and
engine to engine) and ``ROUND`` on doubles disagrees between engines:
Spark rounds via the shortest-decimal string (Java ``BigDecimal.valueOf``)
while DuckDB rounds the binary value. Both problems vanish if the
arithmetic happens in the DECIMAL domain: decimal sums are exact and
order-independent, decimal rounding is exact, and the final
decimal->double cast is the same IEEE value in every engine.

So the engine's canonical "money math" is::

    CAST(ROUND(SUM(CAST(x AS DECIMAL(18,6))), 2) AS DOUBLE)

mirrored in the oracle SQL. ``dsum`` builds the Spark side of that
contract.

Width note: the CONTRACT is "exact decimal domain", not a fixed width —
any (precision, scale) that exactly holds the operand values yields
bit-identical results, so the oracle can stay at DECIMAL(18,6) while the
Spark side narrows. Narrowing matters for PRODUCTS: Spark's Decimal is a
plain long ("compact") while result precision stays <= 18, so e.g.
(8,2) x (8,4) -> (17,6) multiplies as long arithmetic inside codegen,
where (18,6) x (18,6) -> (38,12) falls off the compact path into
per-row java.math.BigDecimal (~3x slower end-to-end on a TPC-H Q1 shape).
Pass ``width`` where operand ranges are dataset-pinned (per-ROW values
don't grow with SF — only row counts do, and sum precision gets +10
digits of headroom on top of the operand width).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dec(col: Column | str, width: str | None = None) -> Column:
    """Cast to the exact-decimal domain. ``width`` like "8,2" narrows the
    operand so downstream products stay on Spark's compact-long path;
    default is the (18,6) contract width."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({width})" if width else DEC)


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact, order-independent SUM of a double column, rounded to `scale`."""
    return F.round(F.sum(dec(col)), scale).cast("double")


# ---------------------------------------------------------------------------
# Word-split exact sums — the integer fast path for money aggregation.
#
# A decimal SUM whose accumulator exceeds 18 digits leaves Spark's
# compact-long representation: every row update becomes a java.math
# .BigDecimal add into a bytes agg buffer (~2x the whole query on a
# TPC-H Q1 shape: 1.10 s -> 0.79 s at sf0.1). Fixed-point values are
# integers, and integer sums are exact — but a single LONG accumulator
# bounds row count: a 13-digit cents value overflows 2^63 after ~10^6
# max-value rows. The classic wide-integer answer: split each value into
# base-10^6 WORDS, sum each word in its own long (overflow-safe for
# >= 9.2e12 rows per group — more headroom than Spark's own +10-digit
# decimal-sum rule), and recombine Σ word_sum_i * 10^(6i) exactly in
# decimal(38) on the handful of OUTPUT rows. All per-row work is long
# div/mod inside whole-stage codegen; BigDecimal only ever touches
# group-count-many rows.
# ---------------------------------------------------------------------------

_WORD = 10**6


def cents(col: Column | str, dp: int = 2) -> Column:
    """Fixed-point lift: double with `dp` pinned decimals -> exact long
    (the values are exact in the data; round() only undoes FP noise)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(10**dp)).cast("long")


def wsum(value: Column, max_digits: int) -> Column:
    """Exact SUM of a non-negative long fixed-point column as a single
    composable aggregate expression (result: decimal(38,0)).

    ``max_digits`` is the pinned per-ROW digit bound (doesn't grow with
    SF; only row counts do) and must be <= 15 so the floor-division word
    extraction is exact (values < 2^53). ceil(max_digits/6) long
    word-sums run on the codegen fast path; the decimal recombination
    happens after aggregation, once per output row.
    """
    if max_digits > 15:
        raise ValueError("wsum supports <= 15-digit values; widen the word split")
    n_words = max(1, -(-max_digits // 6))
    total = None
    for i in range(n_words):
        w = F.floor(value / F.lit(_WORD**i)) if i else value
        if i < n_words - 1:
            w = w % F.lit(_WORD)
        part = F.sum(w).cast("decimal(38,0)") * F.lit(_WORD**i).cast("decimal(20,0)")
        total = part if total is None else total + part
    return total.cast("decimal(38,0)")


def wmoney(value: Column, max_digits: int, scale_pw: int, round_to: int = 2) -> Column:
    """Money-contract output over a word-split sum: exact decimal
    rescale by 10^-scale_pw, ROUND in the decimal domain, cast double —
    same IEEE value as the oracle's CAST(ROUND(SUM(DECIMAL),r) AS
    DOUBLE), computed on the long fast path."""
    return F.round(wsum(value, max_digits) / F.lit(10**scale_pw).cast("decimal(18,0)"), round_to).cast("double")
