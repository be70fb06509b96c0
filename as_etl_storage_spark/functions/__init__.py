"""Reusable column-level functions — the engine's scalar/vector vocabulary.

Everything here returns Column expressions (JVM-side, codegen'd); operators
compose these. Each function documents its determinism class:
  [exact]    integer/decimal arithmetic — identical under any partitioning
  [stable]   float math with a fixed evaluation order — bit-stable
  [hashed]   deterministic hash derivations
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# -- vectors ([stable]) ------------------------------------------------------
def vec_dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns (left-to-right fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def vec_norm(v: Column) -> Column:
    """L2 norm of an array<double> column."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def vec_cosine(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """Cosine similarity given precomputed norms."""
    return vec_dot(a, b) / (a_norm * b_norm)


# -- words ([exact]) ---------------------------------------------------------
def word_tokens(text: Column) -> Column:
    """Whitespace tokens: a Java ``\\s+`` split with limit -1, so leading
    and trailing whitespace yield empty tokens, as in the DuckDB oracles'
    ``regexp_split_to_array(t, '\\s+')``. NULL text is a NULL array."""
    return F.split(text, r"\s+")


def word_grams(tokens: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array, one per start position
    1..max(size - n + 1, 1): an array shorter than n is its own gram, a
    NULL array (NULL text) is NULL, so it explodes to no gram. Pass a
    projected :func:`word_tokens` column, not the ``split`` expression
    itself: the expression reads ``tokens`` more than once, so Catalyst
    keeps the split in the projection below and each document is
    tokenized once — O(tokens), not one re-split per gram."""
    return F.when(
        tokens.isNotNull(),
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(tokens) - (n - 1), F.lit(1))
            ),
            lambda i: F.array_join(F.slice(tokens, i, n), " "),
        ),
    )


# -- rational thresholds ([exact]) -------------------------------------------
def ratio_at_least(numer: Column, denom: Column, p: int, q: int) -> Column:
    """numer/denom >= p/q via integer cross-multiplication — no float
    boundary effects (the dedup thresholds' comparison primitive)."""
    return numer * q >= denom * p


# -- money ([exact] until the final cast) ------------------------------------
def money(col_name: str) -> Column:
    """Decimal-cast a stored double for order-independent aggregation."""
    return F.col(col_name).cast("decimal(18,2)")


def discounted_revenue(
    price_col: str = "l_extendedprice", discount_col: str = "l_discount"
) -> Column:
    """The TPC-H revenue expression, exact-decimal."""
    return money(price_col) * (F.lit(1) - F.col(discount_col)).cast("decimal(18,2)")


# -- hashing ([hashed]) ------------------------------------------------------
def md5_prefix64(col: Column, n_hex: int = 15) -> Column:
    """First n_hex hex chars of md5 as a positive int64 — reproducible in
    any engine with md5 (the cross-engine deterministic hash)."""
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10).cast("long")


def hash_sample_predicate(key: Column, percent: int) -> Column:
    """Deterministic sampling: stable under reruns and repartitioning
    (seed-based df.sample is not)."""
    return F.pmod(md5_prefix64(key), F.lit(100)) < percent


# -- time ([exact]) ----------------------------------------------------------
def ns_to_timestamp(col_name: str) -> Column:
    """int64 epoch-nanoseconds -> TimestampType, truncating to Spark's
    microsecond precision with integer division (float div loses precision
    at 2^60)."""
    return F.expr(f"timestamp_micros(`{col_name}` div 1000)")
