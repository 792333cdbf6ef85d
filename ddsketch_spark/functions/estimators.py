"""Estimates from the sibling sketches' BinaryType columns (HLL /
count-min / Bloom / KLL / t-digest) as Column expressions — the
FINALFUNC layer for the north rule's sketch family, over the same row
functions as their SQL names (:mod:`ddsketch_spark.functions.rows`).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, LongType

from ddsketch_spark.functions import rows
from ddsketch_spark.functions.rows import per_value, vectorize


def hll_estimate(col) -> Column:
    """Distinct-count estimate from a serialized HLL."""
    return vectorize(rows.hll_ndv, DoubleType())(col)


def cms_estimate(col, hashes: list[int]) -> Column:
    """Frequency estimates (int64 array) for pre-hashed probe values."""
    return vectorize(rows.cms_estimate, ArrayType(LongType()))(
        col, F.array(*[F.lit(int(h)) for h in hashes]))


def bloom_contains(col, hashes: list[int]) -> Column:
    """Membership booleans for pre-hashed probe values."""
    return vectorize(rows.bloom_contains, ArrayType(BooleanType()))(
        col, F.array(*[F.lit(int(h)) for h in hashes]))


def kll_quantile(col, q) -> Column:
    return per_value(rows.kll_quantile, col, q)


def tdigest_quantile(col, q) -> Column:
    return per_value(rows.tdigest_quantile, col, q)
