"""High-level DDSketch query API — the Spark re-expression of the
reference's 21 SQL aggregates (SURVEY §2.1, sql/ddsketch--1.0.0.sql:62-444).

Every function returns a DataFrame: ``keys..., <result column>``. Raw-value
DDSketch variants build sketches with the JVM-native bucket aggregation
(KLL / t-digest with the 2-stage Arrow pipeline); sketch variants
re-aggregate a stored BinaryType sketch column (lifecycle B). Weighted
variants take ``weight_col`` (counts must be > 0, NULL => 1).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ddsketch_spark.core.ddsketch import validate_quantiles, validate_trim
from ddsketch_spark.functions.sketch_udfs import (
    sketch_quantile, sketch_rank_of, sketch_trimmed,
)
from ddsketch_spark.operators.aggregate import merge_sketches, sketch_agg
from ddsketch_spark.operators.native import ddsketch_agg_native


def ddsketch(df: DataFrame, value_col: str, alpha: float, nbuckets: int,
             keys: Sequence[str] = (), weight_col: str | None = None,
             on_overflow: str = "error") -> DataFrame:
    """``ddsketch(value[, count], alpha, nbuckets)`` — build and return the
    sketch itself (aggregates #5/#11): ``keys..., sketch binary, n long``.

    Bucket counts aggregate JVM-side with whole-stage codegen; Python only
    assembles the sketch bytes (:func:`ddsketch_agg_native`, the 100 TB
    plan). Bit-identical to the generic Arrow pipeline
    ``sketch_agg(factory=lambda: DDSketch(alpha, nbuckets))``
    (tests/test_native_agg.py)."""
    return ddsketch_agg_native(df, value_col, alpha, nbuckets, keys,
                               weight_col, on_overflow)


def ddsketch_merge(df: DataFrame, sketch_col: str,
                   keys: Sequence[str] = ()) -> DataFrame:
    """``ddsketch(sketch)`` — N-way merge of stored sketches (#10)."""
    return merge_sketches(df, sketch_col, keys)


def _finalize(built: DataFrame, keys: Sequence[str], col, alias: str) -> DataFrame:
    return built.select(*(list(keys) + [col.alias(alias)]))


def ddsketch_percentile(df: DataFrame, value_col: str, alpha: float,
                        nbuckets: int, q, keys: Sequence[str] = (),
                        weight_col: str | None = None,
                        alias: str = "percentile") -> DataFrame:
    """Aggregates #1/#2/#12/#13: quantile(s) over raw values."""
    validate_quantiles([q] if not isinstance(q, (list, tuple)) else q)
    built = ddsketch(df, value_col, alpha, nbuckets, keys, weight_col)
    return _finalize(built, keys, sketch_quantile(F.col("sketch"), q), alias)


def ddsketch_percentile_of(df: DataFrame, value_col: str, alpha: float,
                           nbuckets: int, x, keys: Sequence[str] = (),
                           weight_col: str | None = None,
                           alias: str = "percentile_of") -> DataFrame:
    """Aggregates #3/#4/#14/#15: relative rank of hypothetical value(s)."""
    built = ddsketch(df, value_col, alpha, nbuckets, keys, weight_col)
    return _finalize(built, keys, sketch_rank_of(F.col("sketch"), x), alias)


def ddsketch_percentile_from_sketches(df: DataFrame, sketch_col: str, q,
                                      keys: Sequence[str] = (),
                                      alias: str = "percentile") -> DataFrame:
    """Aggregates #6/#7: merge stored sketches, extract quantile(s)."""
    validate_quantiles([q] if not isinstance(q, (list, tuple)) else q)
    merged = merge_sketches(df, sketch_col, keys)
    return _finalize(merged, keys, sketch_quantile(F.col("sketch"), q), alias)


def ddsketch_percentile_of_from_sketches(df: DataFrame, sketch_col: str, x,
                                         keys: Sequence[str] = (),
                                         alias: str = "percentile_of") -> DataFrame:
    """Aggregates #8/#9."""
    merged = merge_sketches(df, sketch_col, keys)
    return _finalize(merged, keys, sketch_rank_of(F.col("sketch"), x), alias)


def ddsketch_avg(df: DataFrame, value_col: str, alpha: float, nbuckets: int,
                 low: float, high: float, keys: Sequence[str] = (),
                 weight_col: str | None = None,
                 alias: str = "avg",
                 correct_negatives: bool = False) -> DataFrame:
    """Aggregates #16/#17: trimmed mean (``correct_negatives=True`` opts
    into the sign-correct zero-straddling walk; default reference-parity)."""
    validate_trim(low, high)
    built = ddsketch(df, value_col, alpha, nbuckets, keys, weight_col)
    return _finalize(built, keys, sketch_trimmed(F.col("sketch"), low, high,
                                                 "avg", correct_negatives), alias)


def ddsketch_sum(df: DataFrame, value_col: str, alpha: float, nbuckets: int,
                 low: float, high: float, keys: Sequence[str] = (),
                 weight_col: str | None = None,
                 alias: str = "sum",
                 correct_negatives: bool = False) -> DataFrame:
    """Aggregates #19/#20: trimmed sum (see ddsketch_avg on
    ``correct_negatives``)."""
    validate_trim(low, high)
    built = ddsketch(df, value_col, alpha, nbuckets, keys, weight_col)
    return _finalize(built, keys, sketch_trimmed(F.col("sketch"), low, high,
                                                 "sum", correct_negatives), alias)


def ddsketch_avg_from_sketches(df: DataFrame, sketch_col: str, low: float,
                               high: float, keys: Sequence[str] = (),
                               alias: str = "avg") -> DataFrame:
    """Aggregate #18."""
    validate_trim(low, high)
    merged = merge_sketches(df, sketch_col, keys)
    return _finalize(merged, keys, sketch_trimmed(F.col("sketch"), low, high, "avg"), alias)


def ddsketch_sum_from_sketches(df: DataFrame, sketch_col: str, low: float,
                               high: float, keys: Sequence[str] = (),
                               alias: str = "sum") -> DataFrame:
    """Aggregate #21."""
    validate_trim(low, high)
    merged = merge_sketches(df, sketch_col, keys)
    return _finalize(merged, keys, sketch_trimmed(F.col("sketch"), low, high, "sum"), alias)


def kll_percentile(df: DataFrame, value_col: str, q,
                   keys: Sequence[str] = (), k: int = 200,
                   weight_col: str | None = None,
                   alias: str = "percentile",
                   precombine: bool = False) -> DataFrame:
    """Uniform-rank-error quantiles via KLL (north-rule sibling): same
    calling convention as ddsketch_percentile. ``precombine=True``
    collapses duplicate values JVM-side first — the scale lever for
    discrete-valued columns (see sketch_agg)."""
    from ddsketch_spark.core import kll as kll_mod
    from ddsketch_spark.core.kll import KLL
    from ddsketch_spark.functions.estimators import kll_quantile

    built = sketch_agg(df, value_col, keys, lambda: KLL(k),
                       kll_mod.from_bytes, weight_col,
                       precombine=precombine)
    return _finalize(built, keys, kll_quantile(F.col("sketch"), q), alias)


def tdigest_percentile(df: DataFrame, value_col: str, q,
                       keys: Sequence[str] = (), delta: float = 100.0,
                       weight_col: str | None = None,
                       alias: str = "percentile",
                       precombine: bool = False) -> DataFrame:
    """Tail-accurate quantiles via merging t-digest. ``precombine=True``
    collapses duplicate values JVM-side first (see sketch_agg)."""
    from ddsketch_spark.core import tdigest as td_mod
    from ddsketch_spark.core.tdigest import TDigest
    from ddsketch_spark.functions.estimators import tdigest_quantile

    built = sketch_agg(df, value_col, keys, lambda: TDigest(delta),
                       td_mod.from_bytes, weight_col,
                       precombine=precombine)
    return _finalize(built, keys, tdigest_quantile(F.col("sketch"), q), alias)


def hll_ndv(df: DataFrame, col: str, keys: Sequence[str] = (),
            p: int = 12, alias: str = "ndv_est") -> DataFrame:
    """Distinct-count estimate via native HLL (hashes the column JVM-side)."""
    from ddsketch_spark.core.hashing import spark_h64
    from ddsketch_spark.functions.estimators import hll_estimate
    from ddsketch_spark.operators.native import hll_agg_native

    keys = list(keys)
    hashed = df.select(*keys, spark_h64(col).alias("__h"))
    built = hll_agg_native(hashed, "__h", p=p, keys=keys)
    return _finalize(built, keys, hll_estimate(F.col("sketch")), alias)
