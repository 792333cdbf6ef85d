"""DDSketch scalars as Column expressions over BinaryType sketch columns —
the FINALFUNC layer plus the reference's scalar surface (SURVEY §2.2),
over the row functions in :mod:`ddsketch_spark.functions.rows`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType,
)

from ddsketch_spark.functions import rows
from ddsketch_spark.functions.rows import (
    BUCKET_SCHEMA, INFO_SCHEMA, per_value, vectorize,
)


def sketch_quantile(col, q) -> Column:
    """Quantile(s) — ddsketch_percentile finalfuncs. ``q`` scalar ->
    DoubleType column; sequence -> ArrayType(DoubleType)."""
    return per_value(rows.dd_quantile, col, q)


def sketch_rank_of(col, x) -> Column:
    """Inverse quantile — ddsketch_percentile_of finalfuncs."""
    return per_value(rows.dd_rank, col, x)


def sketch_trimmed(col, low: float, high: float, kind: str,
                   correct_negatives: bool = False) -> Column:
    """Trimmed sum/avg — ddsketch.c:3764-3822; ``correct_negatives=True``
    opts into the sign-correct zero-straddling walk (core/ddsketch.py)."""
    assert kind in ("sum", "avg")
    return vectorize(rows.dd_trimmed(kind, bool(correct_negatives)),
                     DoubleType())(col, F.lit(float(low)), F.lit(float(high)))


def sketch_collapse(col, maxbuckets: int) -> Column:
    """Re-compress stored sketches to a tighter bucket budget by UDDSketch
    uniform collapse: ceil-halving of bucket indexes, order-independent."""
    return vectorize(rows.dd_collapse, BinaryType())(col, F.lit(int(maxbuckets)))


def sketch_count(col) -> Column:
    """Total item count — ddsketch_count."""
    return vectorize(rows.dd_count, LongType())(col)


def sketch_info(col) -> Column:
    """Introspection struct — ddsketch_info."""
    return vectorize(rows.dd_info, INFO_SCHEMA)(col)


def sketch_buckets(col) -> Column:
    """Per-bucket rows (use with ``F.explode``) — ddsketch_buckets."""
    return vectorize(rows.dd_buckets, BUCKET_SCHEMA)(col)


def sketch_union(a, b) -> Column:
    """NULL-tolerant two-sketch merge — ddsketch_union."""
    return vectorize(rows.dd_union, BinaryType(), 2)(a, b)


def sketch_add(col, value, count: int = 1,
               alpha: float = 0.01, nbuckets: int = 2048) -> Column:
    """Incremental insert — ddsketch_add. ``value`` may be a literal or a
    Column; a NULL sketch is initialized fresh with (alpha, nbuckets)."""
    value_col = value if isinstance(value, Column) else F.lit(float(value))
    return vectorize(rows.dd_add(count), BinaryType(), 4)(
        col, value_col, F.lit(float(alpha)), F.lit(int(nbuckets)))


def sketch_to_string(col) -> Column:
    return vectorize(rows.dd_out, StringType())(col)


def sketch_from_string(col) -> Column:
    return vectorize(rows.dd_in, BinaryType())(col)


def sketch_add_array(col, values_col,
                     alpha: float = 0.01, nbuckets: int = 2048) -> Column:
    """Bulk incremental insert — ddsketch_add(sketch, values float8[]).
    NULL sketch initializes fresh; NULLs in the array are skipped."""
    vcol = values_col if isinstance(values_col, Column) else F.col(values_col)
    return vectorize(rows.dd_add_array, BinaryType(), 4)(
        col, vcol, F.lit(float(alpha)), F.lit(int(nbuckets)))


def sketch_quantile_bounds(col, q) -> Column:
    """Array of guaranteed ``(lo, est, hi)`` envelopes, one per requested q
    (a scalar ``q`` gives a one-element array) — see :func:`rows.dd_bounds`."""
    qs = [q] if np.isscalar(q) else q
    return vectorize(rows.dd_bounds, ArrayType(rows.BOUNDS_SCHEMA))(
        col, F.array(*[F.lit(float(x)) for x in qs]))
