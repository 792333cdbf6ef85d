"""One definition per sketch scalar: each is a row function
``(sketch_bytes, *args) -> value``, made a pandas UDF (one Python call
per Arrow batch) by :func:`vectorize`. :data:`SQL_FUNCTIONS` names them
for SQL; the Column helpers (:mod:`.sketch_udfs`, :mod:`.estimators`)
pass their parameters as literal columns into the same UDFs.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DataType, DoubleType, IntegerType,
    LongType, StringType, StructField, StructType,
)

from ddsketch_spark.core import bloom, cms, hll, kll, kmv, spacesaving, tdigest
from ddsketch_spark.core.ddsketch import DDSketch, from_bytes, union


def vectorize(fn, return_type: DataType, nullable: int = 0):
    """Pandas UDF applying row function ``fn`` to each row of its argument
    columns. A NULL in any argument after the first ``nullable`` gives a
    NULL result without calling ``fn`` (the reference's STRICT
    functions); the leading ``nullable`` arguments reach ``fn`` as None
    (NaN for doubles). A struct result comes back as a DataFrame, with
    all-NULL fields for a NULL row."""
    names = return_type.names if isinstance(return_type, StructType) else None
    arity = fn.__code__.co_argcount

    def run(*cols: pd.Series) -> pd.Series:
        if len(cols) != arity:   # SQL passes every argument it was given
            raise TypeError(f"{fn.__name__}: {arity} arguments, got {len(cols)}")
        null = np.zeros(len(cols[0]), dtype=bool)
        for c in cols[nullable:]:
            null |= c.isna().to_numpy()
        out = [None if n else fn(*row) for n, row in zip(null, zip(*cols))]
        if names is None:
            return pd.Series(out, dtype=object)
        return pd.DataFrame([r or dict.fromkeys(names) for r in out],
                            columns=names)

    run.__name__ = fn.__name__
    return F.pandas_udf(run, return_type)


def per_value(fn, col, x) -> Column:
    """``fn(sketch, x)`` as a double for scalar ``x``; for a sequence, an
    array of doubles from one call with an array literal."""
    if np.isscalar(x):
        return vectorize(fn, DoubleType())(col, F.lit(float(x)))
    return vectorize(fn, ArrayType(DoubleType()))(
        col, F.array(*[F.lit(float(v)) for v in x]))


# ---------------------------------------------------------------- row functions

def each(decode, method: str, cast=float):
    """Row function ``(sketch, x) -> decode(sketch).method(x)``: ``cast``
    of the one result for a scalar ``x``, a list for an array ``x``. The
    quantile / rank / frequency / membership read of every sketch kind."""
    def row(b, x):
        r = getattr(decode(bytes(b)), method)(x)
        return r.tolist() if isinstance(x, np.ndarray) else cast(np.ravel(r)[0])
    row.__name__ = method
    return row


dd_quantile = each(from_bytes, "quantile")       # ddsketch.c:2047-2067, 2124-2146
dd_rank = each(from_bytes, "rank_of")            # ddsketch.c:2073-2093, 2152-2174
kll_quantile = each(kll.from_bytes, "quantile")
tdigest_quantile = each(tdigest.from_bytes, "quantile")
cms_estimate = each(cms.from_bytes, "estimate", int)
bloom_contains = each(bloom.from_bytes, "contains", bool)


def dd_bounds(b, q):
    """Quantile estimate with its guaranteed envelope ``(lo, est, hi)``:
    ``|est - v| <= alpha * |v|`` inverted, with the sketch's own current
    alpha so collapse-mode sketches stay honest. One struct for a scalar
    ``q``, a list for an array."""
    s = from_bytes(bytes(b))
    a = s.alpha

    def envelope(e):
        e = float(e)
        if e != e:   # empty sketch: all-NULL, never a zero-width claim at NaN
            return dict.fromkeys(("lo", "est", "hi"))
        lo, hi = sorted((e / (1.0 + a), e / (1.0 - a)))   # swapped when e < 0
        return {"lo": lo, "est": e, "hi": hi}

    r = s.quantile(q)
    return [envelope(e) for e in r] if isinstance(q, np.ndarray) else envelope(r)


def dd_count(b):
    """ddsketch_count (ddsketch.c:3032-3038), read from the header alone."""
    return struct.unpack_from(">q", bytes(b), 4)[0]


def dd_trimmed(kind: str, correct_negatives: bool = False):
    """ddsketch_sketch_sum / _avg (ddsketch.c:3764-3822)."""
    def row(b, low, high):
        return getattr(from_bytes(bytes(b)), "trimmed_" + kind)(
            float(low), float(high), correct_negatives)
    row.__name__ = "trimmed_" + kind
    return row


def dd_union(a, b):
    """NULL-tolerant two-sketch merge — ddsketch_union (ddsketch.c:2605-2648)."""
    u = union(*[from_bytes(bytes(x)) if x is not None else None for x in (a, b)])
    return u.to_bytes() if u is not None else None


def _stored_or_fresh(b, alpha, nbuckets) -> DDSketch | None:
    # alpha and nbuckets are read only for a NULL sketch, which starts
    # fresh with them like the reference (nothing to start with either NULL)
    if b is not None:
        return from_bytes(bytes(b))
    if pd.isna(alpha) or pd.isna(nbuckets):
        return None
    return DDSketch(float(alpha), int(nbuckets))


def dd_add(count: int = 1):
    """ddsketch_add (ddsketch.c:2402-2526) inserting each value ``count``
    times; a NULL or NaN value is skipped."""
    def row(b, x, alpha, nbuckets):
        s = _stored_or_fresh(b, alpha, nbuckets)
        if s is not None and x is not None and x == x:
            s.add(float(x), int(count))
        return s.to_bytes() if s is not None and s.count > 0 else None
    row.__name__ = "add"
    return row


def dd_add_array(b, xs, alpha, nbuckets):
    """ddsketch_add(sketch, values float8[]) (ddsketch.c:2539-2595): one
    deserialize/reserialize per array; NULLs in the array are skipped."""
    s = _stored_or_fresh(b, alpha, nbuckets)
    if s is not None and xs is not None and len(xs):
        s.update(np.asarray(xs, dtype=np.float64))
    return s.to_bytes() if s is not None and s.count > 0 else None


def read(decode, method: str, cast=lambda r: r):
    """Row function ``sketch -> cast(decode(sketch).method())``."""
    def row(b):
        return cast(getattr(decode(bytes(b)), method)())
    row.__name__ = method
    return row


dd_info = read(from_bytes, "info")               # ddsketch.c:3186-3228
dd_buckets = read(from_bytes, "buckets")         # ddsketch.c:3230-3298
dd_out = read(from_bytes, "to_string")
hll_ndv = read(hll.from_bytes, "estimate", float)
kmv_ndv = read(kmv.from_bytes, "estimate", float)


def dd_in(text):
    return DDSketch.from_string(text).to_bytes()


def dd_collapse(b, maxbuckets):
    """UDDSketch uniform collapse, the reference README.md:19-26 fix."""
    return from_bytes(bytes(b)).with_maxbuckets(int(maxbuckets)).to_bytes()


def kmv_intersection(a, b):
    return float(kmv.intersection_estimate(kmv.from_bytes(bytes(a)),
                                           kmv.from_bytes(bytes(b))))


def spacesaving_count(b, item):
    e = spacesaving.from_bytes(bytes(b)).get(str(item))
    return int(e[0]) if e is not None else 0


# ---------------------------------------------------------------- return types

BOUNDS_SCHEMA = StructType([StructField(n, DoubleType())
                            for n in ("lo", "est", "hi")])

INFO_SCHEMA = StructType([StructField(n, t) for n, t in [
    ("bytes", LongType()), ("flags", IntegerType()), ("alpha", DoubleType()),
    ("count", LongType()), ("zero_count", LongType()),
    ("maxbuckets", IntegerType()), ("negative_buckets", IntegerType()),
    ("positive_buckets", IntegerType()), ("min_indexable", DoubleType()),
    ("max_indexable", DoubleType())]])

BUCKET_SCHEMA = ArrayType(StructType([StructField(n, t) for n, t in [
    ("index", IntegerType()), ("bucket_index", IntegerType()),
    ("lower", DoubleType()), ("upper", DoubleType()),
    ("length", DoubleType()), ("count", LongType())]]))

# SQL name -> (row function, return type[, leading NULL-passing args])
SQL_FUNCTIONS = {
    "ddsketch_percentile": (dd_quantile, DoubleType()),
    "ddsketch_percentile_bounds": (dd_bounds, BOUNDS_SCHEMA),
    "ddsketch_percentile_of": (dd_rank, DoubleType()),
    "ddsketch_count": (dd_count, LongType()),
    "ddsketch_sketch_sum": (dd_trimmed("sum"), DoubleType()),
    "ddsketch_sketch_avg": (dd_trimmed("avg"), DoubleType()),
    "ddsketch_union": (dd_union, BinaryType(), 2),
    "ddsketch_add": (dd_add(), BinaryType(), 4),
    "ddsketch_out": (dd_out, StringType()),
    "ddsketch_in": (dd_in, BinaryType()),
    "hll_ndv": (hll_ndv, DoubleType()),
    "cms_freq": (cms_estimate, LongType()),
    "bloom_might_contain": (bloom_contains, BooleanType()),
    "kll_quantile": (kll_quantile, DoubleType()),
    "tdigest_quantile": (tdigest_quantile, DoubleType()),
    "kmv_ndv": (kmv_ndv, DoubleType()),
    "kmv_intersection": (kmv_intersection, DoubleType()),
    "spacesaving_count": (spacesaving_count, LongType()),
}
