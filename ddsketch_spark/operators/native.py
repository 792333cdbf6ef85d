"""JVM-native sketch aggregation — the scale path.

DDSketch's per-row work is a closed-form scalar expression
(``index = ceil(log(v)/log(2) * multiplier)``, reference ddsketch.c:3164-3168),
so stage 1 does not need Python at all::

    df.groupBy(keys, part, bucket_index).agg(sum(weight))

runs entirely inside whole-stage codegen with *native map-side partial
aggregation* — the shuffle carries at most (keys x nbuckets) partial bucket
counts per map task instead of raw rows or Arrow batches. Python only
assembles the final binary sketch: one vectorized pass per Arrow batch of
key-sorted bucket cells (``grouped_apply_sorted``, O(nbuckets) rows per
key) — or, where the cells are few enough to fetch (a checkpointed job's
batch), the same pass on the driver (:func:`dd_assemble`). Compared to
the generic Arrow pipeline (:mod:`ddsketch_spark.operators.aggregate`,
kept as the fallback for kernels without a closed-form bucket expression
— KLL, t-digest), this is the plan that survives 100 TB: no JVM->Python
crossing on the hot path, Tungsten hash aggregation, AQE-managed shuffle.

Each layout — DDSketch buckets, HLL registers, CMS counters, Bloom bits —
is two steps, defined only here: ``*_cells(df, ..., keys)`` -> ``keys...,
<cell columns>, __rows`` (JVM expressions + one native aggregation) and
``*_sketches(cells, keys, ...)`` -> ``keys..., sketch, n`` (the
assembler). ``*_agg_native`` is the two composed; the streaming layer
runs the same two with the event-time window as one more key.

The DDSketch cells are built from SQL strings: one ``CASE`` per bucket
column, one ``selectExpr`` and one aggregation. The Column-composed form
of the same plan took about 700 py4j round trips to build, the strings
take about 50 (the CMS/Bloom probes are built the same way).

Float parity: the JVM's ``Math.log`` and numpy's ``np.log`` agreed on every
value in the test corpus (850k values x 3 alphas, see
tests/test_native_agg.py); both are unverified-correctly-rounded libms, so
a 1-ulp divergence at an exact bucket boundary is theoretically possible —
the parity test pins it for the shipped data.

Bucket counts are exact integer sums, so the result is bit-identical to the
Python kernel and to serial execution at any parallelism (stronger than the
reference's parallel==serial caveat, README.md:795-798).
"""

from __future__ import annotations

import math
import struct
from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ddsketch_spark.core.bloom import Bloom
from ddsketch_spark.core.cms import CMS
from ddsketch_spark.core.ddsketch import (
    _BUCKET_DT, _HEADER_DT, INFINITE_VALUE, MAX_SKETCH_BUCKETS,
    MIN_SKETCH_BUCKETS, DDSketch, mapping_params, validate_alpha,
    validate_nbuckets,
)
from ddsketch_spark.core.hashing import H1_BITS, H64_BITS
from ddsketch_spark.operators.aggregate import (
    grouped_apply_sorted, key_runs, sql_ident,
)

_LOG2 = math.log(2.0)


def _dd_bucket_sql(value_col: str, alpha: float) -> tuple[str, str]:
    """``(part, bucket index)`` as one SQL ``CASE`` string each over
    column ``value_col``: part 2=positive store, 1=zero bucket,
    0=negative store, -1=NULL/NaN row (lineage only). Mirrors
    core.ddsketch.map_index / the three-way routing of ddsketch_add
    (ddsketch.c:796-821). NaN is routed to part=-1 like NULL
    (DDSketch.update skips NaN, matching the reference's NULL-skip,
    ddsketch.c:1029-1039) — without the guard Spark's NaN-greater-than-all
    ordering would drop NaN rows into the positive store. +inf and -inf
    raise the kernel's error (an infinite index would overflow the wire
    format's 32-bit index).

    Float literals are ``repr`` + ``D``: a bare ``0.693...`` parses as a
    DECIMAL, which changes the plan and the rounding."""
    _, mult, minidx, _ = mapping_params(alpha)
    v = sql_ident(value_col)
    vd = f"CAST({v} AS DOUBLE)"
    skip = f"{v} IS NULL OR isnan({vd})"
    pos, neg = f"{v} > {minidx!r}D", f"{v} < {-minidx!r}D"
    part = (f"CASE WHEN {skip} THEN -1"
            f" WHEN abs({vd}) = CAST('Infinity' AS DOUBLE)"
            f" THEN raise_error('{INFINITE_VALUE}')"
            f" WHEN {pos} THEN 2 WHEN {neg} THEN 0 ELSE 1 END")
    scale = f"/ {_LOG2!r}D * {mult!r}D"
    bidx = (f"CAST(CASE WHEN {skip} THEN 0"
            f" WHEN {pos} THEN ceil(ln({v}) {scale})"
            f" WHEN {neg} THEN ceil(ln(-{v}) {scale})"
            f" ELSE 0 END AS BIGINT)")
    return part, bidx


def dd_bucket_exprs(value_col: str, alpha: float) -> tuple[Column, Column]:
    """``(__part, __bidx)`` columns of :func:`_dd_bucket_sql`, the one
    bucket rule of every DDSketch cell build."""
    part, bidx = _dd_bucket_sql(value_col, alpha)
    return F.expr(f"{part} AS __part"), F.expr(f"{bidx} AS __bidx")


def dd_cells(
    df: DataFrame,
    value_col: str,
    alpha: float,
    keys: Sequence[str] = (),
    weight_col: str | None = None,
    _extrema: bool = False,
) -> DataFrame:
    """``keys..., __part, __bidx, __c, __rows`` — the DDSketch bucket
    cells of ``df`` per key: ``__c`` sums the weights of the cell's live
    values (NULL/NaN values land in part -1 with weight 0), ``__rows``
    counts its input rows. The one rows->cells step of the batch build
    and of every windowed (streaming) build: one ``selectExpr`` and one
    aggregation of SQL strings, a few dozen py4j calls to build.

    ``_extrema`` adds ``__vmin``/``__vmax``, the cell's ``min``/``max``
    of the value as a double, for :func:`dd_assemble` to reduce per key;
    an all-NULL cell's ``__vmax`` is -inf, the identity of ``max``."""
    keys = list(keys)
    part, bidx = _dd_bucket_sql(value_col, alpha)
    if weight_col:
        # NULL or NaN count => 1 (ddsketch.c:1148-1151; DDSketch.update maps
        # NaN counts to 1) — guard BEFORE the long cast, which turns NaN
        # into 0 and would mistrip the >0 check.
        wc = sql_ident(weight_col)
        wd = f"CAST({wc} AS DOUBLE)"
        wraw = (f"CASE WHEN {wd} IS NULL OR isnan({wd}) THEN CAST(1 AS BIGINT)"
                f" ELSE CAST({wc} AS BIGINT) END")
        # weights must be > 0 (ddsketch.c:1153-1155) — enforced in-plan,
        # with the reference's message text
        w = (f"CASE WHEN {wraw} > 0 THEN {wraw} ELSE CAST(raise_error(concat("
             f"'invalid count value ', CAST({wraw} AS STRING),"
             f" ', must be a positive value')) AS BIGINT) END")
    else:
        w = "CAST(1 AS BIGINT)"
    v = sql_ident(value_col)
    vd = f"CAST({v} AS DOUBLE)"
    rows = df.selectExpr(
        *map(sql_ident, keys), f"{part} AS __part", f"{bidx} AS __bidx",
        f"CASE WHEN {v} IS NULL OR isnan({vd}) THEN 0 ELSE {w} END AS __w",
        *([f"{vd} AS __v"] if _extrema else []))
    extrema = ["min(__v) AS __vmin",
               "coalesce(max(__v), CAST('-Infinity' AS DOUBLE)) AS __vmax"
               ] if _extrema else []
    return _sum_cells(rows, keys, ["__part", "__bidx"], extrema)


def _sum_cells(rows: DataFrame, keys: Sequence[str],
               cell: Sequence[str], extra: Sequence[str] = ()
               ) -> DataFrame:
    """``keys..., <cell>, __c, __rows, <extra>``: per-row weighted cells
    (``__w``) summed per (keys, cell) — the additive cell aggregation of
    DDSketch buckets and CMS counters. ``extra`` are more aggregate SQL
    strings."""
    aggs = ["sum(__w) AS __c", "count(1) AS __rows", *extra]
    return (rows.groupBy(*map(sql_ident, keys), *cell)
            .agg(*map(F.expr, aggs)))


def _sketches(cells: DataFrame, keys: Sequence[str], assemble,
              per_run: bool = False) -> DataFrame:
    """``keys..., sketch binary, n long``: ``assemble`` over the
    key-sorted runs of ``cells`` (:func:`grouped_apply_sorted`)."""
    schema = StructType([f for f in cells.schema.fields if f.name in keys]
                        + [StructField("sketch", BinaryType(), False),
                           StructField("n", LongType(), False)])
    return grouped_apply_sorted(cells, keys, assemble, schema,
                                per_run=per_run)


def ddsketch_agg_native(
    df: DataFrame,
    value_col: str,
    alpha: float,
    nbuckets: int,
    keys: Sequence[str] = (),
    weight_col: str | None = None,
    on_overflow: str = "error",
) -> DataFrame:
    """``keys..., sketch binary, n long`` — same contract and bit-identical
    output as ``sketch_agg(df, value_col, keys, lambda: DDSketch(...))``,
    with the aggregation done by Catalyst/Tungsten."""
    validate_alpha(alpha)
    validate_nbuckets(nbuckets)
    return dd_sketches(dd_cells(df, value_col, alpha, keys, weight_col),
                       keys, alpha, nbuckets, on_overflow)


def dd_sketches(cells: DataFrame, keys: Sequence[str], alpha: float,
                nbuckets: int, on_overflow: str = "error") -> DataFrame:
    """``keys..., sketch, n`` — one binary DDSketch per key run of
    :func:`dd_cells` rows (``keys`` may include a window): the Spark
    stage that runs :func:`dd_assemble` on each Arrow batch of key-sorted
    cells."""
    keys = list(keys)

    def assemble_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        return dd_assemble(pdf, keys, alpha, nbuckets, on_overflow)

    return _sketches(cells, keys, assemble_batch)


def dd_assemble(pdf: pd.DataFrame, keys: Sequence[str], alpha: float,
                nbuckets: int, on_overflow: str = "error") -> pd.DataFrame:
    """``keys..., sketch, n`` from :func:`dd_cells` rows sorted by
    ``keys`` (NULL keys form a run of their own) — the DDSketch assembler
    of :func:`dd_sketches` on executors and of the checkpointed job on
    the driver.

    One numpy pass builds every run's wire bytes (same layout as
    DDSketch.to_bytes — big-endian header + neg-DESC/pos-ASC bucket
    pairs), with only a ~2 microsecond header pack per run. ``n`` sums
    ``__rows``; runs with no live count emit no row. Runs whose bucket
    count exceeds nbuckets go through the kernel (``on_overflow``: error
    or UDDSketch collapse). Bit-identical to a kernel build (pinned by
    the native==kernel identity tests).

    ``alpha`` and ``nbuckets`` are scalars or one value per run.

    Cells carrying ``__vmin``/``__vmax`` (``dd_cells(..., _extrema=True)``)
    also give each run's ``v_min``/``v_max`` in Spark's order, where NaN
    sorts above +inf: ``min`` skips NaN unless every value is NaN, ``max``
    is NaN if any value is."""
    keys = list(keys)
    extrema = "__vmin" in pdf.columns
    if not len(pdf):  # key_runs needs a row
        return pdf[keys].assign(sketch=[], n=[], **(
            {"v_min": [], "v_max": []} if extrema else {}))
    run_id, run_starts = key_runs(pdf[keys])
    run_ends = np.append(run_starts[1:], len(pdf))
    alphas = np.broadcast_to(alpha, run_starts.shape)
    nbs = np.broadcast_to(nbuckets, run_starts.shape)

    part = pdf["__part"].to_numpy(np.int64)
    bidx = pdf["__bidx"].to_numpy(np.int64)
    c = pdf["__c"].to_numpy(np.int64)

    def seg_sum(vals):  # runs are contiguous row blocks
        return np.add.reduceat(vals, run_starts)

    count = seg_sum(np.where(part >= 0, c, 0))
    zero = seg_sum(np.where(part == 1, c, 0))
    nrows = seg_sum(pdf["__rows"].to_numpy(np.int64))
    nneg = seg_sum((part == 0).astype(np.int64))
    npos = seg_sum((part == 2).astype(np.int64))
    nbk = nneg + npos

    # wire order within a run: negative part index-DESC, then positive
    # index-ASC (core.ddsketch.to_bytes / ddsketch.c:53-59)
    sel = (part == 0) | (part == 2)
    ordkey = np.where(part == 0, -bidx, bidx)
    sidx = np.flatnonzero(sel)
    order = sidx[np.lexsort((ordkey[sidx], part[sidx], run_id[sidx]))]
    barr = np.empty(order.size, dtype=_BUCKET_DT)
    barr["index"] = bidx[order]
    barr["count"] = c[order]
    bbytes = barr.tobytes()
    ends = np.cumsum(nbk)
    starts = ends - nbk

    pack = struct.Struct(">iqqdiii").pack  # _HEADER (Structs don't pickle)
    runs = np.flatnonzero(count > 0)  # all-NULL groups: no output row
    # numpy keeps keys >= 2^53 exact: pandas reads [int, None] as float64
    out = {k: pdf[k].to_numpy()[run_starts[runs]] for k in keys}
    out["sketch"], out["n"] = [], nrows[runs]
    for r in runs:
        if nbk[r] > nbs[r]:
            # rare overflow: the kernel handles error/collapse exactly
            lo, hi = run_starts[r], run_ends[r]
            s = DDSketch(float(alphas[r]), int(nbs[r]), on_overflow)
            s.count, s.zero_count = int(count[r]), int(zero[r])
            for store, code in ((s.neg, 0), (s.pos, 2)):
                m = part[lo:hi] == code
                store.update(zip(bidx[lo:hi][m].tolist(),
                                 c[lo:hi][m].tolist()))
            s._enforce_maxbuckets()
            out["sketch"].append(s.to_bytes())
            continue
        hdr = pack(0, int(count[r]), int(zero[r]), float(alphas[r]),
                   int(nbs[r]), int(nbk[r]), int(nneg[r]))
        out["sketch"].append(hdr + bbytes[starts[r] * 12: ends[r] * 12])
    if extrema:
        # a cell's NULLs are the identities here: NaN (pandas' NULL) for
        # fmin, the -inf that dd_cells writes for an all-NULL cell's max
        out["v_min"] = np.fmin.reduceat(
            pdf["__vmin"].to_numpy(np.float64), run_starts)[runs]
        out["v_max"] = np.maximum.reduceat(
            pdf["__vmax"].to_numpy(np.float64), run_starts)[runs]
    return pd.DataFrame(out)


def dd_fold(sketches: pa.ChunkedArray, starts: np.ndarray
            ) -> list[bytes] | None:
    """The merged wire bytes of each run of DDSketch ``sketches`` (runs
    begin at rows ``starts``), as ``from_bytes`` and ``merge`` row by row
    give them: one numpy pass over the Arrow buffers runs every
    ``from_bytes`` check, sums the counts per (run, part, index) and lays
    them out with :func:`dd_assemble`. None where that identity is not
    proven, for the caller to fold row by row: a NULL or malformed row,
    alpha or maxbuckets that differ inside a run, a run past its
    maxbuckets, counts that near the int64 limit in total."""
    arr = sketches.combine_chunks()
    w = 8 if pa.types.is_large_binary(arr.type) else 4
    hsz = _HEADER_DT.itemsize
    off = np.frombuffer(arr.buffers()[1], f"<i{w}", len(arr) + 1,
                        arr.offset * w).astype(np.int64)
    if arr.null_count or not len(arr) or (np.diff(off) < hsz).any():
        return None
    data = np.frombuffer(arr.buffers()[2], np.uint8)[off[0]:off[-1]]
    head = (off[:-1] - off[0])[:, None] + np.arange(hsz)
    hdr = data[head].view(_HEADER_DT)[:, 0]
    flags, count, zero, maxb, nb, nneg = (
        hdr[f].astype(np.int64) for f in _HEADER_DT.names if f != "alpha")
    alpha = hdr["alpha"].astype(np.float64)
    run = np.repeat(np.arange(len(starts)), np.diff([*starts, len(arr)]))
    if not ((flags == 0) & (alpha > 0) & (alpha < 1) & (count > 0)
            & (maxb >= MIN_SKETCH_BUCKETS) & (maxb <= MAX_SKETCH_BUCKETS)
            & (nneg >= 0) & (nneg <= nb) & (zero >= 0) & (zero <= count)
            & (np.diff(off) == hsz + nb * _BUCKET_DT.itemsize)
            & (alpha == alpha[starts][run]) & (maxb == maxb[starts][run])
            ).all():
        return None
    body = np.ones(len(data), bool)
    body[head] = False
    bk = data[body].view(_BUCKET_DT)
    idx, cnt = bk["index"].astype(np.int64), bk["count"].astype(np.int64)
    row, first = np.repeat(np.arange(len(arr)), nb), np.cumsum(nb) - nb
    neg = np.arange(len(idx)) - first[row] < nneg[row]
    step, csum = np.diff(idx), np.append(0, np.cumsum(cnt))
    total = cnt.sum(dtype=float) + zero.sum(dtype=float)
    if ((cnt <= 0).any() or total >= 2.0 ** 62
            or (csum[first + nb] - csum[first] + zero != count).any()
            or ((row[1:] == row[:-1]) & (neg[1:] == neg[:-1])
                & np.where(neg[1:], step >= 0, step <= 0)).any()):
        return None
    # a cell per bucket and a zero-count cell (part 1) per row, keyed
    # (run, part, index) in one int64 and summed per key
    key = ((np.append(run[row], run) << 34)
           | (np.append(np.where(neg, 0, 2), np.ones_like(run)) << 32)
           | (np.append(idx, np.zeros_like(run)) + 2 ** 31))
    order = np.argsort(key)
    key, c = key[order], np.append(cnt, zero)[order]
    cell = np.flatnonzero(np.append(True, key[1:] != key[:-1]))
    key, part = key[cell], (key[cell] >> 32) & 3
    if (np.bincount(key[part != 1] >> 34, minlength=len(starts))
            > maxb[starts]).any():
        return None
    cells = pd.DataFrame({"__run": key >> 34, "__part": part,
                          "__bidx": (key & 0xFFFFFFFF) - 2 ** 31,
                          "__c": np.add.reduceat(c, cell), "__rows": 0})
    return dd_assemble(cells, ["__run"], alpha[starts],
                       maxb[starts])["sketch"].tolist()


# ---------------------------------------------------------------------------
# the hash-based siblings: register/counter cells as JVM expressions +
# native partial aggregation, assembled from O(registers) rows per key.
# ---------------------------------------------------------------------------

def hll_cells(df: DataFrame, hash_col: str, p: int = 12,
              keys: Sequence[str] = ()) -> DataFrame:
    """``keys..., __j, __r, __rows`` — the HLL register cells of ``df``
    per key: ``__r`` is the max rho of register ``j``, ``__rows`` counts
    the non-null hashes behind it. Per hash ``j = h % m``, ``rho = Q -
    bit_length(h div m)`` (h div m == 0 -> Q). bit_length is computed as
    popcount of the bit-SMEARED value (x |= x>>1 ... x>>32 sets every bit
    below the MSB, so bit_count == bit_length) in six staged integer
    columns — the previous ``length(bin(x))`` allocated a base-2 String
    per row on the scan's hot path (identical integers, measured ~9% on
    hll_ndv_orderkeys at sf1.0; stages keep the expression linear so
    codegen never sees an exponential tree)."""
    keys = list(map(sql_ident, keys))
    m = 1 << p
    Q = H64_BITS - p + 1
    h = F.col(sql_ident(hash_col))
    out = (df.where(h.isNotNull())
           .select(*keys, (h % m).alias("__j"),
                   F.expr(f"{sql_ident(hash_col)} div {m}").alias("__w")))
    for s in (1, 2, 4, 8, 16, 32):
        out = out.withColumn("__w", F.expr(f"__w | (__w >> {s})"))
    rho = (F.when(F.col("__w") == 0, F.lit(Q))
           .otherwise(F.lit(Q) - F.expr("bit_count(__w)")))
    return (out.select(*keys, "__j", rho.cast("int").alias("__rho"))
            .groupBy(*keys, "__j")
            .agg(F.max("__rho").alias("__r"),
                 F.count(F.lit(1)).alias("__rows")))


def hll_sketches(cells: DataFrame, keys: Sequence[str],
                 p: int = 12) -> DataFrame:
    """``keys..., sketch, n`` — one binary HLL per key run of
    :func:`hll_cells` rows (``keys`` may include a window): one (runs x
    m) register scatter per Arrow batch + a 13-byte header pack per run
    (same wire bytes as HLL.to_bytes; the header count is ``n =
    sum(__rows)``)."""
    keys = list(keys)
    m = 1 << p

    def assemble_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        run_id, run_starts = key_runs(pdf[keys])
        regs = np.zeros((len(run_starts), m), dtype=np.uint8)
        regs[run_id, pdf["__j"].to_numpy(np.int64)] = \
            pdf["__r"].to_numpy(np.int64)
        cnt = np.add.reduceat(pdf["__rows"].to_numpy(np.int64), run_starts)
        hpack = struct.Struct(">4sBq").pack
        out = {k: pdf[k].to_numpy()[run_starts] for k in keys}
        out["sketch"] = [hpack(b"HLL1", p, int(cnt[r])) + regs[r].tobytes()
                         for r in range(len(run_starts))]
        out["n"] = cnt
        return pd.DataFrame(out)

    return _sketches(cells, keys, assemble_batch)


def hll_ndv_native(df: DataFrame, hash_col: str, p: int = 12,
                   keys: Sequence[str] = (),
                   alias: str = "ndv_est") -> DataFrame:
    """``keys..., <alias> double`` — HLL NDV estimate computed ENTIRELY as
    JVM expressions (two codegen hash aggregations, zero Python): register
    max per (keys, j), then the exact-INTEGER power sum
    ``sum(1 << (Q - rho))`` — order-independent, so it matches the DuckDB
    oracle and the numpy kernel bit-for-bit — and the raw/linear-counting
    branch as a CASE. Use when only the estimate is needed; build the
    binary sketch with :func:`hll_agg_native` when the summary itself is
    stored or merged (the estimate formula here is the same as
    core.hll.HLL.estimate)."""
    from ddsketch_spark.core.hll import _alpha

    quoted = list(map(sql_ident, keys))
    m = 1 << p
    Q = H64_BITS - p + 1
    # same evaluation order as HLL.estimate() and oracles.hll_ndv_sql
    C = _alpha(m) * m * m * float(1 << Q)
    agg = hll_cells(df, hash_col, p, keys).groupBy(*quoted).agg(
        F.count(F.lit(1)).alias("__np"),
        # coalesce: a global aggregate over an EMPTY input still emits one
        # row (count 0, sum NULL) — 0 keeps the math on the kernel's path
        # (all-zero registers -> linear counting -> estimate 0.0)
        F.coalesce(F.sum(F.expr(f"CAST(1 AS BIGINT) << ({Q} - __r)")),
                   F.lit(0).cast("long")).alias("__sp"))
    zeros = F.lit(m).cast("long") - F.col("__np")
    denom = (F.col("__sp") + zeros * F.lit(1 << Q).cast("long")).cast("double")
    raw = F.lit(C) / denom
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0),
                 F.lit(float(m))
                 * F.log(F.lit(float(m)) / zeros.cast("double"))
                 ).otherwise(raw)
    return agg.select(*quoted, est.alias(alias))


def hll_agg_native(df: DataFrame, hash_col: str, p: int = 12,
                   keys: Sequence[str] = ()) -> DataFrame:
    """``keys..., sketch binary, n long`` — HLL over a pre-hashed int64
    column (see core.hashing.spark_h64), registers computed as JVM
    expressions and aggregated with a native partial-max
    (:func:`hll_cells`)."""
    return hll_sketches(hll_cells(df, hash_col, p, keys), keys, p)


def _py_probe_positions(h: int, k: int, width: int) -> list[int]:
    """Positions for a pre-computed probe hash — same double-hash walk as
    core.hashing.py_positions (which takes the raw string)."""
    h1 = h % (1 << H1_BITS)
    h2 = 2 * ((h >> H1_BITS) % (1 << (H1_BITS - 1))) + 1
    return [(h1 + i * h2) % width for i in range(k)]


def _double_hash_sql(hash_col: str) -> tuple[str, str]:
    """``(h1, h2)`` SQL of the double-hash walk over ``hash_col`` —
    position i is ``(h1 + i * h2) % width`` (core.hashing.positions)."""
    h = sql_ident(hash_col)
    return (f"({h} % {1 << H1_BITS})",
            f"(2 * (({h} div {1 << H1_BITS}) % {1 << (H1_BITS - 1)}) + 1)")


def cms_freq_native(df: DataFrame, hash_col: str, probe_hashes,
                    depth: int = 5, width: int = 2048,
                    weight_col: str | None = None,
                    prefix: str = "freq_") -> DataFrame:
    """One-row DataFrame of ``<prefix>j`` count-min frequency estimates
    for literal probe hashes — ONE conditional-sum scan, zero Python,
    no sketch materialization: counter cell (i, pos) of a CMS is just
    ``sum(w where position_i(h) = pos)``, so a handful of probes needs
    ``depth x len(probes)`` conditional sums and a LEAST, not the
    depth x width table. Bit-identical to building the sketch and probing
    it (exact integer sums, order-free). Build the binary sketch with
    :func:`cms_agg_native` when the summary is stored or merged."""
    # each aggregate is ONE SQL string -> one py4j call: the Column-composed
    # form (sum/when/coalesce/lit per probe x depth) cost ~2,500 py4j
    # round-trips of plan-construction latency per query (~250 ms, measured
    # r6) for an identical analyzed plan
    w_sql = (f"coalesce(CAST({sql_ident(weight_col)} AS BIGINT), 1)"
             if weight_col else "CAST(1 AS BIGINT)")
    h1s, h2s = _double_hash_sql(hash_col)
    aggs = []
    for j, ph in enumerate(probe_hashes):
        ppos = _py_probe_positions(int(ph), depth, width)
        for i in range(depth):
            cond = f"(({h1s} + {i} * {h2s}) % {width}) = {ppos[i]}"
            aggs.append(F.expr(
                f"coalesce(sum(CASE WHEN {cond} THEN {w_sql}"
                f" ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT))"
                f" AS __c{j}_{i}"))
    wide = df.agg(*aggs)
    return wide.selectExpr(*[
        "least(" + ", ".join(f"__c{j}_{i}" for i in range(depth))
        + f") AS {sql_ident(f'{prefix}{j}')}"
        for j in range(len(probe_hashes))])


def bloom_member_native(df: DataFrame, hash_col: str, probe_hashes,
                        nbits: int = 1 << 16, k: int = 5,
                        prefix: str = "member_") -> DataFrame:
    """One-row DataFrame of ``<prefix>j`` Bloom membership booleans for
    literal probe hashes — one conditional-max scan, zero Python, no
    filter materialization; bit-identical to building the filter and
    probing it.

    Unlike the CMS sibling (one counter ROW per stride), the Bloom bit
    array is SHARED across strides: bit b is set iff ANY row's walk at
    ANY stride lands on b — so each probe bit's presence condition is an
    OR over all k stride positions of the scanned row (a per-stride-only
    check would miss cross-stride collisions and report false negatives
    on saturated filters; caught by the sf0.1 oracle run)."""
    h1s, h2s = _double_hash_sql(hash_col)
    row_pos = [f"(({h1s} + {i} * {h2s}) % {nbits})" for i in range(k)]
    # one SQL string per aggregate (see cms_freq_native: the Column form
    # costs thousands of py4j round-trips for the identical plan)
    aggs = []
    for j, ph in enumerate(probe_hashes):
        ppos = _py_probe_positions(int(ph), k, nbits)
        for i, p in enumerate(ppos):
            cond = " OR ".join(f"{rp} = {p}" for rp in row_pos)
            aggs.append(F.expr(
                f"coalesce(max(CASE WHEN {cond} THEN 1 ELSE 0 END), 0)"
                f" AS __b{j}_{i}"))
    wide = df.agg(*aggs)
    return wide.selectExpr(*[
        "CAST(least(" + ", ".join(f"__b{j}_{i}" for i in range(k))
        + f") AS BOOLEAN) AS {sql_ident(f'{prefix}{j}')}"
        for j in range(len(probe_hashes))])


def _position_cells(df: DataFrame, hash_col: str, k: int, width: int,
                    keys: Sequence[str],
                    weight_col: str | None = None) -> DataFrame:
    """``keys..., __i, __pos, __w`` — one (stride i, position) cell per
    stride of every non-null hash (JVM mirror of core.hashing.positions),
    weighted by ``weight_col`` (NULL => 1) or 1. The one cell projection
    of the batch and windowed CMS and Bloom builds."""
    keys = list(map(sql_ident, keys))
    h1, h2 = _double_hash_sql(hash_col)
    ip = F.expr(f"explode(transform(sequence(0, {k - 1}),"
                f" i -> struct(i AS i, ({h1} + i * {h2}) % {width} AS pos)))")
    w = (F.coalesce(F.col(sql_ident(weight_col)).cast("long"), F.lit(1))
         if weight_col else F.lit(1).cast("long"))
    return (df.where(F.col(sql_ident(hash_col)).isNotNull())
            .select(*keys, ip.alias("ip"), w.alias("__w"))
            .select(*keys, F.col("ip.i").alias("__i"),
                    F.col("ip.pos").alias("__pos"), "__w"))


def cms_cells(df: DataFrame, hash_col: str, depth: int = 5,
              width: int = 2048, keys: Sequence[str] = (),
              weight_col: str | None = None) -> DataFrame:
    """``keys..., __i, __pos, __c, __rows`` — the count-min counter
    cells of ``df`` per key: ``__c`` sums the weights at (stride i,
    position), ``__rows`` counts the hashes behind it (each non-null hash
    feeds ``depth`` cells, one per stride)."""
    keys = list(keys)
    return _sum_cells(
        _position_cells(df, hash_col, depth, width, keys, weight_col),
        keys, ["__i", "__pos"])


def cms_sketches(cells: DataFrame, keys: Sequence[str], depth: int = 5,
                 width: int = 2048) -> DataFrame:
    """``keys..., sketch, n`` — one binary count-min per key run of
    :func:`cms_cells` rows (``keys`` may include a window)."""
    keys = list(keys)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        s = CMS(depth, width)
        s.table[pdf["__i"].to_numpy(dtype=np.int64),
                pdf["__pos"].to_numpy(dtype=np.int64)] = (
            pdf["__c"].to_numpy(dtype=np.int64))
        # each input row contributes to `depth` position rows
        s.count = int(pdf["__c"].sum()) // depth
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row["sketch"] = [s.to_bytes()]
        row["n"] = [int(pdf["__rows"].sum()) // depth]
        return pd.DataFrame(row)

    return _sketches(cells, keys, assemble, per_run=True)


def cms_agg_native(df: DataFrame, hash_col: str, depth: int = 5,
                   width: int = 2048, keys: Sequence[str] = (),
                   weight_col: str | None = None) -> DataFrame:
    """Count-min with JVM-side position explode + native partial-sum."""
    return cms_sketches(
        cms_cells(df, hash_col, depth, width, keys, weight_col),
        keys, depth, width)


def bloom_cells(df: DataFrame, hash_col: str, nbits: int = 1 << 16,
                k: int = 5, keys: Sequence[str] = ()) -> DataFrame:
    """``keys..., __pos, __rows`` — the set bits of a Bloom filter over
    ``df`` per key, ``__rows`` counting the (hash, stride) probes that
    set the bit (each non-null hash makes ``k``)."""
    keys = list(keys)
    return (_position_cells(df, hash_col, k, nbits, keys)
            .groupBy(*map(sql_ident, keys), "__pos")
            .agg(F.count(F.lit(1)).alias("__rows")))


def bloom_sketches(cells: DataFrame, keys: Sequence[str],
                   nbits: int = 1 << 16, k: int = 5) -> DataFrame:
    """``keys..., sketch, n`` — one binary Bloom filter per key run of
    :func:`bloom_cells` rows (``keys`` may include a window)."""
    keys = list(keys)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        s = Bloom(nbits, k)
        s.bits[pdf["__pos"].to_numpy(dtype=np.int64)] = True
        s.count = int(pdf["__rows"].sum()) // k
        row = {kk: [pdf[kk].iloc[0]] for kk in keys}
        row["sketch"] = [s.to_bytes()]
        row["n"] = [s.count]
        return pd.DataFrame(row)

    return _sketches(cells, keys, assemble, per_run=True)


def bloom_agg_native(df: DataFrame, hash_col: str, nbits: int = 1 << 16,
                     k: int = 5, keys: Sequence[str] = ()) -> DataFrame:
    """Bloom with JVM-side position explode + native distinct."""
    return bloom_sketches(bloom_cells(df, hash_col, nbits, k, keys), keys,
                          nbits, k)
