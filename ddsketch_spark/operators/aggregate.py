"""Two-stage distributed sketch aggregation — the engine's core operator.

This is the Spark-native re-expression of the reference's PostgreSQL
aggregate protocol (SFUNC / COMBINEFUNC / SERIALFUNC / FINALFUNC,
/root/reference/sql/ddsketch--1.0.0.sql:62-70 and ddsketch.c:2176-2361):

  stage 1 (SFUNC, map-side partial aggregation):
      a pandas map over ONLY the projected key+value columns — one
      accumulator per key per input partition, updated per Arrow batch with
      vectorized numpy. Emits one row per (partition, key): the serialized
      partial sketch plus lineage fields (partition id, row count). The
      shuffle therefore carries kilobytes per group, never raw rows — this
      is what makes the plan survive a 100 TB scan: shuffle volume is
      O(partitions × groups × sketch_size), independent of row count.

  stage 2 (COMBINEFUNC): :func:`grouped_apply_sorted` folds each key's
      partial sketches with :func:`merge_serialized` over key-sorted runs.
      Stage 1 already collapsed each partition to one row per key, so at
      most one partial per map task per key reaches the reducer: Zipf-
      skewed keys (web-data ``lang``) are bounded by the task count.
      DDSketch merges are exact integer bucket sums, so any merge tree
      gives the same bytes; the merge has one shape and no options.

  final (FINALFUNC): scalar pandas UDF on the merged sketch column
      (quantile / rank / trimmed extraction) — see
      :mod:`ddsketch_spark.functions`.

Any sketch implementing the protocol ``factory() -> obj`` with
``update(values, counts=None) / merge(other) / to_bytes()`` plus a
``from_bytes`` deserializer plugs into the same two stages (HLL, count-min,
Bloom, KLL, t-digest — SURVEY §7.1 step 4).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StructField, StructType,
)

from ddsketch_spark.core.ddsketch import DDSketch, from_bytes as dd_from_bytes
from ddsketch_spark.plans.local import (
    bounded_arrow, local_frame, scan_only,
)

DRIVER_FOLD_MAX_ROWS = 10_000   # see fold_stored and SCALE.md


def sql_ident(name: str) -> str:
    """``name`` as one backquoted Spark SQL identifier, whatever it holds
    (``h-1``, ``my hash``, a backquote) — for every column name pasted
    into a SQL string or ``F.col``."""
    return "`" + name.replace("`", "``") + "`"


def _key_fields(df: DataFrame, keys: Sequence[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in keys]


def sketch_partials(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    factory: Callable[[], object] = DDSketch,
    weight_col: str | None = None,
    n_from_weight: bool = False,
) -> DataFrame:
    """Stage 1: per-partition, per-key partial sketches.

    Output schema: ``keys..., sketch binary, part_id long, n long`` where
    ``n`` is the number of contributing rows (lineage/metrics record per
    the north rule). ``n_from_weight=True`` counts lineage by summed
    weight instead — for inputs where one row REPRESENTS many (the
    precombined duplicate-collapsed path), keeping n = original rows.
    NOTE (r5 ADVICE): with an explicit ``weight_col``, the precombined
    path sums weights JVM-side BEFORE the kernel's positivity check, so
    zero/negative per-row weights that raise on the plain path are
    absorbed into the group sum (which only fails if the SUM is <= 0),
    and n's meaning shifts from rows-seen to summed weight — callers
    feeding untrusted weights through precombine should validate them
    up front.
    """
    keys = list(keys)
    cols = keys + [value_col] + ([weight_col] if weight_col else [])
    # explicit projection: the Python map is a pruning barrier, so never let
    # wide columns (e.g. html binary) cross into Python (SURVEY §4.1)
    projected = df.select(*map(sql_ident, cols))
    # NULL items contribute nothing to hash/item sketches: drop them
    # JVM-side so the Python batch stays dense (an int64 hash column stays
    # numpy int64 instead of exact-int objects). The float path keeps NULL
    # rows: they reach the kernels as NaN, which they skip, and n still
    # counts them.
    input_dtype = getattr(factory(), "input_dtype", "float64")
    if input_dtype in ("int64", "object"):
        projected = projected.where(F.col(sql_ident(value_col)).isNotNull())
    projected = projected.withColumn("__pid", F.spark_partition_id())

    out_schema = StructType(
        _key_fields(df, keys)
        + [
            StructField("sketch", BinaryType(), False),
            StructField("part_id", LongType(), False),
            StructField("n", LongType(), False),
        ]
    )

    # kernels declare their input dtype ('float64' default; hash-based
    # sketches take pre-hashed 'int64' columns — hashing stays JVM-side;
    # item sketches like SpaceSaving take raw 'object' strings)
    int_input = input_dtype == "int64"
    obj_input = input_dtype == "object"

    def _extract(gdf: pd.DataFrame):
        if int_input or obj_input:
            sub = gdf[[value_col] + ([weight_col] if weight_col else [])].dropna(
                subset=[value_col])
            vals = sub[value_col].to_numpy(
                dtype="object" if obj_input else "int64")
            wts = (sub[weight_col].to_numpy(dtype="float64", na_value=float("nan"))
                   if weight_col else None)
        else:
            vals = gdf[value_col].to_numpy(dtype="float64", na_value=float("nan"))
            wts = (gdf[weight_col].to_numpy(dtype="float64", na_value=float("nan"))
                   if weight_col else None)
        return vals, wts

    def _nrows(gdf: pd.DataFrame) -> int:
        if n_from_weight and weight_col:
            return int(gdf[weight_col].fillna(1).sum())
        return len(gdf)

    def update_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[tuple, object] = {}
        rows: dict[tuple, int] = {}
        pid = 0
        for pdf in batches:
            pid = int(pdf["__pid"].iloc[0])
            if keys:
                grouped = pdf.groupby(keys, dropna=False, sort=False)
                for _, gdf in grouped:
                    # the key as stored: groupby reports exact object ints
                    # (keys >= 2^53, see map_batches) as floats
                    gkey = tuple(gdf[k].iloc[0] for k in keys)
                    vals, wts = _extract(gdf)
                    acc = accs.get(gkey)
                    if acc is None:
                        acc = accs[gkey] = factory()
                        rows[gkey] = 0
                    acc.update(vals, wts)
                    rows[gkey] += _nrows(gdf)
            else:
                vals, wts = _extract(pdf)
                acc = accs.get(())
                if acc is None:
                    acc = accs[()] = factory()
                    rows[()] = 0
                acc.update(vals, wts)
                rows[()] += _nrows(pdf)

        out = {k: [] for k in keys}
        out["sketch"], out["part_id"], out["n"] = [], [], []
        for gkey, acc in accs.items():
            if getattr(acc, "count", 1) == 0:
                continue  # all-NULL group in this partition: no partial row
            for k, kv in zip(keys, gkey):
                out[k].append(kv)
            out["sketch"].append(acc.to_bytes())
            out["part_id"].append(pid)
            out["n"].append(rows[gkey])
        if out["sketch"]:
            # object keys: pandas would turn [int, None] into float64
            yield pd.DataFrame({c: pd.Series(v, dtype=object) if c in keys
                                else v for c, v in out.items()})

    return map_batches(projected, update_fn, out_schema)


AUTO_FANOUT_THRESHOLD = 512


def auto_merge_fanout(n_partitions: int) -> int | None:
    """Default pre-merge fanout for a scan with ``n_partitions`` tasks.

    Up to ``AUTO_FANOUT_THRESHOLD`` map tasks, a single gather of one
    partial per task is cheaper than an extra shuffle round — return
    None. Above it (10k-task scans at 100 TB), return ~sqrt(n) so both
    the pre-merge groups and the final gather see O(sqrt(n)) rows."""
    if n_partitions <= AUTO_FANOUT_THRESHOLD:
        return None
    return max(2, min(4096, int(np.ceil(np.sqrt(n_partitions)))))


def gather_partials(
    df: DataFrame,
    value_col: str,
    factory: Callable[[], object],
    from_bytes: Callable[[bytes], object],
    weight_col: str | None = None,
) -> DataFrame:
    """Keyless stage-1 partials ready for a driver-side gather (the
    ``treeAggregate`` final gather): one partial per scan partition, or —
    past ``AUTO_FANOUT_THRESHOLD`` map tasks — an executor pre-merge round
    bounding the gather to ~sqrt(tasks) rows (:func:`auto_merge_fanout`).
    Fold the collected rows with :func:`merge_serialized`."""
    parts = sketch_partials(df, value_col, factory=factory,
                            weight_col=weight_col)
    fan = auto_merge_fanout(df.rdd.getNumPartitions())
    return premerge_partials(parts, fan, from_bytes) if fan else parts


def merge_serialized(blobs: Iterable, from_bytes: Callable[[bytes], object]):
    """Fold serialized sketches into one (``from_bytes`` then ``merge``,
    in order); None when there are none."""
    acc = None
    for b in blobs:
        s = from_bytes(bytes(b))
        acc = s if acc is None else acc.merge(s)
    return acc


def _fold_runs(keys: Sequence[str], from_bytes: Callable[[bytes], object],
               finish):
    """Per-run fn for :func:`grouped_apply_sorted`: fold the run's
    ``sketch`` column and emit ``keys..., **finish(acc, run)`` —
    ``finish``'s lists may hold several rows (key columns repeat)."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = finish(merge_serialized(pdf["sketch"], from_bytes), pdf)
        nrows = len(next(iter(cols.values())))
        row = {k: [pdf[k].iloc[0]] * nrows for k in keys}
        row.update(cols)
        return pd.DataFrame(row)
    return fn


def premerge_partials(
    partials: DataFrame,
    fanout: int,
    from_bytes: Callable[[bytes], object] = dd_from_bytes,
) -> DataFrame:
    """One executor pre-merge round over keyless partials: merge the rows
    of each ``part_id % fanout`` group to one, bounding the driver gather
    that consumes them to ``fanout`` rows. Output keeps the partial-row
    contract (``sketch, n, part_id``) with ``part_id`` = the salt."""
    # coalesce only marks the salt non-NULL, like the part_id it replaces
    salt = F.coalesce(F.pmod(F.col("part_id"), F.lit(fanout)), F.lit(0))
    return (
        merge_partials(partials.withColumn("__salt", salt), ["__salt"],
                       from_bytes)
        .withColumn("part_id", F.col("__salt")).drop("__salt")
    )


def merge_partials(
    partials: DataFrame,
    keys: Sequence[str] = (),
    from_bytes: Callable[[bytes], object] = dd_from_bytes,
) -> DataFrame:
    """Stage 2: merge the ``sketch`` partials of each key and sum their
    ``n``: ``keys..., sketch binary, n long``. One shuffle by key, one
    sorted-run fold (:func:`grouped_apply_sorted`)."""
    keys = list(keys)

    def merged(acc, pdf):
        return {"sketch": [acc.to_bytes()], "n": [int(pdf["n"].sum())]}

    out_schema = StructType(
        _key_fields(partials, keys)
        + [StructField("sketch", BinaryType(), False),
           StructField("n", LongType(), False)])
    return grouped_apply_sorted(
        partials, keys, _fold_runs(keys, from_bytes, merged), out_schema)


def resolve_from_bytes(factory: Callable[[], object],
                       from_bytes: Callable[[bytes], object]):
    """Thread the factory's overflow policy into partial deserialization.

    ``on_overflow`` is deliberately NOT part of the wire format (the
    header stays reference-parity, flags==0 — ddsketch.c:3013-3027), so a
    collapse-mode factory's partials would otherwise deserialize with the
    default ``on_overflow='error'`` and the level-reconciling merge in
    :meth:`DDSketch.merge` could never engage at the merge stage — the
    exact scenario collapse mode exists for, partials that collapsed a
    different number of times (r4 ADVICE). Only rebinds the DEFAULT
    DDSketch deserializer; an explicit ``from_bytes`` is the caller's
    contract."""
    if from_bytes is not dd_from_bytes:
        return from_bytes
    probe = factory()
    oo = getattr(probe, "on_overflow", "error")
    if isinstance(probe, DDSketch) and oo != "error":
        return lambda b, _oo=oo: dd_from_bytes(b, _oo)
    return from_bytes


def sketch_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    factory: Callable[[], object] = DDSketch,
    from_bytes: Callable[[bytes], object] = dd_from_bytes,
    weight_col: str | None = None,
    precombine: bool = False,
) -> DataFrame:
    """Full 2-stage aggregation: ``keys..., sketch binary, n long``.

    The Spark analogue of ``SELECT keys, ddsketch(value, alpha, nbuckets)
    FROM t GROUP BY keys`` (reference lifecycle B, README.md:121-124).

    ``precombine=True`` collapses duplicate values JVM-side before the
    Arrow transfer: ``groupBy(keys, value) -> summed weight``, then the
    kernels' weighted update consumes (value, weight) rows. For
    discrete-valued columns (document lengths, token counts, sizes) this
    shrinks the JVM->Python hand-off from O(rows) to O(distinct values
    per key) — the lever that lets the Arrow-pipeline sketches (KLL /
    t-digest, no closed-form bucket expression) keep up with the
    JVM-native path at scale (BENCH/BASELINE.md r5: the stage-1 gap).
    Spark's partial aggregation combines map-side, so the extra shuffle
    carries only distinct (keys, value) rows. The resulting sketch sees
    the identical multiset (weighted insert == repeated insert for every
    kernel; pinned by tests), though for randomized compactors (KLL) the
    internal state differs while the error bounds hold unchanged.
    Caveat: with an explicit ``weight_col``, per-row positivity is
    summed away before the kernel's weight check — callers own weight
    validity on this path."""
    if precombine:
        w = (F.sum(F.coalesce(F.col(weight_col).cast("long"), F.lit(1)))
             if weight_col else F.count(F.lit(1)).cast("long"))
        # NULL/NaN values stay as their own group: the kernels skip them,
        # but their summed weight keeps the lineage n = rows seen
        df = df.groupBy(*list(keys), value_col).agg(w.alias("__w"))
        weight_col = "__w"
    partials = sketch_partials(df, value_col, keys, factory, weight_col,
                               n_from_weight=precombine)
    return merge_partials(partials, keys,
                          resolve_from_bytes(factory, from_bytes))


def _stored_rows(df: DataFrame, sketch_col: str, keys: Sequence[str],
                 n_col: str | None, with_n: bool) -> DataFrame:
    """``keys..., sketch[, n]`` of stored sketch rows, one ``selectExpr``:
    with ``n``, the partial-row contract of :func:`merge_partials`, each
    row's own contributing-row count (``n_col``, rollup tables) or 1."""
    n = f"CAST({sql_ident(n_col)} AS BIGINT)" if n_col else "CAST(1 AS BIGINT)"
    return df.selectExpr(*map(sql_ident, keys),
                         f"{sql_ident(sketch_col)} AS sketch",
                         *([f"{n} AS n"] if with_n else []))


def merge_sketches(
    df: DataFrame,
    sketch_col: str,
    keys: Sequence[str] = (),
    from_bytes: Callable[[bytes], object] = dd_from_bytes,
    n_col: str | None = None,
    extract=None,
    out_fields: Sequence[StructField] = (),
) -> DataFrame:
    """Re-aggregate stored sketches (``ddsketch(sketch)`` N-way merge,
    reference ddsketch.c:1439-1520): ``keys..., sketch binary, n long``,
    one shuffle of already-tiny sketch rows. ``n`` counts the merged rows,
    or sums their ``n_col``.

    Given ``extract(acc) -> dict[col, list]``, its columns
    (``out_fields``) replace ``sketch, n``, computed in the SAME Python
    stage — the reference's FINALFUNC-inside-the-aggregate shape
    (``ddsketch_percentile(sketch, q)``, ddsketch--1.0.0.sql:62-70): no
    scalar-UDF extraction stage after the merge. ``extract``'s lists may
    have length > 1 (e.g. one row per quantile); key columns repeat."""
    keys = list(keys)
    partials = _stored_rows(df, sketch_col, keys, n_col, extract is None)
    if extract is None:
        return merge_partials(partials, keys, from_bytes)
    return grouped_apply_sorted(
        partials, keys,
        _fold_runs(keys, from_bytes, lambda acc, pdf: extract(acc)),
        StructType(_key_fields(partials, keys) + list(out_fields)))


def quantile_extract(qs: Sequence[float]) -> dict:
    """``extract`` and ``out_fields`` of :func:`merge_sketches` and
    :func:`fold_stored`: one ``(q, est)`` row per requested quantile of
    the merged sketch."""
    qs = [float(q) for q in qs]
    return {"extract": lambda s: {"q": qs,
                                  "est": [float(e) for e in s.quantile(qs)]},
            "out_fields": [StructField("q", DoubleType(), False),
                           StructField("est", DoubleType(), True)]}


def fold_key_runs(tbl: pa.Table, keys: Sequence[str],
                  from_bytes: Callable[[bytes], object]):
    """``(run, merged sketch bytes)`` per key run of ``tbl``'s ``sketch``
    column sorted NULL-first, split by :func:`key_runs` over exact keys
    as in :func:`map_batches`: the driver twin of :func:`_fold_runs`.
    DDSketch rows (the default ``from_bytes``) fold in one numpy pass,
    ``native.dd_fold``; what it leaves, row by row."""
    # native imports this module
    from ddsketch_spark.operators.native import dd_fold

    if not tbl.num_rows:
        return
    if keys:
        tbl = tbl.sort_by([(k, "ascending") for k in keys],
                          null_placement="at_start")
    _, starts = key_runs(tbl.select(keys).to_pandas(integer_object_nulls=True))
    ends = [*starts[1:], tbl.num_rows]
    merged = (dd_fold(tbl.column("sketch"), starts)
              if from_bytes is dd_from_bytes else None)
    if merged is None:
        blobs = tbl.column("sketch").to_pylist()
        merged = [merge_serialized(blobs[a:b], from_bytes).to_bytes()
                  for a, b in zip(starts, ends)]
    for a, b, blob in zip(starts, ends, merged):
        yield tbl.slice(a, b - a), blob


def fold_stored(df: DataFrame, sketch_col: str, keys: Sequence[str],
                from_bytes: Callable[[bytes], object] = dd_from_bytes,
                n_col: str | None = None, extract=None,
                out_fields: Sequence[StructField] = ()) -> DataFrame:
    """:func:`merge_sketches`, folded on the driver into a
    ``local_frame`` when ``df`` only reads stored rows (``scan_only``)
    and at most ``DRIVER_FOLD_MAX_ROWS`` of them fetch at call time (one
    task, ``bounded_arrow``). Otherwise that lazy plan, same rows: a
    table still to be built is not fetched, as the plan would build it
    again."""
    keys = list(keys)
    fetch = _stored_rows(df, sketch_col, keys, n_col, extract is None)
    tbl = (bounded_arrow(fetch, DRIVER_FOLD_MAX_ROWS) if scan_only(fetch)
           else None)
    if tbl is None:
        return merge_sketches(df, sketch_col, keys, from_bytes, n_col,
                              extract, out_fields)
    fields = fetch.schema.fields[:len(keys)] + (
        list(out_fields) if extract else [
            StructField("sketch", BinaryType(), False),
            StructField("n", LongType(), False)])
    rows = []
    for run, blob in fold_key_runs(tbl, keys, from_bytes):
        cols = extract(from_bytes(blob)) if extract else {
            "sketch": [blob], "n": [pc.sum(run.column("n")).as_py()]}
        m = len(next(iter(cols.values())))
        cols.update({k: [run.column(k)[0].as_py()] * m for k in keys})
        rows += zip(*(cols[f.name] for f in fields))
    return local_frame(df.sparkSession, rows, StructType(fields))


def key_runs(kdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """``(run_id per row, first row of each run)`` for key-sorted rows:
    a run is a maximal block of equal keys, NULL-safe (NULL keys form a
    run, like Spark's groupBy). Zero key columns make one run."""
    prev = kdf.shift()
    same = ((kdf == prev) | (kdf.isna() & prev.isna())).all(axis=1).to_numpy()
    same[0] = False
    return np.cumsum(~same) - 1, np.flatnonzero(~same)


def grouped_apply_sorted(df: DataFrame, keys: Sequence[str], fn,
                         schema: StructType, per_run: bool = True) -> DataFrame:
    """Spark's grouped ``applyInPandas`` of ``fn`` by ``keys``, with
    O(Arrow batch) overhead instead of O(groups).

    FlatMapGroupsInPandas ships EVERY group as its own Arrow batch through
    the Python worker — ~0.15 ms per group, which dominates when there are
    many small groups (measured 12x slower than this shape at 100k keys).
    Here rows are hash-repartitioned and sorted by key, streamed in big
    Arrow batches, and ``fn`` is applied per contiguous key run, carrying
    a run that spans a batch boundary. Output is identical: same shuffle
    (groupBy's exec is also sort-based), same per-group fn, exact integer
    results. Zero keys make one run: every row goes to one partition (no
    sort) and ``fn`` sees its batches concatenated once.

    ``per_run=False`` hands ``fn`` the whole complete-runs SLICE of each
    batch instead of one call per key run — for fns that vectorize across
    runs (see native.dd_sketches; ~8x again over per-run calls at
    1M keys).

    Batches are read by :func:`map_batches`, so integral keys stay exact
    even when a batch holds a NULL key.
    """
    keys = list(keys)
    quoted = list(map(sql_ident, keys))
    rep = (df.repartition(*quoted).sortWithinPartitions(*quoted) if keys
           else df.repartition(1, F.lit(0)))

    def run(pdfs):
        if not keys:
            pdfs = list(pdfs)
            if pdfs:
                yield fn(pd.concat(pdfs, ignore_index=True))
            return
        pending = None
        for pdf in pdfs:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            # the LAST key run may continue in the next batch: hold it back
            _, starts = key_runs(pdf[keys])
            tail = int(starts[-1])
            if tail == 0:
                pending = pdf  # single run — may continue in next batch
                continue
            head = pdf.iloc[:tail]
            pending = pdf.iloc[tail:].reset_index(drop=True)
            if per_run:
                # rows are key-sorted: slice contiguous runs directly
                # (pandas groupby would also re-group, but its .groups
                # breaks on None keys in object columns — and slicing
                # skips the factorize pass entirely)
                yield pd.concat([fn(head.iloc[a:b])
                                 for a, b in zip(starts[:-1], starts[1:])],
                                ignore_index=True)
            else:
                yield fn(head)
        if pending is not None and len(pending):
            yield fn(pending)

    return map_batches(rep, run, schema)


def map_batches(df: DataFrame, fn, schema: StructType) -> DataFrame:
    """``fn(pandas batches) -> pandas batches`` over ``df`` — the one
    place a Python batch stage reads Spark's Arrow data. Every integral
    column stays exact: Spark's own pandas conversion turns a nullable
    int64 column whose batch holds a NULL into float64, merging distinct
    values >= 2^53 (60-bit h64 ids); here such a column arrives as exact
    ints + None (``integer_object_nulls``), a null-free batch as numpy
    int64. Timestamps cross as instants whatever the session timezone:
    they arrive tz-aware, and naive values ``fn`` returns are read as UTC
    (``mapInPandas`` reads them as session-local). Empty batches and
    results are skipped. Input is read by position: ``mapInArrow``
    parses each input name, which a backquote breaks."""
    names = df.columns
    int_cols = [i for i, f in enumerate(df.schema.fields)
                if f.dataType.typeName() in ("long", "integer", "short", "byte")]

    def run(batches):
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_out = to_arrow_schema(schema)

        def to_pdf(ab: "pa.RecordBatch") -> pd.DataFrame:
            pdf = ab.to_pandas()
            for i in int_cols:
                if ab.column(i).null_count:
                    pdf[f"_{i}"] = ab.column(i).to_pandas(
                        integer_object_nulls=True)
            pdf.columns = names
            return pdf

        for res in fn(to_pdf(ab) for ab in batches if ab.num_rows):
            if len(res):
                yield pa.RecordBatch.from_pandas(res, schema=arrow_out,
                                                 preserve_index=False)

    run.__name__ = fn.__name__      # the stage's name in EXPLAIN
    return df.toDF(*(f"_{i}" for i in range(len(names)))).mapInArrow(
        run, schema)
