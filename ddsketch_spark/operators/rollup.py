"""Hypertable-style continuous-aggregate rollups over sketch tables.

The reference extension's flagship deployment pattern (README.md:121-139:
"store one sketch per group, re-aggregate later") extended with the time
dimension it is built for in practice (continuous aggregates): keep ONE
sketch row per (time bucket, dimension) in a stored table, then answer

* any COARSER time grain (hourly table -> daily/weekly answers), and
* any ALIGNED time RANGE (p95 over [t0, t1)),

by merging the kilobyte partials — never rescanning raw data. Merge
associativity (tests/test_sketches.py) is exactly what makes the rollup
answer bit-identical to a direct build at the coarser grain.

100 TB shape: the fine sketch table is O(buckets x keys) kilobyte rows —
six orders of magnitude smaller than the raw events. Building it is one
partial-aggregated groupBy over the raw scan (the JVM-native bucket-cell
path, operators/native.py); every question afterwards touches only the
tiny table: a range query's bucket predicate pushes down to the stored
table's parquet scan so only in-range partials are read at all, and a
rollup or range merges those kB rows on the driver (``fold_stored``):
one single-task fetch built from SQL strings, then one numpy pass over
the sketch bytes. Past ``aggregate.DRIVER_FOLD_MAX_ROWS`` rows, or over
a table still to be built, the merge is one shuffle of kB rows.

Stored tables describe themselves: :func:`store_sketch_table` commits a
log entry (``sources.tables.commit``: format, schema, data files) after
each write, and :func:`read_sketch_table` loads the files it
names with the schema it holds. Opening a stored table therefore costs
no Spark job — no directory-listing job, no schema-inference job —
however many day partitions it has, so a question over stored partials
costs about what its merge costs.
"""

from __future__ import annotations

import datetime as dt
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ddsketch_spark.core.ddsketch import from_bytes as dd_from_bytes
from ddsketch_spark.operators import api
from ddsketch_spark.operators.aggregate import (
    fold_stored, quantile_extract, sql_ident,
)
from ddsketch_spark.sources import tables


def _deser(on_overflow: str, from_bytes=None):
    """Deserializer for the table's sketch column. Default: DDSketch
    bound to the table's overflow policy (on_overflow is not in the wire
    format, so collapse-mode tables must deserialize with
    on_overflow='collapse' for the level-reconciling merge to engage).
    Pass ``from_bytes`` to roll up ANY mergeable-sketch table instead —
    HLL (register max), KMV (bottom-k union), CMS, Bloom: every kernel
    with an associative ``merge`` works, because a time rollup IS just a
    keyed N-way merge."""
    if from_bytes is not None:
        return from_bytes
    if on_overflow == "error":
        # the plain deserializer, whose rows fold_key_runs folds in one pass
        return dd_from_bytes
    return lambda b: dd_from_bytes(b, on_overflow)

__all__ = [
    "time_bucket", "build_sketch_table", "rollup", "range_percentile",
    "windowed_sketches_as_table", "store_sketch_table", "read_sketch_table",
    "compact_sketch_table", "range_percentile_tiered",
]


def time_bucket(ts_col: str | Column, granularity_seconds: int) -> Column:
    """Bucket start as epoch seconds (LongType): ``floor(epoch(ts) / g) * g``.

    Long epoch keys (not timestamps) keep the bucket column an exact
    integer for equality joins / range predicates and make the oracle
    arithmetic identical on any SQL engine. TIMESTAMP_NTZ columns are
    cast through TIMESTAMP, which reads the wall clock in the session
    timezone — plans.session.get_spark pins that to UTC, matching
    engines that treat naive timestamps as UTC instants."""
    if granularity_seconds < 1:
        raise ValueError("granularity_seconds must be >= 1")
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    g = int(granularity_seconds)
    return (F.floor(c.cast("timestamp").cast("double") / g) * g).cast("long")


def build_sketch_table(df: DataFrame, ts_col: str, value_col: str,
                       alpha: float, nbuckets: int,
                       granularity_seconds: int,
                       keys: Sequence[str] = (),
                       weight_col: str | None = None,
                       on_overflow: str = "error") -> DataFrame:
    """Fine-grained sketch table: ``bucket, keys..., sketch, n`` — one
    row per (time bucket, key). One partial-aggregated pass over the raw
    data (JVM-native bucket cells); persist it with
    :func:`store_sketch_table`. Pass the SAME ``on_overflow`` here and to
    every later rollup/range call over the table — the policy is not
    serialized in the sketch bytes."""
    keys = list(keys)
    cols = [*keys, value_col] + ([weight_col] if weight_col else [])
    base = df.select(
        time_bucket(F.col(sql_ident(ts_col)), granularity_seconds)
        .alias("bucket"), *map(sql_ident, cols))
    return api.ddsketch(base, value_col, alpha, nbuckets,
                        keys=["bucket"] + keys, weight_col=weight_col,
                        on_overflow=on_overflow)


def windowed_sketches_as_table(assembled: DataFrame,
                               keys: Sequence[str] = ()) -> DataFrame:
    """Adapt the STREAMING layer's output to the sketch-table contract:
    ``streaming.sketch_stream.assemble_window_sketches`` rows (``keys...,
    window_start, window_end, sketch, n``) become ``bucket, keys...,
    sketch, n`` with ``bucket`` = epoch seconds of the window start.

    Tumbling windows are granularity-aligned, so a streaming-maintained
    hourly table has the same sketch bytes and ``n`` as a batch
    ``build_sketch_table`` over the same rows — continuous ingestion keeps the
    table fresh, and every ``rollup`` / ``range_percentile`` question
    works unchanged on top."""
    return assembled.select(
        F.col("window_start").cast("long").alias("bucket"),
        *keys, "sketch", "n")


def store_sketch_table(df: DataFrame, path: str,
                       partition_granularity_seconds: int = 86400) -> None:
    """Persist a sketch table partitioned by a COARSER time directory
    (default daily), then commit its manifest. Hourly rows land in day
    directories, so an aligned range query prunes whole partitions
    before reading a single row (PartitionFilters, pinned in
    tests/test_rollup.py). ~365 directories per year keeps the file
    count sane at any data scale — the row count inside is O(buckets x
    keys) regardless of raw data size.

    The data write is ``sources.tables.write_table``'s (mode overwrite;
    with ``spark.sql.sources.partitionOverwriteMode=dynamic`` only the
    day partitions ``df`` touches are replaced). After it succeeds,
    it lists the table's data files and commits them as the newest
    version of the table's log (``sources.tables.commit``): a full
    snapshot naming the format, the written schema (``pbucket`` a long,
    as computed here) and every data file, relative to ``path`` so the
    table can be copied or moved. :func:`read_sketch_table` reads only
    that entry.

    Not in the log: the overflow policy and the granularities — pass the
    same ``on_overflow`` and grains to every later call. Not isolated: a
    dynamic overwrite replaces an existing day's files in place before
    the commit, so a reader during the write may fail on a replaced
    file; a write that fails before its commit leaves new days invisible
    but replaced days already replaced."""
    g = int(partition_granularity_seconds)
    out = df.withColumn(
        "pbucket", F.col("bucket") - F.pmod(F.col("bucket"), F.lit(g)))
    tables.write_table(out, path, partition_by=["pbucket"])
    spark = df.sparkSession
    tables.commit(spark, path, tables.data_files(spark, path), out.schema,
                  tables.table_format())


def read_sketch_table(spark, path: str) -> DataFrame:
    """Read a :func:`store_sketch_table` table from its newest manifest
    entry: the logged files with the logged schema, so Spark neither
    lists the day directories nor infers the schema and the read submits
    no Spark job. ``pbucket`` stays a partition column (a long at any
    date), so :func:`range_percentile` given the same
    ``partition_granularity_seconds`` prunes partitions. A table whose
    snapshot has no files reads as zero rows; a directory without a
    manifest raises ``FileNotFoundError``."""
    return tables.read_snapshot(spark, path)


def _check_multiple(coarse: int, fine: int) -> None:
    if coarse % fine != 0 or coarse < fine:
        raise ValueError(
            f"coarse granularity {coarse}s must be a positive multiple of "
            f"the table's fine granularity {fine}s — otherwise a fine "
            f"bucket would straddle two coarse buckets and the rollup "
            f"could not equal a direct build")


def rollup(sketch_table: DataFrame, coarse_granularity_seconds: int,
           fine_granularity_seconds: int, keys: Sequence[str] = (),
           on_overflow: str = "error",
           from_bytes=None) -> DataFrame:
    """Coarsen a sketch table: merge fine buckets into
    ``coarse_granularity_seconds`` buckets — ``bucket, keys..., sketch,
    n`` again, so rollups chain (hourly -> daily -> weekly). The merge
    is the reference's N-way ``ddsketch(sketch)`` per coarse bucket:
    over stored rows, folded on the driver when called
    (``aggregate.fold_stored``); past ``aggregate.DRIVER_FOLD_MAX_ROWS``
    rows, or over a table still to be built, one shuffle of kB rows."""
    g = int(coarse_granularity_seconds)
    _check_multiple(g, int(fine_granularity_seconds))
    keys = list(keys)
    coarse = sketch_table.withColumn(
        "bucket", F.expr(f"bucket - pmod(bucket, {g})"))
    # n_col: a rollup row's n = sum of its children's contributing
    # rows, not the number of merged sketch rows
    return fold_stored(coarse, "sketch", ["bucket"] + keys,
                       _deser(on_overflow, from_bytes),
                       n_col="n" if "n" in sketch_table.columns else None)


def _epoch(t: "int | dt.datetime") -> int:
    if isinstance(t, dt.datetime):
        if t.tzinfo is None:
            t = t.replace(tzinfo=dt.timezone.utc)
        return int(t.timestamp())
    return int(t)


def range_percentile(sketch_table: DataFrame, t0, t1, qs: Sequence[float],
                     fine_granularity_seconds: int,
                     keys: Sequence[str] = (),
                     partition_granularity_seconds: int | None = None,
                     on_overflow: str = "error") -> DataFrame:
    """Quantiles over an aligned time range from stored partials:
    ``keys..., q, est`` for raw-value timestamps in ``[t0, t1)``.

    ``t0``/``t1`` (epoch seconds or naive-UTC datetimes) must be aligned
    to the table's fine granularity — then bucket membership equals raw
    timestamp membership and the answer is bit-identical to sketching the
    raw rows in the range. The bucket predicate is a plain column filter,
    so on a stored table it pushes down to the parquet scan: only
    in-range kB rows are ever read, and merged as in :func:`rollup`."""
    e0, e1 = _epoch(t0), _epoch(t1)
    fine = int(fine_granularity_seconds)
    if e0 % fine or e1 % fine:
        raise ValueError(
            f"range [{e0}, {e1}) must be aligned to the table's "
            f"{fine}s buckets — an unaligned edge would need the raw "
            f"rows of the straddled bucket, which the table no longer has")
    if e1 <= e0:
        raise ValueError("empty range: t1 must be > t0")
    cond = f"bucket >= {e0} AND bucket < {e1}"
    if (partition_granularity_seconds
            and "pbucket" in sketch_table.columns):
        # tables written by store_sketch_table: an equivalent predicate
        # on the partition directory column prunes whole partitions
        # (implied by the bucket bounds, but Spark cannot derive it)
        g = int(partition_granularity_seconds)
        cond += f" AND pbucket >= {(e0 // g) * g} AND pbucket < {e1}"
    return fold_stored(sketch_table.where(cond), "sketch", keys,
                       _deser(on_overflow), **quantile_extract(qs))


def compact_sketch_table(sketch_table: DataFrame, boundary,
                         fine_granularity_seconds: int,
                         coarse_granularity_seconds: int,
                         keys: Sequence[str] = (),
                         on_overflow: str = "error") -> DataFrame:
    """Tiered retention (the continuous-aggregate compaction policy):
    buckets OLDER than ``boundary`` are rolled up to the coarse grain,
    recent buckets stay fine — e.g. hourly for the last 7 days, daily
    beyond. Output adds a ``gran`` column (seconds covered per row) so
    :func:`range_percentile_tiered` can reason about mixed grains.

    Shrinks the stored table by ~coarse/fine for the old region while
    keeping full resolution where queries want it; re-compacting later
    with a newer boundary just moves the tier edge (rollups compose).
    ``boundary`` must be aligned to the coarse grain so no coarse bucket
    straddles the tier edge. The old region is coarsened by
    :func:`rollup`: on a stored table, when this is called."""
    e_b = _epoch(boundary)
    fine = int(fine_granularity_seconds)
    coarse = int(coarse_granularity_seconds)
    _check_multiple(coarse, fine)
    if e_b % coarse:
        raise ValueError(
            f"boundary {e_b} must be aligned to the coarse grain "
            f"{coarse}s — otherwise one coarse bucket would straddle "
            f"the tier edge")
    keys = list(keys)
    # n (lineage row count) is optional, mirroring rollup()'s contract —
    # a sketch table built without lineage compacts fine (r5 ADVICE)
    cols = [sql_ident(c) for c in ["bucket", *keys, "sketch"]
            + (["n"] if "n" in sketch_table.columns else [])]
    old = sketch_table.where(f"bucket < {e_b}").select(*cols)
    recent = sketch_table.where(f"bucket >= {e_b}").select(*cols)
    compacted = rollup(old, coarse, fine, keys,
                       on_overflow=on_overflow).select(*cols)
    return (compacted.withColumn("gran", F.lit(coarse).cast("long"))
            .unionByName(recent.withColumn("gran",
                                           F.lit(fine).cast("long"))))


def range_percentile_tiered(tiered: DataFrame, t0, t1, qs: Sequence[float],
                            boundary,
                            fine_granularity_seconds: int,
                            coarse_granularity_seconds: int,
                            keys: Sequence[str] = (),
                            on_overflow: str = "error") -> DataFrame:
    """Range quantiles over a :func:`compact_sketch_table` table:
    ``keys..., q, est`` for raw timestamps in ``[t0, t1)``, merging fine
    and coarse rows across the tier boundary.

    A row is merged iff fully contained: ``bucket >= t0 AND bucket +
    gran <= t1`` — so each edge must be aligned to the grain of the TIER
    it falls in (coarse-aligned below ``boundary``, fine-aligned above),
    or the straddled bucket's rows would be silently dropped. Validated
    up front; the data itself never needs rescanning. Merged as in
    :func:`rollup`."""
    e0, e1 = _epoch(t0), _epoch(t1)
    e_b = _epoch(boundary)
    fine = int(fine_granularity_seconds)
    coarse = int(coarse_granularity_seconds)
    if e1 <= e0:
        raise ValueError("empty range: t1 must be > t0")
    for name, e in (("t0", e0), ("t1", e1)):
        g = coarse if e < e_b else fine
        if e % g:
            raise ValueError(
                f"{name}={e} falls in the "
                f"{'coarse' if e < e_b else 'fine'} tier and must be "
                f"aligned to its {g}s grain — an unaligned edge would "
                f"drop the straddled bucket's data")
    in_range = tiered.where(f"bucket >= {e0} AND bucket + gran <= {e1}")
    return fold_stored(in_range, "sketch", keys, _deser(on_overflow),
                       **quantile_extract(qs))
