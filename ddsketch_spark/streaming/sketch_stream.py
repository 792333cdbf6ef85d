"""Structured Streaming sketch maintenance — the Spark-native re-expression
of the reference's incremental API (lifecycle C: ``ddsketch_add`` /
``ddsketch_union`` UPDATE loops, /root/reference/README.md:199-243 and
ddsketch.c:2402-2648). The shapes:

1. :func:`foreach_batch_maintainer` — each micro-batch builds partial
   sketches with the JVM-native path and unions them into a persistent,
   HASH-PARTITIONED sketch table. State never transits the driver: the
   micro-batch reads (by explicit path) only the bucket partitions its
   keys touch and writes the merged buckets to a fresh batch-versioned
   directory, committed as one version of the state's log
   (sources/tables.commit) — idempotent under foreachBatch's
   at-least-once replay. This is the reference's
   "UPDATE summary SET d = ddsketch_union(d, new)" pattern, amortized
   per micro-batch instead of per row, and it scales to 100 M keys: per
   batch, work is O(touched partitions), not O(state).

2. Event-time windows. A sketch is a bag of additive cells, so a
   windowed sketch IS the batch aggregation keyed by its window, and
   this module holds no cell math: :func:`_window_cells` watermarks the
   stream, adds ``window(ts)`` as one more key and runs the cell function
   of :mod:`ddsketch_spark.operators.native` — DDSketch buckets
   (:func:`windowed_bucket_counts`, tumbling or sliding), HLL registers,
   CMS counters, Bloom bits. The result is a built-in streaming
   aggregation (state store, late rows merged within the watermark,
   append mode emits each finalized window once; no Python). The window
   assemblers are the batch assemblers keyed by the window, so a
   window's sketch bytes and ``n`` equal the batch build over its rows.
   Session windows (:func:`sessionized_bucket_counts`) carry their cells
   inside the aggregation, since sessions merge per grouping key.

3. :func:`stateful_quantiles` / :func:`stateful_heavy_hitters` — one
   ``applyInPandasWithState`` body keeping a serialized DDSketch /
   SpaceSaving per key in Spark's state store, emitting running
   quantiles or bounded top-k each batch (exactly-once with the
   checkpoint).

Tests drive them with a file source + ``trigger(availableNow)`` so runs
are deterministic and incremental (new files -> only new rows processed;
the trailing no-data micro-batch advances the watermark and flushes
finalized windows).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType, StructField,
    StructType,
)

from ddsketch_spark.core.ddsketch import DDSketch
from ddsketch_spark.operators.aggregate import merge_partials, sql_ident
from ddsketch_spark.operators.native import (
    _sum_cells, bloom_cells, cms_cells, dd_bucket_exprs, dd_cells,
    dd_sketches, ddsketch_agg_native, hll_cells, hll_sketches,
)
from ddsketch_spark.plans.local import local_frame
from ddsketch_spark.sources import tables


def _state_entry(spark, state_dir: str) -> dict | None:
    """The state log's newest entry (``files``: each live bucket's
    ``v=<version>/__bucket=<b>`` directory; ``batch_id``; ``schema``:
    ``keys..., sketch, n``), or None before the first commit.

    A state_dir holding an older layout's state — a pre-log
    ``_manifest.json`` or TOP-LEVEL ``__bucket=`` dirs — but no log is
    not 'no state': treating it as empty would silently discard every
    accumulated sketch on the next commit, so it raises. Log-less
    ``v=N`` dirs are not flagged: a crash between writing ``v=<first
    batch>`` and its commit leaves one, and replay rewrites it."""
    entry = tables.read_entry(spark, state_dir)
    if entry is None:
        fs, _, root = tables.filesystem(spark, state_dir)
        names = ([st.getPath().getName() for st in fs.listStatus(root)]
                 if fs.exists(root) else [])
        foreign = [n for n in names
                   if n == "_manifest.json" or n.startswith("__bucket=")]
        if foreign:
            raise RuntimeError(
                f"state dir {state_dir} holds state of an older layout "
                f"({foreign[:3]}) but no commit log — refusing to treat "
                f"it as empty state; migrate or remove the directory")
    return entry


def read_state(spark, state_dir: str) -> DataFrame | None:
    """The committed sketch-state table (``keys..., sketch, n``): the
    newest snapshot of the state's log, each bucket from its latest
    committed version, read with no Spark job. None before the first
    commit and for a committed-but-empty state (e.g. a first micro-batch
    with no rows). Uncommitted version directories are invisible."""
    entry = _state_entry(spark, state_dir)
    if entry is None or not entry["files"]:
        return None
    return tables.read_snapshot(spark, state_dir).drop("v", "__bucket")


def foreach_batch_maintainer(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    keys: Sequence[str],
    alpha: float = 0.01,
    nbuckets: int = 2048,
    state_buckets: int = 64,
):
    """Returns a started streaming query; call ``awaitTermination()``.

    State table: ``keys..., sketch binary, n long`` partitioned by
    ``__bucket = pmod(xxhash64(keys), state_buckets)``. Size
    ``state_buckets`` so each partition's sketch rows fit an executor
    comfortably (e.g. 4096 for ~100 M keys). Read it back with
    :func:`read_state`.

    Scale contract (no sketch rows transit the driver): the batch's
    partials determine the touched buckets (only their IDs — at most
    ``state_buckets`` ints — reach the driver for the log entry);
    previous state is read ONLY for touched buckets, by explicit path,
    and the merged result is written to a fresh ``v=<batch_id>``
    directory. Per batch, work is O(touched buckets), not O(state).

    Idempotent under foreachBatch's AT-LEAST-ONCE contract: state is
    versioned by batch_id, and each micro-batch commits one version of
    the state's log (``sources.tables.commit``) naming every live
    ``v=<version>/__bucket=<b>`` directory and its ``batch_id``. A
    replayed micro-batch either (a) finds the log already at
    ``batch_id`` and no-ops, or (b) re-reads the SAME previous versions
    the failed attempt read (the log still names them) and rewrites the
    same ``v=<batch_id>`` directory — a deterministic overwrite, never a
    double merge. Superseded version directories are vacuumed after each
    commit, through the same Hadoop ``FileSystem`` that Spark writes the
    state with. The single non-atomic primitive assumed is file rename
    (POSIX/HDFS); on S3-like stores, swap the log rename for a
    conditional put. ``v`` and ``__bucket`` name the state's
    directories, so neither may be a key.

    ``state_dir`` is coupled to ``checkpoint_dir``: the log's batch_id
    lives in the checkpoint's batch numbering, so deleting the
    checkpoint while keeping the state (or vice versa) breaks the replay
    contract — retire them together.
    """
    process = make_maintainer_process(state_dir, value_col, keys, alpha,
                                      nbuckets, state_buckets)
    return (stream_df.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def make_maintainer_process(
    state_dir: str,
    value_col: str,
    keys: Sequence[str],
    alpha: float = 0.01,
    nbuckets: int = 2048,
    state_buckets: int = 64,
):
    """The ``foreachBatch`` function behind :func:`foreach_batch_maintainer`
    — exposed so the commit protocol (skip-replayed-batch, deterministic
    rewrite after a crash between write and commit) is directly testable
    with hand-fed (batch_df, batch_id) pairs."""
    keys = list(keys)
    if {"v", "__bucket"} & set(keys):
        raise ValueError(f"keys {keys}: 'v' and '__bucket' name the "
                         f"state's directories")

    quoted = list(map(sql_ident, keys))

    def bucket_expr():
        return F.pmod(F.xxhash64(*map(F.col, quoted)),
                      F.lit(state_buckets)).alias("__bucket")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        entry = _state_entry(spark, state_dir)
        if entry is not None and entry["batch_id"] >= batch_id:
            return  # replay of an already-committed batch: no-op
        partial = (ddsketch_agg_native(batch_df, value_col, alpha, nbuckets,
                                       keys)
                   .withColumn("__bucket", bucket_expr())
                   # materialize once: used for the touched-bucket list AND
                   # the merge (O(touched keys) kilobyte rows on executors)
                   .localCheckpoint(eager=True))
        touched = sorted(r[0] for r in
                         partial.select("__bucket").distinct().collect())

        # bucket -> its live "v=<version>/__bucket=<b>" directory
        live = {int(f.rsplit("=", 1)[1]): f
                for f in (entry["files"] if entry else [])}
        fs, _, root = tables.filesystem(spark, state_dir)
        base = root.toString()
        both = partial.select(*quoted, "sketch", "n")
        schema = both.schema  # the state's, logged in each entry
        prev = [f"{base}/{live[b]}" for b in touched if b in live]
        if prev:
            both = both.unionByName(tables.load_paths(
                spark, prev, base, schema).select(*quoted, "sketch", "n"))

        merged = (merge_partials(both, keys)
                  .withColumn("__bucket", bucket_expr()))
        if touched:
            (merged.repartition("__bucket")
             .write.mode("overwrite")
             .partitionBy("__bucket")
             .parquet(f"{base}/v={batch_id}"))

        live.update((b, f"v={batch_id}/__bucket={b}") for b in touched)
        tables.commit(spark, state_dir, [live[b] for b in sorted(live)],
                      schema, batch_id=batch_id)

        # vacuum versions no bucket references anymore (best-effort:
        # a leftover dir is garbage, never read — the log is truth)
        keep = {f.split("/")[0] for f in live.values()}
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v=") and name not in keep:
                fs.delete(st.getPath(), True)

    return process


# ---------------------------------------------------------------------------
# watermarked event-time windows, fully JVM-native
# ---------------------------------------------------------------------------

def _window_cells(stream_df: DataFrame, ts_col: str, window_duration: str,
                  watermark_delay: str, cells, keys: Sequence[str] = (),
                  slide_duration: str | None = None) -> DataFrame:
    """``keys..., window_start, window_end, <cell columns>`` — the batch
    cell function ``cells(df, keys)`` (operators.native) over the
    watermarked stream, with its event-time window as one more key.
    Every column name is quoted (``aggregate.sql_ident``), so a key such
    as ``h-1`` or ``a`b`` is one column."""
    keys = list(keys)
    ts = sql_ident(ts_col)
    win = F.window(F.col(ts), window_duration, slide_duration)
    out = cells(stream_df.withWatermark(ts, watermark_delay)
                .withColumn("__window", win), keys + ["__window"])
    return out.select(
        *map(sql_ident, keys), F.col("__window.start").alias("window_start"),
        F.col("__window.end").alias("window_end"),
        *[sql_ident(c) for c in out.columns
          if c not in keys and c != "__window"])


def windowed_bucket_counts(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str,
    watermark_delay: str,
    alpha: float = 0.01,
    keys: Sequence[str] = (),
    slide_duration: str | None = None,
) -> DataFrame:
    """Streaming DataFrame of the DDSketch cells (``native.dd_cells``)
    of each window: ``keys..., window_start, window_end, __part, __bidx,
    __c, __rows`` — ``keys=["lang"]`` gives the per-language hourly
    rollup; feed them to :func:`assemble_window_sketches`.

    Attach ``.writeStream.outputMode("append")``: a window's rows are
    emitted once, after the watermark passes its end; rows later than
    ``watermark_delay`` are dropped by the engine. State is O(open
    windows x occupied buckets). ``slide_duration`` makes the windows
    SLIDING (e.g. 1h every 15min): each row's cells feed every window
    covering it, state scaled by duration/slide."""
    return _window_cells(stream_df, ts_col, window_duration, watermark_delay,
                         lambda df, k: dd_cells(df, value_col, alpha, k),
                         keys, slide_duration)


def assemble_window_sketches(
    bucket_rows: DataFrame,
    alpha: float = 0.01,
    nbuckets: int = 2048,
    keys: Sequence[str] = (),
) -> DataFrame:
    """:func:`windowed_bucket_counts` output (read back from the sink) as
    ``keys..., window_start, window_end, sketch binary, n``: the batch
    assembler keyed by the window (same bytes, ``n`` and "bucket
    overflow" error as ``ddsketch_agg_native`` over the window's rows)."""
    return dd_sketches(bucket_rows, [*keys, "window_start", "window_end"],
                       alpha, nbuckets)


def _stateful_sketch(stream_df: DataFrame, key: str, out_schema: StructType,
                     load, fold, emit,
                     dump=lambda s: s.to_bytes()) -> DataFrame:
    """One serialized sketch per key in Spark's state store: each
    micro-batch ``load``s it from its stored bytes (``None`` at first),
    ``fold``s each pandas batch of the key's rows into it, stores
    ``dump(sketch)`` and emits ``emit(key value, sketch)`` (one row)."""
    state_schema = StructType([StructField("sketch", BinaryType(), True)])

    def fn(k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
           ) -> Iterator[pd.DataFrame]:
        s = load(bytes(state.get[0])
                 if state.exists and state.get[0] is not None else None)
        for pdf in pdfs:
            fold(s, pdf)
        state.update((dump(s),))
        yield pd.DataFrame(emit(k[0], s))

    return (stream_df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout))


def stateful_quantiles(
    stream_df: DataFrame,
    key: str,
    value_col: str,
    qs: Sequence[float],
    alpha: float = 0.01,
    nbuckets: int = 2048,
):
    """``applyInPandasWithState`` running-quantile operator: state = one
    serialized DDSketch per key; each batch updates it and emits
    ``key, count, q_...`` rows. Returns the output DataFrame (attach your
    own writeStream)."""
    qs = [float(q) for q in qs]
    names = [f"q{str(q).replace('.', '_')}" for q in qs]
    out_schema = StructType(
        [StructField(key, StringType(), False),
         StructField("count", LongType(), False)]
        + [StructField(n, DoubleType(), True) for n in names])

    def fold(s, pdf):
        s.update(pdf[value_col].to_numpy(dtype="float64",
                                         na_value=float("nan")))

    def emit(k, s):
        est = s.quantile(qs) if s.count > 0 else [None] * len(qs)
        return {key: [k], "count": [s.count],
                **{n: [float(e) if e is not None else None]
                   for n, e in zip(names, est)}}

    return _stateful_sketch(
        stream_df, key, out_schema,
        lambda b: DDSketch.from_bytes(b) if b else DDSketch(alpha, nbuckets),
        fold, emit,
        dump=lambda s: s.to_bytes() if s.count > 0 else None)  # empty: None


def stateful_heavy_hitters(
    stream_df: DataFrame,
    key: str,
    item_col: str,
    k: int = 10,
    capacity: int = 4096,
    weight_col: str | None = None,
):
    """``applyInPandasWithState`` running heavy-hitters: state = one
    serialized SpaceSaving summary per key (O(capacity), vs the unbounded
    per-token state of an exact streaming ``groupBy(token).count``). Each
    micro-batch folds its items in and emits ``key, total, topk_items,
    topk_counts, topk_errs`` — the err column is the sketch's own
    per-item bound. ``weight_col`` folds positive per-row weights instead
    of unit counts. Attach your own writeStream (update mode)."""
    from ddsketch_spark.core.spacesaving import SpaceSaving

    out_schema = StructType([
        StructField(key, StringType(), False),
        StructField("total", LongType(), False),
        StructField("topk_items", ArrayType(StringType()), False),
        StructField("topk_counts", ArrayType(LongType()), False),
        StructField("topk_errs", ArrayType(LongType()), False),
    ])

    def fold(s, pdf):
        sub = pdf.dropna(subset=[item_col])
        vals = sub[item_col].to_numpy(dtype=object)
        if vals.size:
            s.update(vals, sub[weight_col].to_numpy(dtype="int64")
                     if weight_col else None)

    def emit(kk, s):
        top = s.topk(k)
        return {key: [kk], "total": [s.total],
                "topk_items": [[t for t, _, _ in top]],
                "topk_counts": [[c for _, c, _ in top]],
                "topk_errs": [[e for _, _, e in top]]}

    return _stateful_sketch(
        stream_df, key, out_schema,
        lambda b: SpaceSaving.from_bytes(b) if b else SpaceSaving(capacity),
        fold, emit)


def windowed_hll_cells(
    stream_df: DataFrame,
    ts_col: str,
    hash_col: str,
    window_duration: str,
    watermark_delay: str,
    p: int = 12,
) -> DataFrame:
    """Streaming distinct count: the HLL register cells
    (``native.hll_cells``, register max) of each window, ``window_start,
    window_end, __j, __r, __rows``; feed them to
    :func:`assemble_window_hll`. ``hash_col`` is the shared 60-bit hash
    (core.hashing.spark_h64)."""
    return _window_cells(stream_df, ts_col, window_duration, watermark_delay,
                         lambda df, k: hll_cells(df, hash_col, p, k))


def assemble_window_hll(cell_rows: DataFrame, p: int = 12) -> DataFrame:
    """Batch post-processing of :func:`windowed_hll_cells` output:
    ``window_start, window_end, sketch binary, n`` per finalized window —
    the batch HLL assembler keyed by the window (same bytes and ``n`` as
    ``hll_agg_native`` over the window's rows)."""
    return hll_sketches(cell_rows, ["window_start", "window_end"], p)


def assemble_session_sketches(
    session_rows: DataFrame,
    alpha: float = 0.01,
    nbuckets: int = 2048,
) -> DataFrame:
    """Batch post-processing of :func:`sessionized_bucket_counts` output
    (read back from the sink): ``key, session_start, session_end, sketch
    binary, n`` — each finalized session's carried cells summed into
    bucket counts and assembled by the batch DDSketch assembler keyed by
    the session."""
    run_keys = ["key", "session_start", "session_end"]
    rows = (session_rows.select(*run_keys, F.explode("cells").alias("c"))
            .select(*run_keys, F.col("c.part").alias("__part"),
                    F.col("c.bidx").alias("__bidx"),
                    F.lit(1).cast("long").alias("__w")))
    return dd_sketches(_sum_cells(rows, run_keys, ["__part", "__bidx"]),
                       run_keys, alpha, nbuckets)


def sessionized_bucket_counts(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    gap: str,
    watermark_delay: str,
    alpha: float = 0.01,
) -> DataFrame:
    """Per-key SESSION-window sketch cells (append mode):
    ``key, session_start, session_end, cells, cnt``.

    Session windows merge only within an identical grouping key, so the
    sketch cells must ride INSIDE the aggregation: grouping by (session,
    key, cell) would split one user session into one session per
    occupied bucket. Each finalized session carries ``cells`` = one
    (part, bidx) struct per live event (bounded by the gap);
    :func:`assemble_session_sketches` sums them into bucket counts."""
    part, bidx = dd_bucket_exprs(value_col, alpha)
    v = F.col(sql_ident(value_col))
    ts = sql_ident(ts_col)
    keep = ~(v.isNull() | F.isnan(v.cast("double")))
    return (
        stream_df
        .withWatermark(ts, watermark_delay)
        .where(keep)
        .select(F.col(ts), F.col(sql_ident(key_col)).alias("key"), part,
                bidx)
        .groupBy(F.session_window(F.col(ts), gap), "key")
        .agg(F.collect_list(F.struct(F.col("__part").alias("part"),
                                     F.col("__bidx").alias("bidx")))
             .alias("cells"),
             F.count(F.lit(1)).alias("cnt"))
        .select("key",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "cells", "cnt")
    )


def windowed_cms_cells(
    stream_df: DataFrame,
    ts_col: str,
    hash_col: str,
    window_duration: str,
    watermark_delay: str,
    depth: int = 5,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Streaming count-min: the counter cells (``native.cms_cells``,
    sums) of each window, ``window_start, window_end, __i, __pos, __c,
    __rows``; feed them to :func:`windowed_cms_estimates`. ``hash_col``
    is the shared 60-bit hash."""
    return _window_cells(
        stream_df, ts_col, window_duration, watermark_delay,
        lambda df, k: cms_cells(df, hash_col, depth, width, k, weight_col))


def _probe_windows(cell_rows: DataFrame, probes: list, on: Sequence[str],
                   agg) -> DataFrame:
    """``window_start, item, <agg>`` — every window x every literal probe
    row (``item, *on``), left-joined to the window's cells on ``on`` and
    reduced per (window, item) by ``agg``, which reads joined cells as
    ``cell<column>`` (NULL if absent). Pure JVM, no sketch built."""
    probe_df = local_frame(
        cell_rows.sparkSession, probes,
        StructType([StructField("item", StringType()),
                    *[StructField(c, LongType()) for c in on]]))
    # window list and cells share lineage (a self-join): renaming every
    # cell column mints fresh attribute ids, so the join is unambiguous
    windows = cell_rows.select(F.col("window_start").alias("__ws")).distinct()
    cells = cell_rows.toDF(*("cell" + c for c in cell_rows.columns))
    cond = ([F.col("__ws") == F.col("cellwindow_start")]
            + [F.col(c) == F.col("cell" + c) for c in on])
    return (windows.crossJoin(F.broadcast(probe_df))
            .join(cells, on=cond, how="left")
            .groupBy(F.col("__ws").alias("window_start"), "item").agg(agg))


def windowed_cms_estimates(
    cell_rows: DataFrame,
    probe_items: Sequence[str],
    depth: int = 5,
    width: int = 2048,
) -> DataFrame:
    """Batch post-processing of :func:`windowed_cms_cells` output:
    ``window_start, item, freq`` — count-min estimate (min over strides,
    absent counter = 0) for each literal probe item in each finalized
    window (:func:`_probe_windows`)."""
    from ddsketch_spark.core.hashing import py_positions

    probes = [(str(item), i, p) for item in probe_items
              for i, p in enumerate(py_positions(str(item), depth, width))]
    return _probe_windows(
        cell_rows, probes, ["__i", "__pos"],
        F.min(F.coalesce(F.col("cell__c"), F.lit(0).cast("long")))
        .alias("freq"))


def windowed_bloom_cells(
    stream_df: DataFrame,
    ts_col: str,
    hash_col: str,
    window_duration: str,
    watermark_delay: str,
    nbits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Streaming Bloom filter: the set-bit cells (``native.bloom_cells``,
    distinct positions) of each window, ``window_start, window_end,
    __pos, __rows``; feed them to :func:`windowed_bloom_members`."""
    return _window_cells(stream_df, ts_col, window_duration, watermark_delay,
                         lambda df, kk: bloom_cells(df, hash_col, nbits, k, kk))


def windowed_bloom_members(
    cell_rows: DataFrame,
    probe_items: Sequence[str],
    nbits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Batch post-processing of :func:`windowed_bloom_cells` output:
    ``window_start, item, member`` — Bloom membership (ALL k probe
    positions set; false positives match the kernel exactly) for each
    literal probe in each finalized window (:func:`_probe_windows`)."""
    from ddsketch_spark.core.hashing import py_positions

    probes = [(str(item), p) for item in probe_items
              for p in py_positions(str(item), k, nbits)]
    return _probe_windows(
        cell_rows, probes, ["__pos"],
        F.bool_and(F.col("cell__pos").isNotNull()).alias("member"))
