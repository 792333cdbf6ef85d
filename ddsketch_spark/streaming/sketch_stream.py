"""Structured Streaming sketch maintenance — the Spark-native re-expression
of the reference's incremental API (lifecycle C: ``ddsketch_add`` /
``ddsketch_union`` UPDATE loops, /root/reference/README.md:199-243 and
ddsketch.c:2402-2648). The shapes:

1. :func:`foreach_batch_maintainer` — each micro-batch builds partial
   sketches with the JVM-native path and unions them into a persistent,
   HASH-PARTITIONED sketch table. State never transits the driver: the
   micro-batch reads (by explicit path) only the bucket partitions its
   keys touch and writes the merged buckets to a fresh batch-versioned
   directory, committed by an atomic manifest rename — idempotent under
   foreachBatch's at-least-once replay. This is the reference's
   "UPDATE summary SET d = ddsketch_union(d, new)" pattern, amortized
   per micro-batch instead of per row, and it scales to 100 M keys: per
   batch, work is O(touched partitions), not O(state).

2. :func:`windowed_bucket_counts` — watermarked event-time windowed
   DDSketch maintenance as a NATIVE streaming aggregation. A DDSketch is a
   bag of additive (part, bucket_index) -> count cells, so
   ``groupBy(window(ts), part, bidx).sum(weight)`` is a built-in streaming
   agg: state lives in Spark's state store, the watermark admits late rows
   into their window and evicts closed windows, and append mode emits each
   window's bucket rows exactly once after it finalizes. No Python in the
   hot path at all. :func:`assemble_window_sketches` turns the emitted
   bucket rows into binary sketches per window.

3. :func:`windowed_hll_cells` / :func:`windowed_cms_cells` /
   :func:`windowed_bloom_cells` / :func:`sessionized_bucket_counts` —
   the same built-in-aggregation trick for the whole additive-cell
   family: windowed distinct counts (HLL register max), frequency
   counters (CMS sums), membership bits (Bloom presence), and per-key
   session windows (cells carried inside the aggregation, since
   sessions merge per grouping key).

4. :func:`stateful_quantiles` / :func:`stateful_heavy_hitters` —
   ``applyInPandasWithState`` keeping one serialized sketch (DDSketch /
   SpaceSaving) per key in Spark's state store, emitting running
   quantiles or bounded top-k each batch: the custom-stateful-operator
   shape for when state must live inside the streaming engine
   (exactly-once with the checkpoint).

Tumbling windows are the default; :func:`windowed_bucket_counts` also
takes ``slide_duration`` for sliding (overlapping) windows — still the
built-in aggregation, state scaled by the overlap factor.

Tests drive all three with a file source + ``trigger(availableNow)`` so
runs are deterministic and incremental (new files -> only new rows
processed; the trailing no-data micro-batch advances the watermark and
flushes finalized windows).
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from ddsketch_spark.core.ddsketch import DDSketch
from ddsketch_spark.core.hashing import H64_BITS
from ddsketch_spark.operators.aggregate import (
    grouped_apply_sorted, merge_partials,
)
from ddsketch_spark.operators.native import (
    _hll_register_rows, _make_dd_batch_assembler, _make_hll_batch_assembler,
    _position_cells, dd_bucket_exprs, ddsketch_agg_native,
)


def _read_manifest(state_dir: str) -> dict | None:
    """Latest committed state manifest, or None before the first commit.
    ``{"batch_id": int, "buckets": {"<bucket>": <version>}}`` — a bucket's
    version is the batch_id whose ``v=<version>`` directory holds its
    current sketch rows."""
    import json

    path = os.path.join(state_dir, "_manifest.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def _check_no_orphan_state(state_dir: str) -> None:
    """A state_dir holding bucket data but NO manifest is not 'no state':
    it is state written by an earlier layout (or a torn manual copy), and
    treating it as empty would silently discard every accumulated sketch
    on the next commit. Fail loudly instead."""
    if not os.path.isdir(state_dir):
        return
    # only TOP-LEVEL __bucket= dirs are foreign (the pre-manifest layout
    # wrote them via dynamic partition overwrite). Manifest-less v=N dirs
    # are NOT flagged: a crash after writing v=<first batch> but before
    # the first manifest commit legitimately leaves one, and replay
    # deterministically rewrites it.
    orphans = [e for e in os.listdir(state_dir) if e.startswith("__bucket=")]
    if orphans:
        raise RuntimeError(
            f"state dir {state_dir} contains pre-manifest bucket data "
            f"({orphans[:3]}...) but no _manifest.json — refusing to "
            f"treat it as empty state; migrate or remove the directory")


def read_state(spark, state_dir: str) -> DataFrame | None:
    """Read the committed sketch-state table (``keys..., sketch, n``)
    assembled from each bucket's latest committed version. Returns None
    before the first commit. Partially-written (uncommitted) version
    directories are invisible: only buckets named by the manifest load."""
    man = _read_manifest(state_dir)
    if man is None:
        _check_no_orphan_state(state_dir)
        return None
    if not man["buckets"]:
        # committed-but-empty state (e.g. the first micro-batch carried no
        # rows): a valid manifest with nothing to read
        return None
    by_ver: dict[int, list[str]] = {}
    for b, v in man["buckets"].items():
        by_ver.setdefault(int(v), []).append(b)
    parts = []
    for v, bs in sorted(by_ver.items()):
        base = os.path.join(state_dir, f"v={v}")
        paths = [os.path.join(base, f"__bucket={b}") for b in sorted(bs)]
        parts.append(
            spark.read.option("basePath", base).parquet(*paths)
            .drop("__bucket"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    ``state_buckets`` ints — reach the driver for the manifest); previous
    state is read ONLY for touched buckets, by explicit path, and the
    merged result is written to a fresh ``v=<batch_id>`` directory. Per
    batch, work is O(touched buckets), not O(state).

    Idempotent under foreachBatch's AT-LEAST-ONCE contract: state is
    versioned by batch_id and committed via an atomically-renamed
    manifest. A replayed micro-batch either (a) finds the manifest already
    at ``batch_id`` and no-ops, or (b) re-reads the SAME previous versions
    the failed attempt read (the manifest still names them) and rewrites
    the same ``v=<batch_id>`` directory — a deterministic overwrite, never
    a double merge. Superseded version directories are vacuumed after each
    commit. The single non-atomic primitive assumed is file rename
    (POSIX/HDFS); on S3-like stores, swap the manifest rename for a
    conditional put.

    ``state_dir`` is coupled to ``checkpoint_dir``: the manifest's
    batch_id lives in the checkpoint's batch numbering, so deleting the
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
    rewrite after a crash between write and manifest commit) is directly
    testable with hand-fed (batch_df, batch_id) pairs."""
    keys = list(keys)

    def bucket_expr():
        return F.pmod(F.xxhash64(*keys), F.lit(state_buckets)).alias("__bucket")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        import json
        import shutil

        man = _read_manifest(state_dir)
        if man is None:
            _check_no_orphan_state(state_dir)
        if man is not None and man["batch_id"] >= batch_id:
            return  # replay of an already-committed batch: no-op
        partial = (ddsketch_agg_native(batch_df, value_col, alpha, nbuckets,
                                       keys)
                   .withColumn("__bucket", bucket_expr())
                   # materialize once: used for the touched-bucket list AND
                   # the merge (O(touched keys) kilobyte rows on executors)
                   .localCheckpoint(eager=True))
        touched = sorted(r[0] for r in
                         partial.select("__bucket").distinct().collect())

        prev_buckets = man["buckets"] if man else {}
        by_ver: dict[int, list[int]] = {}
        for b in touched:
            v = prev_buckets.get(str(b))
            if v is not None:
                by_ver.setdefault(int(v), []).append(b)
        both = partial.select(*keys, "sketch", "n")
        for v, bs in sorted(by_ver.items()):
            base = os.path.join(state_dir, f"v={v}")
            paths = [os.path.join(base, f"__bucket={b}") for b in bs]
            prev_df = (spark.read.option("basePath", base).parquet(*paths)
                       .select(*keys, "sketch", "n"))
            both = both.unionByName(prev_df)

        merged = (merge_partials(
            both.withColumn("part_id", F.monotonically_increasing_id())
                .select(*keys, "sketch", "part_id", "n"), keys=keys)
            .withColumn("__bucket", bucket_expr()))
        if touched:
            (merged.repartition("__bucket")
             .write.mode("overwrite")
             .partitionBy("__bucket")
             .parquet(os.path.join(state_dir, f"v={batch_id}")))

        new_buckets = dict(prev_buckets)
        for b in touched:
            new_buckets[str(b)] = batch_id
        os.makedirs(state_dir, exist_ok=True)
        tmp = os.path.join(state_dir, f"_manifest.{batch_id}.tmp")
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "buckets": new_buckets}, f)
        os.replace(tmp, os.path.join(state_dir, "_manifest.json"))  # commit

        # vacuum versions no bucket references anymore (best-effort:
        # a leftover dir is garbage, never read — the manifest is truth)
        live = {batch_id} | {int(v) for v in new_buckets.values()}
        for entry in os.listdir(state_dir):
            if entry.startswith("v="):
                try:
                    ver = int(entry[2:])
                except ValueError:
                    continue
                if ver not in live:
                    shutil.rmtree(os.path.join(state_dir, entry),
                                  ignore_errors=True)

    return process


# ---------------------------------------------------------------------------
# watermarked event-time windows, fully JVM-native
# ---------------------------------------------------------------------------

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
    """Streaming DataFrame of finalized-window sketch cells:
    ``keys..., window_start, window_end, __part, __bidx, cnt`` — pass
    ``keys=["lang"]`` for the north-rule per-language hourly rollup.

    Attach ``.writeStream.outputMode("append")`` — append emits a window's
    rows exactly once, after the watermark passes its end. Late rows
    within ``watermark_delay`` are merged into their (still-open) window
    by the state store; rows later than that are dropped by the engine —
    the standard watermark contract, with sketch-cell additivity making
    the whole operator a built-in windowed sum (zero Python, state size
    O(open windows x occupied buckets)).

    ``slide_duration`` makes the windows SLIDING (e.g. a 1h window every
    15min): each row's cells feed every window covering its timestamp —
    still entirely the built-in windowed aggregation, with state scaled
    by the overlap factor (duration/slide open windows per instant)."""
    keys = list(keys)
    part, bidx = dd_bucket_exprs(value_col, alpha)
    v = F.col(value_col)
    w = (F.when(v.isNull() | F.isnan(v.cast("double")), F.lit(0))
         .otherwise(F.lit(1))).cast("long")
    win = (F.window(ts_col, window_duration, slide_duration)
           if slide_duration else F.window(ts_col, window_duration))
    return (
        stream_df
        .withWatermark(ts_col, watermark_delay)
        .select(F.col(ts_col), *keys, part, bidx, w.alias("__w"))
        .groupBy(win, *keys,
                 "__part", "__bidx")
        .agg(F.sum("__w").alias("cnt"))
        .select(*keys,
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "__part", "__bidx", "cnt")
    )


def assemble_window_sketches(
    bucket_rows: DataFrame,
    alpha: float = 0.01,
    nbuckets: int = 2048,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Batch post-processing of :func:`windowed_bucket_counts` output (read
    back from the sink): ``keys..., window_start, window_end, sketch
    binary, n`` — one binary DDSketch per (keys, finalized window), built
    from O(buckets) cell rows per group by the native batch path's
    assembler (same bytes, same "bucket overflow" error)."""
    run_keys = list(keys) + ["window_start", "window_end"]
    out_schema = StructType(
        [f for f in bucket_rows.schema.fields if f.name in keys]
        + [StructField("window_start", TimestampType(), False),
           StructField("window_end", TimestampType(), False),
           StructField("sketch", BinaryType(), False),
           StructField("n", LongType(), False)])
    # n is the sketch's live count: NULL-value cells (part -1) add nothing
    live = F.when(F.col("__part") >= 0, F.col("cnt")).otherwise(F.lit(0))
    cells = bucket_rows.select(*run_keys, "__part", "__bidx",
                               F.col("cnt").alias("__c"),
                               live.alias("__rows"))
    return grouped_apply_sorted(
        cells, run_keys,
        _make_dd_batch_assembler(run_keys, alpha, nbuckets, "error"),
        out_schema, per_run=False)


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
    out_schema = StructType(
        [StructField(key, StringType(), False),
         StructField("count", LongType(), False)]
        + [StructField(f"q{str(q).replace('.', '_')}", DoubleType(), True)
           for q in qs]
    )
    state_schema = StructType([StructField("sketch", BinaryType(), True)])

    def fn(k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
           ) -> Iterator[pd.DataFrame]:
        if state.exists and state.get[0] is not None:
            s = DDSketch.from_bytes(bytes(state.get[0]))
        else:
            s = DDSketch(alpha, nbuckets)
        for pdf in pdfs:
            vals = pdf[value_col].to_numpy(dtype="float64", na_value=float("nan"))
            s.update(vals)
        state.update((s.to_bytes() if s.count > 0 else None,))
        row = {key: [k[0]], "count": [s.count]}
        est = s.quantile(qs) if s.count > 0 else [None] * len(qs)
        for q, e in zip(qs, est):
            row[f"q{str(q).replace('.', '_')}"] = [float(e) if e is not None else None]
        yield pd.DataFrame(row)

    return (stream_df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout))


def stateful_heavy_hitters(
    stream_df: DataFrame,
    key: str,
    item_col: str,
    k: int = 10,
    capacity: int = 4096,
    weight_col: str | None = None,
):
    """``applyInPandasWithState`` running heavy-hitters: state = one
    serialized SpaceSaving summary per key (O(capacity) — the streaming
    analogue of `tokens_topk_sketched`'s batch build, vs the unbounded
    per-token state an exact streaming ``groupBy(token).count`` would
    accumulate over a web-scale stream). Each micro-batch folds its items
    in and emits ``key, total, topk_items, topk_counts, topk_errs`` — the
    err column carries the sketch's own per-item bound so a consumer can
    decide which hitters are separated. ``weight_col`` folds positive
    per-row weights (e.g. token counts pre-aggregated upstream) instead
    of unit counts. Returns the output DataFrame (attach your own
    writeStream, update mode)."""
    from ddsketch_spark.core.spacesaving import SpaceSaving

    out_schema = StructType([
        StructField(key, StringType(), False),
        StructField("total", LongType(), False),
        StructField("topk_items", ArrayType(StringType()), False),
        StructField("topk_counts", ArrayType(LongType()), False),
        StructField("topk_errs", ArrayType(LongType()), False),
    ])
    state_schema = StructType([StructField("sketch", BinaryType(), True)])

    def fn(kk: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
           ) -> Iterator[pd.DataFrame]:
        if state.exists and state.get[0] is not None:
            s = SpaceSaving.from_bytes(bytes(state.get[0]))
        else:
            s = SpaceSaving(capacity)
        for pdf in pdfs:
            sub = pdf.dropna(subset=[item_col])
            vals = sub[item_col].to_numpy(dtype=object)
            if vals.size:
                s.update(vals, sub[weight_col].to_numpy(dtype="int64")
                         if weight_col else None)
        state.update((s.to_bytes(),))
        top = s.topk(k)
        yield pd.DataFrame({
            key: [kk[0]], "total": [s.total],
            "topk_items": [[t for t, _, _ in top]],
            "topk_counts": [[c for _, c, _ in top]],
            "topk_errs": [[e for _, _, e in top]],
        })

    return (stream_df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout))


def windowed_hll_cells(
    stream_df: DataFrame,
    ts_col: str,
    hash_col: str,
    window_duration: str,
    watermark_delay: str,
    p: int = 12,
) -> DataFrame:
    """Streaming distinct-count per event-time window, fully JVM-native:
    HLL registers are a MAX over per-row (register, rho) cells, so — like
    the DDSketch bucket cells — the whole operator is a built-in
    watermarked streaming aggregation. Emits (append mode, finalized
    windows only) ``window_start, window_end, j, rho`` rows; feed them to
    :func:`assemble_window_hll` for binary sketches / NDV estimates.
    ``hash_col`` is the shared 60-bit hash (core.hashing.spark_h64)."""
    m = 1 << p
    cells = _hll_register_rows(stream_df.withWatermark(ts_col, watermark_delay),
                               hash_col, [ts_col], m, H64_BITS - p + 1)
    return (
        cells.groupBy(F.window(ts_col, window_duration),
                      F.col("__j").alias("j"))
        .agg(F.max("__rho").alias("rho"))
        .select(F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"), "j", "rho")
    )


def assemble_window_hll(cell_rows: DataFrame, p: int = 12) -> DataFrame:
    """Batch post-processing of :func:`windowed_hll_cells` output:
    ``window_start, window_end, sketch binary, ndv`` per finalized window.
    The sketch header count is 0: register maxes cannot know how many
    rows fed them."""
    from ddsketch_spark.core.hll import from_bytes as hll_from_bytes

    run_keys = ["window_start", "window_end"]
    out_schema = StructType([
        StructField("window_start", TimestampType(), False),
        StructField("window_end", TimestampType(), False),
        StructField("sketch", BinaryType(), False),
        StructField("ndv", LongType(), False),
    ])
    build = _make_hll_batch_assembler(run_keys, p)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        out = build(pdf)
        out["ndv"] = [int(hll_from_bytes(b).estimate()) for b in out["sketch"]]
        return out.drop(columns="n")

    cells = cell_rows.select(*run_keys, F.col("j").alias("__j"),
                             F.col("rho").alias("__r"),
                             F.lit(0).alias("__rows"))
    return grouped_apply_sorted(cells, run_keys, assemble, out_schema,
                                per_run=False)


def assemble_session_sketches(
    session_rows: DataFrame,
    alpha: float = 0.01,
    nbuckets: int = 2048,
) -> DataFrame:
    """Batch post-processing of :func:`sessionized_bucket_counts` output
    (read back from the sink): ``key, session_start, session_end, sketch
    binary, n`` — explode each finalized session's carried cells into
    (part, bidx) counts and assemble one binary DDSketch per session
    (the session-window sibling of :func:`assemble_window_sketches`,
    whose grouped assembly it reuses)."""
    counts = (session_rows
              .select("key",
                      F.col("session_start").alias("window_start"),
                      F.col("session_end").alias("window_end"),
                      F.explode("cells").alias("c"))
              .groupBy("key", "window_start", "window_end",
                       F.col("c.part").alias("__part"),
                       F.col("c.bidx").alias("__bidx"))
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    out = assemble_window_sketches(counts, alpha, nbuckets, keys=["key"])
    return (out.withColumnRenamed("window_start", "session_start")
            .withColumnRenamed("window_end", "session_end"))


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
    ``key, session_start, session_end, __part, __bidx, cnt``.

    Session windows merge only within an identical grouping key, so —
    unlike the fixed-window shape — the sketch cells must ride INSIDE the
    aggregation: grouping by (session, key, cell) would split one user
    session into one session per occupied bucket. Each finalized session
    therefore carries ``cells`` = one (part, bidx) struct per event
    (session event counts are bounded by the gap, so the list stays
    small); :func:`assemble_window_sketches`-style post-processing sums
    them into bucket counts. Still a built-in streaming aggregation; no
    Python in the hot path."""
    part, bidx = dd_bucket_exprs(value_col, alpha)
    v = F.col(value_col)
    keep = ~(v.isNull() | F.isnan(v.cast("double")))
    return (
        stream_df
        .withWatermark(ts_col, watermark_delay)
        .where(keep)
        .select(F.col(ts_col), F.col(key_col).alias("key"), part, bidx)
        .groupBy(F.session_window(F.col(ts_col), gap), "key")
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
    """Streaming count-min per event-time window, fully JVM-native: CMS
    counters are SUMS over per-row (stride, position) cells — like the
    DDSketch bucket cells and HLL register maxes, the whole operator is a
    built-in watermarked streaming aggregation. Emits (append mode,
    finalized windows only) ``window_start, window_end, i, pos, c``
    rows; feed them to :func:`windowed_cms_estimates` for per-window
    frequency estimates. ``hash_col`` is the shared 60-bit hash."""
    return (
        _position_cells(stream_df.withWatermark(ts_col, watermark_delay),
                        hash_col, depth, width, [ts_col], weight_col)
        .groupBy(F.window(ts_col, window_duration),
                 F.col("__i").alias("i"), F.col("__pos").alias("pos"))
        .agg(F.sum("__w").alias("c"))
        .select(F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"), "i", "pos", "c")
    )


def windowed_cms_estimates(
    cell_rows: DataFrame,
    probe_items: Sequence[str],
    depth: int = 5,
    width: int = 2048,
) -> DataFrame:
    """Batch post-processing of :func:`windowed_cms_cells` output:
    ``window_start, item, freq`` — count-min estimate (min over strides,
    absent counter = 0) for each literal probe item in each finalized
    window. Pure JVM: probe positions are precomputed literals, windows
    come from the cells themselves, and the estimate is a broadcast left
    join + min aggregation — no sketch materialization, no Python."""
    from ddsketch_spark.core.hashing import py_positions

    spark = cell_rows.sparkSession
    probe_rows = [(str(item), int(i), int(p))
                  for item in probe_items
                  for i, p in enumerate(py_positions(str(item), depth, width))]
    # pandas -> Arrow -> LocalTableScan: the literal probe table stays a
    # JVM-local relation (a plain list would materialize via a Python RDD)
    probes = spark.createDataFrame(
        pd.DataFrame(probe_rows, columns=["item", "i", "pos"]))
    # window list and counter cells share lineage (a self-join): alias
    # every column on both sides so each projection mints fresh
    # attribute ids and the join condition is name-unambiguous
    w = (cell_rows.select(F.col("window_start").alias("__ws"))
         .distinct())
    cells = cell_rows.select(
        F.col("window_start").alias("__cw"), F.col("i").alias("__ci"),
        F.col("pos").alias("__cp"), F.col("c").alias("__cc"))
    grid = w.crossJoin(F.broadcast(probes))
    joined = grid.join(
        cells, on=[F.col("__ws") == F.col("__cw"),
                   F.col("i") == F.col("__ci"),
                   F.col("pos") == F.col("__cp")], how="left")
    return (joined
            .groupBy(F.col("__ws").alias("window_start"), F.col("item"))
            .agg(F.min(F.coalesce(F.col("__cc"), F.lit(0).cast("long")))
                 .alias("freq")))


def windowed_bloom_cells(
    stream_df: DataFrame,
    ts_col: str,
    hash_col: str,
    window_duration: str,
    watermark_delay: str,
    nbits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Streaming Bloom filter per event-time window, fully JVM-native:
    set bits are a DISTINCT over per-row (position) cells — the last of
    the additive-cell family (DDSketch counts, HLL maxes, CMS sums,
    Bloom bit-or == distinct presence), so the whole operator is a
    built-in watermarked streaming aggregation. Emits (append mode,
    finalized windows only) ``window_start, window_end, pos`` rows; feed
    them to :func:`windowed_bloom_members`."""
    return (
        _position_cells(stream_df.withWatermark(ts_col, watermark_delay),
                        hash_col, k, nbits, [ts_col])
        .groupBy(F.window(ts_col, window_duration),
                 F.col("__pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("__c"))      # presence; count unused
        .select(F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"), "pos")
    )


def windowed_bloom_members(
    cell_rows: DataFrame,
    probe_items: Sequence[str],
    nbits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Batch post-processing of :func:`windowed_bloom_cells` output:
    ``window_start, item, member`` — Bloom membership (ALL k probe
    positions set; false positives match the kernel exactly) for each
    literal probe in each finalized window. Pure JVM broadcast probe
    join + bool_and aggregation."""
    from ddsketch_spark.core.hashing import py_positions

    spark = cell_rows.sparkSession
    probe_rows = [(str(item), int(p)) for item in probe_items
                  for p in py_positions(str(item), k, nbits)]
    probes = spark.createDataFrame(
        pd.DataFrame(probe_rows, columns=["item", "pos"]))
    w = cell_rows.select(F.col("window_start").alias("__ws")).distinct()
    cells = cell_rows.select(F.col("window_start").alias("__cw"),
                             F.col("pos").alias("__cp"))
    grid = w.crossJoin(F.broadcast(probes))
    joined = grid.join(
        cells, on=[F.col("__ws") == F.col("__cw"),
                   F.col("pos") == F.col("__cp")], how="left")
    return (joined
            .groupBy(F.col("__ws").alias("window_start"), F.col("item"))
            .agg(F.bool_and(F.col("__cp").isNotNull()).alias("member")))
