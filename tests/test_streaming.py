"""Structured Streaming sketch maintenance: incremental correctness —
the streamed state after N batches must equal a batch build over the same
rows (the identity the reference tests for its incremental API,
test/sql/ddsketch.sql:2434-2505)."""

import os
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.core.ddsketch import DDSketch
from ddsketch_spark.sources import tables
from ddsketch_spark.streaming.sketch_stream import (
    foreach_batch_maintainer, make_maintainer_process, read_state,
    stateful_quantiles,
)

SCHEMA = "k string, v double"


def _write_chunk(spark, path, seed, n=2000):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "k": rng.choice(["a", "b", "c"], n),
        "v": np.exp(rng.standard_normal(n)) * 100,
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(path)
    return pdf


def test_foreach_batch_incremental_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    all_pdfs = [_write_chunk(spark, src, seed=1)]
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = foreach_batch_maintainer(stream, state, ckpt, "v", ["k"])
    q.awaitTermination()

    # incremental: add more files, run again from the same checkpoint —
    # only the new file is processed
    all_pdfs.append(_write_chunk(spark, src, seed=2))
    all_pdfs.append(_write_chunk(spark, src, seed=3))
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = foreach_batch_maintainer(stream, state, ckpt, "v", ["k"])
    q.awaitTermination()

    got = {r["k"]: (bytes(r["sketch"]), r["n"])
           for r in read_state(spark, state).collect()}
    full = pd.concat(all_pdfs)
    for k, grp in full.groupby("k"):
        want = DDSketch(0.01, 2048).update(grp["v"].to_numpy())
        assert DDSketch.from_bytes(got[k][0]) == want, k
        assert got[k][1] == len(grp)


def test_stateful_quantiles_running_state(spark, tmp_path):
    src = str(tmp_path / "src2")
    ckpt = str(tmp_path / "ckpt2")
    out_dir = str(tmp_path / "out2")

    p1 = _write_chunk(spark, src, seed=10)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = stateful_quantiles(stream, "k", "v", [0.5, 0.9])
    q = (out.writeStream.outputMode("update")
         .foreachBatch(lambda bdf, bid: bdf.write.mode("append").parquet(out_dir))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    p2 = _write_chunk(spark, src, seed=11)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = stateful_quantiles(stream, "k", "v", [0.5, 0.9])
    q = (out.writeStream.outputMode("update")
         .foreachBatch(lambda bdf, bid: bdf.write.mode("append").parquet(out_dir))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    res = spark.read.parquet(out_dir).toPandas()
    full = pd.concat([p1, p2])
    # the latest emission per key reflects ALL rows seen so far, and the
    # running quantile equals the batch-built kernel's
    latest = res.sort_values("count").groupby("k").last()
    for k, grp in full.groupby("k"):
        assert latest.loc[k, "count"] == len(grp)
        want = DDSketch(0.01, 2048).update(grp["v"].to_numpy())
        assert latest.loc[k, "q0_5"] == pytest.approx(float(want.quantile(0.5)))
        assert latest.loc[k, "q0_9"] == pytest.approx(float(want.quantile(0.9)))


def test_foreach_batch_windowed_keys(spark, tmp_path):
    """Windowed streaming rollup: keying the maintainer by an event-time
    bucket gives per-window sketches maintained incrementally — late rows
    for an old window merge into that window's sketch on arrival (the
    sketch-table analogue of watermarked windowed aggregation)."""
    src = str(tmp_path / "wsrc")
    state = str(tmp_path / "wstate")
    ckpt = str(tmp_path / "wckpt")

    rng = np.random.default_rng(20)
    base = pd.Timestamp("2025-06-01")
    def chunk(hours, seed):
        r = np.random.default_rng(seed)
        n = 1500
        return pd.DataFrame({
            "ts": [base + pd.Timedelta(hours=int(h), minutes=int(m))
                   for h, m in zip(r.choice(hours, n), r.integers(0, 60, n))],
            "v": np.exp(r.standard_normal(n)) * 10,
        })

    c1 = chunk([0, 1], 31)
    spark.createDataFrame(c1).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("ts timestamp, v double").parquet(src)
              .withColumn("hr", F.date_trunc("hour", "ts").cast("string")))
    foreach_batch_maintainer(stream, state, ckpt, "v", ["hr"]).awaitTermination()

    # second batch includes LATE rows for hour 0 plus a new hour 2
    c2 = chunk([0, 2], 32)
    spark.createDataFrame(c2).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("ts timestamp, v double").parquet(src)
              .withColumn("hr", F.date_trunc("hour", "ts").cast("string")))
    foreach_batch_maintainer(stream, state, ckpt, "v", ["hr"]).awaitTermination()

    got = {r["hr"]: bytes(r["sketch"])
           for r in read_state(spark, state).collect()}
    both = pd.concat([c1, c2])
    both["hr"] = both["ts"].dt.floor("h")
    assert len(got) == 3  # hours 0, 1, 2
    for hr, grp in both.groupby("hr"):
        key = str(hr)
        want = DDSketch(0.01, 2048).update(grp["v"].to_numpy())
        assert DDSketch.from_bytes(got[key]) == want, key


def test_windowed_watermark_native_agg(spark, tmp_path):
    """Watermarked event-time windowed sketch maintenance as a built-in
    streaming aggregation: late rows inside the watermark merge into their
    window, rows beyond it are dropped, and append mode emits each
    finalized window's bucket cells exactly once."""
    import time as _time

    from ddsketch_spark.streaming.sketch_stream import (
        assemble_window_sketches, windowed_bucket_counts,
    )

    src = str(tmp_path / "wmsrc")
    ckpt = str(tmp_path / "wmckpt")
    out_dir = str(tmp_path / "wmout")
    base = pd.Timestamp("2025-06-01 10:00:00")

    def write_file(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "v"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order

    # file 1: window 10-11 gets 2 rows, window 11-12 gets 3; max ET 11:45
    write_file([(base + pd.Timedelta(minutes=5), 10.0),
                (base + pd.Timedelta(minutes=20), 20.0),
                (base + pd.Timedelta(minutes=70), 30.0),
                (base + pd.Timedelta(minutes=100), 40.0),
                (base + pd.Timedelta(minutes=105), 50.0)])
    # file 2 (watermark now 11:45 - 30m = 11:15; window 10-11 is emitted
    # and evicted at this batch's end): an in-time late row for the still-
    # open 11-12 window — merged into its window's state
    write_file([(base + pd.Timedelta(minutes=80), 60.0)])
    # file 3: a too-late row for the already-evicted 10-11 window (dropped
    # by the watermark — Spark's guarantee is one-sided: within-threshold
    # rows are never dropped, beyond-threshold rows are dropped once their
    # window left the state store) + a row advancing the watermark past
    # 12:00 so 11-12 finalizes in the trailing no-data batch
    write_file([(base + pd.Timedelta(minutes=30), 99.0),
                (base + pd.Timedelta(minutes=180), 70.0)])

    stream = (spark.readStream.schema("ts timestamp, v double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    cells = windowed_bucket_counts(stream, "ts", "v", "1 hour", "30 minutes",
                                   alpha=0.01)
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination()

    got = assemble_window_sketches(
        spark.read.parquet(out_dir), 0.01, 2048).collect()
    by_start = {r["window_start"]: r for r in got}

    # both closed windows emitted; open window 13-14 is not
    assert set(by_start) == {base, base + pd.Timedelta(hours=1)}
    # window 10-11: exactly the two file-1 rows; the 10:30 row from file 3
    # arrived after the window's eviction and was dropped
    w10 = DDSketch(0.01, 2048).update(np.array([10.0, 20.0]))
    assert DDSketch.from_bytes(bytes(by_start[base]["sketch"])) == w10
    assert by_start[base]["n"] == 2
    # window 11-12: three file-1 rows PLUS the in-time late 11:20 row
    w11 = DDSketch(0.01, 2048).update(np.array([30.0, 40.0, 50.0, 60.0]))
    key11 = base + pd.Timedelta(hours=1)
    assert DDSketch.from_bytes(bytes(by_start[key11]["sketch"])) == w11
    assert by_start[key11]["n"] == 4


def test_assemble_window_sketches_bucket_overflow(spark):
    """A window needing more than nbuckets buckets raises the batch
    path's "bucket overflow" error (the assembler's shared kernel
    fallback); the same cells assemble fine with room to spare."""
    from ddsketch_spark.streaming.sketch_stream import (
        assemble_window_sketches, windowed_bucket_counts,
    )

    ts = pd.Timestamp("2025-06-01 10:05:00")
    pdf = pd.DataFrame({"ts": [ts] * 200,
                        "v": np.exp(np.linspace(0, 40, 200))})
    cells = windowed_bucket_counts(spark.createDataFrame(pdf), "ts", "v",
                                   "1 hour", "1 minute", alpha=0.01)
    with pytest.raises(Exception, match="bucket overflow"):
        assemble_window_sketches(cells, 0.01, 16).collect()
    (row,) = assemble_window_sketches(cells, 0.01, 2048).collect()
    want = DDSketch(0.01, 2048).update(pdf["v"].to_numpy())
    assert DDSketch.from_bytes(bytes(row["sketch"])) == want
    assert row["n"] == 200


def test_assemble_window_sketches_all_null_window_emits_no_row(spark):
    """A window whose values are all NULL has no live count: like an
    all-NULL batch group it emits no sketch row, and the other windows
    still assemble."""
    from ddsketch_spark.streaming.sketch_stream import (
        assemble_window_sketches, windowed_bucket_counts,
    )

    base = pd.Timestamp("2025-06-01 10:00:00")
    pdf = pd.DataFrame({
        "ts": [base + pd.Timedelta(minutes=m) for m in (5, 10, 70, 80)],
        "v": [None, None, 3.0, 4.0]})
    cells = windowed_bucket_counts(
        spark.createDataFrame(pdf, "ts timestamp, v double"), "ts", "v",
        "1 hour", "1 minute", alpha=0.01)
    (row,) = assemble_window_sketches(cells, 0.01, 2048).collect()
    assert row["window_start"] == base + pd.Timedelta(hours=1)
    assert DDSketch.from_bytes(bytes(row["sketch"])) == \
        DDSketch(0.01, 2048).update(np.array([3.0, 4.0]))
    assert row["n"] == 2


def test_windowed_hll_cells_equals_batch(spark, tmp_path):
    """Streaming windowed HLL (register-max as a built-in watermarked agg)
    assembles to the same registers/NDV as a batch HLL over the same
    finalized-window rows."""
    import time as _time

    from ddsketch_spark.core.hashing import py_h64
    from ddsketch_spark.core.hll import HLL
    from ddsketch_spark.streaming.sketch_stream import (
        assemble_window_hll, windowed_hll_cells,
    )

    src = str(tmp_path / "hsrc")
    ckpt = str(tmp_path / "hckpt")
    out_dir = str(tmp_path / "hout")
    base = pd.Timestamp("2025-06-01 10:00:00")

    def write_file(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "h"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    w10_users = [f"user{i}" for i in range(40)] * 2      # dups collapse
    w11_users = [f"user{i}" for i in range(25, 60)]
    write_file([(base + pd.Timedelta(minutes=i % 50), py_h64(u))
                for i, u in enumerate(w10_users)]
               + [(base + pd.Timedelta(minutes=70), py_h64("adv"))])
    write_file([(base + pd.Timedelta(minutes=65 + i % 40), py_h64(u))
                for i, u in enumerate(w11_users)])
    write_file([(base + pd.Timedelta(minutes=200), py_h64("adv2"))])

    stream = (spark.readStream.schema("ts timestamp, h long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    cells = windowed_hll_cells(stream, "ts", "h", "1 hour", "30 minutes", p=12)
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination()

    got = {r["window_start"]: r
           for r in assemble_window_hll(spark.read.parquet(out_dir), 12).collect()}
    assert base in got and base + pd.Timedelta(hours=1) in got

    def batch_hll(users):
        s = HLL(12)
        import numpy as np
        s.update(np.array([py_h64(u) for u in users], dtype=np.int64))
        return s

    want10 = batch_hll(w10_users)
    assert HLL.from_bytes(bytes(got[base]["sketch"])).registers.tolist() \
        == want10.registers.tolist()
    assert HLL.from_bytes(bytes(got[base]["sketch"])).estimate() == \
        want10.estimate()
    want11 = batch_hll(w11_users + ["adv"])
    key11 = base + pd.Timedelta(hours=1)
    assert HLL.from_bytes(bytes(got[key11]["sketch"])).registers.tolist() \
        == want11.registers.tolist()


def test_sessionized_sketch_cells(spark, tmp_path):
    """Per-key session windows: two bursts separated by more than the gap
    form two sessions, each carrying its own sketch cells; sessions
    finalize once the watermark passes session_end."""
    import time as _time

    from ddsketch_spark.streaming.sketch_stream import sessionized_bucket_counts

    src = str(tmp_path / "ssrc")
    ckpt = str(tmp_path / "sckpt")
    out_dir = str(tmp_path / "sout")
    base = pd.Timestamp("2025-06-01 10:00:00")

    def write_file(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "k", "v"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    # burst 1 for user u1 (10:00-10:02, gap 5m), burst 2 (10:30-10:31)
    write_file([(base, "u1", 10.0),
                (base + pd.Timedelta(minutes=2), "u1", 20.0),
                (base + pd.Timedelta(minutes=30), "u1", 30.0),
                (base + pd.Timedelta(minutes=31), "u1", 40.0)])
    # advance the watermark far past both sessions
    write_file([(base + pd.Timedelta(hours=3), "u2", 1.0)])

    stream = (spark.readStream.schema("ts timestamp, k string, v double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    cells = sessionized_bucket_counts(stream, "ts", "k", "v",
                                      "5 minutes", "10 minutes", alpha=0.01)
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination()

    got = spark.read.parquet(out_dir).toPandas()
    u1 = got[got["key"] == "u1"].sort_values("session_start")
    assert len(u1) == 2  # two bursts -> two finalized sessions
    s1, s2 = u1.iloc[0], u1.iloc[1]
    # session 1: rows at 10:00 and 10:02 -> end = last event + gap
    assert s1["session_start"] == base and s1["cnt"] == 2
    assert s1["session_end"] == base + pd.Timedelta(minutes=7)
    assert len(s1["cells"]) == 2
    assert s2["session_start"] == base + pd.Timedelta(minutes=30)
    assert s2["cnt"] == 2 and len(s2["cells"]) == 2


def test_windowed_agg_restart_exactly_once(spark, tmp_path):
    """Stop/restart with the same checkpoint: already-emitted windows are
    NOT re-emitted, state carries across runs, and a window fed by rows
    from both runs finalizes once with the full contents."""
    import time as _time

    from ddsketch_spark.streaming.sketch_stream import (
        assemble_window_sketches, windowed_bucket_counts,
    )

    src = str(tmp_path / "rsrc")
    ckpt = str(tmp_path / "rckpt")
    out_dir = str(tmp_path / "rout")
    base = pd.Timestamp("2025-06-01 10:00:00")

    def write_file(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "v"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    def run_once():
        stream = (spark.readStream.schema("ts timestamp, v double")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        cells = windowed_bucket_counts(stream, "ts", "v", "1 hour",
                                       "30 minutes", alpha=0.01)
        q = (cells.writeStream.outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .format("parquet").option("path", out_dir).start())
        q.awaitTermination()

    # run 1: window 10-11 closes (watermark 11:30), window 11-12 open
    write_file([(base + pd.Timedelta(minutes=10), 1.0),
                (base + pd.Timedelta(minutes=70), 2.0)])
    write_file([(base + pd.Timedelta(minutes=120), 3.0)])
    run_once()
    first = assemble_window_sketches(spark.read.parquet(out_dir)).collect()
    assert {r["window_start"] for r in first} == {base}

    # run 2 (same checkpoint): more rows into the still-open 11-12 window
    # (carried in the state store across the restart), then advance far
    write_file([(base + pd.Timedelta(minutes=80), 4.0)])
    write_file([(base + pd.Timedelta(minutes=300), 5.0)])
    run_once()
    got = {r["window_start"]: r
           for r in assemble_window_sketches(spark.read.parquet(out_dir)).collect()}
    # window 10-11 appears exactly once (no re-emission after restart)
    w10 = DDSketch(0.01, 2048).update(np.array([1.0]))
    assert DDSketch.from_bytes(bytes(got[base]["sketch"])) == w10
    # window 11-12 = run-1 row (2.0, restored from checkpointed state) +
    # run-2 row (4.0)
    key11 = base + pd.Timedelta(hours=1)
    w11 = DDSketch(0.01, 2048).update(np.array([2.0, 4.0]))
    assert DDSketch.from_bytes(bytes(got[key11]["sketch"])) == w11
    # window 12-13 closed too (watermark from the 15:00 row)
    key12 = base + pd.Timedelta(hours=2)
    assert DDSketch.from_bytes(bytes(got[key12]["sketch"])) == \
        DDSketch(0.01, 2048).update(np.array([3.0]))


def test_windowed_agg_with_keys(spark, tmp_path):
    """Per-(lang, window) sketch maintenance — the north-rule rollup shape
    as a built-in keyed windowed streaming aggregation."""
    import time as _time

    from ddsketch_spark.streaming.sketch_stream import (
        assemble_window_sketches, windowed_bucket_counts,
    )

    src = str(tmp_path / "ksrc")
    ckpt = str(tmp_path / "kckpt")
    out_dir = str(tmp_path / "kout")
    base = pd.Timestamp("2025-06-01 10:00:00")

    pdf = pd.DataFrame({
        "ts": [base + pd.Timedelta(minutes=m) for m in (5, 10, 15, 20)],
        "lang": ["en", "de", "en", "de"],
        "v": [1.0, 2.0, 3.0, 4.0]})
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(pd.DataFrame(
        {"ts": [base + pd.Timedelta(hours=3)], "lang": ["en"], "v": [9.0]})
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("ts timestamp, lang string, v double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    cells = windowed_bucket_counts(stream, "ts", "v", "1 hour", "30 minutes",
                                   alpha=0.01, keys=["lang"])
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination()

    got = {(r["lang"], r["window_start"]): r
           for r in assemble_window_sketches(
               spark.read.parquet(out_dir), keys=["lang"]).collect()}
    assert set(got) == {("en", base), ("de", base)}
    assert DDSketch.from_bytes(bytes(got[("en", base)]["sketch"])) == \
        DDSketch(0.01, 2048).update(np.array([1.0, 3.0]))
    assert DDSketch.from_bytes(bytes(got[("de", base)]["sketch"])) == \
        DDSketch(0.01, 2048).update(np.array([2.0, 4.0]))


def test_windowed_cells_take_hostile_names(spark, tmp_path):
    """Column names such as ``h-1`` and ``a`b`` are quoted: over a batch
    frame, the windowed cells of one window are ``dd_cells`` of the same
    rows, a session window keyed by such a column counts its rows, and
    the maintainer's state over two micro-batches is the batch build."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    from ddsketch_spark.operators.native import dd_cells, ddsketch_agg_native
    from ddsketch_spark.streaming.sketch_stream import (
        sessionized_bucket_counts, windowed_bucket_counts,
    )

    base = pd.Timestamp("2025-06-01 10:00:00")
    keys = ["h-1", "a`b"]
    schema = StructType([StructField("t-s", TimestampType()),
                         *[StructField(k, StringType()) for k in keys],
                         StructField("v-1", DoubleType())])
    df = spark.createDataFrame(
        [((base + pd.Timedelta(minutes=m)).to_pydatetime(), h, a, v)
         for m, h, a, v in
         [(0, "x", "p", 1.0), (5, "y", "p", 2.0), (9, "x", "q", 3.0),
          (14, None, "q", 4.0), (20, "y", "p", None), (31, "x", None, 6.0)]],
        schema)
    got = windowed_bucket_counts(df, "t-s", "v-1", "1 hour", "30 minutes",
                                 alpha=0.02, keys=keys)
    want = dd_cells(df, "v-1", 0.02, keys)

    def rows(out):
        return sorted((tuple(r[c] for c in want.columns)
                       for r in out.collect()), key=repr)

    assert {r["window_start"] for r in got.collect()} == {base}
    assert rows(got) == rows(want) and rows(want)
    sessions = sessionized_bucket_counts(df, "t-s", "h-1", "v-1",
                                         "1 hour", "30 minutes").collect()
    assert sorted((r["key"], r["cnt"]) for r in sessions
                  if r["key"]) == [("x", 3), ("y", 1)]

    state = str(tmp_path / "state")
    process = make_maintainer_process(state, "v-1", keys, state_buckets=4)
    process(df, 0)
    process(df, 1)
    built = ddsketch_agg_native(df.union(df), "v-1", 0.01, 2048, keys)
    assert sorted(map(tuple, read_state(spark, state).collect()), key=repr) \
        == sorted(map(tuple, built.collect()), key=repr)


def test_empty_first_batch_and_orphan_state_guard(spark, tmp_path):
    """Two state-layer edge cases:

    - a first micro-batch with zero rows commits an empty log entry;
      read_state must return None (regression: it indexed parts[0] of an
      empty list), and a following non-empty batch must build state
      normally on top;
    - a state dir holding the state of an older layout — top-level
      bucket data, or a pre-log ``_manifest.json`` — but no commit log
      is NOT 'no state': reading or writing it must raise rather than
      silently discarding the accumulated sketches.
    """
    from ddsketch_spark.streaming.sketch_stream import (
        make_maintainer_process, read_state,
    )

    state = str(tmp_path / "empty_first")
    process = make_maintainer_process(state, "v", ["k"], state_buckets=8)
    empty = spark.createDataFrame([], "k string, v double")
    process(empty, 0)
    assert read_state(spark, state) is None

    pdf = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    process(spark.createDataFrame(pdf), 1)
    got = {r["k"] for r in read_state(spark, state).collect()}
    assert got == {"a", "b"}

    orphan = tmp_path / "orphan_state"
    (orphan / "__bucket=3").mkdir(parents=True)
    old_log = tmp_path / "manifest_state"
    (old_log / "v=0" / "__bucket=3").mkdir(parents=True)
    (old_log / "_manifest.json").write_text(
        '{"batch_id": 0, "buckets": {"3": 0}}')
    for state_dir, name in ((orphan, "__bucket=3"),
                            (old_log, "_manifest.json")):
        with pytest.raises(RuntimeError, match=f"{name}.*no commit log"):
            read_state(spark, str(state_dir))
        proc2 = make_maintainer_process(str(state_dir), "v", ["k"],
                                        state_buckets=8)
        with pytest.raises(RuntimeError, match=f"{name}.*no commit log"):
            proc2(spark.createDataFrame(pdf), 0)
    assert sorted(os.listdir(old_log)) == ["_manifest.json", "v=0"]


def test_maintainer_rejects_keys_naming_its_directories(spark, tmp_path):
    """The state's ``v=<version>/__bucket=<b>`` directories are read as
    partition columns, so a key named ``v`` or ``__bucket`` is refused
    rather than silently overwritten on read."""
    for key in ("v", "__bucket"):
        with pytest.raises(ValueError, match="name the state's directories"):
            make_maintainer_process(str(tmp_path / "s"), "x", ["k", key])


def test_foreach_batch_replay_is_idempotent(spark, tmp_path, monkeypatch):
    """foreachBatch is AT-LEAST-ONCE: a micro-batch that fails after its
    state write (but before its log commit) is re-run with the same
    (batch_df, batch_id). The versioned-state commit protocol must make
    both replay shapes safe:

    - replay AFTER commit  -> no-op (log already at batch_id);
    - replay after a crash BETWEEN the v=<batch_id> write and the
      commit -> the previous snapshot still reads byte-identical, and
      the replay rewrites deterministically from the OLD entry's
      state, never a double merge.
    """
    from ddsketch_spark.streaming.sketch_stream import (
        make_maintainer_process, read_state,
    )

    state = str(tmp_path / "idem_state")
    process = make_maintainer_process(state, "v", ["k"], state_buckets=8)

    def chunk(seed):
        rng = np.random.default_rng(seed)
        pdf = pd.DataFrame({
            "k": rng.choice(["a", "b", "c"], 1500),
            "v": np.exp(rng.standard_normal(1500)) * 100,
        })
        return pdf, spark.createDataFrame(pdf)

    def check(pdfs):
        got = {r["k"]: (bytes(r["sketch"]), r["n"])
               for r in read_state(spark, state).collect()}
        full = pd.concat(pdfs)
        assert set(got) == set(full["k"].unique())
        for k, grp in full.groupby("k"):
            want = DDSketch(0.01, 2048).update(grp["v"].to_numpy())
            assert DDSketch.from_bytes(got[k][0]) == want, k
            assert got[k][1] == len(grp), k

    p1, d1 = chunk(41)
    p2, d2 = chunk(42)
    p3, d3 = chunk(43)

    process(d1, 0)
    process(d2, 1)
    check([p1, p2])

    # replay after commit: engine re-runs batch 1 -> must be a no-op
    process(d2, 1)
    check([p1, p2])

    # crash between state write and commit, then replay
    def snapshot():
        return sorted((r["k"], bytes(r["sketch"]), r["n"])
                      for r in read_state(spark, state).collect())

    before, entry = snapshot(), tables.read_entry(spark, state)

    def crash_commit(*args, **kwargs):
        raise OSError("injected crash before commit")

    with monkeypatch.context() as m:
        m.setattr(tables, "commit", crash_commit)
        with pytest.raises(OSError, match="injected crash"):
            process(d3, 2)
    # v=2 files exist on disk but are uncommitted: readers see old state
    assert os.path.isdir(os.path.join(state, "v=2"))
    assert snapshot() == before
    assert tables.read_entry(spark, state) == entry

    # replay of batch 2 re-reads the OLD entry's versions and
    # rewrites v=2 -> exactly-once result
    process(d3, 2)
    check([p1, p2, p3])

    # and vacuum keeps only versions the log still references
    live = {f.split("/")[0] for f in tables.read_entry(spark, state)["files"]}
    on_disk = {e for e in os.listdir(state) if e.startswith("v=")}
    assert on_disk == live


def test_state_read_runs_no_listing_or_inference_job(
        spark, tmp_path, jobs_in_group, monkeypatch):
    """A micro-batch whose keys touch more than 32 state buckets reads
    the touched buckets with the state schema it logs in its entry:
    it runs no parallel-listing job and no schema-inference job, and
    ``read_state`` runs no job at all. The state it writes is
    byte-identical to the state written when the previous buckets are
    read with an inferred schema."""
    def batch(seed):
        rng = np.random.default_rng(seed)
        return spark.createDataFrame(pd.DataFrame({
            "k": [f"k{i}" for i in rng.integers(0, 500, 4000)],
            "v": rng.exponential(100.0, 4000)}))

    sc = spark.sparkContext
    new, old = str(tmp_path / "new"), str(tmp_path / "inferred")
    process = make_maintainer_process(new, "v", ["k"], state_buckets=64)
    process(batch(1), 0)
    group = "state-read-jobs"
    sc.setJobGroup(group, group)
    try:
        process(batch(2), 1)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    jobs = [(j.name(), j.description().get() if j.description().isDefined()
             else "") for j in map(store.job, ids)]
    assert len(tables.read_entry(spark, new)["files"]) > 32 and jobs
    # the listing job says so; the inference job is named after the read
    # call (``parquet(...)`` or ``load(...)``)
    assert not [j for j in jobs if j[0].startswith(("parquet at", "load at"))
                or j[1].startswith("Listing leaf files")], jobs

    group = "read-state-jobs"
    sc.setJobGroup(group, group)
    try:
        state = read_state(spark, new)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_in_group(group) == 0
    assert state.schema.simpleString() == \
        "struct<k:string,sketch:binary,n:bigint>"

    def inferred(spark, paths, base, schema=None, fmt="parquet"):
        return spark.read.option("basePath", base).parquet(*paths)

    monkeypatch.setattr(tables, "load_paths", inferred)
    process = make_maintainer_process(old, "v", ["k"], state_buckets=64)
    process(batch(1), 0)
    process(batch(2), 1)

    def files(root):
        return {os.path.relpath(d, root): sorted(
                    Path(d, f).read_bytes()
                    for f in names if f.endswith(".parquet"))
                for d, _, names in os.walk(os.path.join(root, "v=1"))}

    assert files(new) == files(old) and len(files(new)) > 32


def test_stateful_heavy_hitters_running_state(spark, tmp_path):
    """Streaming SpaceSaving: two incremental micro-batch runs from one
    checkpoint must carry the per-key summary forward; the final emitted
    top-k must satisfy the bound envelope against exact counts over ALL
    data seen, and (capacity >> vocab here) match the exact top-k."""
    from collections import Counter

    from ddsketch_spark.streaming.sketch_stream import stateful_heavy_hitters

    src = str(tmp_path / "hh_src")
    ckpt = str(tmp_path / "hh_ckpt")
    out_dir = str(tmp_path / "hh_out")

    def write_tokens(seed, n=3000):
        rng = np.random.default_rng(seed)
        pdf = pd.DataFrame({
            "k": rng.choice(["en", "de"], n),
            "token": [f"w{min(int(r), 50)}" for r in rng.zipf(1.4, n)],
        })
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        return pdf

    def run_once():
        stream = spark.readStream.schema("k string, token string").parquet(src)
        out = stateful_heavy_hitters(stream, "k", "token", k=5, capacity=256)
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda bdf, bid: bdf.withColumn(
                 "bid", F.lit(bid)).write.mode("append").parquet(out_dir))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    pdfs = [write_tokens(40)]
    run_once()
    pdfs.append(write_tokens(41))
    run_once()

    res = spark.read.parquet(out_dir).toPandas()
    last = res.sort_values("bid").groupby("k").last()
    full = pd.concat(pdfs)
    for key, grp in full.groupby("k"):
        truth = Counter(grp["token"])
        row = last.loc[key]
        assert row["total"] == len(grp)
        for item, cnt, err in zip(row["topk_items"], row["topk_counts"],
                                  row["topk_errs"]):
            t = truth.get(item, 0)
            assert t <= cnt <= t + err
        # capacity 256 >= vocab 51: exact counts, exact top-5 identity
        want = [t for t, _ in sorted(truth.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:5]]
        assert list(row["topk_items"]) == want


def test_sliding_windowed_sketch_cells(spark, tmp_path):
    """Sliding windows (1h every 30min): each row's cells must land in
    BOTH windows covering its timestamp, finalized windows must equal the
    batch-built sketch over their exact time range, and the operator
    stays a built-in streaming aggregation."""
    from ddsketch_spark.streaming.sketch_stream import (
        assemble_window_sketches, windowed_bucket_counts,
    )

    src = str(tmp_path / "slsrc")
    ckpt = str(tmp_path / "slckpt")
    out_dir = str(tmp_path / "slout")
    base = pd.Timestamp("2025-06-01 10:00:00")

    rows = [(base + pd.Timedelta(minutes=m), float(v))
            for m, v in [(5, 10.0), (20, 20.0), (40, 30.0), (50, 40.0),
                         (70, 50.0), (95, 60.0), (400, 99.0)]]
    spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "v"])) \
        .coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    cells = windowed_bucket_counts(stream, "ts", "v", "1 hour",
                                   "30 minutes", alpha=0.01,
                                   slide_duration="30 minutes")
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination()

    got = {r["window_start"]: r for r in assemble_window_sketches(
        spark.read.parquet(out_dir), 0.01, 2048).collect()}
    # every finalized 1h window starting at :30 boundaries covering the
    # first 6 rows: 9:30, 10:00, 10:30, 11:00 (11:30-12:30 holds only the
    # watermark-advancing row's windows, still open or emitted separately)
    vals = {m: v for m, v in [(5, 10.0), (20, 20.0), (40, 30.0),
                              (50, 40.0), (70, 50.0), (95, 60.0)]}
    for start_min in (-30, 0, 30, 60):
        start = base + pd.Timedelta(minutes=start_min)
        if start not in got:
            continue
        want_vals = [v for m, v in vals.items()
                     if start_min <= m < start_min + 60]
        want = DDSketch(0.01, 2048).update(np.array(want_vals))
        assert DDSketch.from_bytes(bytes(got[start]["sketch"])) == want, start
        assert got[start]["n"] == len(want_vals)
    # the overlap property itself: windows 10:00 (rows at 5/20/40/50) and
    # 10:30 (rows at 40/50/70) both contain the 10:40 and 10:50 rows
    assert got[base]["n"] == 4 and got[base + pd.Timedelta(minutes=30)]["n"] == 3


def test_stateful_heavy_hitters_weighted(spark, tmp_path):
    """Weighted streaming heavy hitters: per-row weights must fold in as
    counts (capacity >> vocab here, so totals and top-k are exact)."""
    from ddsketch_spark.streaming.sketch_stream import stateful_heavy_hitters

    src = str(tmp_path / "whh_src")
    ckpt = str(tmp_path / "whh_ckpt")
    out_dir = str(tmp_path / "whh_out")
    pdf = pd.DataFrame({
        "k": ["en"] * 4,
        "token": ["a", "b", "a", "c"],
        "w": [5, 2, 3, 7],
    })
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "k string, token string, w long").parquet(src)
    out = stateful_heavy_hitters(stream, "k", "token", k=3, capacity=16,
                                 weight_col="w")
    q = (out.writeStream.outputMode("update")
         .foreachBatch(lambda bdf, bid: bdf.write.mode("append").parquet(out_dir))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    row = spark.read.parquet(out_dir).collect()[0]
    assert row["total"] == 17
    assert list(row["topk_items"]) == ["a", "c", "b"]
    assert list(row["topk_counts"]) == [8, 7, 2]


def test_windowed_cms_cells_equals_batch(spark, tmp_path):
    """Streaming windowed count-min (counter sums as a built-in
    watermarked agg) estimates the same frequencies as a batch CMS over
    the same finalized-window rows — including zero-frequency probes."""
    import time as _time

    import numpy as np

    from ddsketch_spark.core.cms import CMS
    from ddsketch_spark.core.hashing import py_h64
    from ddsketch_spark.streaming.sketch_stream import (
        windowed_cms_cells, windowed_cms_estimates,
    )

    src = str(tmp_path / "csrc")
    ckpt = str(tmp_path / "cckpt")
    out_dir = str(tmp_path / "cout")
    base = pd.Timestamp("2025-06-01 10:00:00")

    def write_file(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "h"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    w10 = ["click"] * 7 + ["view"] * 3
    w11 = ["view"] * 5 + ["purchase"] * 2
    write_file([(base + pd.Timedelta(minutes=i % 50), py_h64(x))
                for i, x in enumerate(w10)])
    write_file([(base + pd.Timedelta(minutes=65 + i % 40), py_h64(x))
                for i, x in enumerate(w11)]
               + [(base + pd.Timedelta(minutes=200), py_h64("adv"))])

    stream = (spark.readStream.schema("ts timestamp, h long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    cells = windowed_cms_cells(stream, "ts", "h", "1 hour", "30 minutes",
                               depth=5, width=512)
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination()

    probes = ["click", "view", "purchase", "absent"]
    got = {(r["window_start"], r["item"]): r["freq"]
           for r in windowed_cms_estimates(
               spark.read.parquet(out_dir), probes, 5, 512).collect()}
    key11 = base + pd.Timedelta(hours=1)
    for wkey, items in ((base, w10), (key11, w11)):
        cms = CMS(5, 512).update(
            np.array([py_h64(x) for x in items], dtype=np.int64))
        want = cms.estimate(np.array([py_h64(p) for p in probes],
                                     dtype=np.int64))
        for p, wf in zip(probes, want):
            assert got[(wkey, p)] == int(wf), (wkey, p)


def test_windowed_bloom_cells_equals_batch(spark, tmp_path):
    """Streaming windowed Bloom (bit presence as a built-in watermarked
    distinct) answers membership identically to a batch Bloom over the
    same finalized-window rows — including shared-bit false positives."""
    import time as _time

    import numpy as np

    from ddsketch_spark.core.bloom import Bloom
    from ddsketch_spark.core.hashing import py_h64
    from ddsketch_spark.streaming.sketch_stream import (
        windowed_bloom_cells, windowed_bloom_members,
    )

    src = str(tmp_path / "bsrc")
    ckpt = str(tmp_path / "bckpt")
    out_dir = str(tmp_path / "bout")
    base = pd.Timestamp("2025-06-01 10:00:00")

    def write_file(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "h"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    w10 = [f"u{i}" for i in range(30)]
    w11 = [f"u{i}" for i in range(25, 45)]
    write_file([(base + pd.Timedelta(minutes=i % 50), py_h64(u))
                for i, u in enumerate(w10)])
    write_file([(base + pd.Timedelta(minutes=65 + i % 40), py_h64(u))
                for i, u in enumerate(w11)]
               + [(base + pd.Timedelta(minutes=200), py_h64("adv"))])

    stream = (spark.readStream.schema("ts timestamp, h long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    # tiny bit array on purpose: cross-item bit sharing (false positives)
    # must match the kernel exactly
    cells = windowed_bloom_cells(stream, "ts", "h", "1 hour",
                                 "30 minutes", nbits=128, k=5)
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination()

    probes = ["u0", "u26", "u44", "absent-a", "absent-b"]
    got = {(r["window_start"], r["item"]): r["member"]
           for r in windowed_bloom_members(
               spark.read.parquet(out_dir), probes, 128, 5).collect()}
    key11 = base + pd.Timedelta(hours=1)
    for wkey, items in ((base, w10), (key11, w11)):
        bl = Bloom(128, 5).update(
            np.array([py_h64(x) for x in items], dtype=np.int64))
        want = bl.contains(np.array([py_h64(p) for p in probes],
                                    dtype=np.int64))
        for p, wm in zip(probes, want):
            assert got[(wkey, p)] == bool(wm), (wkey, p)


def test_streaming_rows_leave_no_scratch_dirs(spark):
    """stream_sessionized_p90_clicks and stream_heavy_hitters_events
    materialize their results before returning, so each call removes its
    own scratch dir on exit; the returned frames still collect."""
    from ddsketch_spark import queries as q

    os.makedirs(q.SKETCH_STORE_ROOT, exist_ok=True)
    q._sweep_stale_scratch()     # a sweep inside the rows changes nothing now
    before = set(os.listdir(q.SKETCH_STORE_ROOT))
    outs = [q.QUERIES[name](spark, "/root/testdata/sf0.001")
            for name in ("stream_sessionized_p90_clicks",
                         "stream_heavy_hitters_events")]
    assert set(os.listdir(q.SKETCH_STORE_ROOT)) == before
    for out in outs:
        assert out.collect()


def test_replay_failure_drops_memory_sink(spark, tmp_path):
    """A failing finish step must not leave the memory sink's temp view
    (which holds the whole complete-mode result in driver memory) or a
    running query behind; the error propagates."""
    from ddsketch_spark.queries import _replay

    src = str(tmp_path / "src")
    _write_chunk(spark, src, seed=5, n=100)
    cells = spark.readStream.schema(SCHEMA).parquet(src).groupBy("k").count()

    def stream_views():
        return {t.name for t in spark.catalog.listTables()
                if t.isTemporary and t.name.startswith("stream_")}

    before = stream_views()

    def finish(table):
        assert table.count() == 3     # the sink holds the result
        raise RuntimeError("finish failed")

    with pytest.raises(RuntimeError, match="finish failed"):
        _replay(spark, cells, finish)
    assert stream_views() == before
    assert spark.streams.active == []


@pytest.mark.parametrize("layout", ["dd", "dd_keyed", "hll", "cms", "bloom"])
def test_windowed_builders_equal_batch_twin(spark, layout):
    """Streamed == batch for every cell layout: the same rows (one
    window, NULL values and NULL hashes included) through a windowed
    builder and the batch assembler keyed by the window give the batch
    twin's sketch bytes AND ``n`` — DDSketch ``n`` counts rows (NULL
    values too) and the HLL header count is the hash count, as in the
    batch build."""
    from ddsketch_spark.core.hashing import spark_h64
    from ddsketch_spark.operators import native
    from ddsketch_spark.streaming import sketch_stream as ss

    base = pd.Timestamp("2025-06-01 10:00:00")
    rng = np.random.default_rng(11)
    n = 300
    pdf = pd.DataFrame({
        "ts": [base + pd.Timedelta(minutes=int(m))
               for m in rng.integers(0, 60, n)],
        "k": rng.choice(["a", "b", None], n),
        "v": np.exp(rng.standard_normal(n)) * 10 - 2,
        "s": [f"u{i}" for i in rng.integers(0, 90, n)]})
    pdf.loc[::7, "v"] = None
    pdf.loc[::11, "s"] = None
    df = spark.createDataFrame(
        pdf, "ts timestamp, k string, v double, s string").withColumn(
        "h", spark_h64("s"))
    win = ("1 hour", "1 minute")
    wkeys = ["window_start", "window_end"]
    if layout in ("dd", "dd_keyed"):
        keys = ["k"] if layout == "dd_keyed" else []
        got = ss.assemble_window_sketches(
            ss.windowed_bucket_counts(df, "ts", "v", *win, alpha=0.02,
                                      keys=keys), 0.02, 512, keys=keys)
        want = native.ddsketch_agg_native(df, "v", 0.02, 512, keys=keys)
    elif layout == "hll":
        keys = []
        got = ss.assemble_window_hll(
            ss.windowed_hll_cells(df, "ts", "h", *win, p=10), 10)
        want = native.hll_agg_native(df, "h", 10)
    elif layout == "cms":
        keys = []
        got = native.cms_sketches(
            ss.windowed_cms_cells(df, "ts", "h", *win, 4, 256), wkeys, 4, 256)
        want = native.cms_agg_native(df, "h", 4, 256)
    else:
        keys = []
        got = native.bloom_sketches(
            ss.windowed_bloom_cells(df, "ts", "h", *win, 1 << 10, 4),
            wkeys, 1 << 10, 4)
        want = native.bloom_agg_native(df, "h", 1 << 10, 4)

    def by_key(out):
        return {tuple(r[k] for k in keys): (bytes(r["sketch"]), r["n"])
                for r in out.collect()}

    got_rows = got.collect()
    assert {r["window_start"] for r in got_rows} == {base}
    assert by_key(got) == by_key(want)
    if layout == "dd":
        assert got_rows[0]["n"] == n       # NULL-value rows count, as batch
