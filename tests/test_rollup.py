"""Hypertable-style rollup layer (operators/rollup.py): coarsening a
fine-grained sketch table and answering aligned range queries from the
stored partials must be BIT-IDENTICAL to direct builds at the target
grain — merge associativity driven through the real time dimension.
"""

import datetime as dt
import os
import re
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.operators import aggregate
from ddsketch_spark.operators.api import ddsketch as dd_api
from ddsketch_spark.operators.rollup import (
    build_sketch_table, range_percentile, read_sketch_table, rollup,
    store_sketch_table, time_bucket,
)
from tests.conftest import PYTHON_NODE

ALPHA, NB = 0.05, 1024
HOUR, DAY = 3600, 86400
T0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)


@pytest.fixture(scope="module")
def events(spark):
    rng = np.random.default_rng(7)
    n = 20_000
    secs = rng.integers(0, 10 * DAY, n)           # 10 days of events
    pdf = pd.DataFrame({
        "ts": pd.Timestamp(T0).tz_localize(None)
              + pd.to_timedelta(secs, unit="s"),
        "etype": rng.choice(["a", "b", "c"], n),
        "v": rng.lognormal(2.0, 1.0, n),
    })
    pdf.loc[::71, "v"] = None                     # NULL routing through
    return spark.createDataFrame(pdf).repartition(8), pdf


def by_key(df, keycols):
    return {tuple(r[k] for k in keycols): (bytes(r["sketch"]), r["n"])
            for r in df.collect()}


def test_rollup_equals_direct_daily(events):
    df, _ = events
    hourly = build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR,
                                keys=["etype"])
    daily = rollup(hourly, DAY, HOUR, keys=["etype"])
    direct = dd_api(
        df.select(time_bucket("ts", DAY).alias("bucket"), "etype", "v"),
        "v", ALPHA, NB, keys=["bucket", "etype"])
    got = by_key(daily, ["bucket", "etype"])
    want = by_key(direct, ["bucket", "etype"])
    assert got.keys() == want.keys() and len(got) >= 20
    assert all(got[k] == want[k] for k in want)   # canonical bytes


def test_rollup_chains(events):
    """hourly -> daily -> 2-day == hourly -> 2-day (rollups compose)."""
    df, _ = events
    hourly = build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR,
                                keys=["etype"])
    via_daily = rollup(rollup(hourly, DAY, HOUR, keys=["etype"]),
                       2 * DAY, DAY, keys=["etype"])
    direct = rollup(hourly, 2 * DAY, HOUR, keys=["etype"])
    assert by_key(via_daily, ["bucket", "etype"]) == \
        by_key(direct, ["bucket", "etype"])


def test_range_equals_raw_range(events):
    df, _ = events
    hourly = build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR,
                                keys=["etype"])
    t0, t1 = T0 + dt.timedelta(days=2), T0 + dt.timedelta(days=7)
    got = {(r["etype"], r["q"]): r["est"]
           for r in range_percentile(hourly, t0, t1, [0.5, 0.9], HOUR,
                                     keys=["etype"]).collect()}
    raw = df.where((F.col("ts") >= t0.replace(tzinfo=None))
                   & (F.col("ts") < t1.replace(tzinfo=None)))
    direct = dd_api(raw, "v", ALPHA, NB, keys=["etype"])
    from ddsketch_spark.core.ddsketch import from_bytes
    for r in direct.collect():
        s = from_bytes(bytes(r["sketch"]))
        for q, est in zip([0.5, 0.9], s.quantile([0.5, 0.9])):
            assert got[(r["etype"], q)] == pytest.approx(est, abs=0, rel=0)
    assert len(got) == 6


def test_validation_errors(events):
    df, _ = events
    hourly = build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR)
    with pytest.raises(ValueError, match="multiple"):
        rollup(hourly, 5000, HOUR)                # not a multiple
    with pytest.raises(ValueError, match="aligned"):
        range_percentile(hourly, T0 + dt.timedelta(seconds=30),
                         T0 + dt.timedelta(days=1), [0.5], HOUR)
    with pytest.raises(ValueError, match="empty range"):
        range_percentile(hourly, T0 + dt.timedelta(days=1), T0, [0.5], HOUR)
    with pytest.raises(ValueError, match=">= 1"):
        time_bucket("ts", 0)


def test_streaming_maintained_table_feeds_rollup(spark, events, tmp_path):
    """The continuous-aggregate loop closed end to end: a watermarked
    streaming windowed aggregation maintains the hourly sketch table
    (windowed_sketches_as_table adapts its output to the table contract),
    and the result is BIT-IDENTICAL to the batch build over the same
    rows — so every rollup / range question works unchanged on a
    streaming-maintained table."""
    import time as _time

    from ddsketch_spark.operators.rollup import windowed_sketches_as_table
    from ddsketch_spark.streaming.sketch_stream import (
        assemble_window_sketches, windowed_bucket_counts,
    )

    df, _ = events
    first2d = df.where(
        F.col("ts") < (T0 + dt.timedelta(days=2)).replace(tzinfo=None))
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))
    first2d.coalesce(2).write.parquet(src)
    _time.sleep(1.1)
    # sentinel far past the data advances the watermark so every real
    # window finalizes in append mode
    sentinel = spark.createDataFrame(
        pd.DataFrame({"ts": [pd.Timestamp(T0).tz_localize(None)
                             + pd.Timedelta(days=30)],
                      "etype": ["a"], "v": [1.0]}))
    sentinel.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(first2d.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    cells = windowed_bucket_counts(stream, "ts", "v", "1 hour",
                                   "30 minutes", alpha=ALPHA,
                                   keys=["etype"])
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out).start())
    q.awaitTermination()

    assembled = assemble_window_sketches(
        spark.read.parquet(out), ALPHA, NB, keys=["etype"])
    streamed = windowed_sketches_as_table(assembled, keys=["etype"])
    sentinel_bucket = int((pd.Timestamp(T0).tz_localize(None)
                           + pd.Timedelta(days=30)).timestamp()) // HOUR * HOUR
    streamed = streamed.where(F.col("bucket") != sentinel_bucket)

    batch = build_sketch_table(first2d, "ts", "v", ALPHA, NB, HOUR,
                               keys=["etype"])
    got = by_key(streamed, ["bucket", "etype"])
    want = by_key(batch, ["bucket", "etype"])
    assert got.keys() == want.keys() and len(got) >= 50
    assert all(got[k] == want[k] for k in want)

    # and the adapted table answers rollup questions like any other
    daily = rollup(streamed, DAY, HOUR, keys=["etype"])
    ddirect = rollup(batch, DAY, HOUR, keys=["etype"])
    assert by_key(daily, ["bucket", "etype"]) == \
        by_key(ddirect, ["bucket", "etype"])


@pytest.fixture(scope="module")
def day_store(spark, events, tmp_path_factory):
    """``(hourly sketch table, its day-partitioned stored copy's path)``."""
    df, _ = events
    hourly = build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR,
                                keys=["etype"])
    path = str(tmp_path_factory.mktemp("days") / "stored")
    store_sketch_table(hourly, path, partition_granularity_seconds=DAY)
    return hourly, path


def test_partitioned_store_prunes_and_matches(spark, day_store,
                                              executor_merge):
    """store_sketch_table writes day-partitioned directories; a range
    query given the partition grain returns the identical answer AND its
    scan prunes to the in-range partitions only. This is the executor
    merge, taken past the driver-fold bound."""
    import re

    hourly, path = day_store
    stored = read_sketch_table(spark, path)
    assert "pbucket" in stored.columns

    t0, t1 = T0 + dt.timedelta(days=2), T0 + dt.timedelta(days=5)
    pruned = range_percentile(stored, t0, t1, [0.5, 0.9], HOUR,
                              keys=["etype"],
                              partition_granularity_seconds=DAY)
    plain = range_percentile(hourly, t0, t1, [0.5, 0.9], HOUR,
                             keys=["etype"])
    gp = {(r["etype"], r["q"]): r["est"] for r in pruned.collect()}
    gd = {(r["etype"], r["q"]): r["est"] for r in plain.collect()}
    assert gp == gd and len(gp) == 6

    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pbucket" in m.group(1), plan[:2000]


def test_partitioned_store_driver_fold_prunes_and_matches(spark, day_store,
                                                          fetch_plans):
    """Under the driver-fold bound the same range query gives the same
    answer; its fetch prunes to the in-range partitions, pushes the
    bucket bounds, reads the stored table only and runs no Python."""
    import re

    hourly, path = day_store
    t0, t1 = T0 + dt.timedelta(days=2), T0 + dt.timedelta(days=5)
    pruned = range_percentile(read_sketch_table(spark, path), t0, t1,
                              [0.5, 0.9], HOUR, keys=["etype"],
                              partition_granularity_seconds=DAY)
    plan = fetch_plans[0]
    plain = range_percentile(hourly, t0, t1, [0.5, 0.9], HOUR,
                             keys=["etype"])
    gp = {(r["etype"], r["q"]): r["est"] for r in pruned.collect()}
    gd = {(r["etype"], r["q"]): r["est"] for r in plain.collect()}
    assert gp == gd and len(gp) == 6

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pbucket" in m.group(1), plan
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(bucket",
                     plan), plan
    assert re.search(r"PushedFilters: \[.*LessThan\(bucket", plan), plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not re.search(PYTHON_NODE, plan), plan
    assert pruned._jdf.queryExecution().executedPlan().nodeName() == \
        "LocalTableScan"


@pytest.mark.parametrize("bound", [None, 0], ids=["driver", "executor"])
def test_range_reads_no_out_of_range_day(spark, day_store, tmp_path,
                                         monkeypatch, bound):
    """Pruning without reading a plan: once every day file outside the
    range holds garbage, the range still gives its answer, on the driver
    fold and on the executor merge alike."""
    import glob

    _, golden = day_store
    path = str(tmp_path / "stored")
    shutil.copytree(golden, path)
    if bound is not None:
        monkeypatch.setattr(aggregate, "DRIVER_FOLD_MAX_ROWS", bound)
    t0, t1 = T0 + dt.timedelta(days=2), T0 + dt.timedelta(days=5)

    def answer():
        return sorted(map(tuple, range_percentile(
            read_sketch_table(spark, path), t0, t1, [0.5, 0.9], HOUR,
            keys=["etype"], partition_granularity_seconds=DAY).collect()))

    want = answer()
    lo, hi = int(t0.timestamp()), int(t1.timestamp())
    spoiled = [f for f in glob.glob(os.path.join(path, "pbucket=*", "*"))
               if not lo <= int(f.split("pbucket=")[1].split(os.sep)[0]) < hi]
    for f in spoiled:
        with open(f, "wb") as out:
            out.write(b"not a parquet file")
    assert len(spoiled) >= 7 and len(want) == 6
    assert answer() == want
    with pytest.raises(Exception):      # the garbage is unreadable
        read_sketch_table(spark, path).collect()


def test_compact_without_lineage_n(spark, events):
    """compact_sketch_table must accept a sketch table WITHOUT the
    optional lineage n column, mirroring rollup()'s contract (r5
    ADVICE: it previously hard-selected 'n' and raised)."""
    from ddsketch_spark.operators.rollup import compact_sketch_table

    df, _ = events
    hourly = build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR,
                                keys=["etype"]).drop("n")
    boundary = T0 + dt.timedelta(days=6)
    tiered = compact_sketch_table(hourly, boundary, HOUR, DAY,
                                  keys=["etype"])
    assert "n" not in tiered.columns
    assert set(r["gran"] for r in
               tiered.select("gran").distinct().collect()) == {HOUR, DAY}


def test_tiered_compaction_and_cross_boundary_range(spark, events):
    """Tiered retention: buckets older than the boundary roll to daily,
    recent stay hourly; a range query straddling the tier edge merges
    both grains and equals the direct sketch of the raw rows in range."""
    from ddsketch_spark.core.ddsketch import from_bytes
    from ddsketch_spark.operators.rollup import (
        compact_sketch_table, range_percentile_tiered)

    df, _ = events
    hourly = build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR,
                                keys=["etype"])
    boundary = T0 + dt.timedelta(days=6)
    tiered = compact_sketch_table(hourly, boundary, HOUR, DAY,
                                  keys=["etype"])

    rows = tiered.groupBy("gran").count().collect()
    counts = {r["gran"]: r["count"] for r in rows}
    assert set(counts) == {HOUR, DAY}
    assert counts[DAY] <= 6 * 3 and counts[HOUR] >= 4 * 24  # 3 etypes

    # total mass preserved through compaction
    assert (tiered.agg(F.sum("n")).first()[0]
            == hourly.agg(F.sum("n")).first()[0])

    # range straddling the boundary: [day 3, day 8) = 3 coarse days +
    # 2 fine days of hourly rows
    t0, t1 = T0 + dt.timedelta(days=3), T0 + dt.timedelta(days=8)
    got = {(r["etype"], r["q"]): r["est"]
           for r in range_percentile_tiered(
               tiered, t0, t1, [0.5, 0.9], boundary, HOUR, DAY,
               keys=["etype"]).collect()}
    raw = df.where((F.col("ts") >= t0.replace(tzinfo=None))
                   & (F.col("ts") < t1.replace(tzinfo=None)))
    for r in dd_api(raw, "v", ALPHA, NB, keys=["etype"]).collect():
        s = from_bytes(bytes(r["sketch"]))
        for q, est in zip([0.5, 0.9], s.quantile([0.5, 0.9])):
            assert got[(r["etype"], q)] == est
    assert len(got) == 6


def test_tiered_validation(spark, events):
    from ddsketch_spark.operators.rollup import (
        compact_sketch_table, range_percentile_tiered)

    df, _ = events
    hourly = build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR)
    with pytest.raises(ValueError, match="aligned to the coarse"):
        compact_sketch_table(hourly, T0 + dt.timedelta(hours=3), HOUR, DAY)
    boundary = T0 + dt.timedelta(days=6)
    tiered = compact_sketch_table(hourly, boundary, HOUR, DAY)
    # t0 in the coarse tier must be DAY-aligned: an hour-aligned edge
    # there would silently drop the straddled day's data
    with pytest.raises(ValueError, match="coarse tier"):
        range_percentile_tiered(
            tiered, T0 + dt.timedelta(days=2, hours=1),
            T0 + dt.timedelta(days=7), [0.5], boundary, HOUR, DAY)
    # hour-aligned t1 in the fine tier is fine
    out = range_percentile_tiered(
        tiered, T0 + dt.timedelta(days=2),
        T0 + dt.timedelta(days=7, hours=5), [0.5], boundary, HOUR, DAY)
    assert out.count() == 1


def test_collapse_mode_rollup(spark, events):
    """A collapse-mode sketch table (tiny bucket budget on wide-range
    data, partials may collapse a different number of times per bucket)
    must roll up via the level-reconciling merge when the SAME policy is
    passed — and the rolled-up estimates must match a direct collapse-
    mode build at the daily grain."""
    from ddsketch_spark.core.ddsketch import from_bytes
    from ddsketch_spark.operators.rollup import rollup as _rollup

    df, _ = events
    # widen the dynamic range so a 32-bucket budget actually collapses
    wide = df.withColumn(
        "v", F.when(F.col("v").isNotNull(),
                    F.pow(F.col("v") + 1.0, 5.0)).otherwise(F.lit(None)))
    hourly = build_sketch_table(wide, "ts", "v", 0.01, 32, HOUR,
                                keys=["etype"], on_overflow="collapse")
    daily = _rollup(hourly, DAY, HOUR, keys=["etype"],
                    on_overflow="collapse")
    direct = dd_api(
        wide.select(time_bucket("ts", DAY).alias("bucket"), "etype", "v"),
        "v", 0.01, 32, keys=["bucket", "etype"], on_overflow="collapse")
    got = {(r["bucket"], r["etype"]):
           from_bytes(bytes(r["sketch"]), "collapse") for r in daily.collect()}
    want = {(r["bucket"], r["etype"]):
            from_bytes(bytes(r["sketch"]), "collapse") for r in direct.collect()}
    assert got.keys() == want.keys() and len(got) >= 20
    for k in want:
        assert got[k].count == want[k].count
        # collapse order can differ between merge trees; the estimates
        # must agree within the (collapsed) alpha of the coarser side
        a = max(got[k].alpha, want[k].alpha)
        for qa, qb in zip(got[k].quantile([0.5, 0.9]),
                          want[k].quantile([0.5, 0.9])):
            assert abs(qa - qb) <= a * max(abs(qa), abs(qb)) * 2 + 1e-9


def test_rollup_generic_sketch_type_hll(spark, events):
    """A time rollup is just a keyed N-way merge, so it works for ANY
    mergeable sketch given its deserializer: an hourly per-type HLL
    distinct-user table rolled up to daily must carry the exact same
    registers as a direct daily build."""
    from ddsketch_spark.core import hll as hll_mod
    from ddsketch_spark.core.hashing import spark_h64
    from ddsketch_spark.operators.native import hll_agg_native
    from ddsketch_spark.operators.rollup import rollup as _rollup

    df, _ = events
    hashed = df.select(
        time_bucket("ts", HOUR).alias("bucket"), "etype",
        spark_h64(F.col("v").cast("string")).alias("__h"))
    hourly = hll_agg_native(hashed, "__h", p=10, keys=["bucket", "etype"])
    daily = _rollup(hourly, DAY, HOUR, keys=["etype"],
                    from_bytes=hll_mod.from_bytes)
    dhashed = hashed.withColumn(
        "bucket", F.col("bucket") - F.pmod(F.col("bucket"), F.lit(DAY)))
    direct = hll_agg_native(dhashed, "__h", p=10, keys=["bucket", "etype"])
    got = by_key(daily, ["bucket", "etype"])
    want = by_key(direct, ["bucket", "etype"])
    assert got.keys() == want.keys() and len(got) >= 20
    assert all(got[k] == want[k] for k in want)


# ---------------------------------------------------------------- manifest

def _stored_rows(df):
    return sorted((r["bucket"], r["etype"], bytes(r["sketch"]), r["n"],
                   r["pbucket"]) for r in df.collect())


def _days_table(spark, days, start=T0, seed=0):
    """An hourly x etype sketch table over ``days`` days from ``start``."""
    rng = np.random.default_rng(seed)
    n = 40 * days
    pdf = pd.DataFrame({
        "ts": pd.Timestamp(start).tz_localize(None)
              + pd.to_timedelta(rng.integers(0, days * DAY, n), unit="s"),
        "etype": rng.choice(["a", "b"], n),
        "v": rng.lognormal(2.0, 1.0, n),
    })
    return build_sketch_table(spark.createDataFrame(pdf), "ts", "v",
                              ALPHA, NB, HOUR, keys=["etype"])


@pytest.fixture
def dynamic_overwrite(spark):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    yield
    spark.conf.set(key, prev)


def test_manifest_read_submits_no_job(spark, tmp_path, jobs_in_group):
    """40 day partitions (past Spark's 32-path parallel-listing
    threshold) read from the manifest with no Spark job, and hold the
    rows Spark's own directory read finds."""
    path = str(tmp_path / "stored")
    store_sketch_table(_days_table(spark, 40), path)
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(threshold, None)
    group = "rollup-manifest-read"
    spark.sparkContext.setJobGroup(group, group)
    try:
        stored = read_sketch_table(spark, path)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_in_group(group) == 0
    assert spark.conf.get(threshold, None) == before   # raised for load only
    listed = spark.read.parquet(path)
    assert listed.select("pbucket").distinct().count() == 40
    assert _stored_rows(stored) == _stored_rows(listed)
    assert ([(f.name, f.dataType) for f in stored.schema.fields
             if f.name != "pbucket"]
            == [(f.name, f.dataType) for f in listed.schema.fields
                if f.name != "pbucket"])


def test_pbucket_is_long_at_any_date(spark, tmp_path):
    """Spark's partition inference types ``pbucket`` by its values (int
    before 2038-01-19, long after); the manifest keeps the written long."""
    from pyspark.sql.types import LongType

    for start in (T0, dt.datetime(2040, 3, 1, tzinfo=dt.timezone.utc)):
        path = str(tmp_path / f"t{start.year}")
        store_sketch_table(_days_table(spark, 2, start), path)
        stored = read_sketch_table(spark, path)
        assert stored.schema["pbucket"].dataType == LongType()
        assert stored.count() > 0


def test_copied_table_reads_the_same(spark, tmp_path):
    """The manifest names files relative to the table root, so a copied
    table reads the same after its original is deleted."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    store_sketch_table(_days_table(spark, 3), src)
    want = _stored_rows(read_sketch_table(spark, src))
    shutil.copytree(src, dst)
    shutil.rmtree(src)
    assert _stored_rows(read_sketch_table(spark, dst)) == want


def test_ingest_replaces_a_day_and_adds_a_day(spark, tmp_path,
                                              dynamic_overwrite):
    """Under dynamic partition overwrite, an ingest of an existing day
    replaces that day's rows (no duplicates) and keeps the others; an
    ingest of a new day adds its rows."""
    path = str(tmp_path / "stored")
    base = _days_table(spark, 4)
    store_sketch_table(base, path)
    before = _stored_rows(read_sketch_table(spark, path))
    day1 = int(T0.timestamp()) + DAY

    redo = _days_table(spark, 1, T0 + dt.timedelta(days=1), seed=1)
    store_sketch_table(redo, path)
    after = _stored_rows(read_sketch_table(spark, path))
    assert [r for r in after if r[4] != day1] == \
        [r for r in before if r[4] != day1]
    assert [r[:4] for r in after if r[4] == day1] == \
        sorted((r["bucket"], r["etype"], bytes(r["sketch"]), r["n"])
               for r in redo.collect())
    assert len({r[:2] for r in after}) == len(after)

    new = _days_table(spark, 1, T0 + dt.timedelta(days=9), seed=2)
    store_sketch_table(new, path)
    added = _stored_rows(read_sketch_table(spark, path))
    assert len(added) == len(after) + new.count()
    assert set(after) < set(added)
    # three commits; a reader lists only the newest two entries
    assert sorted(f for f in os.listdir(os.path.join(path, "_sketch_log"))
                  if f.endswith(".json")) == [f"{v:020d}.json" for v in (1, 2)]


def test_failed_commit_keeps_previous_snapshot(spark, tmp_path,
                                               dynamic_overwrite,
                                               monkeypatch):
    """An ingest of a new day whose commit fails leaves its files on
    storage but out of the log: readers see the previous rows, byte for
    byte, and a retried ingest gives the rows of an uninterrupted one."""
    from ddsketch_spark.sources import tables

    path, clean = str(tmp_path / "stored"), str(tmp_path / "clean")
    day5 = _days_table(spark, 1, T0 + dt.timedelta(days=5))
    store_sketch_table(_days_table(spark, 3), path)
    before = _stored_rows(read_sketch_table(spark, path))
    entry = tables.read_entry(spark, path)

    def failing_commit(*args, **kwargs):
        raise RuntimeError("commit failed")

    with monkeypatch.context() as m:
        m.setattr(tables, "commit", failing_commit)
        with pytest.raises(RuntimeError, match="commit failed"):
            store_sketch_table(day5, path)
    assert spark.read.parquet(path).count() > len(before)
    assert _stored_rows(read_sketch_table(spark, path)) == before
    assert tables.read_entry(spark, path) == entry

    store_sketch_table(day5, path)
    store_sketch_table(_days_table(spark, 3), clean)
    store_sketch_table(day5, clean)
    assert _stored_rows(read_sketch_table(spark, path)) == \
        _stored_rows(read_sketch_table(spark, clean))


def test_load_paths_round_trips_do_not_grow_with_paths(spark, tmp_path):
    """``tables.load_paths`` hands its paths to the JVM in a fixed number
    of py4j round trips: loading 50 partition directories makes as many
    main-thread calls as loading 5, and every row comes back. A path
    holding the newline that joins them is refused."""
    import threading

    from py4j.java_gateway import GatewayClient

    from ddsketch_spark.sources import tables

    base = str(tmp_path / "t")
    spark.range(50).selectExpr("id", "id AS p").write.partitionBy(
        "p").parquet(base)
    paths = [f"{base}/p={i}" for i in range(50)]
    schema = spark.read.parquet(base).schema
    tables.load_paths(spark, paths[:5], base, schema)  # warm lookups
    main, send = threading.get_ident(), GatewayClient.send_command

    def calls(n):
        made = []

        def counting(client, *args, **kwargs):
            if threading.get_ident() == main:
                made.append(1)
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counting
        try:
            df = tables.load_paths(spark, paths[:n], base, schema)
        finally:
            GatewayClient.send_command = send
        assert sorted(r.p for r in df.collect()) == list(range(n))
        return len(made)

    assert calls(5) == calls(50)
    with pytest.raises(ValueError, match="newline"):
        tables.load_paths(spark, [f"{base}/p=0\nx"], base, schema)


def test_empty_table_reads_zero_rows(spark, tmp_path):
    path = str(tmp_path / "empty")
    table = _days_table(spark, 1).where(F.lit(False))
    store_sketch_table(table, path)
    stored = read_sketch_table(spark, path)
    assert stored.columns == table.columns + ["pbucket"]
    assert stored.collect() == []


def test_directory_without_manifest_raises(spark, tmp_path):
    path = str(tmp_path / "plain")
    _days_table(spark, 1).write.parquet(path)
    with pytest.raises(FileNotFoundError, match="plain"):
        read_sketch_table(spark, path)


# -------------------------------------------------------------- driver fold

def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _node(df):
    return df._jdf.queryExecution().executedPlan().nodeName()


def _in_memory(df):
    """``df``'s rows as an in-memory local relation: a table already
    built, as a stored one is, so questions over it fold on the driver."""
    return df.sparkSession.createDataFrame(df.toArrow(), df.schema)


def _both_paths(monkeypatch, question):
    """``(driver fold, executor merge)`` results of ``question()``."""
    driver = question()
    with monkeypatch.context() as m:
        m.setattr(aggregate, "DRIVER_FOLD_MAX_ROWS", 0)
        executor = question()
    assert _node(driver) == "LocalTableScan" != _node(executor)
    return driver, executor


def test_driver_fold_equals_executor_merge(spark, monkeypatch):
    """The driver fold gives the executor merge's schema and rows: a
    NULL key is a run of its own, and int64 keys past 2^53 beside it stay
    distinct and exact. Merged bytes, summed or counted ``n``, and
    extracted quantiles alike."""
    from ddsketch_spark.operators.aggregate import (
        fold_stored, quantile_extract)

    big = 2 ** 53
    ks = [None, big + 1, big + 2, 7]
    rng = np.random.default_rng(3)
    raw = spark.createDataFrame(
        [(ks[i % 4], i % 3, float(v))
         for i, v in enumerate(rng.lognormal(2.0, 1.0, 600))],
        "k long, part int, v double")
    table = _in_memory(dd_api(raw, "v", ALPHA, NB, keys=["part", "k"]))
    quantiles = quantile_extract([0.5, 0.99])
    for question in (
            lambda: fold_stored(table, "sketch", ["k"]),
            lambda: fold_stored(table, "sketch", ["k"], n_col="n"),
            lambda: fold_stored(table, "sketch", ["k"], **quantiles)):
        driver, executor = _both_paths(monkeypatch, question)
        assert driver.schema == executor.schema
        assert _rows(driver) == _rows(executor)
        assert {r["k"] for r in driver.collect()} == set(ks)


def test_driver_fold_reconciles_collapse_levels(spark, events, monkeypatch):
    """A collapse-mode table whose hourly partials collapsed a different
    number of times rolls up to the executor merge's bytes."""
    from ddsketch_spark.core.ddsketch import from_bytes

    df, _ = events
    wide = df.withColumn(
        "v", F.when(F.col("v").isNotNull(),
                    F.pow(F.col("v") + 1.0, 5.0)).otherwise(F.lit(None)))
    hourly = _in_memory(build_sketch_table(
        wide, "ts", "v", 0.01, 32, HOUR, keys=["etype"],
        on_overflow="collapse"))
    alphas = {}
    for r in hourly.collect():
        day = (r["bucket"] - r["bucket"] % DAY, r["etype"])
        alphas.setdefault(day, set()).add(
            from_bytes(bytes(r["sketch"]), "collapse").alpha)
    assert any(len(a) > 1 for a in alphas.values())
    driver, executor = _both_paths(monkeypatch, lambda: rollup(
        hourly, DAY, HOUR, keys=["etype"], on_overflow="collapse"))
    assert by_key(driver, ["bucket", "etype"]) == \
        by_key(executor, ["bucket", "etype"])


def test_driver_fold_hll_rollup(spark, events, monkeypatch):
    """A rollup through another kernel's ``from_bytes`` (HLL register
    max) folds on the driver to the executor merge's bytes."""
    from ddsketch_spark.core import hll as hll_mod
    from ddsketch_spark.core.hashing import spark_h64
    from ddsketch_spark.operators.native import hll_agg_native

    df, _ = events
    hashed = df.select(
        time_bucket("ts", HOUR).alias("bucket"), "etype",
        spark_h64(F.col("v").cast("string")).alias("__h"))
    hourly = _in_memory(
        hll_agg_native(hashed, "__h", p=10, keys=["bucket", "etype"]))
    driver, executor = _both_paths(monkeypatch, lambda: rollup(
        hourly, DAY, HOUR, keys=["etype"], from_bytes=hll_mod.from_bytes))
    got = by_key(driver, ["bucket", "etype"])
    assert got == by_key(executor, ["bucket", "etype"]) and len(got) >= 20


def test_driver_fold_empty_range(spark, day_store):
    """A range holding no stored row gives zero rows with the executor
    plan's schema."""
    from ddsketch_spark.operators.aggregate import (
        merge_sketches, quantile_extract)

    _, path = day_store
    stored = read_sketch_table(spark, path)
    t0 = T0 + dt.timedelta(days=40)
    got = range_percentile(stored, t0, t0 + dt.timedelta(days=1), [0.5],
                           HOUR, keys=["etype"],
                           partition_granularity_seconds=DAY)
    lazy = merge_sketches(stored.where(F.lit(False)), "sketch", ["etype"],
                          **quantile_extract([0.5]))
    assert _node(got) == "LocalTableScan"
    assert got.schema == lazy.schema and got.collect() == []


def test_streaming_frame_takes_executor_merge(spark, day_store, tmp_path,
                                              fetch_plans):
    """A streaming sketch table is never fetched: the rollup is the
    executor plan, still a streaming frame."""
    hourly, _ = day_store
    src = str(tmp_path / "src")
    hourly.write.parquet(src)
    stream = spark.readStream.schema(hourly.schema).parquet(src)
    daily = rollup(stream, DAY, HOUR, keys=["etype"])
    assert daily.isStreaming and fetch_plans == []


def test_built_table_takes_executor_merge(spark, day_store, fetch_plans):
    """A table still to be built is never fetched: a fetch past the bound
    would build it twice, so its questions are the executor plan."""
    hourly, _ = day_store
    daily = rollup(hourly, DAY, HOUR, keys=["etype"])
    t0 = T0 + dt.timedelta(days=2)
    rng = range_percentile(hourly, t0, t0 + dt.timedelta(days=3), [0.5],
                           HOUR, keys=["etype"])
    assert fetch_plans == []
    assert _node(daily) != "LocalTableScan" != _node(rng)
    assert by_key(daily, ["bucket", "etype"]) == by_key(
        rollup(_in_memory(hourly), DAY, HOUR, keys=["etype"]),
        ["bucket", "etype"])


def test_one_row_past_the_bound_takes_executor_merge(spark, day_store,
                                                     monkeypatch):
    """A table of exactly ``DRIVER_FOLD_MAX_ROWS`` rows folds on the
    driver; one row more takes the executor merge, with the same rows."""
    hourly = _in_memory(day_store[0])
    n = hourly.count()
    results = []
    for bound, local in ((n, True), (n - 1, False)):
        monkeypatch.setattr(aggregate, "DRIVER_FOLD_MAX_ROWS", bound)
        daily = rollup(hourly, DAY, HOUR, keys=["etype"])
        assert (_node(daily) == "LocalTableScan") is local
        results.append(_rows(daily))
    assert results[0] == results[1] and len(results[0]) >= 20


def _key_questions(df, key):
    """A daily rollup and a 3-day range over ``df``'s hourly table."""
    hourly = _in_memory(
        build_sketch_table(df, "ts", "v", ALPHA, NB, HOUR, keys=[key]))
    t0, t1 = T0 + dt.timedelta(days=2), T0 + dt.timedelta(days=5)
    return [rollup(hourly, DAY, HOUR, keys=[key]),
            range_percentile(hourly, t0, t1, [0.5], HOUR, keys=[key])]


@pytest.fixture(scope="module")
def plain_key_answers(events):
    return [(q.columns, _rows(q)) for q in _key_questions(events[0], "etype")]


@pytest.mark.parametrize("name", ["h-1", "a`b", "my v"])
@pytest.mark.parametrize("bound", [None, 0], ids=["driver", "executor"])
def test_hostile_key_names(events, plain_key_answers, monkeypatch, name,
                           bound):
    """A key named ``h-1``, ``a`b`` or ``my v`` builds, rolls up and
    answers a range on the driver fold and on the executor merge, as the
    plain key ``etype`` does."""
    if bound is not None:
        monkeypatch.setattr(aggregate, "DRIVER_FOLD_MAX_ROWS", bound)
    hostile = events[0].withColumnRenamed("etype", name)
    got = _key_questions(hostile, name)
    for q, (columns, rows) in zip(got, plain_key_answers):
        assert q.columns == [name if c == "etype" else c for c in columns]
        assert _rows(q) == rows


def _stage_input_records(spark, stage_id):
    """Input records of stage ``stage_id`` from the driver's status store."""
    sc = spark.sparkContext
    jvm = sc._jvm
    data = sc._jsc.sc().statusStore().stageData(
        stage_id, False, jvm.java.util.ArrayList(), False,
        sc._gateway.new_array(jvm.double, 0))
    return sum(data.apply(i).inputRecords() for i in range(data.size()))


def test_stored_fetch_is_one_task_that_stops_past_its_bound(
        spark, day_store, monkeypatch, jobs_in_group):
    """The stored fetch runs as ``CollectLimit -> Coalesce 1 -> scan``:
    one job of one stage and one task, with no Exchange and no Python
    node. Past the bound it stops reading: at most bound + 1 rows plus
    one columnar batch, where a limit over a shuffle read every row."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    to_arrow = DataFrame.toArrow

    def recording(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return to_arrow(df)

    monkeypatch.setattr(DataFrame, "toArrow", recording)
    stored = read_sketch_table(spark, day_store[1])
    batch = "spark.sql.parquet.columnarReaderBatchSize"
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    for bound, group in ((10_000, "fetch-under"), (10, "fetch-past")):
        monkeypatch.setattr(aggregate, "DRIVER_FOLD_MAX_ROWS", bound)
        spark.conf.set(batch, "16")
        sc.setJobGroup(group, group)
        try:
            rollup(stored, DAY, HOUR, keys=["etype"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.conf.unset(batch)
        assert jobs_in_group(group) == 1
        (job,) = tracker.getJobIdsForGroup(group)
        (stage,) = tracker.getJobInfo(job).stageIds
        assert tracker.getStageInfo(stage).numTasks == 1
        plan = plans.pop()
        lines = plan.splitlines()
        assert lines[0].startswith("CollectLimit"), plan
        assert lines[1].strip() == "+- Coalesce 1", plan
        assert "Exchange" not in plan and not re.search(PYTHON_NODE, plan)
        assert plan.count("FileScan parquet") == 1, plan
        read = _stage_input_records(spark, stage)
        if bound == 10:
            assert read <= bound + 1 + 16 < stored.count()
        else:
            assert read == stored.count()
