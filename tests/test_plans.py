"""Physical-plan regression tests — the 100 TB questions, pinned:

- column pruning reaches the scan (html binary never read for a
  length(text) sketch — ReadSchema check)
- the native DDSketch aggregation runs as a codegen'd HashAggregate with
  map-side partial aggregation; Python appears only in the final
  O(buckets)-row assembly
- filters push down to the parquet scan
- the ANN brute-force join broadcasts the query side
"""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.operators.native import ddsketch_agg_native
from ddsketch_spark.operators.similarity import cosine_topk
from tests.conftest import PYTHON_NODE


def _calls_outside(pattern: str, allowed: set) -> list[str]:
    """Library lines matching ``pattern`` outside the ``(file, top-level
    function)`` pairs in ``allowed``."""
    import ast
    import pathlib

    import ddsketch_spark

    raw = re.compile(pattern)
    root = pathlib.Path(ddsketch_spark.__file__).parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        spans = [(f.lineno, f.end_lineno, f.name)
                 for f in ast.parse(src).body
                 if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))]
        rel = path.relative_to(root).as_posix()
        for n, line in enumerate(src.splitlines(), 1):
            if raw.search(line):
                owner = next((name for a, b, name in spans if a <= n <= b),
                             None)
                if (rel, owner) not in allowed:
                    stray.append(f"{rel}:{n}: {line.strip()}")
    return stray


def test_python_stages_enter_through_two_wrappers():
    """Python receives Arrow data in exactly two places: scalars through
    ``rows.vectorize``, batch stages through ``aggregate.map_batches``.
    A raw ``pandas_udf(`` / ``mapInPandas(`` / ``mapInArrow(`` /
    ``applyInPandas(`` anywhere else in the library is a stage that
    bypasses the exact-integer batch reader."""
    stray = _calls_outside(
        r"pandas_udf\(|mapInPandas\(|mapInArrow\(|applyInPandas\(",
        {("functions/rows.py", "vectorize"),
         ("operators/aggregate.py", "map_batches")})
    assert not stray, "\n".join(stray)


def test_driver_frames_enter_through_local_frame():
    """Every DataFrame the library builds from driver data goes through
    ``plans.local.local_frame``, an Arrow local relation. A raw
    ``createDataFrame(`` of a list plans as a scan of a Python RDD, and
    every action on it starts a Python worker."""
    stray = _calls_outside(r"createDataFrame\(",
                           {("plans/local.py", "local_frame")})
    assert not stray, "\n".join(stray)


def test_every_state_commits_through_one_log():
    """The store, ``run_job`` checkpoints and streaming state commit
    through ``sources.tables.commit``, the one log writer. No rename
    commit, job marker or manifest file is left, save the streaming
    guard that refuses a state of the pre-log layout by its manifest;
    only ``sources/tables.py`` names the log's directory, and only its
    ``commit`` creates or renames a file through a ``FileSystem``."""
    assert not _calls_outside(r"os\.replace\(|_SUCCESS", set())
    assert not _calls_outside(
        r"_manifest\.json", {("streaming/sketch_stream.py", "_state_entry")})
    tables = {("sources/tables.py", f) for f in
              (None, "commit", "read_entry", "read_snapshot")}
    assert not _calls_outside(r"_sketch_log|_LOG_DIR", tables)
    assert not _calls_outside(r"\.create\(|\.rename\(",
                              {("sources/tables.py", "commit")})


def test_local_frame_equals_a_list_frame(spark):
    """``local_frame`` gives what ``createDataFrame`` of the same list
    gives — schema, values, NULLs, a naive timestamp read as local time —
    as a ``LocalTableScan``, empty rows included."""
    import datetime as dt

    from ddsketch_spark.plans.local import local_frame

    schema = ("n long, s string, b binary, d double, a array<long>,"
              " ts timestamp, ok boolean")
    rows = [(1, "a", b"\x00", 1.5, [1, None], dt.datetime(2024, 1, 1, 12),
             True), (None,) * 7]
    got, want = local_frame(spark, rows, schema), spark.createDataFrame(
        rows, schema)
    assert got._jdf.queryExecution().executedPlan().nodeName() == \
        "LocalTableScan"
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    empty = local_frame(spark, [], want.schema)
    assert empty.schema == want.schema and empty.collect() == []


def test_bounded_arrow_returns_none_past_its_bound(spark):
    """``bounded_arrow`` fetches a frame of at most ``max_rows`` rows,
    and answers None for one row more."""
    from ddsketch_spark.plans.local import bounded_arrow

    df = spark.range(5)
    assert bounded_arrow(df, 5).column("id").to_pylist() == [0, 1, 2, 3, 4]
    assert bounded_arrow(df, 4) is None
    assert bounded_arrow(df.where("id < 0"), 0).num_rows == 0


def test_scan_only_reads_stored_or_local_rows(spark, tmp_path):
    """``scan_only`` holds for filters, projections and unions of stored
    or local rows, and not for an aggregate or a streaming frame."""
    from ddsketch_spark.plans.local import local_frame, scan_only

    spark.range(10).write.parquet(str(tmp_path / "t"))
    stored = spark.read.parquet(str(tmp_path / "t"))
    local = local_frame(spark, [(1,)], "id long")
    assert scan_only(stored.where("id > 2").select((F.col("id") + 1)
                                                   .alias("id")))
    assert scan_only(stored.unionByName(local))
    assert not scan_only(stored.groupBy("id").count())
    stream = spark.readStream.schema(stored.schema).parquet(
        str(tmp_path / "t"))
    assert not scan_only(stream)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from ddsketch_spark.sources.webpages import synthesize

    p = str(tmp_path_factory.mktemp("plans") / "pages")
    synthesize(spark, 3000, seed=42, partitions=4).write.parquet(p)
    return p


def test_scan_prunes_html_binary(spark, pages_path):
    docs = spark.read.parquet(pages_path)
    work = docs.select("lang", F.length("text").cast("double").alias("v"))
    agg = ddsketch_agg_native(work, "v", 0.01, 2048, keys=["lang"])
    plan = _plan(agg)
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m, plan
    assert "html" not in m.group(1), m.group(1)
    assert "warc_ts" not in m.group(1), m.group(1)
    assert "text" in m.group(1) and "lang" in m.group(1)


def test_native_agg_is_codegen_hash_aggregate(spark, pages_path):
    docs = spark.read.parquet(pages_path)
    work = docs.select("lang", F.length("text").cast("double").alias("v"))
    agg = ddsketch_agg_native(work, "v", 0.01, 2048, keys=["lang"])
    plan = _plan(agg)
    # partial + final HashAggregate pair on the bucket keys (AQE's
    # formatted explain omits WholeStageCodegen span markers; the
    # HashAggregate nodes themselves are codegen'd operators)
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan  # map-side partial aggregation
    # the ONLY Python stage is the final sorted-run sketch assembly
    # (grouped_apply_sorted: MapInArrow over key-sorted bucket rows —
    # one Arrow batch per 64k rows, NOT one per key like
    # FlatMapGroupsInPandas)
    tree = plan.split("(1) Scan")[0]
    assert tree.count("MapInArrow") == 1, tree
    assert "FlatMapGroupsInPandas" not in plan
    # the bucket computation itself is a JVM expression, before any Python
    assert "LOG(" in plan.upper() or "ln(" in plan


def test_filter_pushdown_reaches_scan(spark, pages_path):
    docs = spark.read.parquet(pages_path)
    q = docs.where(F.col("lang") == "en").select("lang", "text")
    plan = _plan(q)
    assert re.search(r"PushedFilters: \[.*(IsNotNull|EqualTo)\(lang", plan), plan


def test_ann_corpus_never_joined_or_shuffled(spark):
    """Brute-force top-k scores the corpus in ONE MapInArrow pass (the
    query matrix rides in the task closure — r6: replaced the broadcast
    crossJoin + full-corpus window); the corpus is neither joined nor
    exchanged, and the only shuffle input is the per-partition candidate
    rows feeding the final window."""
    rng = np.random.default_rng(3)
    emb = pd.DataFrame({
        "vec_id": range(300),
        "embedding": [rng.normal(0, 0.2, 16).astype(np.float32).tolist()
                      for _ in range(300)],
    })
    df = spark.createDataFrame(emb)
    out = cosine_topk(df, df.where(F.col("vec_id") < 3), 5)
    plan = _plan(out)
    tree = plan.split("\n\n(")[0]          # tree section, before details
    assert tree.count("MapInArrow") == 1, tree
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct",
                 "SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan, plan
    # exactly the window's exchange remains above the scorer
    assert plan.split("MapInArrow")[0].count("Exchange") <= 1, plan


def test_cosine_dup_default_path_not_quadratic(spark):
    """cosine_dup_pairs defaults to the LSH bucket equi-join: the default
    plan must contain NO CartesianProduct / BroadcastNestedLoopJoin (the
    O(n^2) self-join is reachable only via exact=True, r3 review item 5)."""
    from ddsketch_spark.operators.similarity import cosine_dup_pairs

    rng = np.random.default_rng(5)
    emb = pd.DataFrame({
        "vec_id": range(100),
        "embedding": [rng.normal(0, 0.2, 16).astype(np.float32).tolist()
                      for _ in range(100)],
    })
    df = spark.createDataFrame(emb)
    plan = _plan(cosine_dup_pairs(df, 0.9))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:2000]
    exact_plan = _plan(cosine_dup_pairs(df, 0.9, exact=True))
    assert "NestedLoop" in exact_plan or "Cartesian" in exact_plan


def test_partial_aggregation_bounds_shuffle(spark, pages_path):
    """The shuffle between partial and final aggregate carries bucket rows,
    not raw rows: verified by the Exchange sitting between two
    HashAggregates keyed on (lang, __part, __bidx)."""
    docs = spark.read.parquet(pages_path)
    work = docs.select("lang", F.length("text").cast("double").alias("v"))
    agg = ddsketch_agg_native(work, "v", 0.01, 2048, keys=["lang"])
    plan = _plan(agg)
    assert "__bidx" in plan and "__part" in plan
    assert "hashpartitioning(lang" in plan


def test_minhash_pairs_scans_docs_once(spark, tmp_path):
    """The LSH pair plan must contain exactly ONE scan of the documents
    table: the r1 bands self-join shape recomputed the whole
    shingle+signature pipeline for both sides (two scans, ~2.5x slower)."""
    from ddsketch_spark.operators.textops import minhash_lsh_pairs

    p = str(tmp_path / "docs")
    pdf = pd.DataFrame({"id": range(200),
                        "t": [f"document number {i} lorem ipsum" for i in range(200)]})
    spark.createDataFrame(pdf).write.parquet(p)
    pairs = minhash_lsh_pairs(spark.read.parquet(p), "id", "t")
    plan = _plan(pairs)
    # count the numbered node headers, not the tree rendering (each node
    # appears once in the tree and once in the detail section)
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans == 1, f"expected 1 doc scan, plan has {scans}:\n{plan[:2000]}"


def test_rank_bound_verify_single_scan_no_crossjoin(spark):
    """The rank-bound verification is one conditional-sum pass: no
    BroadcastNestedLoopJoin / CartesianProduct row amplification."""
    from ddsketch_spark.queries import kll_rank_bound_price

    out = kll_rank_bound_price(spark, "/root/testdata/sf0.001")
    plan = _plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:2000]
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans == 1, plan[:2000]


def test_windowed_streaming_agg_is_jvm_native(spark, tmp_path):
    """The watermarked windowed sketch aggregation must contain NO Python
    evaluation nodes — the whole operator is built-in expressions +
    streaming HashAggregate over (window, part, bidx) cells."""
    from ddsketch_spark.streaming.sketch_stream import windowed_bucket_counts

    src = str(tmp_path / "plansrc")
    spark.createDataFrame(
        pd.DataFrame({"ts": [pd.Timestamp("2025-01-01")], "v": [1.0]})
    ).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    cells = windowed_bucket_counts(stream, "ts", "v", "1 hour", "10 minutes")
    # streaming DF: use the analyzed/optimized explain string
    text = cells._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended"))
    assert "pythonUDF" not in text and "PythonUDF" not in text, text[:1500]
    assert "window" in text.lower()


def test_keyed_merge_single_exchange_single_python_stage(spark):
    """The sketch-merge path (grouped_apply_sorted) must stay ONE
    repartition Exchange + ONE MapInArrow: a refactor that silently
    double-shuffles or adds a second Python stage would double the
    dominant cost at high key cardinality. Pinned on merge_partials
    standalone (stored partial rows in, merged sketches out), keyed and
    keyless: zero keys gather every row into one partition with no sort
    and no per-group ``FlatMapGroupsInPandas``."""
    import pandas as pd

    from ddsketch_spark.core.ddsketch import DDSketch
    from ddsketch_spark.operators.aggregate import merge_partials

    rows = []
    for k in ("a", "b"):
        s = DDSketch(0.05, 1024).update(np.array([1.0, 2.0]))
        rows.append((k, s.to_bytes(), 2))
    partials = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "sketch", "n"]))
    for keys in (["k"], []):
        merged = merge_partials(partials, keys=keys)
        # keep only the tree portion (the detail section repeats node names)
        tree = _plan(merged).split("(1) ")[0]
        assert tree.count("MapInArrow") == 1, tree[:2000]
        assert tree.count("Exchange") == 1, tree[:2000]
        assert "FlatMapGroupsInPandas" not in tree
        assert keys or "Sort" not in tree, tree[:2000]
        rows_out = merged.collect()
        if keys:
            assert {r["k"] for r in rows_out} == {"a", "b"}
        else:
            assert [r["n"] for r in rows_out] == [4]


def test_sketch_store_roundtrip_scans_written_table(spark):
    """Lifecycle B through storage: the merge plan must read the WRITTEN
    sketch table (a scan of the scratch path), and the result must match
    the in-memory re-aggregation row for row."""
    from ddsketch_spark.queries import (
        SKETCH_STORE_ROOT, dd_reagg_p90_by_flag, dd_sketch_store_roundtrip)

    sf = "/root/testdata/sf0.001"
    out = dd_sketch_store_roundtrip(spark, sf)
    plan = _plan(out)
    assert SKETCH_STORE_ROOT in plan, plan[:2000]
    got = {(r["l_returnflag"], r["q"]): r["est"] for r in out.collect()}
    want = {(r["l_returnflag"], r["q"]): r["est"]
            for r in dd_reagg_p90_by_flag(spark, sf).collect()}
    assert got == want


def test_hll_ndv_native_is_pure_jvm(spark):
    """The HLL NDV estimate path must contain NO Python evaluation nodes
    (two codegen hash aggregations + CASE) and must equal the numpy
    kernel's estimate exactly (the register power sum is an exact integer
    on both sides)."""
    from ddsketch_spark.core.hashing import py_h64, spark_h64
    from ddsketch_spark.core.hll import HLL
    from ddsketch_spark.operators.native import hll_ndv_native

    df = (spark.range(0, 20000)
          .select((F.col("id") % 3).cast("string").alias("k"),
                  spark_h64(F.col("id").cast("string")).alias("h")))
    out = hll_ndv_native(df, "h", p=12, keys=["k"])
    plan = _plan(out)
    assert "Python" not in plan and "MapInArrow" not in plan, plan[:1500]
    got = {r["k"]: r["ndv_est"] for r in out.collect()}
    for k in ("0", "1", "2"):
        want = HLL(12).update(np.array(
            [py_h64(str(i)) for i in range(20000) if i % 3 == int(k)],
            dtype=np.int64)).estimate()
        assert got[k] == want, (k, got[k], want)


def test_cms_bloom_probe_native_pure_jvm_and_kernel_equal(spark):
    """Probe-only CMS/Bloom reads are single codegen aggregations with NO
    Python nodes, and equal the build-then-probe kernel results exactly
    (integer cells / bits are order-free sums and maxes)."""
    from ddsketch_spark.core.bloom import Bloom
    from ddsketch_spark.core.cms import CMS
    from ddsketch_spark.core.hashing import py_h64, spark_h64
    from ddsketch_spark.operators.native import (
        bloom_member_native, cms_freq_native)

    vals = [f"v{i % 57}" for i in range(4000)]
    df = spark.createDataFrame(pd.DataFrame({"s": vals})).select(
        spark_h64("s").alias("h"))
    probes = [py_h64(x) for x in ["v0", "v1", "nope", "v56"]]

    wide = cms_freq_native(df, "h", probes, depth=5, width=512)
    plan = _plan(wide)
    assert "Python" not in plan and "MapInArrow" not in plan, plan[:1500]
    got = wide.collect()[0]
    cms = CMS(5, 512).update(np.array([py_h64(v) for v in vals],
                                      dtype=np.int64))
    want = cms.estimate(np.array(probes, dtype=np.int64))
    assert [got[f"freq_{j}"] for j in range(4)] == [int(x) for x in want]

    bwide = bloom_member_native(df, "h", probes, nbits=1 << 12, k=5)
    bplan = _plan(bwide)
    assert "Python" not in bplan and "MapInArrow" not in bplan
    bgot = bwide.collect()[0]
    bl = Bloom(1 << 12, 5).update(np.array([py_h64(v) for v in vals],
                                           dtype=np.int64))
    bwant = bl.contains(np.array(probes, dtype=np.int64))
    assert [bgot[f"member_{j}"] for j in range(4)] == [bool(x) for x in bwant]

    # saturated filter: tiny bit array forces CROSS-STRIDE collisions —
    # the per-stride-only formulation read false here (r4 sf0.1 catch)
    many = spark.createDataFrame(pd.DataFrame(
        {"s": [f"x{i}" for i in range(3000)]})).select(
        spark_h64("s").alias("h"))
    sat_probes = [py_h64(x) for x in ["absent1", "absent2", "x5"]]
    sgot = bloom_member_native(many, "h", sat_probes,
                               nbits=256, k=5).collect()[0]
    sb = Bloom(256, 5).update(np.array(
        [py_h64(f"x{i}") for i in range(3000)], dtype=np.int64))
    swant = sb.contains(np.array(sat_probes, dtype=np.int64))
    assert [sgot[f"member_{j}"] for j in range(3)] == [bool(x) for x in swant]


@pytest.fixture(scope="module")
def stored_hourly(spark, pages_path, tmp_path_factory):
    """``(stored hourly x lang sketch table, first whole day)`` of the
    pages, written as plain parquet."""
    from ddsketch_spark.operators.rollup import build_sketch_table

    docs = spark.read.parquet(pages_path).select(
        "warc_ts", "lang", F.length("text").cast("double").alias("v"))
    hourly = build_sketch_table(docs, "warc_ts", "v", 0.05, 1024, 3600,
                                keys=["lang"])
    store = str(tmp_path_factory.mktemp("rollup") / "hourly")
    hourly.write.parquet(store)
    stored = spark.read.parquet(store)
    lo = stored.agg(F.min("bucket")).first()[0]
    return stored, (lo // 86400) * 86400 + 86400


def test_rollup_range_filter_pushes_to_stored_scan(stored_hourly,
                                                   executor_merge):
    """The rollup layer's 100 TB claim: a range query over a STORED
    sketch table must push its bucket predicate into the parquet scan
    (only in-range kB rows read) and must not rescan the raw corpus.
    This is the executor merge, taken past the driver-fold bound."""
    from ddsketch_spark.operators.rollup import range_percentile

    stored, t0 = stored_hourly
    q = range_percentile(stored, t0, t0 + 2 * 86400, [0.5], 3600,
                         keys=["lang"])
    plan = _plan(q)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(bucket",
                     plan), plan
    assert re.search(r"PushedFilters: \[.*LessThan\(bucket", plan), plan
    # only the stored sketch table is scanned — never the raw pages
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "text" not in re.search(r"ReadSchema: ([^\n]+)", plan).group(1)


def test_range_driver_fold_fetches_from_stored_scan(stored_hourly,
                                                    fetch_plans):
    """Under the driver-fold bound a range query fetches the in-range
    stored rows with the same pushed-down scan and no Python node, and
    its result is a local relation."""
    from ddsketch_spark.operators.rollup import range_percentile

    stored, t0 = stored_hourly
    q = range_percentile(stored, t0, t0 + 2 * 86400, [0.5], 3600,
                         keys=["lang"])
    (plan,) = fetch_plans
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(bucket",
                     plan), plan
    assert re.search(r"PushedFilters: \[.*LessThan\(bucket", plan), plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not re.search(PYTHON_NODE, plan), plan
    assert q._jdf.queryExecution().executedPlan().nodeName() == \
        "LocalTableScan"


def test_rollup_driver_fold_reads_stored_rows_only(stored_hourly,
                                                   fetch_plans):
    """Coarsening a stored table under the driver-fold bound fetches its
    kB rows in one scan with no shuffle and no Python node, and the
    result is a local relation."""
    from ddsketch_spark.operators.rollup import rollup

    stored, _ = stored_hourly
    daily = rollup(stored, 86400, 3600, keys=["lang"])
    (plan,) = fetch_plans
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Exchange" not in plan and not re.search(PYTHON_NODE, plan), plan
    assert daily._jdf.queryExecution().executedPlan().nodeName() == \
        "LocalTableScan"


def test_rollup_is_single_shuffle_of_sketch_rows(spark, pages_path,
                                                 executor_merge):
    """Coarsening hourly -> daily shuffles only the kB sketch rows: one
    Exchange, keyed by (coarse bucket, lang), with the raw corpus scanned
    exactly once upstream (by the table build, not the rollup). This is
    the executor merge, taken past the driver-fold bound."""
    from ddsketch_spark.operators.rollup import build_sketch_table, rollup

    docs = spark.read.parquet(pages_path).select(
        "warc_ts", "lang", F.length("text").cast("double").alias("v"))
    hourly = build_sketch_table(docs, "warc_ts", "v", 0.05, 1024, 3600,
                                keys=["lang"])
    daily = rollup(hourly, 86400, 3600, keys=["lang"])
    plan = _plan(daily)
    # exactly one shuffle beyond the build's own (build = 1 exchange for
    # the bucket-cell hash agg + its assembly repartition; the rollup
    # adds exactly one more for the coarse-key merge)
    n_ex = lambda p: len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex(plan) == n_ex(_plan(hourly)) + 1, plan


def test_decontamination_broadcasts_probe_shingles(spark):
    """ngram_containment must broadcast the (small) probe shingle set:
    the corpus-side shingle explode feeds a BroadcastHashJoin directly —
    no corpus-wide shuffle before the join, no nested-loop join."""
    from ddsketch_spark.operators.textops import ngram_containment

    pdf = pd.DataFrame({"doc_id": range(300),
                        "text": [f"some document body {i} with text" * 3
                                 for i in range(300)]})
    docs = spark.createDataFrame(pdf)
    probes = (docs.where(F.col("doc_id") % 50 == 0)
              .select(F.col("doc_id").alias("pid"), "text"))
    plan = _plan(ngram_containment(docs, probes, threshold=0.5))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # the only Exchanges are broadcasts + the post-join count-distinct
    # aggregation; the corpus side reaches the join without a shuffle
    tree = plan.split("(1) Scan")[0] or plan
    join_seg = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in join_seg, join_seg[-1500:]


def test_windowed_estimate_readers_are_pure_jvm(spark):
    """The batch probe readers over streamed cells (CMS frequencies,
    Bloom membership) must contain NO Python evaluation nodes — the
    estimate is a broadcast literal join + aggregation."""
    from ddsketch_spark.streaming.sketch_stream import (
        windowed_bloom_members, windowed_cms_estimates)

    cms_cells = spark.createDataFrame(
        pd.DataFrame({"window_start": [pd.Timestamp("2025-01-01")],
                      "window_end": [pd.Timestamp("2025-01-01 01:00")],
                      "__i": [0], "__pos": [5], "__c": [3]}))
    plan = _plan(windowed_cms_estimates(cms_cells, ["a", "b"], 5, 512))
    assert "Python" not in plan and "MapInArrow" not in plan, plan[:1500]
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan

    bloom_cells = spark.createDataFrame(
        pd.DataFrame({"window_start": [pd.Timestamp("2025-01-01")],
                      "window_end": [pd.Timestamp("2025-01-01 01:00")],
                      "__pos": [5]}))
    bplan = _plan(windowed_bloom_members(bloom_cells, ["a", "b"], 128, 5))
    assert "Python" not in bplan and "MapInArrow" not in bplan, bplan[:1500]
