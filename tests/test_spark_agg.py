"""Spark 2-stage aggregation pipeline tests: the distributed result must be
bucket-for-bucket identical to the single-process kernel (stronger than the
reference's parallel==serial check, test/sql/ddsketch.sql:2674-2713)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Column, functions as F

from ddsketch_spark.core import kmv as kmv_mod
from ddsketch_spark.core import spacesaving as ss_mod
from ddsketch_spark.core.ddsketch import DDSketch
from ddsketch_spark.core.hashing import py_h64
from ddsketch_spark.functions.estimators import (
    bloom_contains, cms_estimate, hll_estimate, kll_quantile, tdigest_quantile,
)
from ddsketch_spark.functions.sketch_udfs import (
    sketch_add, sketch_buckets, sketch_count, sketch_from_string, sketch_info,
    sketch_quantile, sketch_quantile_bounds, sketch_rank_of, sketch_to_string,
    sketch_trimmed, sketch_union,
)
from ddsketch_spark.operators import api
from ddsketch_spark.operators.aggregate import sketch_agg

ALPHA, NB = 0.01, 2048


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(42)
    n = 20_000
    pdf = pd.DataFrame({
        "k": rng.integers(0, 5, n),
        "v": np.exp(rng.standard_normal(n)) * 100,
        "w": rng.integers(1, 10, n),
    })
    # sprinkle NULLs: every 100th value (reference NULL-skipping semantics)
    pdf.loc[::100, "v"] = None
    return spark.createDataFrame(pdf).repartition(8), pdf


def kernel_sketch(values):
    v = np.asarray(values, dtype=np.float64)
    return DDSketch(ALPHA, NB).update(v)


def test_global_agg_matches_kernel(data):
    df, pdf = data
    out = sketch_agg(df, "v").collect()
    assert len(out) == 1
    got = DDSketch.from_bytes(bytes(out[0]["sketch"]))
    want = kernel_sketch(pdf["v"].to_numpy(dtype="float64"))
    assert got == want
    assert out[0]["n"] == len(pdf)  # lineage row count includes NULL rows seen


def test_groupby_agg_matches_kernel_per_key(data):
    df, pdf = data
    rows = sketch_agg(df, "v", keys=["k"]).collect()
    assert len(rows) == 5
    for r in rows:
        grp = pdf[pdf["k"] == r["k"]]["v"].to_numpy(dtype="float64")
        assert DDSketch.from_bytes(bytes(r["sketch"])) == kernel_sketch(grp)


def test_partitioning_invariance(data):
    df, _ = data
    b1 = sketch_agg(df.repartition(1), "v").collect()[0]["sketch"]
    b16 = sketch_agg(df.repartition(16), "v").collect()[0]["sketch"]
    assert bytes(b1) == bytes(b16)


def test_auto_merge_fanout_threshold():
    from ddsketch_spark.operators.aggregate import auto_merge_fanout

    assert auto_merge_fanout(1) is None
    assert auto_merge_fanout(512) is None          # at the threshold: gather
    assert auto_merge_fanout(513) == 23            # ceil(sqrt(513))
    assert auto_merge_fanout(10_000) == 100        # 10k-task scan -> 100
    assert auto_merge_fanout(100_000_000) == 4096  # capped


def test_premerge_partials_identical_result(data):
    """An executor pre-merge round must not change the final sketch:
    the standalone premerge_partials of the auto-escalating gather
    path."""
    from ddsketch_spark.core.ddsketch import from_bytes as dd_from_bytes
    from ddsketch_spark.operators.aggregate import (
        premerge_partials, sketch_partials)

    df, pdf = data
    parts = sketch_partials(df.repartition(16), "v")
    pre = premerge_partials(parts, 3, dd_from_bytes)
    rows = pre.collect()
    assert 1 <= len(rows) <= 3          # bounded by the fanout
    assert all(r["part_id"] < 3 for r in rows)
    acc = None
    for r in rows:
        s = DDSketch.from_bytes(bytes(r["sketch"]))
        acc = s if acc is None else acc.merge(s)
    want = kernel_sketch(pdf["v"].to_numpy(dtype="float64"))
    assert acc == want
    assert sum(r["n"] for r in rows) == len(pdf)


def test_weighted_agg(data):
    df, pdf = data
    out = sketch_agg(df, "v", weight_col="w").collect()[0]
    mask = pdf["v"].notna()
    want = DDSketch(ALPHA, NB).update(
        pdf.loc[mask, "v"].to_numpy(dtype="float64"),
        pdf.loc[mask, "w"].to_numpy(dtype="float64"),
    )
    assert DDSketch.from_bytes(bytes(out["sketch"])) == want


def test_percentile_within_alpha(data):
    df, pdf = data
    rows = api.ddsketch_percentile(
        df, "v", ALPHA, NB, [0.5, 0.9, 0.99], keys=["k"], alias="p"
    ).collect()
    for r in rows:
        grp = pdf[(pdf["k"] == r["k"]) & pdf["v"].notna()]["v"].to_numpy()
        exact = np.quantile(grp, [0.5, 0.9, 0.99], method="lower")
        est = np.array(r["p"])
        assert np.all(np.abs(est - exact) / exact <= ALPHA * 1.01)


def test_reaggregate_stored_sketches(spark, data):
    """The ``*_from_sketches`` aggregates read a stored sketch column of
    any name: ``merge_sketches`` names its output ``sketch``."""
    df, pdf = data
    allv = pdf[pdf["v"].notna()]["v"].to_numpy()
    want = kernel_sketch(allv)
    built = sketch_agg(df, "v", keys=["k"])  # keys..., sketch, n
    for col in ("sketch", "sk", "my `sk"):
        stored = built.withColumnRenamed("sketch", col)
        got = api.ddsketch_percentile_from_sketches(
            stored, col, 0.9, alias="p90").collect()[0]["p90"]
        assert got == pytest.approx(float(want.quantile(0.9)), rel=1e-12)
        rank = api.ddsketch_percentile_of_from_sketches(
            stored, col, 100.0).collect()[0]["percentile_of"]
        assert rank == pytest.approx(float(want.rank_of(100.0)), rel=1e-12)
        for fn, kind, exact in (
                (api.ddsketch_avg_from_sketches, "avg", want.trimmed_avg),
                (api.ddsketch_sum_from_sketches, "sum", want.trimmed_sum)):
            got = fn(stored, col, 0.1, 0.9).collect()[0][kind]
            assert got == pytest.approx(exact(0.1, 0.9), rel=1e-12), col


def test_scalar_udfs(spark, data):
    df, pdf = data
    stored = sketch_agg(df, "v", keys=["k"]).cache()
    # count
    counts = stored.select("k", sketch_count("sketch").alias("c")).collect()
    for r in counts:
        assert r["c"] == int(pdf[pdf["k"] == r["k"]]["v"].notna().sum())
    # info
    inf = stored.select(sketch_info(F.col("sketch")).alias("i")).select("i.*").collect()[0]
    assert inf["alpha"] == ALPHA and inf["maxbuckets"] == NB and inf["flags"] == 0
    # union of two stored sketches == kernel merge
    two = stored.limit(2).collect()
    a, b = bytes(two[0]["sketch"]), bytes(two[1]["sketch"])
    pair = spark.createDataFrame([(bytearray(a), bytearray(b))], "a binary, b binary")
    u = bytes(pair.select(sketch_union(F.col("a"), F.col("b")).alias("u")).collect()[0]["u"])
    assert u == DDSketch.from_bytes(a).merge(DDSketch.from_bytes(b)).to_bytes()
    # null-tolerant union
    pair_n = spark.createDataFrame([(bytearray(a), None)], "a binary, b binary")
    u2 = bytes(pair_n.select(sketch_union(F.col("a"), F.col("b")).alias("u")).collect()[0]["u"])
    assert u2 == a
    # add: incremental insert matches kernel add
    one = spark.createDataFrame([(bytearray(a),)], "s binary")
    added = bytes(one.select(sketch_add(F.col("s"), 123.45).alias("s2")).collect()[0]["s2"])
    assert added == DDSketch.from_bytes(a).add(123.45).to_bytes()
    # buckets explode: counts sum to count - zero_count
    ex = (stored.select("k", F.explode(sketch_buckets(F.col("sketch"))).alias("b"))
          .groupBy("k").agg(F.sum("b.count").alias("s")).collect())
    for r in ex:
        sk = DDSketch.from_bytes(bytes(
            [x["sketch"] for x in stored.collect() if x["k"] == r["k"]][0]))
        assert r["s"] == sk.count - sk.zero_count
    # to_string round-trip via Spark
    txt = stored.select(sketch_to_string(F.col("sketch")).alias("t")).collect()[0]["t"]
    assert txt.startswith("flags 0 count ")
    stored.unpersist()


def test_trimmed_api(data):
    df, pdf = data
    allv = pdf[pdf["v"].notna()]["v"].to_numpy()
    r = api.ddsketch_avg(df, "v", ALPHA, NB, 0.25, 0.75, alias="tavg").collect()[0]
    lo, hi = np.quantile(allv, [0.25, 0.75])
    mid = allv[(allv >= lo) & (allv <= hi)].mean()
    assert abs(r["tavg"] - mid) / mid < 0.1


def test_sketch_add_array_bulk_insert(spark):
    from ddsketch_spark.functions.sketch_udfs import sketch_add_array

    base = DDSketch(ALPHA, NB).update(np.array([1.0, 2.0, 3.0]))
    one = spark.createDataFrame(
        pd.DataFrame({"s": [base.to_bytes()],
                      "vals": [[10.0, 20.0, 30.0]]}))
    out = bytes(one.select(
        sketch_add_array(F.col("s"), "vals", ALPHA, NB).alias("s2")
    ).collect()[0]["s2"])
    want = base.copy().update(np.array([10.0, 20.0, 30.0]))
    assert DDSketch.from_bytes(out) == want
    # NULL sketch initializes fresh (reference ddsketch_add semantics)
    two = spark.createDataFrame(
        pd.DataFrame({"s": [None], "vals": [[5.0, 6.0]]}))
    out2 = bytes(two.select(
        sketch_add_array(F.col("s"), "vals", ALPHA, NB).alias("s2")
    ).collect()[0]["s2"])
    assert DDSketch.from_bytes(out2) == DDSketch(ALPHA, NB).update(np.array([5.0, 6.0]))


def test_sketch_table_storage_roundtrip(spark, tmp_path, data):
    """Lifecycle B through real storage (README.md:121-124): write the
    fine-grained sketch table partitioned by key (the Iceberg-layout
    parquet fallback, sources/tables.py), read it back, merge up and
    extract — identical to the direct build."""
    from ddsketch_spark.functions.sketch_udfs import sketch_quantile
    from ddsketch_spark.operators.aggregate import merge_sketches
    from ddsketch_spark.sources.tables import read_table, write_table

    df, pdf = data
    fine = api.ddsketch(df.withColumn("k2", F.col("k") % 2), "v", ALPHA, NB,
                        keys=["k", "k2"])
    path = str(tmp_path / "sketch_table")
    write_table(fine, path, partition_by=["k"])
    stored = read_table(spark, path)
    merged = merge_sketches(stored, "sketch", keys=["k"])
    got = {r["k"]: bytes(r["sketch"]) for r in merged.collect()}
    direct = {r["k"]: bytes(r["sketch"])
              for r in api.ddsketch(df, "v", ALPHA, NB, keys=["k"]).collect()}
    assert set(got) == set(direct)
    for k in got:
        assert DDSketch.from_bytes(got[k]) == DDSketch.from_bytes(direct[k]), k


def test_sql_function_surface(spark, data):
    """SQL users can query sketch tables like the reference's SQL users
    (README.md:59-124) after register_sql_functions."""
    from ddsketch_spark.functions.register import register_sql_functions

    register_sql_functions(spark)
    df, pdf = data
    api.ddsketch(df, "v", ALPHA, NB, keys=["k"]).createOrReplaceTempView(
        "sketches")
    rows = spark.sql("""
        SELECT k, ddsketch_percentile(sketch, 0.9) AS p90,
               ddsketch_count(sketch) AS cnt,
               ddsketch_percentile_of(sketch, 100.0) AS r100
        FROM sketches ORDER BY k
    """).collect()
    for r in rows:
        sub = pdf[pdf["k"] == r["k"]]["v"].dropna().to_numpy(dtype="float64")
        want = DDSketch(ALPHA, NB).update(sub)
        assert r["p90"] == float(want.quantile(0.9))
        assert r["cnt"] == want.count
        assert r["r100"] == float(want.rank_of(100.0))
    # union + text round-trip through SQL
    one = spark.sql("""
        SELECT ddsketch_count(ddsketch_union(a.sketch, b.sketch)) AS c,
               ddsketch_count(ddsketch_in(ddsketch_out(a.sketch))) AS rt
        FROM (SELECT sketch FROM sketches WHERE k = 0) a
        CROSS JOIN (SELECT sketch FROM sketches WHERE k = 1) b
    """).collect()[0]
    k0 = pdf[pdf["k"] == 0]["v"].dropna()
    k1 = pdf[pdf["k"] == 1]["v"].dropna()
    assert one["c"] == len(k0) + len(k1)
    assert one["rt"] == len(k0)


def test_table_format_switch_roundtrip(spark, tmp_path, data, monkeypatch):
    """DDSKETCH_SPARK_TABLE_FORMAT is honored at call time: the same
    write_table/read_table path round-trips sketches through a second real
    columnar format (ORC stands in for Iceberg's parquet-under-catalog in
    this jar-less sandbox), and requesting iceberg without a runtime jar
    fails LOUDLY (DATA_SOURCE_NOT_FOUND) rather than silently writing
    parquet — the CI-style proof that dropping the Iceberg runtime on the
    classpath is a pure config change (SURVEY §7.2)."""
    import pytest as _pytest

    from ddsketch_spark.sources.tables import read_table, write_table

    df, pdf = data
    fine = api.ddsketch(df, "v", ALPHA, NB, keys=["k"])

    monkeypatch.setenv("DDSKETCH_SPARK_TABLE_FORMAT", "orc")
    path = str(tmp_path / "sketch_table_orc")
    write_table(fine, path, partition_by=["k"])
    stored = read_table(spark, path)
    import os as _os
    assert any(f.endswith(".orc") for root, _, files in _os.walk(path)
               for f in files), "switch not honored: no ORC files written"
    got = {r["k"]: bytes(r["sketch"]) for r in stored.collect()}
    direct = {r["k"]: bytes(r["sketch"]) for r in fine.collect()}
    assert got == direct

    monkeypatch.setenv("DDSKETCH_SPARK_TABLE_FORMAT", "iceberg")
    with _pytest.raises(Exception, match="(?i)iceberg"):
        write_table(fine, str(tmp_path / "nope"))


@pytest.mark.parametrize("key", ["__bucket", "lang code"])
def test_map_side_combine_any_key_name(spark, key):
    """A keyed merge_partials works for key columns whose names are not
    plain Python identifiers: a leading underscore (the maintainer's
    ``__bucket``) or a space. Several same-key partials share each input
    partition."""
    from ddsketch_spark.operators.aggregate import merge_partials

    rng = np.random.default_rng(31)
    rows, vals = [], {"a": [], "b": []}
    for i in range(24):
        k = "ab"[i % 2]
        v = np.exp(rng.standard_normal(50))
        vals[k].append(v)
        rows.append((k, DDSketch(ALPHA, NB).update(v).to_bytes(), 50))
    partials = spark.createDataFrame(
        pd.DataFrame(rows, columns=[key, "sketch", "n"])).coalesce(2)
    got = {r[key]: (bytes(r["sketch"]), r["n"])
           for r in merge_partials(partials, keys=[key]).collect()}
    assert got.keys() == {"a", "b"}
    for k, vs in vals.items():
        want = DDSketch(ALPHA, NB).update(np.concatenate(vs))
        assert DDSketch.from_bytes(got[k][0]) == want, k
        assert got[k][1] == 50 * len(vs)


def test_sibling_sql_function_surface(spark, data):
    """SQL users can extract NDV/freq/membership/quantiles from stored
    sibling-sketch tables, like the reference's SQL surface for DDSketch."""
    import numpy as np

    from ddsketch_spark.core.hashing import py_h64, spark_h64
    from ddsketch_spark.core.hll import HLL
    from ddsketch_spark.core.kll import KLL
    from ddsketch_spark.core import kll as kll_mod
    from ddsketch_spark.functions.register import register_sibling_sql_functions

    register_sibling_sql_functions(spark)
    df, pdf = data

    hdf = df.select(spark_h64(F.col("v").cast("string")).alias("h"))
    sketch_agg(hdf, "h", factory=lambda: HLL(12),
               from_bytes=__import__("ddsketch_spark.core.hll",
                                     fromlist=["from_bytes"]).from_bytes) \
        .createOrReplaceTempView("hll_t")
    got = spark.sql("SELECT hll_ndv(sketch) AS ndv FROM hll_t").collect()[0]["ndv"]
    want = HLL(12)
    want.update(np.array([py_h64(str(v)) for v in pdf["v"]], dtype=np.int64))
    assert got == pytest.approx(want.estimate())

    sketch_agg(df, "v", factory=lambda: KLL(200),
               from_bytes=kll_mod.from_bytes).createOrReplaceTempView("kll_t")
    est = spark.sql("SELECT kll_quantile(sketch, 0.5) AS m FROM kll_t").collect()[0]["m"]
    assert abs(np.mean(pdf["v"] <= est) - 0.5) < 0.1

    # KMV + SpaceSaving SQL surface
    from ddsketch_spark.core import kmv as kmv_mod
    from ddsketch_spark.core.kmv import KMV

    sketch_agg(hdf, "h", factory=lambda: KMV(256),
               from_bytes=kmv_mod.from_bytes).createOrReplaceTempView("kmv_t")
    kndv = spark.sql("SELECT kmv_ndv(sketch) AS n FROM kmv_t").collect()[0]["n"]
    kwant = KMV(256).update(np.array([py_h64(str(v)) for v in pdf["v"]],
                                     dtype=np.int64))
    assert kndv == kwant.estimate()
    kint = spark.sql(
        "SELECT kmv_intersection(a.sketch, b.sketch) AS i "
        "FROM kmv_t a CROSS JOIN kmv_t b").collect()[0]["i"]
    assert kint == pytest.approx(kwant.estimate())   # self-intersection

    from ddsketch_spark.core import spacesaving as ss_mod
    from ddsketch_spark.core.spacesaving import SpaceSaving

    toks = df.select(F.concat(F.lit("t"), (F.col("k") % 3)).alias("s"))
    sketch_agg(toks, "s", factory=lambda: SpaceSaving(64),
               from_bytes=ss_mod.from_bytes).createOrReplaceTempView("ss_t")
    c0 = spark.sql("SELECT spacesaving_count(sketch, 't0') AS c FROM ss_t") \
        .collect()[0]["c"]
    assert c0 == int((pdf["k"] % 3 == 0).sum())


def _sql_twin_view(spark, pdf):
    """Temp view ``sql_twins``: one row of every sketch kind per key of the
    ``data`` fixture, plus an all-NULL row; built once per session."""
    if spark.catalog.tableExists("sql_twins"):
        return
    from ddsketch_spark.core import bloom, cms, hll, kll, tdigest

    rows = []
    for k, grp in pdf.groupby("k"):
        v = grp["v"].to_numpy(dtype="float64")[:2000]
        vals = v[~np.isnan(v)]
        hs = np.array([py_h64(str(int(x))) for x in vals], dtype=np.int64)
        toks = [f"t{int(x) % 5}" for x in vals]
        dd = DDSketch(ALPHA, NB).update(vals)
        sk = [dd, None if k == 1 else DDSketch(ALPHA, NB).update(vals + k),
              hll.HLL(12).update(hs), cms.CMS(4, 256).update(hs),
              bloom.Bloom(1 << 12, 3).update(hs), kll.KLL(200).update(vals),
              tdigest.TDigest(100.0).update(vals), kmv_mod.KMV(64).update(hs),
              ss_mod.SpaceSaving(16).update(toks)]
        rows.append((int(k), *[bytearray(s.to_bytes()) if s else None
                               for s in sk],
                     dd.to_string(), [None, float("nan"), 5.0][k % 3]))
    rows.append((99,) + (None,) * 11)
    spark.createDataFrame(rows, (
        "k int, dd binary, dd2 binary, hll binary, cms binary, bloom binary,"
        " kll binary, td binary, kmv binary, ss binary, txt string, v double")
    ).createOrReplaceTempView("sql_twins")


def _kernel_twin(col, fn):
    return lambda t: [None if r[col] is None else fn(bytes(r[col]))
                      for r in t.orderBy("k").collect()]


_H = py_h64("100")
# SQL name -> (SQL call, Python-helper twin); the three names without a
# Column helper are checked against the core kernel instead
SQL_TWINS = {
    "ddsketch_percentile": ("ddsketch_percentile(dd, 0.9)",
                            lambda: sketch_quantile(F.col("dd"), 0.9)),
    "ddsketch_percentile_bounds": (
        "ddsketch_percentile_bounds(dd, 0.5)",
        lambda: F.coalesce(
            sketch_quantile_bounds(F.col("dd"), 0.5)[0],
            F.struct(*[F.lit(None).cast("double").alias(n)
                       for n in ("lo", "est", "hi")]))),
    "ddsketch_percentile_of": ("ddsketch_percentile_of(dd, 100.0)",
                               lambda: sketch_rank_of(F.col("dd"), 100.0)),
    "ddsketch_count": ("ddsketch_count(dd)", lambda: sketch_count("dd")),
    "ddsketch_sketch_sum": (
        "ddsketch_sketch_sum(dd, 0.1, 0.9)",
        lambda: sketch_trimmed(F.col("dd"), 0.1, 0.9, "sum")),
    "ddsketch_sketch_avg": (
        "ddsketch_sketch_avg(dd, 0.2, 0.8)",
        lambda: sketch_trimmed(F.col("dd"), 0.2, 0.8, "avg")),
    "ddsketch_union": ("ddsketch_union(dd2, dd)",
                       lambda: sketch_union(F.col("dd2"), F.col("dd"))),
    "ddsketch_add": ("ddsketch_add(dd2, v, 0.02, 1024)",
                     lambda: sketch_add(F.col("dd2"), F.col("v"), 1, 0.02,
                                        1024)),
    "ddsketch_out": ("ddsketch_out(dd)", lambda: sketch_to_string("dd")),
    "ddsketch_in": ("ddsketch_in(txt)",
                    lambda: sketch_from_string(F.col("txt"))),
    "hll_ndv": ("hll_ndv(hll)", lambda: hll_estimate(F.col("hll"))),
    "cms_freq": (f"cms_freq(cms, {_H})",
                 lambda: cms_estimate(F.col("cms"), [_H])[0]),
    "bloom_might_contain": (f"bloom_might_contain(bloom, {_H})",
                            lambda: bloom_contains(F.col("bloom"), [_H])[0]),
    "kll_quantile": ("kll_quantile(kll, 0.5)",
                     lambda: kll_quantile(F.col("kll"), 0.5)),
    "tdigest_quantile": ("tdigest_quantile(td, 0.5)",
                         lambda: tdigest_quantile(F.col("td"), 0.5)),
    "kmv_ndv": ("kmv_ndv(kmv)", lambda: _kernel_twin(
        "kmv", lambda b: kmv_mod.from_bytes(b).estimate())),
    "kmv_intersection": ("kmv_intersection(kmv, kmv)", lambda: _kernel_twin(
        "kmv", lambda b: kmv_mod.intersection_estimate(
            kmv_mod.from_bytes(b), kmv_mod.from_bytes(b)))),
    "spacesaving_count": ("spacesaving_count(ss, 't1')", lambda: _kernel_twin(
        "ss", lambda b: (ss_mod.from_bytes(b).get("t1") or (0,))[0])),
}


@pytest.mark.parametrize("name", sorted(SQL_TWINS))
def test_sql_function_matches_python_twin(spark, data, name):
    """Every registered SQL name returns what its Python helper returns on
    the same sketch table, NULL sketch rows included."""
    from ddsketch_spark.functions.register import register_sql_functions

    register_sql_functions(spark)
    _sql_twin_view(spark, data[1])
    t = spark.table("sql_twins")
    call, twin = SQL_TWINS[name]
    got = [r["r"] for r in spark.sql(
        f"SELECT k, {call} AS r FROM sql_twins ORDER BY k").collect()]
    twin = twin()
    want = ([r["r"] for r in t.select("k", twin.alias("r")).orderBy("k")
             .collect()] if isinstance(twin, Column) else twin(t))
    assert len(got) == 6 and got[-1] in (None, (None, None, None))
    assert got == want


def test_sql_name_table_is_what_registers(spark, monkeypatch):
    """register_sql_functions registers exactly the name table (no second,
    forked registration path), and the parity test covers all of it."""
    from pyspark.sql.udf import UDFRegistration

    from ddsketch_spark.functions.register import (
        register_sibling_sql_functions, register_sql_functions,
    )
    from ddsketch_spark.functions.rows import SQL_FUNCTIONS

    seen = []
    monkeypatch.setattr(UDFRegistration, "register",
                        lambda self, name, f: seen.append(name))
    register_sql_functions(spark)
    assert sorted(seen) == sorted(SQL_FUNCTIONS) == sorted(SQL_TWINS)
    seen.clear()
    register_sibling_sql_functions(spark)
    assert sorted(seen) == sorted(SQL_FUNCTIONS)


def test_sql_null_arguments_give_null(spark):
    """A NULL argument yields NULL (the reference's STRICT functions) rather
    than crashing the Python worker."""
    from ddsketch_spark.functions.register import register_sql_functions

    register_sql_functions(spark)
    one = DDSketch(ALPHA, NB).update([1.0, 2.0, 3.0])
    spark.createDataFrame([(bytearray(one.to_bytes()),)], "s binary") \
        .createOrReplaceTempView("one_sketch")
    row = spark.sql("""
        SELECT ddsketch_sketch_sum(s, NULL, 0.9) AS a,
               ddsketch_sketch_avg(s, 0.1, CAST(NULL AS DOUBLE)) AS b,
               ddsketch_add(NULL, 1.0, NULL, NULL) AS c,
               ddsketch_percentile(s, NULL) AS d,
               ddsketch_percentile_of(NULL, 1.0) AS e,
               cms_freq(NULL, 5) AS f,
               spacesaving_count(s, NULL) AS g
        FROM one_sketch""").collect()[0]
    assert row.asDict() == dict.fromkeys("abcdefg")
    # the NULL-tolerant arguments keep the reference semantics
    fresh = spark.sql("SELECT ddsketch_add(NULL, 1.0, 0.01, 2048) AS s "
                      "FROM one_sketch").collect()[0]["s"]
    assert bytes(fresh) == DDSketch(ALPHA, NB).add(1.0).to_bytes()
    # alpha / nbuckets are read only for a NULL sketch (reference default
    # nbuckets=NULL): a stored sketch still takes the value
    grown = spark.sql("SELECT ddsketch_add(s, 1.0, 0.01, NULL) AS s "
                      "FROM one_sketch").collect()[0]["s"]
    assert bytes(grown) == one.add(1.0).to_bytes()


@pytest.mark.parametrize("call", [
    "ddsketch_add(s, 2.0, 10, 0.01, 1024)",
    "ddsketch_add(CAST(NULL AS BINARY), 2.0, 0.01, 1024, NULL)",
    "ddsketch_sketch_sum(s, 0.1, 0.9, true)",
    "ddsketch_percentile(s)",
])
def test_sql_names_reject_other_arities(spark, call):
    """Each SQL name takes exactly the reference's argument list: an extra
    or missing argument is an error, never silently read as an option."""
    from ddsketch_spark.functions.register import register_sql_functions

    register_sql_functions(spark)
    one = DDSketch(ALPHA, NB).update([1.0, 2.0, 3.0])
    spark.createDataFrame([(bytearray(one.to_bytes()),)], "s binary") \
        .createOrReplaceTempView("one_sketch")
    with pytest.raises(Exception, match="arguments, got"):
        spark.sql(f"SELECT {call} AS r FROM one_sketch").collect()


def test_collapse_mode_distributed_agg_matches_serial(spark):
    """2-stage aggregation with a tiny collapse-mode bucket budget: each
    partition's partial may collapse a different number of times; the
    merge reconciles levels down the alpha chain and the final sketch
    must equal the serial single-process build bit-for-bit."""
    import functools

    from ddsketch_spark.core.ddsketch import from_bytes as dd_from_bytes

    rng = np.random.default_rng(23)
    vals = np.power(10.0, rng.uniform(-12, 12, 30000))
    df = spark.createDataFrame(pd.DataFrame({"v": vals})).repartition(16)
    factory = lambda: DDSketch(0.01, 32, on_overflow="collapse")  # noqa: E731
    fb = functools.partial(dd_from_bytes, on_overflow="collapse")
    out = sketch_agg(df, "v", factory=factory, from_bytes=fb).collect()
    got = DDSketch.from_bytes(bytes(out[0]["sketch"]), on_overflow="collapse")
    want = DDSketch(0.01, 32, on_overflow="collapse").update(vals)
    assert got == want
    assert len(got.neg) + len(got.pos) <= 32
    assert got.alpha > 0.01          # collapse genuinely happened


def test_gather_auto_premerge_wiring(spark, monkeypatch):
    """_gather_estimates must produce bit-identical estimates when the
    auto pre-merge round fires (fanout forced on) as when it gathers raw
    per-task partials — pinning the r4 auto-escalation wiring end-to-end.
    Uses DDSketch (exactly associative merge) so equality is exact."""
    from ddsketch_spark.core.ddsketch import from_bytes as dd_from_bytes
    from ddsketch_spark.operators import aggregate as agg_mod
    from ddsketch_spark.queries import _gather_estimates

    df = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select(F.col("l_extendedprice").alias("v")).repartition(8))
    plain = _gather_estimates(df, lambda: DDSketch(0.01, 2048),
                              dd_from_bytes)
    monkeypatch.setattr(agg_mod, "auto_merge_fanout", lambda n: 3)
    forced = _gather_estimates(df, lambda: DDSketch(0.01, 2048),
                               dd_from_bytes)
    assert list(plain) == list(forced)


def test_collapse_factory_default_from_bytes(spark):
    """sketch_agg with a collapse-mode factory and the DEFAULT
    deserializer: partials that collapsed a different number of times
    must still merge. resolve_from_bytes threads the factory's
    on_overflow into partial deserialization (r4 ADVICE: the default
    'error' deserializer made the merge stage raise alpha-mismatch, so
    only tests that passed an explicit from_bytes exercised the
    reconciling merge)."""
    rng = np.random.default_rng(77)
    vals = np.power(10.0, rng.uniform(-12, 12, 30000))
    df = spark.createDataFrame(pd.DataFrame({"v": vals})).repartition(16)
    out = sketch_agg(
        df, "v",
        factory=lambda: DDSketch(0.01, 32, on_overflow="collapse")).collect()
    got = DDSketch.from_bytes(bytes(out[0]["sketch"]), on_overflow="collapse")
    want = DDSketch(0.01, 32, on_overflow="collapse").update(vals)
    assert got == want
    assert got.alpha > 0.01          # collapse genuinely happened


def test_table_cache_handle_reuse_and_invalidation(spark):
    """_TABLE_CACHE pins: repeated _t calls reuse one plan handle (the
    ~115 ms listing+schema cost is paid once per session) and
    clear_table_cache drops the pin so a rewritten table re-lists."""
    from ddsketch_spark import queries as qmod

    d1 = qmod._t(spark, "/root/testdata/sf0.001", "lineitem")
    d2 = qmod._t(spark, "/root/testdata/sf0.001", "lineitem")
    assert d1 is d2
    qmod.clear_table_cache()
    d3 = qmod._t(spark, "/root/testdata/sf0.001", "lineitem")
    assert d3 is not d1


def test_precombine_ddsketch_bit_identical(spark):
    """precombine=True (JVM-side duplicate collapse -> weighted update)
    must produce the IDENTICAL sketch to the plain row-at-a-time path for
    the deterministic kernels — weighted insert == repeated insert."""
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "k": rng.integers(0, 3, 30_000),
        # discrete values with heavy repetition (doc-length shape)
        "v": rng.integers(1, 500, 30_000).astype(float),
    })
    pdf.loc[::90, "v"] = None
    df = spark.createDataFrame(pdf).repartition(6)
    plain = {r["k"]: (bytes(r["sketch"]), r["n"]) for r in
             sketch_agg(df, "v", keys=["k"],
                        factory=lambda: DDSketch(ALPHA, NB)).collect()}
    pre = {r["k"]: (bytes(r["sketch"]), r["n"]) for r in
           sketch_agg(df, "v", keys=["k"], factory=lambda: DDSketch(ALPHA, NB),
                      precombine=True).collect()}
    assert plain == pre and len(pre) == 3


def test_precombine_weighted_and_kll_bounds(spark):
    """With an explicit weight column, precombine sums weights per
    distinct value (same sketch for DDSketch); for the randomized KLL the
    count matches exactly and the estimate's true rank stays within the
    k=200 bound."""
    from ddsketch_spark.core import kll as kll_mod
    from ddsketch_spark.core.kll import KLL

    rng = np.random.default_rng(13)
    pdf = pd.DataFrame({
        "v": rng.integers(1, 200, 10_000).astype(float),
        "w": rng.integers(1, 5, 10_000),
    })
    df = spark.createDataFrame(pdf).repartition(4)
    a = sketch_agg(df, "v", weight_col="w",
                   factory=lambda: DDSketch(ALPHA, NB)).collect()[0]
    b = sketch_agg(df, "v", weight_col="w",
                   factory=lambda: DDSketch(ALPHA, NB),
                   precombine=True).collect()[0]
    assert bytes(a["sketch"]) == bytes(b["sketch"])
    # weighted precombine lineage: n = total represented weight
    assert a["n"] == len(pdf) and b["n"] == int(pdf["w"].sum())

    got = sketch_agg(df, "v", factory=lambda: KLL(200),
                     from_bytes=kll_mod.from_bytes,
                     precombine=True).collect()[0]
    s = kll_mod.from_bytes(bytes(got["sketch"]))
    assert s.count == len(pdf)
    vals = np.sort(pdf["v"].to_numpy())
    for q in (0.1, 0.5, 0.9):
        est = float(s.quantile([q])[0])
        true_rank = np.searchsorted(vals, est, side="right") / len(vals)
        assert abs(true_rank - q) < 0.05


def test_sketch_quantile_bounds_envelope(spark):
    """(lo, est, hi) must bracket the exact lower-quantile for every q,
    with lo <= est <= hi, and the envelope must widen to the sketch's
    CURRENT alpha after collapse-mode resolution loss."""
    from ddsketch_spark.functions.sketch_udfs import sketch_quantile_bounds

    rng = np.random.default_rng(21)
    vals = np.exp(rng.standard_normal(40_000)) * 100
    pdf = pd.DataFrame({"v": vals})
    df = spark.createDataFrame(pdf)
    qs = [0.1, 0.5, 0.9, 0.99]
    built = sketch_agg(df, "v", factory=lambda: DDSketch(0.01, 2048))
    row = built.select(
        sketch_quantile_bounds(F.col("sketch"), qs).alias("b")).collect()[0]
    exact = np.quantile(vals, qs, method="lower")
    for b, ex in zip(row["b"], exact):
        assert b["lo"] <= b["est"] <= b["hi"]
        assert b["lo"] <= ex <= b["hi"]
        # envelope width matches alpha=0.01 (not wider than ~2.1%)
        assert (b["hi"] - b["lo"]) / b["est"] < 0.0201

    # collapse mode: tiny budget -> coarser alpha -> wider honest bounds
    cb = sketch_agg(df, "v", factory=lambda: DDSketch(0.01, 16, "collapse"))
    crow = cb.select(
        sketch_quantile_bounds(F.col("sketch"), qs).alias("b")).collect()[0]
    for b, ex in zip(crow["b"], exact):
        assert b["lo"] <= ex <= b["hi"]
        assert (b["hi"] - b["lo"]) / b["est"] > 0.0201   # wider than fine alpha


def test_scratch_sweep_spares_live_owner():
    """The stale-scratch sweep must keep an old dir whose recorded owner
    pid is still alive (a paused session's stored table) and reclaim one
    whose owner is gone (r5 ADVICE: mtime alone raced live sessions)."""
    import os
    import time

    from ddsketch_spark import queries as q

    os.makedirs(q.SKETCH_STORE_ROOT, exist_ok=True)
    old = time.time() - q._SCRATCH_MAX_AGE_S - 60
    live = os.path.join(q.SKETCH_STORE_ROOT, "test_live_owner")
    dead = os.path.join(q.SKETCH_STORE_ROOT, "test_dead_owner")
    for path, pid in ((live, os.getpid()), (dead, 2 ** 22 + 12345)):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, q._SCRATCH_PIDFILE), "w") as f:
            f.write(str(pid))
        os.utime(path, (old, old))
    try:
        q._sweep_stale_scratch()
        assert os.path.isdir(live), "live owner's dir was reclaimed"
        assert not os.path.exists(dead), "dead owner's dir survived"
    finally:
        import shutil
        shutil.rmtree(live, ignore_errors=True)
        shutil.rmtree(dead, ignore_errors=True)


def test_sketch_quantile_bounds_null_and_zero_cases(spark):
    """NULL sketch -> NULL envelope array; an all-zero-bucket sketch has
    the documented exact (0, 0, 0) envelope. (An EMPTY sketch cannot
    reach the UDF at all — both the wire and text decoders reject
    count 0, matching the reference; the NaN guard in bounds() is
    defense-in-depth for future encodings, r5 ADVICE.)"""
    from ddsketch_spark.functions.sketch_udfs import sketch_quantile_bounds

    zeros = DDSketch(0.01, 2048).update([0.0, 0.0])
    df = spark.createDataFrame(
        [(bytearray(zeros.to_bytes()),), (None,)], "sketch binary")
    rows = df.select(
        sketch_quantile_bounds(F.col("sketch"), [0.5, 0.9]).alias("b")
    ).collect()
    got = {tuple(b.asDict().values()) for b in rows[0]["b"]}
    assert got == {(0.0, 0.0, 0.0)}
    assert rows[1]["b"] is None


def test_stage1_keeps_distinct_int64_keys_with_null(spark):
    """Stage 1 reads its Arrow batches with exact integer keys: a
    nullable int64 key column holding a NULL must not arrive as float64,
    which would merge the keys 2^60+1 and 2^60+2 into one. Three keys
    come back, each with n=1."""
    from ddsketch_spark.core.kll import KLL
    from ddsketch_spark.core.kll import from_bytes as kll_from_bytes
    from ddsketch_spark.operators.aggregate import sketch_agg

    big = 1 << 60
    df = spark.createDataFrame([(big + 1, 1.0), (big + 2, 2.0), (None, 3.0)],
                               "k long, v double").coalesce(1)
    rows = sketch_agg(df, "v", keys=["k"], factory=lambda: KLL(200),
                      from_bytes=kll_from_bytes).collect()
    assert sorted((r["k"] is None, r["k"] or 0) for r in rows) == \
        [(False, big + 1), (False, big + 2), (True, 0)]
    assert all(r["n"] == 1 for r in rows)
