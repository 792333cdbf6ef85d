"""Native (JVM bucket-expression) DDSketch aggregation must be
bit-identical to the Python-kernel pipeline and to a single-process
kernel build — including weighted, grouped, negative/zero values, NULLs,
and overflow behavior.
"""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.core.ddsketch import DDSketch, map_index, mapping_params
from ddsketch_spark.operators.aggregate import sketch_agg
from ddsketch_spark.operators.api import ddsketch as dd_api
from ddsketch_spark.operators.native import dd_bucket_exprs, ddsketch_agg_native

ALPHA, NB = 0.01, 2048


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(99)
    n = 30_000
    pdf = pd.DataFrame({
        "k": rng.integers(0, 4, n),
        # straddle zero + exercise the zero bucket (reference test pattern,
        # test/sql/ddsketch.sql:212-236)
        "v": np.concatenate([
            np.exp(rng.standard_normal(n - 2000)) * 100 - 50,
            np.zeros(1000),
            -np.exp(rng.standard_normal(1000)),
        ]),
        "w": rng.integers(1, 7, n),
    })
    pdf.loc[::97, "v"] = None
    return spark.createDataFrame(pdf).repartition(8), pdf


def kernel(pdf, weighted=False):
    s = DDSketch(ALPHA, NB)
    v = pdf["v"].to_numpy(dtype="float64")
    if weighted:
        s.update(v, pdf["w"].to_numpy(dtype="float64"))
    else:
        s.update(v)
    return s


def test_jvm_bucket_index_parity(spark, data):
    """JVM Math.log vs numpy np.log: bucket indexes must agree on every
    row (1-ulp boundary risk pinned empirically — operators/native.py)."""
    df, pdf = data
    for alpha in (0.05, 0.01, 0.001):
        _, mult, minidx, _ = mapping_params(alpha)
        part, bidx = dd_bucket_exprs("v", alpha)
        got = df.select(part, bidx).toPandas()
        v = pdf["v"].to_numpy(dtype="float64")
        mask_pos = v > minidx
        mask_neg = v < -minidx
        got_pos = got[got["__part"] == 2]["__bidx"].to_numpy()
        got_neg = got[got["__part"] == 0]["__bidx"].to_numpy()
        want_pos = map_index(v[np.nan_to_num(mask_pos, nan=False)], mult)
        want_neg = map_index(-v[np.nan_to_num(mask_neg, nan=False)], mult)
        assert np.array_equal(np.sort(got_pos), np.sort(want_pos)), alpha
        assert np.array_equal(np.sort(got_neg), np.sort(want_neg)), alpha


def test_native_equals_kernel_global(data):
    df, pdf = data
    out = ddsketch_agg_native(df, "v", ALPHA, NB).collect()
    assert len(out) == 1
    got = DDSketch.from_bytes(bytes(out[0]["sketch"]))
    assert got == kernel(pdf)
    assert out[0]["n"] == len(pdf)


def test_native_equals_python_pipeline(data):
    df, _ = data
    a = {r["k"]: (bytes(r["sketch"]), r["n"]) for r in
         ddsketch_agg_native(df, "v", ALPHA, NB, keys=["k"]).collect()}
    b = {r["k"]: (bytes(r["sketch"]), r["n"]) for r in
         sketch_agg(df, "v", ["k"], lambda: DDSketch(ALPHA, NB)).collect()}
    assert set(a) == set(b)
    for k in a:
        sa, sb = DDSketch.from_bytes(a[k][0]), DDSketch.from_bytes(b[k][0])
        assert sa == sb, k
        assert a[k][1] == b[k][1], k  # lineage row counts


def test_native_weighted_equals_kernel(data):
    df, pdf = data
    out = ddsketch_agg_native(df, "v", ALPHA, NB, weight_col="w").collect()
    got = DDSketch.from_bytes(bytes(out[0]["sketch"]))
    assert got == kernel(pdf, weighted=True)


def test_native_parallelism_invariance(data):
    """repartition(1) == repartition(16): bucket counts are exact integer
    sums (stronger than the reference's parallel==serial caveat)."""
    df, _ = data
    a = ddsketch_agg_native(df.repartition(1), "v", ALPHA, NB).collect()[0]
    b = ddsketch_agg_native(df.repartition(16), "v", ALPHA, NB).collect()[0]
    assert bytes(a["sketch"]) == bytes(b["sketch"])


def test_native_overflow_error(spark):
    pdf = pd.DataFrame({"v": np.exp(np.linspace(0, 80, 2000))})
    df = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="bucket overflow"):
        ddsketch_agg_native(df, "v", 0.001, 16).collect()


def test_native_overflow_collapse(spark):
    pdf = pd.DataFrame({"v": np.exp(np.linspace(0, 80, 2000))})
    df = spark.createDataFrame(pdf)
    out = ddsketch_agg_native(df, "v", 0.001, 16, on_overflow="collapse").collect()
    s = DDSketch.from_bytes(bytes(out[0]["sketch"]))
    assert len(s.pos) <= 16 and s.count == 2000
    want = DDSketch(0.001, 16, "collapse").update(pdf["v"].to_numpy())
    assert s == want


def test_native_rejects_nonpositive_weight(spark):
    df = spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0], "w": [1, 0]}))
    with pytest.raises(Exception, match="must be a positive value"):
        ddsketch_agg_native(df, "v", 0.05, 1024, weight_col="w").collect()


def test_api_default_is_native_and_matches_python(data):
    """api.ddsketch (the native build) is bit-identical to the generic
    Arrow pipeline, sketch bytes and lineage n alike."""
    df, _ = data
    a = dd_api(df, "v", ALPHA, NB, keys=["k"]).collect()
    b = sketch_agg(df, "v", keys=["k"],
                   factory=lambda: DDSketch(ALPHA, NB)).collect()
    am = {r["k"]: (bytes(r["sketch"]), r["n"]) for r in a}
    bm = {r["k"]: (bytes(r["sketch"]), r["n"]) for r in b}
    assert am == bm


# ------------------------------------------------------- sibling natives

def test_hll_native_equals_kernel(spark):
    from ddsketch_spark.core.hashing import py_h64, spark_h64
    from ddsketch_spark.core.hll import HLL
    from ddsketch_spark.operators.native import hll_agg_native

    pdf = pd.DataFrame({"k": [i % 3 for i in range(4000)],
                        "s": [f"item-{i % 700}" for i in range(4000)]})
    df = (spark.createDataFrame(pdf).repartition(5)
          .select("k", spark_h64("s").alias("h")))
    rows = hll_agg_native(df, "h", p=12, keys=["k"]).collect()
    assert len(rows) == 3
    for r in rows:
        sub = pdf[pdf["k"] == r["k"]]
        want = HLL(12).update(np.array([py_h64(s) for s in sub["s"]],
                                       dtype=np.int64))
        got = HLL.from_bytes(bytes(r["sketch"]))
        assert got == want and got.estimate() == want.estimate()
        assert r["n"] == len(sub)


def test_cms_native_equals_kernel(spark):
    from ddsketch_spark.core.cms import CMS
    from ddsketch_spark.core.hashing import py_h64, spark_h64
    from ddsketch_spark.operators.native import cms_agg_native

    pdf = pd.DataFrame({"s": [f"w-{i % 50}" for i in range(3000)]})
    df = spark.createDataFrame(pdf).repartition(4).select(
        spark_h64("s").alias("h"))
    out = cms_agg_native(df, "h", depth=4, width=512).collect()
    got = CMS.from_bytes(bytes(out[0]["sketch"]))
    want = CMS(4, 512).update(np.array([py_h64(s) for s in pdf["s"]],
                                       dtype=np.int64))
    assert got == want and got.count == want.count
    assert out[0]["n"] == len(pdf)


def test_bloom_native_equals_kernel(spark):
    from ddsketch_spark.core.bloom import Bloom
    from ddsketch_spark.core.hashing import py_h64, spark_h64
    from ddsketch_spark.operators.native import bloom_agg_native

    pdf = pd.DataFrame({"s": [f"u-{i}" for i in range(2000)]})
    df = spark.createDataFrame(pdf).repartition(4).select(
        spark_h64("s").alias("h"))
    out = bloom_agg_native(df, "h", nbits=1 << 14, k=5).collect()
    got = Bloom.from_bytes(bytes(out[0]["sketch"]))
    want = Bloom(1 << 14, 5).update(np.array([py_h64(s) for s in pdf["s"]],
                                             dtype=np.int64))
    assert got == want and got.count == want.count


def test_native_nan_skipped_like_null(spark):
    """NaN rows must be skipped exactly like NULLs (reference NULL-skip,
    ddsketch.c:1029-1039; DDSketch.update drops NaN) — pinned with a
    Spark-COMPUTED NaN (Arrow converts pandas NaN to NULL, so a literal
    wouldn't exercise the branch), and a NaN weight maps to 1."""
    import numpy as np

    from ddsketch_spark.core.ddsketch import DDSketch
    from ddsketch_spark.operators.native import ddsketch_agg_native

    df = spark.range(0, 10).select(
        # sqrt(-1) -> NaN for odd ids, JVM-side
        F.when(F.col("id") % 2 == 0, F.col("id").cast("double") + 1.0)
        .otherwise(F.sqrt(F.lit(-1.0))).alias("v"))
    out = ddsketch_agg_native(df, "v", 0.05, 1024).collect()[0]
    want = DDSketch(0.05, 1024).update(np.array([1.0, 3.0, 5.0, 7.0, 9.0]))
    assert DDSketch.from_bytes(bytes(out["sketch"])) == want
    assert out["n"] == 10  # lineage counts all rows, sketch skips NaN
    assert want.count == 5

    # NaN weight => 1 (ddsketch.c:1148-1151), not 0 / raise
    dfw = spark.range(0, 4).select(
        (F.col("id").cast("double") + 1.0).alias("v"),
        F.when(F.col("id") == 0, F.sqrt(F.lit(-1.0)))
        .otherwise(F.col("id").cast("double")).alias("w"))
    outw = ddsketch_agg_native(dfw, "v", 0.05, 1024, weight_col="w").collect()[0]
    wantw = DDSketch(0.05, 1024).update(
        np.array([1.0, 2.0, 3.0, 4.0]), np.array([1, 1, 2, 3]))
    assert DDSketch.from_bytes(bytes(outw["sketch"])) == wantw


def test_native_parity_extreme_magnitudes(spark):
    """JVM bucketing == numpy kernel bit-for-bit on denormals, values at
    the double-range edge, and mixed wide magnitudes (the boundary cases
    the shipped-data parity sweep doesn't reach)."""
    import numpy as np
    import pandas as pd

    from ddsketch_spark.core.ddsketch import DDSketch
    from ddsketch_spark.operators.native import ddsketch_agg_native

    rng = np.random.default_rng(99)
    v = np.concatenate([
        rng.standard_normal(500) * 10.0**rng.integers(-250, 250, 500).astype(float),
        np.array([1.6e308, -1.6e308, 1e-310, 2.3e-308, 0.0, 1.0]),
    ])
    want = DDSketch(0.01, 32768).update(v)
    df = spark.createDataFrame(pd.DataFrame({"v": v}))
    got = ddsketch_agg_native(df, "v", 0.01, 32768).collect()[0]
    assert DDSketch.from_bytes(bytes(got["sketch"])) == want


def test_vectorized_assembly_many_keys_with_batch_carries(spark):
    """The batched run assembler must survive key runs spanning Arrow
    batch boundaries: tiny maxRecordsPerBatch + thousands of keys forces
    many carries, and every sketch must equal the kernel build."""
    import numpy as np
    import pandas as pd

    from ddsketch_spark.core.ddsketch import DDSketch
    from ddsketch_spark.operators.native import ddsketch_agg_native

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        rng = np.random.default_rng(17)
        n = 40_000
        pdf = pd.DataFrame({
            "k": rng.integers(0, 3000, n),
            "v": np.exp(rng.standard_normal(n)) * 100,
        })
        df = spark.createDataFrame(pdf).repartition(8)
        got = {r["k"]: (bytes(r["sketch"]), r["n"])
               for r in ddsketch_agg_native(df, "v", 0.01, 2048,
                                            keys=["k"]).collect()}
        assert len(got) == pdf["k"].nunique()
        for k, grp in pdf.groupby("k"):
            want = DDSketch(0.01, 2048).update(grp["v"].to_numpy())
            assert DDSketch.from_bytes(got[k][0]) == want, k
            assert got[k][1] == len(grp)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_int64_keys_beyond_2_53_with_nulls_stay_distinct(spark):
    """Regression (r2 ADVICE): a nullable int64 KEY column whose Arrow
    batch contains a NULL used to coerce to float64 in pandas, silently
    merging distinct keys >= 2^53 (60-bit h64 ids) into one run and
    corrupting the emitted key value. grouped_apply_sorted now converts
    integral key columns exactly (mapInArrow + integer_object_nulls).
    Covers BOTH the per_run=False batch assembler (ddsketch_agg_native)
    and the per_run=True merge path (sketch_agg)."""
    import numpy as np

    from ddsketch_spark.core.ddsketch import DDSketch
    from ddsketch_spark.operators.aggregate import sketch_agg
    from ddsketch_spark.operators.native import ddsketch_agg_native

    base = 1 << 60          # float64 granularity here is 256 ulps
    k1, k2 = base, base + 1  # distinct ints, identical as float64
    rows, by_key = [], {}
    rng = np.random.default_rng(7)
    for k, scale in [(None, 1.0), (k1, 10.0), (k2, 1000.0)]:
        vals = np.exp(rng.standard_normal(40)) * scale
        by_key[k] = vals
        rows.extend((k, float(v)) for v in vals)
    df = spark.createDataFrame(rows, schema="k long, v double")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        for build in (
            lambda: ddsketch_agg_native(df, "v", 0.01, 2048, keys=["k"]),
            lambda: sketch_agg(df, "v", keys=["k"],
                               factory=lambda: DDSketch(0.01, 2048)),
        ):
            got = {r["k"]: bytes(r["sketch"]) for r in build().collect()}
            assert set(got) == {None, k1, k2}, sorted(
                str(k) for k in got)
            for k, vals in by_key.items():
                want = DDSketch(0.01, 2048).update(vals)
                assert DDSketch.from_bytes(got[k]) == want, k
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_map_batches_reads_nullable_non_key_int64_exactly(spark):
    """map_batches reads EVERY integral column exactly, not only keys: a
    nullable int64 value column holding 2^60 + 1 beside a NULL arrives as
    exact ints + None (Spark's pandas conversion would make it float64,
    turning 2^60 + 1 into 2^60) and is written back unchanged."""
    from ddsketch_spark.operators.aggregate import map_batches

    big = (1 << 60) + 1
    df = spark.createDataFrame([(1, big), (2, None), (3, 7)],
                               schema="k long, v long").coalesce(1)
    same = map_batches(df, lambda batches: batches, df.schema)
    assert {r["k"]: r["v"] for r in same.collect()} == {1: big, 2: None, 3: 7}

    def is_big(batches):       # the stage itself sees the exact int
        for pdf in batches:
            yield pdf.assign(v=[-1 if x is None else int(x == big)
                                for x in pdf["v"]])

    flags = map_batches(df, is_big, df.schema)
    assert {r["k"]: r["v"] for r in flags.collect()} == {1: 1, 2: -1, 3: 0}


# ------------------------------------- one assembler, keyed or keyless

def _native_build(kind, df, keys):
    from ddsketch_spark.operators.native import (
        bloom_agg_native, cms_agg_native, hll_agg_native)

    return {
        "dd": lambda: ddsketch_agg_native(df, "v", ALPHA, NB, keys),
        "hll": lambda: hll_agg_native(df, "h", p=10, keys=keys),
        "cms": lambda: cms_agg_native(df, "h", depth=4, width=256, keys=keys),
        "bloom": lambda: bloom_agg_native(df, "h", nbits=1 << 12, k=4,
                                          keys=keys),
    }[kind]()


def _kernel_build(kind, sub):
    from ddsketch_spark.core.bloom import Bloom
    from ddsketch_spark.core.cms import CMS
    from ddsketch_spark.core.hashing import py_h64
    from ddsketch_spark.core.hll import HLL

    if kind == "dd":
        return DDSketch(ALPHA, NB).update(sub["v"].to_numpy("float64")), len(sub)
    items = sub["s"].dropna()
    h = np.array([py_h64(x) for x in items], dtype=np.int64)
    s = {"hll": lambda: HLL(10), "cms": lambda: CMS(4, 256),
         "bloom": lambda: Bloom(1 << 12, 4)}[kind]()
    return s.update(h), len(items)


def _from_bytes(kind, b):
    from ddsketch_spark.core import bloom, cms, hll

    return {"dd": DDSketch.from_bytes, "hll": hll.from_bytes,
            "cms": cms.from_bytes, "bloom": bloom.from_bytes}[kind](b)


@pytest.fixture(scope="module")
def sibling_data(spark):
    from ddsketch_spark.core.hashing import spark_h64

    rng = np.random.default_rng(23)
    n = 2500
    pdf = pd.DataFrame({
        "k": rng.integers(0, 3, n),
        "v": np.exp(rng.standard_normal(n)) * 10 - 3,
        "s": [f"item-{i}" for i in rng.integers(0, 400, n)],
    })
    pdf.loc[::17, "v"] = None
    pdf.loc[::19, "s"] = None
    df = (spark.createDataFrame(pdf).repartition(5)
          .select("k", "v", "s", spark_h64("s").alias("h")))
    return df, pdf


@pytest.mark.parametrize("keys", [(), ("k",)], ids=["keyless", "keyed"])
@pytest.mark.parametrize("kind", ["dd", "hll", "cms", "bloom"])
def test_native_equals_kernel_keyed_and_keyless(sibling_data, kind, keys):
    """Every native build — one sorted-run assembler path whether keyed
    or not — equals the single-process kernel per group, with lineage n
    (rows for DDSketch, non-NULL items for the hash sketches)."""
    df, pdf = sibling_data
    rows = _native_build(kind, df, list(keys)).collect()
    groups = (dict(list(pdf.groupby("k"))) if keys else {None: pdf})
    assert len(rows) == len(groups)
    for r in rows:
        want, n = _kernel_build(kind, groups[r["k"] if keys else None])
        got = _from_bytes(kind, bytes(r["sketch"]))
        assert got == want and got.count == want.count, (kind, keys)
        assert r["n"] == n


@pytest.mark.parametrize("kind", ["dd", "hll", "cms", "bloom"])
def test_native_null_key_is_a_group(sibling_data, kind):
    """A NULL key is one more group, as in ``groupBy``: every native
    build emits its row, equal to the kernel over the NULL-key rows."""
    df, pdf = sibling_data
    nk = F.when(F.col("k") == 0, F.lit(None)).otherwise(F.col("k"))
    rows = _native_build(kind, df.withColumn("k", nk), ["k"]).collect()
    (got,) = [r for r in rows if r["k"] is None]
    want, n = _kernel_build(kind, pdf[pdf["k"] == 0])
    assert _from_bytes(kind, bytes(got["sketch"])) == want
    assert got["n"] == n and len(rows) == 3


@pytest.mark.parametrize("source", ["empty", "all_null"])
@pytest.mark.parametrize("keys", [(), ("k",)], ids=["keyless", "keyed"])
@pytest.mark.parametrize("kind", ["dd", "hll", "cms", "bloom"])
def test_native_empty_and_all_null_give_no_rows(sibling_data, kind, keys,
                                                source):
    df, _ = sibling_data
    if source == "empty":
        df = df.where(F.lit(False))
    else:
        df = (df.withColumn("v", F.lit(None).cast("double"))
              .withColumn("h", F.lit(None).cast("long")))
    out = _native_build(kind, df, list(keys))
    assert out.columns == list(keys) + ["sketch", "n"]
    assert out.collect() == []


@pytest.mark.parametrize("name", ["h-1", "a`b", "my hash"])
def test_hostile_hash_column_names(spark, sibling_data, name):
    """Hash, weight and output-prefix names reach SQL strings backquoted:
    a hash column named ``h-1`` must not parse as ``h - 1 div m`` (which
    silently read the decoy column ``h`` here), and ``a`b`` / ``my hash``
    must not fail to parse. Same sketches and estimates as under ``h``."""
    import datetime as dt

    from ddsketch_spark.core.hashing import py_h64
    from ddsketch_spark.operators.native import (
        bloom_agg_native, bloom_member_native, cms_agg_native,
        cms_freq_native, hll_agg_native, hll_ndv_native)
    from ddsketch_spark.streaming.sketch_stream import (
        windowed_bloom_cells, windowed_cms_cells, windowed_hll_cells)

    df, _ = sibling_data
    ts = F.lit(dt.datetime(2024, 1, 1, 10, 30))
    plain = df.select("k", "h", F.lit(2).alias("w"), ts.alias("ts"))
    hostile = df.select("k", F.col("h").alias(name),
                        (F.col("h") + 12345).alias("h"),  # decoy
                        F.lit(2).alias(f"{name} w"), ts.alias("ts"))
    probes = [py_h64(f"item-{i}") for i in (1, 2, 999)]

    def builds(d, col, wcol, prefix):
        return [
            hll_agg_native(d, col, p=10, keys=["k"]),
            hll_ndv_native(d, col, p=10, keys=["k"]),
            cms_agg_native(d, col, 4, 256, keys=["k"], weight_col=wcol),
            bloom_agg_native(d, col, 1 << 12, 4, keys=["k"]),
            cms_freq_native(d, col, probes, 4, 256, weight_col=wcol,
                            prefix=prefix),
            bloom_member_native(d, col, probes, 1 << 12, 4, prefix=prefix),
            windowed_hll_cells(d, "ts", col, "1 hour", "1 minute", p=10),
            windowed_cms_cells(d, "ts", col, "1 hour", "1 minute", 4, 256,
                               weight_col=wcol),
            windowed_bloom_cells(d, "ts", col, "1 hour", "1 minute",
                                 1 << 12, 4),
        ]

    for want, got in zip(builds(plain, "h", "w", "p_"),
                         builds(hostile, name, f"{name} w", f"{name} ")):
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("names", [("h-1", "a`b", "my v"),
                                   ("a`b", "my v", "h-1"),
                                   ("my v", "h-1", "a`b")],
                         ids=["v=h-1", "v=a`b", "v=my v"])
def test_hostile_ddsketch_column_names(spark, sibling_data, names):
    """Value, weight and key names reach the DDSketch SQL strings
    backquoted: a value column named ``h-1`` must not parse as ``h - 1``
    (a decoy ``h`` sits beside it), and ``a`b`` / ``my v`` must not fail
    to parse. Same cells and sketch bytes as under plain names."""
    from ddsketch_spark.operators.native import dd_cells

    value, weight, key = names
    df, _ = sibling_data
    plain = df.select("k", "v", (F.col("k") + 1).alias("w"))
    hostile = df.select(F.col("k").alias(key), F.col("v").alias(value),
                        (F.col("v") * 3).alias("h"),  # decoy
                        (F.col("k") + 1).alias(weight))

    def builds(d, k, v, w):
        return [dd_cells(d, v, ALPHA, [k], w, _extrema=True),
                ddsketch_agg_native(d, v, ALPHA, NB, weight_col=w),
                ddsketch_agg_native(d, v, ALPHA, NB, keys=[k], weight_col=w)]

    for want, got in zip(builds(plain, "k", "v", "w"),
                         builds(hostile, key, value, weight)):
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("key", ["h-1", "a`b", "my v"])
def test_hostile_key_names_every_keyed_native(sibling_data, key):
    """Every keyed ``*_agg_native`` (and ``hll_ndv_native``) takes a key
    named ``h-1``, ``a`b`` or ``my v``: its Python stage reads columns by
    position, and its projections quote the name. Same rows as under the
    plain key ``k``."""
    from ddsketch_spark.operators.native import hll_ndv_native

    df, _ = sibling_data
    hostile = df.withColumnRenamed("k", key)
    for build in [lambda d, k, kind=kind: _native_build(kind, d, [k])
                  for kind in ("dd", "hll", "cms", "bloom")] + [
            lambda d, k: hll_ndv_native(d, "h", p=10, keys=[k])]:
        got, want = build(hostile, key), build(df, "k")
        assert got.columns == [key] + want.columns[1:]
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))


def test_dd_cells_builds_in_few_py4j_calls(spark):
    """``dd_cells`` is one ``selectExpr`` and one aggregation of SQL
    strings: building the weighted, keyed plan with extrema makes fewer
    than 100 py4j round trips (the Column-composed form made ~700)."""
    from py4j.java_gateway import GatewayClient

    from ddsketch_spark.operators.native import dd_cells

    df = spark.createDataFrame([("a", 1.0, 1)], "k string, v double, w long")
    dd_cells(df, "v", 0.01, ["k"], "w", _extrema=True)  # warm lookups
    calls = []
    send = GatewayClient.send_command

    def counting(client, *args, **kwargs):
        calls.append(1)
        return send(client, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        dd_cells(df, "v", 0.01, ["k"], "w", _extrema=True)
    finally:
        GatewayClient.send_command = send
    assert 0 < len(calls) < 100


def test_infinite_values_raise(spark):
    """+inf and -inf have no bucket (their index would overflow the wire
    format's 32-bit index): the kernel and the JVM build both raise the
    same error, while NaN and NULL are still skipped."""
    from ddsketch_spark.core.ddsketch import INFINITE_VALUE

    inf = float("inf")
    with pytest.raises(ValueError, match=re.escape(INFINITE_VALUE)):
        DDSketch().update([inf, 1.0])
    with pytest.raises(ValueError, match=re.escape(INFINITE_VALUE)):
        DDSketch().add(-inf)
    with pytest.raises(ValueError, match=re.escape(INFINITE_VALUE)):
        DDSketch().update([1.0, -inf], [1, 2])
    assert DDSketch().update([float("nan"), 1.0]).count == 1

    df = spark.createDataFrame([(1.0,), (-inf,), (None,)], "v double")
    with pytest.raises(Exception, match=re.escape(INFINITE_VALUE)):
        ddsketch_agg_native(df, "v", ALPHA, NB).collect()
    live = spark.createDataFrame([(1.0,), (float("nan"),), (None,)],
                                 "v double")
    out = ddsketch_agg_native(live, "v", ALPHA, NB).collect()
    assert DDSketch.from_bytes(bytes(out[0]["sketch"])).count == 1
