"""End-to-end tests for the sibling sketches through the 2-stage Spark
pipeline: distributed result must equal the single-process kernel for the
deterministic sketches (HLL / CMS / Bloom), and stay within the rank-error
bound for the order-sensitive ones (KLL / t-digest). Plus driver-contract
checks of the new query catalog entries against their DuckDB oracles at
sf0.001.
"""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.core import bloom as bloom_mod
from ddsketch_spark.core import cms as cms_mod
from ddsketch_spark.core import hll as hll_mod
from ddsketch_spark.core import kll as kll_mod
from ddsketch_spark.core.bloom import Bloom
from ddsketch_spark.core.cms import CMS
from ddsketch_spark.core.hashing import py_h64, spark_h64
from ddsketch_spark.core.hll import HLL
from ddsketch_spark.core.kll import KLL
from ddsketch_spark.operators.aggregate import sketch_agg

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def hashed_df(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "k": rng.integers(0, 3, 5000),
        "s": [f"item-{i % 800}" for i in range(5000)],
    })
    df = (spark.createDataFrame(pdf).repartition(6)
          .select("k", spark_h64("s").alias("h")))
    return df, pdf


def test_spark_h64_matches_python(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": ["a", "hello", "42"]}))
    got = {r["s"]: r["h"] for r in df.select("s", spark_h64("s").alias("h")).collect()}
    assert got == {s: py_h64(s) for s in ("a", "hello", "42")}


def test_spark_h64_of_bigint_matches_string_form(spark):
    df = spark.range(5).select(spark_h64("id").alias("h"), "id")
    for r in df.collect():
        assert r["h"] == py_h64(str(r["id"]))


def test_hll_spark_equals_kernel(hashed_df):
    df, pdf = hashed_df
    out = sketch_agg(df, "h", factory=lambda: HLL(12),
                     from_bytes=hll_mod.from_bytes).collect()
    got = HLL.from_bytes(bytes(out[0]["sketch"]))
    want = HLL(12).update(np.array([py_h64(s) for s in pdf["s"]], dtype=np.int64))
    assert got == want
    assert abs(got.estimate() - 800) / 800 < 0.05


def test_cms_spark_equals_kernel(hashed_df):
    df, pdf = hashed_df
    out = sketch_agg(df, "h", factory=lambda: CMS(4, 512),
                     from_bytes=cms_mod.from_bytes).collect()
    got = CMS.from_bytes(bytes(out[0]["sketch"]))
    want = CMS(4, 512).update(np.array([py_h64(s) for s in pdf["s"]], dtype=np.int64))
    assert got == want


def test_bloom_spark_equals_kernel(hashed_df):
    df, pdf = hashed_df
    out = sketch_agg(df, "h", factory=lambda: Bloom(1 << 14, 5),
                     from_bytes=bloom_mod.from_bytes).collect()
    got = Bloom.from_bytes(bytes(out[0]["sketch"]))
    want = Bloom(1 << 14, 5).update(np.array([py_h64(s) for s in pdf["s"]],
                                             dtype=np.int64))
    assert got == want
    assert bool(got.contains(py_h64("item-5"))[0])


def test_hll_groupby_keys(hashed_df):
    df, pdf = hashed_df
    rows = sketch_agg(df, "h", keys=["k"], factory=lambda: HLL(12),
                      from_bytes=hll_mod.from_bytes).collect()
    assert len(rows) == 3
    for r in rows:
        sub = pdf[pdf["k"] == r["k"]]
        want = HLL(12).update(np.array([py_h64(s) for s in sub["s"]], dtype=np.int64))
        assert HLL.from_bytes(bytes(r["sketch"])) == want


def test_kll_spark_rank_error(spark):
    rng = np.random.default_rng(11)
    vals = rng.lognormal(3, 1.2, 50_000)
    df = spark.createDataFrame(pd.DataFrame({"v": vals})).repartition(8)
    out = sketch_agg(df, "v", factory=lambda: KLL(200),
                     from_bytes=kll_mod.from_bytes).collect()
    s = KLL.from_bytes(bytes(out[0]["sketch"]))
    assert s.count == len(vals)
    svals = np.sort(vals)
    for q in (0.1, 0.5, 0.9, 0.99):
        est = float(s.quantile(q))
        rank = np.searchsorted(svals, est) / (len(vals) - 1)
        assert abs(rank - q) < 0.04, q


# -------------------------------------------------------- driver contract

NEW_QUERIES = [
    "hll_ndv_orderkeys", "hll_ndv_users_by_type", "cms_freq_event_types",
    "bloom_member_orderkeys", "kll_rank_bound_price",
    "tdigest_rank_bound_price",
    # round-3 rows: lifecycle re-aggregation, weighted rank bounds,
    # pre-agg weighted build, incremental update, streaming window
    "hll_reagg_users_by_type", "cms_reagg_event_types",
    "bloom_reagg_orderkeys", "cms_freq_weighted_event_types",
    "kll_weighted_rank_bound_price", "tdigest_weighted_rank_bound_price",
    "dd_quantiles_qty_preagg", "dd_incremental_add_union",
    "dd_reagg_p90_by_flag", "stream_windowed_p90_events",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_query_matches_oracle_sf0001(spark, name):
    from ddsketch_spark.queries import ORACLES, QUERIES

    con = duckdb.connect()
    for t in ("orders", "lineitem", "events"):
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    a = QUERIES[name](spark, SF_DIR).toPandas()
    b = con.execute(ORACLES[name]).fetchdf()
    a = a[sorted(a.columns)].sort_values(by=sorted(a.columns)).reset_index(drop=True)
    b = b[sorted(b.columns)].sort_values(by=sorted(b.columns)).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        for x, y in zip(a[c], b[c]):
            assert x == y or (pd.isna(x) and pd.isna(y)), (c, x, y)


def test_catalog_pairs_every_row_with_its_oracle():
    """QUERIES and ORACLES derive from one CATALOG: same names in the same
    order, each row keyed by its own function name, 73 rows."""
    from ddsketch_spark.queries import ORACLES, QUERIES

    assert list(QUERIES) == list(ORACLES)
    assert all(fn.__name__ == name for name, fn in QUERIES.items())
    assert len(QUERIES) == 73


def test_hash_sketch_with_nulls_not_degraded(spark):
    """Regression: a NULLable int64 hash column crosses Arrow->pandas as
    float64, which rounds 60-bit hashes to 256-hash granularity and
    collapsed HLL registers (estimate off by >20x). NULLs must be dropped
    JVM-side before the Python stage."""
    df = (spark.range(0, 5000)
          .select(F.when(F.col("id") % 100 == 0, None)
                  .otherwise(spark_h64(F.col("id").cast("string"))).alias("h")))
    out = sketch_agg(df, "h", factory=lambda: HLL(12),
                     from_bytes=hll_mod.from_bytes).collect()[0]
    got = HLL.from_bytes(bytes(out["sketch"]))
    want = HLL(12).update(np.array(
        [py_h64(str(i)) for i in range(5000) if i % 100 != 0], dtype=np.int64))
    assert got == want
    assert abs(got.estimate() - 4950) / 4950 < 0.05


def test_spacesaving_spark_partials_object_dtype(spark):
    """SpaceSaving rides the same 2-stage pipeline with raw string items
    (input_dtype='object'): stage-1 partials must carry exact per-partition
    counts (capacity >> vocab), NULL tokens dropped JVM-side, and the
    driver-side merge must satisfy the bound envelope vs exact counts."""
    from collections import Counter

    from ddsketch_spark.core.spacesaving import SpaceSaving
    from ddsketch_spark.core.spacesaving import from_bytes as ss_from_bytes
    from ddsketch_spark.operators.aggregate import sketch_partials

    toks = [f"w{i % 37}" for i in range(4000)]
    pdf = pd.DataFrame({"token": toks})
    pdf.loc[::100, "token"] = None
    df = spark.createDataFrame(pdf).repartition(8)
    parts = sketch_partials(
        df, "token", factory=lambda: SpaceSaving(256)).collect()
    assert 1 <= len(parts) <= 8
    acc = None
    for r in parts:
        s = ss_from_bytes(bytes(r["sketch"]))
        acc = s if acc is None else acc.merge(s)
    truth = Counter(t for t in pdf["token"] if t is not None)
    # capacity 256 >= vocab 37 per partition: merge must be exact
    assert acc.floor == 0
    assert {x: c[0] for x, c in acc.counters.items()} == dict(truth)
    assert acc.total == sum(truth.values())


def test_spacesaving_spark_bounded_capacity(spark):
    """Under real eviction pressure (capacity < per-partition vocab) the
    merged sketch still satisfies (I1)-(I3) against exact truth."""
    from collections import Counter

    from ddsketch_spark.core.spacesaving import SpaceSaving
    from ddsketch_spark.core.spacesaving import from_bytes as ss_from_bytes
    from ddsketch_spark.operators.aggregate import sketch_partials

    rng = np.random.default_rng(11)
    toks = [f"z{min(int(r), 900)}" for r in rng.zipf(1.25, 30000)]
    df = spark.createDataFrame(pd.DataFrame({"token": toks})).repartition(6)
    parts = sketch_partials(
        df, "token", factory=lambda: SpaceSaving(48)).collect()
    acc = None
    for r in parts:
        s = ss_from_bytes(bytes(r["sketch"]))
        acc = s if acc is None else acc.merge(s)
    truth = Counter(toks)
    for x, (cnt, err) in acc.counters.items():
        t = truth.get(x, 0)
        assert t <= cnt <= t + err
    for x, t in truth.items():
        if x not in acc.counters:
            assert t <= acc.floor


def test_spacesaving_keyed_full_pipeline(spark):
    """Grouped heavy hitters end-to-end: sketch_agg with keys (per-lang
    token top-k at scale = one SpaceSaving summary PER KEY, still
    O(capacity) state each). The merged per-key sketches must satisfy
    the bound envelope against per-key exact counts and rank every key's
    true top-3 inside its monitored set."""
    from collections import Counter

    from ddsketch_spark.core.spacesaving import SpaceSaving
    from ddsketch_spark.core.spacesaving import from_bytes as ss_from_bytes
    from ddsketch_spark.operators.aggregate import sketch_agg

    rng = np.random.default_rng(13)
    langs = np.array(["en", "de", "fr"])[rng.integers(0, 3, 20000)]
    toks = np.array([f"{l}_w{min(int(r), 400)}"
                     for l, r in zip(langs, rng.zipf(1.3, 20000))])
    df = spark.createDataFrame(
        pd.DataFrame({"lang": langs, "token": toks})).repartition(8)
    rows = sketch_agg(df, "token", keys=["lang"],
                      factory=lambda: SpaceSaving(64),
                      from_bytes=ss_from_bytes).collect()
    assert len(rows) == 3
    for r in rows:
        truth = Counter(t for l, t in zip(langs, toks) if l == r["lang"])
        s = ss_from_bytes(bytes(r["sketch"]))
        assert s.total == sum(truth.values()) == r["n"]
        for x, (cnt, err) in s.counters.items():
            t = truth.get(x, 0)
            assert t <= cnt <= t + err
        for x, _ in truth.most_common(3):
            assert x in s.counters


def test_probe_native_empty_input_matches_kernel(spark):
    """Probe-only native reads over an EMPTY (or all-NULL) input must
    match the kernels' empty-sketch answers — a global aggregate still
    emits one row, so the NULL-sum path needs explicit zeros."""
    from ddsketch_spark.core.hll import HLL
    from ddsketch_spark.operators.native import (
        bloom_member_native, cms_freq_native, hll_ndv_native)

    empty = spark.createDataFrame(pd.DataFrame({"h": pd.array(
        [None], dtype="Int64")})).where(F.col("h").isNotNull())
    assert hll_ndv_native(empty, "h", p=12).collect()[0][0] \
        == HLL(12).estimate() == 0.0
    r = cms_freq_native(empty, "h", [1, 2], depth=3, width=64).collect()[0]
    assert (r["freq_0"], r["freq_1"]) == (0, 0)
    b = bloom_member_native(empty, "h", [1, 2], nbits=256, k=3).collect()[0]
    assert (b["member_0"], b["member_1"]) == (False, False)


def test_kmv_spark_pipeline_equals_kernel(spark):
    """KMV through the 2-stage pipeline must equal the direct kernel
    build bit-for-bit (bottom-k of a set union is exactly associative),
    under any partitioning."""
    from ddsketch_spark.core import kmv as kmv_mod
    from ddsketch_spark.core.kmv import KMV
    from ddsketch_spark.operators.aggregate import sketch_agg

    ids = [f"u{i}" for i in range(6000)]
    pdf = pd.DataFrame({"s": ids * 2})          # duplicates are no-ops
    df = spark.createDataFrame(pdf).select(spark_h64("s").alias("h"))
    want = KMV(256).update(np.array([py_h64(x) for x in ids],
                                    dtype=np.int64))
    for parts in (1, 16):
        out = sketch_agg(df.repartition(parts), "h",
                         factory=lambda: KMV(256),
                         from_bytes=kmv_mod.from_bytes).collect()[0]
        assert kmv_mod.from_bytes(bytes(out["sketch"])) == want


def test_kmv_user_overlap_empty_side(spark, tmp_path):
    """kmv_user_overlap with ZERO rows on one side (tiny SF / changed
    testdata) must return the oracle's empty-side zeros, not die with a
    KeyError on the missing group (r4 ADVICE)."""
    import pandas as pd

    from ddsketch_spark.queries import kmv_user_overlap

    pdf = pd.DataFrame({"event_type": ["click"] * 40,
                        "user_id": list(range(40))})
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "events.parquet"))
    row = kmv_user_overlap(spark, str(tmp_path)).collect()[0]
    assert row["est_a"] == 40.0          # exact below capacity
    assert row["est_b"] == 0.0
    assert row["est_union"] == 40.0
    assert row["est_inter"] == 0.0
