"""Tests of the benchmark itself: seeded inputs, the correctness checkers
and the shuffle-reuse self-check.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                   # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # repo root

import checks  # noqa: E402
import inputs  # noqa: E402
from tracer import reused_shuffle, sql_metric_total  # noqa: E402


@pytest.fixture
def small_params(monkeypatch):
    p = copy.deepcopy(inputs.PARAMS)
    p["corpus_job"].update(docs=600, files=4)
    p["dedup_pairs"].update(docs=600, templates=5)
    p["store_queries"].update(docs=2000, ingest_docs=20)
    monkeypatch.setattr(inputs, "PARAMS", p)


def _digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_generator_deterministic_per_seed(workload, small_params, tmp_path):
    inputs.generate(workload, 7, str(tmp_path / "a"))
    inputs.generate(workload, 7, str(tmp_path / "b"))
    inputs.generate(workload, 8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_cache_key_tracks_seed_and_params(small_params):
    k = inputs.cache_key("dedup_pairs", 1)
    assert k != inputs.cache_key("dedup_pairs", 2)
    inputs.PARAMS["dedup_pairs"]["docs"] += 1
    assert k != inputs.cache_key("dedup_pairs", 1)


def test_dedup_inputs_inject_clusters(small_params, tmp_path):
    inputs.generate("dedup_pairs", 3, str(tmp_path / "d"))
    with np.load(tmp_path / "d" / "pairs.npz") as z:
        injected, expected = z["injected"], z["expected"]
    assert len(injected) > 0 and (injected[:, 0] < injected[:, 1]).all()
    assert len(np.unique(injected[:, 2])) == inputs.PARAMS["dedup_pairs"][
        "templates"]
    # near-copies collide in LSH far more often than not
    exp = {(a, b) for a, b, _ in expected}
    hit = sum((a, b) in exp for a, b, _ in injected)
    assert hit / len(injected) > 0.5


def test_store_schedule_reaches_every_kind_early(small_params, tmp_path):
    """A short run must measure ingests and rollups, not only ranges."""
    inputs.generate("store_queries", 5, str(tmp_path / "s"))
    ops = json.load(open(tmp_path / "s" / "meta.json"))["ops"]
    assert {o["kind"] for o in ops[:4]} == {"range", "rollup", "ingest"}
    kinds = [o["kind"] for o in ops]
    assert (kinds.count("range"), kinds.count("rollup"),
            kinds.count("ingest")) == (32, 4, 4)


def test_store_schedule_repeats_one_mix_per_block(small_params, tmp_path):
    """A run of whole blocks times the same kinds and range lengths
    whatever its length."""
    inputs.generate("store_queries", 5, str(tmp_path / "s"))
    ops = json.load(open(tmp_path / "s" / "meta.json"))["ops"]
    n = inputs.PARAMS["store_queries"]["block"]

    def mix(block):
        return [(o["kind"], o.get("t1", 0) - o.get("t0", 0)) for o in block]

    blocks = [ops[i:i + n] for i in range(0, len(ops), n)]
    assert all(mix(b) == mix(blocks[0]) for b in blocks)


EXPECTED = {"en": {"n": 10, "q": [100.0, 200.0, 300.0]},
            "de": {"n": 4, "q": [10.0, 20.0, 30.0]}}


def _got(scale=1.0, drop=None):
    got = copy.deepcopy(EXPECTED)
    got["en"]["q"][1] *= scale
    if drop:
        del got[drop]
    return got


def test_checker_accepts_within_alpha():
    v = checks.check_quantiles(_got(1 + 0.99 * inputs.ALPHA), EXPECTED)
    assert v.ok and 0 < v.err_max <= inputs.ALPHA


def test_checker_rejects_quantile_off_by_more_than_alpha():
    v = checks.check_quantiles(_got(1 + 1.5 * inputs.ALPHA), EXPECTED)
    assert not v.ok and "rel err" in v.problems[0]


def test_checker_rejects_missing_lang():
    v = checks.check_quantiles(_got(drop="de"), EXPECTED)
    assert not v.ok and "missing key de" in v.problems


def test_checker_rejects_null_estimate():
    got = _got()
    got["en"]["q"][0] = None
    v = checks.check_quantiles(got, EXPECTED)
    assert not v.ok and "est None" in v.problems[0]


def test_checker_fails_op_on_missing_column():
    rows = [{"lang": "en", "n": 10, "q": 0.5, "estimate": 100.0}]
    v = checks.guarded(lambda: checks.check_quantiles(
        checks.quantile_rows(rows, ["lang"]), EXPECTED))
    assert not v.ok and "KeyError" in v.problems[0]


def test_pair_checker_fails_op_on_wrong_shape():
    v = checks.guarded(checks.check_pairs, np.arange(4), PAIRS, INJECTED)
    assert not v.ok and "could not be checked" in v.problems[0]


def test_checker_rejects_wrong_count():
    got = _got()
    got["de"]["n"] = 5
    assert not checks.check_quantiles(got, EXPECTED).ok


PAIRS = np.array([[1, 2, 4], [1, 3, 1], [5, 9, 2]], dtype=np.int64)
INJECTED = np.array([[1, 2, 1], [1, 3, 1], [2, 3, 1], [7, 8, 7]],
                    dtype=np.int64)


def test_pair_checker_counts_recall():
    v = checks.check_pairs(PAIRS[::-1], PAIRS, INJECTED)
    assert v.ok and (v.found, v.injected) == (2, 4)
    # cluster 1 returned 2 of 3 pairs, cluster 7 none of 1
    assert v.cluster_recall == pytest.approx((2 / 3 + 0) / 2)


def test_pair_checker_rejects_dropped_injected_pair():
    v = checks.check_pairs(PAIRS[1:], PAIRS, INJECTED)
    assert not v.ok and "dropped" in v.problems[0]


def test_pair_checker_rejects_wrong_band_count():
    bad = PAIRS.copy()
    bad[0, 2] = 3
    assert not checks.check_pairs(bad, PAIRS, INJECTED).ok


def test_sql_metric_parsing():
    assert sql_metric_total("12") == 12
    assert sql_metric_total("292 ms") == pytest.approx(0.292)
    assert sql_metric_total("22.9 KiB") == pytest.approx(22.9 * 1024)
    assert sql_metric_total(
        "total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, "
        "3 ms (stage 3.0: task 12))") == pytest.approx(1.5)


def _stage(status, shuffle_write=0):
    return {"status": status, "shuffleWriteBytes": shuffle_write}


def test_reuse_self_check_rules():
    assert reused_shuffle([_stage("SKIPPED"), _stage("COMPLETE")])
    assert not reused_shuffle([_stage("SKIPPED"), _stage("COMPLETE", 10),
                               _stage("COMPLETE")])
    assert not reused_shuffle([_stage("COMPLETE")])


def test_reuse_self_check_on_spark(tmp_path, monkeypatch):
    """A second action on the same DataFrame reuses its shuffle files; the
    self-check must flag it and pass a fresh plan of the same query."""
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    from pyspark.sql import functions as F

    from ddsketch_spark.plans.session import get_spark
    from tracer import SparkStatus

    spark = get_spark("perfbench-test", master="local[2]",
                      shuffle_partitions=2)
    sc = spark.sparkContext
    status = SparkStatus(spark)

    def query():
        return spark.range(0, 20000, 1, 4).groupBy(
            (F.col("id") % 7).alias("k")).count()

    def run(df, group):
        sc.setJobGroup(group, group)
        df.collect()
        return status.group(group, None)["stages"]

    try:
        df = query()
        assert not reused_shuffle(run(df, "first"))
        assert reused_shuffle(run(df, "again"))
        assert not reused_shuffle(run(query(), "fresh"))
    finally:
        spark.stop()
