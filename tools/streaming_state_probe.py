"""Streaming keyed-state scale probe (r2 verdict task 6): show that the
foreachBatch sketch maintainer's per-batch cost scales with the TOUCHED
bucket set, not with total state size.

Protocol: build a keyed sketch state of N keys (N in {100k, 1M}) under
``state_buckets=256``, then apply, interleaved best-of-R:

  - a SMALL batch touching ~8 distinct keys (a handful of buckets);
  - a BIG batch touching every key (all 256 buckets).

If per-batch work were O(state), the small batch would slow down ~10x
going from 100k to 1M keys; O(touched partitions) predicts ~flat.

Usage: python tools/streaming_state_probe.py [--keys 100000 1000000]
Prints one JSON line; fold the numbers into BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_probe(spark, n_keys: int, runs: int, workdir: str,
              state_buckets: int = 256) -> dict:
    from pyspark.sql import functions as F

    from ddsketch_spark.sources.tables import read_entry
    from ddsketch_spark.streaming.sketch_stream import make_maintainer_process

    state = os.path.join(workdir, f"state_{n_keys}_{state_buckets}")
    shutil.rmtree(state, ignore_errors=True)
    process = make_maintainer_process(state, "v", ["k"], alpha=0.01,
                                      nbuckets=2048,
                                      state_buckets=state_buckets)

    rows_per_key = 8
    base = (spark.range(0, n_keys * rows_per_key)
            .select((F.col("id") % n_keys).cast("string").alias("k"),
                    (F.col("id") % 997 + 1.0).cast("double").alias("v")))
    t0 = time.perf_counter()
    process(base, 0)
    t_init = time.perf_counter() - t0

    small_keys = [str(i * (n_keys // 8)) for i in range(8)]
    small = (spark.range(0, 10_000)
             .select(F.element_at(F.array(*[F.lit(k) for k in small_keys]),
                                  (F.col("id") % 8 + 1).cast("int")).alias("k"),
                     (F.col("id") + 0.5).cast("double").alias("v")))
    big = (spark.range(0, n_keys)
           .select(F.col("id").cast("string").alias("k"),
                   (F.col("id") % 31 + 2.0).cast("double").alias("v")))

    t_small, t_big = [], []
    bid = 1
    for _ in range(runs):
        t0 = time.perf_counter()
        process(small, bid)
        t_small.append(time.perf_counter() - t0)
        bid += 1
        t0 = time.perf_counter()
        process(big, bid)
        t_big.append(time.perf_counter() - t0)
        bid += 1

    live_buckets = len(read_entry(spark, state)["files"])
    shutil.rmtree(state, ignore_errors=True)
    return {
        "n_keys": n_keys,
        "state_buckets": state_buckets,
        "init_sec": round(t_init, 3),
        "small_batch_sec_best": round(min(t_small), 3),
        "big_batch_sec_best": round(min(t_big), 3),
        "small_batch_rows": 10_000,
        "small_batch_distinct_keys": 8,
        "manifest_buckets": live_buckets,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, nargs="+",
                    default=[100_000, 1_000_000])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--workdir", default="/tmp/ddsketch_state_probe")
    args = ap.parse_args()

    from ddsketch_spark.plans.session import get_spark

    spark = get_spark("state-probe", master="local[32]",
                      shuffle_partitions=32)
    os.makedirs(args.workdir, exist_ok=True)
    # per-batch cost is proportional to the bytes in TOUCHED buckets,
    # so the operational rule is: scale state_buckets with total state to
    # keep per-bucket volume (hence small-batch cost) constant. Probe both
    # the fixed-bucket layout (cost grows with keys/bucket) and the
    # scaled layout (cost ~flat).
    results = [run_probe(spark, n, args.runs, args.workdir, 256)
               for n in args.keys]
    scaled = [run_probe(spark, n, args.runs, args.workdir,
                        max(256, 256 * n // args.keys[0]))
              for n in args.keys[1:]]
    spark.stop()
    out = {"probe": "streaming_state_touched_vs_total",
           "results": results, "scaled_buckets_results": scaled}
    if len(results) == 2:
        r0, r1 = results
        out["small_batch_ratio_big_state_vs_small_state"] = round(
            r1["small_batch_sec_best"] / r0["small_batch_sec_best"], 3)
        out["state_ratio"] = round(r1["n_keys"] / r0["n_keys"], 1)
        if scaled:
            out["small_batch_ratio_scaled_buckets"] = round(
                scaled[0]["small_batch_sec_best"]
                / r0["small_batch_sec_best"], 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
