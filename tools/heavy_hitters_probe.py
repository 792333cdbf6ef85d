"""Heavy-hitters scale probe: SpaceSaving vs exact groupBy top-k on a
high-cardinality zipf token stream.

The claim under test (SCALE.md): exact top-k keeps one counter PER
DISTINCT TOKEN (O(vocabulary) aggregation state + a vocabulary-sized
shuffle), while the SpaceSaving path shuffles one O(capacity) summary per
map task and still recovers every true heavy hitter inside its bound
envelope. This measures both on the same stream and verifies the
envelope + top-k identity.

Usage: python tools/heavy_hitters_probe.py [--n-tokens 100000000]
       [--vocab 10000000] [--capacity 4096] [--k 20]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-tokens", type=int, default=100_000_000)
    ap.add_argument("--vocab", type=int, default=10_000_000)
    ap.add_argument("--capacity", type=int, default=4096)
    ap.add_argument("--k", type=int, default=20)
    ap.add_argument("--zipf-a", type=float, default=1.1)
    args = ap.parse_args()

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ddsketch_spark.core.spacesaving import SpaceSaving
    from ddsketch_spark.core.spacesaving import from_bytes as ss_from_bytes
    from ddsketch_spark.operators.aggregate import gather_partials
    from ddsketch_spark.plans.session import get_spark

    spark = get_spark("hh-probe", master="local[32]", shuffle_partitions=64)
    vocab, a = args.vocab, args.zipf_a

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(int(ids[0]))   # deterministic per split
            ranks = np.minimum(rng.zipf(a, len(ids)), vocab)
            yield pd.DataFrame({"token": np.char.add(
                "t", ranks.astype("U9"))})

    tokens = (spark.range(args.n_tokens, numPartitions=64)
              .mapInPandas(gen, schema="token string"))

    # exact path: full-vocabulary aggregation
    t0 = time.perf_counter()
    exact = (tokens.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy(F.col("cnt").desc(), F.col("token").asc())
             .limit(args.k).collect())
    t_exact = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    ndv = tokens.select(F.countDistinct("token")).collect()[0][0]
    t_ndv = round(time.perf_counter() - t0, 1)

    # sketched path: O(capacity) partials + gather merge
    t0 = time.perf_counter()
    parts_df = gather_partials(
        tokens, "token", lambda: SpaceSaving(args.capacity), ss_from_bytes)
    acc = None
    gathered_bytes = 0
    for r in parts_df.collect():
        b = bytes(r["sketch"])
        gathered_bytes += len(b)
        s = ss_from_bytes(b)
        acc = s if acc is None else acc.merge(s)
    t_sketch = round(time.perf_counter() - t0, 1)

    envelope_ok = True
    identity = []
    for r in exact:
        e = acc.get(r["token"])
        ok = (e is not None and e[0] >= r["cnt"] and e[0] - e[1] <= r["cnt"])
        envelope_ok = envelope_ok and ok
    sk_top = [t for t, _, _ in acc.topk(args.k)]
    ex_top = [r["token"] for r in exact]
    topk_overlap = len(set(sk_top) & set(ex_top)) / args.k

    print(json.dumps({
        "n_tokens": args.n_tokens, "distinct_tokens": int(ndv),
        "capacity": args.capacity, "k": args.k, "zipf_a": a,
        "exact_topk_sec": t_exact, "ndv_sec": t_ndv,
        "sketch_sec": t_sketch,
        "gathered_kb": round(gathered_bytes / 1024, 1),
        "envelope_ok": envelope_ok,
        "topk_overlap": topk_overlap,
        "floor": acc.floor, "total": acc.total,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
