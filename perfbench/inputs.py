"""Seeded inputs and exact expected answers for the three workloads.

Everything here is a pure function of ``(workload, seed, PARAMS)``: the
corpora build on ``ddsketch_spark.sources.webpages.generate_batch`` (itself a
counter hash of ``(seed, doc id)``) and every other random choice draws from
``numpy.random.default_rng(seed)``.  Outputs are cached under
``<cache>/<workload>-s<seed>-<params hash>/`` and marked complete by a
``_DONE`` file, so a repeated seed skips generation.

Run as a script to generate one input set (``run.py`` does this in a child
process so generation never counts toward the benchmark's driver memory):

    python3 perfbench/inputs.py --workload dedup_pairs --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from collections import Counter, defaultdict

import numpy as np

ALPHA = 0.01
NBUCKETS = 2048
QS = [0.5, 0.9, 0.99]
DAY = 86400
HOUR = 3600
BASE_EPOCH = 1735689600          # 2025-01-01T00:00:00Z, webpages._BASE_TS

PARAMS = {
    "corpus_job": {"docs": 20_000, "files": 16, "batches": 2},
    "dedup_pairs": {"docs": 6_000, "files": 8, "dup_share": 0.30,
                    "edit_share": 0.03,
                    "zipf_s": 1.1, "templates": 120,
                    "template_words": [90, 110]},
    "store_queries": {"docs": 12_000, "files": 8, "days": 45,
                      "ingest_docs": 265,
                      # op kinds by position in each block of 10: 8
                      # ranges (1/7/30 days in turn), 1 rollup, 1 ingest.
                      # The first 4 ops hold every kind, so even a short
                      # run measures the writes beside the reads; a
                      # measured phase runs whole blocks, so every run
                      # times the same mix of kinds and range lengths
                      "block": 10, "rollup_at": [1], "ingest_at": [3],
                      "range_days": [1, 7, 30], "rollup_days": 30,
                      # more ops than a run reaches; a phase ends early
                      # when it runs out
                      "schedule": 40},
}
# when the generated files or expected answers change shape, bump this so
# stale cache entries are never read
FORMAT = 8


def cache_key(workload: str, seed: int) -> str:
    blob = json.dumps([FORMAT, PARAMS[workload]], sort_keys=True).encode()
    return f"{workload}-s{seed}-{hashlib.sha1(blob).hexdigest()[:10]}"


# ------------------------------------------------------------------ parquet

def _write_parquet(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark rejects INT64 nanosecond timestamps; microseconds round-trip
    pq.write_table(tbl, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def _write_parts(pdf, path: str, files: int) -> None:
    """``pdf`` as ``files`` parquet files under directory ``path``, so Spark
    reads it with one task per file rather than one for the whole table."""
    os.makedirs(path)
    bounds = np.linspace(0, len(pdf), files + 1).astype(int)
    for i in range(files):
        _write_parquet(pdf.iloc[bounds[i]:bounds[i + 1]],
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _pages(ids: np.ndarray, seed: int):
    """Web pages for ``ids`` without the ``html`` column: every workload
    reads ``text``/``lang``/``warc_ts`` only, and html would triple the
    bytes generated per run."""
    from ddsketch_spark.sources.webpages import generate_batch

    pdf = generate_batch(ids, seed).drop(columns=["html"])
    pdf.insert(0, "doc_id", np.asarray(ids, dtype=np.int64))
    return pdf


# ------------------------------------------------------------------ corpus_job

def _gen_corpus_job(seed: int, out: str) -> None:
    p = PARAMS["corpus_job"]
    pdf = _pages(np.arange(p["docs"]), seed)
    _write_parts(pdf, os.path.join(out, "corpus"), p["files"])
    lengths = pdf["text"].str.len().to_numpy()
    expected = {}
    for lang in sorted(pdf["lang"].unique()):
        v = lengths[pdf["lang"] == lang]
        # DDSketch estimates the lower quantile, rank floor(q * (n - 1))
        expected[lang] = {"n": len(v), "q": np.quantile(
            v, QS, method="lower").tolist()}
    _dump(out, {"docs": len(pdf), "batches": p["batches"],
                "expected": expected})


# ------------------------------------------------------------------ dedup_pairs

def _near_copy(words: list[str], edits: int, rng) -> str:
    from ddsketch_spark.sources.webpages import VOCAB

    out = list(words)
    for pos in rng.choice(len(out), size=edits, replace=False):
        out[pos] = str(VOCAB[rng.integers(len(VOCAB))])
    return " ".join(out)


def minhash_bands(text: str, memo: dict) -> list[tuple]:
    """Exact LSH band signatures of ``text`` as
    ``operators.textops.minhash_lsh_pairs`` computes them: md5-h64 of every
    character 8-shingle reduced mod 2^31-1, 16 universal hashes mod
    2^61-1, min per hash, 4 bands of 4 rows.  ``memo`` caches shingle
    hashes across calls (near-copies share most of their shingles)."""
    from ddsketch_spark.core.hashing import py_h64
    from ddsketch_spark.textconf import (
        LSH_BANDS, LSH_ROWS, MINHASH_AB, SHINGLE_K, _P31, _P61,
    )

    s = []
    for i in range(max(len(text) - SHINGLE_K + 1, 1)):
        sh = text[i:i + SHINGLE_K]
        h = memo.get(sh)
        if h is None:
            h = memo[sh] = py_h64(sh) % _P31
        s.append(h)
    s = np.array(s, dtype=np.int64)
    sig = [int(((a * s + b) % _P61).min()) for a, b in MINHASH_AB]
    return [tuple(sig[b * LSH_ROWS:(b + 1) * LSH_ROWS])
            for b in range(LSH_BANDS)]


def lsh_pairs(texts: dict[int, str]) -> dict[tuple[int, int], int]:
    """Every ``(a, b) -> bands_shared`` pair ``minhash_lsh_pairs`` returns
    for the corpus ``texts`` (doc id -> text)."""
    buckets: dict[tuple, list[int]] = defaultdict(list)
    memo: dict[str, int] = {}
    for doc_id in sorted(texts):
        for band, bsig in enumerate(minhash_bands(texts[doc_id], memo)):
            buckets[(band, bsig)].append(doc_id)
    shared: Counter = Counter()
    for ids in buckets.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                shared[(a, b)] += 1
    return dict(shared)


def _gen_dedup_pairs(seed: int, out: str) -> None:
    import pandas as pd

    p = PARAMS["dedup_pairs"]
    rng = np.random.default_rng(seed)
    n_copies = int(round(p["docs"] * p["dup_share"]))
    n_base = p["docs"] - n_copies
    base = _pages(np.arange(n_base), seed)[["doc_id", "text", "lang"]]
    nwords = base["text"].str.count(" ").to_numpy() + 1
    lo, hi = p["template_words"]
    templates = base["doc_id"].to_numpy()[(nwords >= lo) & (nwords <= hi)]
    templates = rng.permutation(templates[:p["templates"]])
    # Zipf(s) cluster sizes, allotted exactly (largest remainder) rather
    # than sampled: the hot cluster, and with it the pair count, is the
    # same size for every seed
    w = 1.0 / np.arange(1, len(templates) + 1) ** p["zipf_s"]
    share = n_copies * w / w.sum()
    sizes = np.floor(share).astype(int)
    sizes[np.argsort(sizes - share)[:n_copies - sizes.sum()]] += 1
    picks = rng.permutation(np.repeat(np.arange(len(templates)), sizes))
    texts = base["text"].tolist()
    copies, members = [], defaultdict(list)
    for j, k in enumerate(picks):
        t = int(templates[k])
        words = texts[t].split(" ")
        edits = max(1, int(round(p["edit_share"] * len(words))))
        copies.append(_near_copy(words, edits, rng))
        members[t].append(n_base + j)
    corpus = pd.concat([base, pd.DataFrame({
        "doc_id": np.arange(n_base, p["docs"], dtype=np.int64),
        "text": copies,
        "lang": base["lang"].to_numpy()[templates[picks]],
    })], ignore_index=True)
    _write_parts(corpus, os.path.join(out, "docs"), p["files"])

    injected = []          # (a, b, cluster) for every pair inside a cluster
    for t, cs in members.items():
        ids = [t] + cs
        injected += [(a, b, t) for i, a in enumerate(ids) for b in ids[i + 1:]]
    expected = lsh_pairs(dict(zip(corpus["doc_id"].tolist(),
                                  corpus["text"].tolist())))
    np.savez(os.path.join(out, "pairs.npz"),
             injected=np.array(sorted(injected), dtype=np.int64).reshape(-1, 3),
             expected=np.array([(a, b, c) for (a, b), c in
                                sorted(expected.items())],
                               dtype=np.int64).reshape(-1, 3))
    sizes = sorted((len(cs) + 1 for cs in members.values()), reverse=True)
    _dump(out, {"docs": len(corpus), "injected_pairs": len(injected),
                "expected_pairs": len(expected), "largest_cluster": sizes[0]})


# ------------------------------------------------------------------ store_queries

def _gen_store_queries(seed: int, out: str) -> None:
    import pandas as pd

    p = PARAMS["store_queries"]
    rng = np.random.default_rng(seed)
    base = _pages(np.arange(p["docs"]), seed)
    # fold the year of timestamps into the table's first ``days`` days
    days = p["days"]
    offs = (base["warc_ts"].astype("int64") // 10**9 - BASE_EPOCH) % (days * DAY)
    base["warc_ts"] = pd.to_datetime(BASE_EPOCH + offs, unit="s")
    _write_parts(base, os.path.join(out, "base"), p["files"])

    # op schedule: the same pattern of kinds and range lengths in every
    # block, with seeded start days, aligned to whole days inside the
    # table as it stands when the op runs (ingests extend it)
    ops, ingests, n_ranges = [], [], 0
    for i in range(p["schedule"]):
        if i % p["block"] == 0:
            n_ranges = 0
        if i % p["block"] in p["ingest_at"]:
            day = days + len(ingests)
            ops.append({"kind": "ingest", "day": day,
                        "file": f"ingest/day-{day}.parquet"})
            ingests.append(day)
            continue
        kind = "rollup" if i % p["block"] in p["rollup_at"] else "range"
        if kind == "range":
            span = p["range_days"][n_ranges % len(p["range_days"])]
            n_ranges += 1
        else:
            span = p["rollup_days"]
        end_day = days + len(ingests)
        start = int(rng.integers(0, end_day - span + 1))
        ops.append({"kind": kind, "t0": BASE_EPOCH + start * DAY,
                    "t1": BASE_EPOCH + (start + span) * DAY})

    # ingested days: fresh doc ids, timestamps moved into the new day
    os.makedirs(os.path.join(out, "ingest"))
    frames = [base]
    for i, day in enumerate(ingests):
        lo = p["docs"] + i * p["ingest_docs"]
        pdf = _pages(np.arange(lo, lo + p["ingest_docs"]), seed)
        offs = rng.integers(0, DAY, size=len(pdf))
        pdf["warc_ts"] = pd.to_datetime(BASE_EPOCH + day * DAY + offs, unit="s")
        _write_parquet(pdf, os.path.join(out, f"ingest/day-{day}.parquet"))
        frames.append(pdf)

    # exact answers, each against the table as it stands at that op: the
    # base is sorted by time and every ingested day lies after it, so the
    # table visible to an op is a prefix of ``allp`` and a time range is a
    # contiguous slice of that prefix
    allp = pd.concat([base.sort_values("warc_ts", kind="stable")] + frames[1:],
                     ignore_index=True)
    ts = (allp["warc_ts"].astype("int64") // 10**9).to_numpy()
    vals = allp["text"].str.len().to_numpy().astype(np.float64)
    lang_names, codes = np.unique(allp["lang"].to_numpy(), return_inverse=True)
    visible_end = np.cumsum([len(base)] + [p["ingest_docs"]] * len(ingests))

    def by_lang(lo: int, hi: int) -> dict:
        c, v = codes[lo:hi], vals[lo:hi]
        order = np.lexsort((v, c))
        c, v = c[order], v[order]
        cuts = np.flatnonzero(np.diff(c)) + 1
        return {str(lang_names[g[0]]): {
                    "n": len(gv),
                    "q": np.quantile(gv, QS, method="lower").tolist()}
                for g, gv in zip(np.split(c, cuts), np.split(v, cuts))
                if len(gv)}

    n_ingested = 0
    for op in ops:
        if op["kind"] == "ingest":
            n_ingested += 1
            continue
        end = int(visible_end[n_ingested])
        if op["kind"] == "range":
            lo, hi = np.searchsorted(ts[:end], [op["t0"], op["t1"]])
            op["expected"] = by_lang(int(lo), int(hi))
            continue
        exp = {}
        for d in range(op["t0"], op["t1"], DAY):
            lo, hi = np.searchsorted(ts[:end], [d, d + DAY])
            exp.update({f"{d}/{lang}": e
                        for lang, e in by_lang(int(lo), int(hi)).items()})
        op["expected"] = exp
    _dump(out, {"docs": len(base), "ingest_docs": p["ingest_docs"],
                "ops": ops})


# ------------------------------------------------------------------ entry points

GENERATORS = {
    "corpus_job": _gen_corpus_job,
    "dedup_pairs": _gen_dedup_pairs,
    "store_queries": _gen_store_queries,
}


def _dump(out: str, meta: dict) -> None:
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)


def generate(workload: str, seed: int, out: str) -> None:
    """Write one input set into the empty directory ``out``."""
    os.makedirs(out)
    GENERATORS[workload](seed, out)


class Pending:
    """Inputs for ``(workload, seed)`` under ``cache``, generated by a child
    process unless already cached.  :meth:`wait` returns their directory;
    :meth:`close` stops a generator still running.  Keeps the ``keep``
    most recently used input sets and deletes older ones."""

    def __init__(self, workload: str, seed: int, cache: str, keep: int = 6):
        import subprocess

        self.cache, self.keep = cache, keep
        self.path = os.path.join(cache, cache_key(workload, seed))
        self._proc = None
        if not os.path.exists(os.path.join(self.path, "_DONE")):
            shutil.rmtree(self.path, ignore_errors=True)
            os.makedirs(cache, exist_ok=True)
            shutil.rmtree(self.path + ".tmp", ignore_errors=True)
            self._proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 workload, "--seed", str(seed), "--out", self.path + ".tmp"])

    def wait(self) -> str:
        if self._proc is not None:
            code = self._proc.wait()
            self._proc = None
            if code != 0:
                raise RuntimeError(f"input generation exited with {code}")
            open(os.path.join(self.path + ".tmp", "_DONE"), "w").close()
            os.rename(self.path + ".tmp", self.path)
        os.utime(self.path)
        entries = sorted((e for e in os.scandir(self.cache) if e.is_dir()
                          and not e.name.endswith(".tmp")),
                         key=lambda e: e.stat().st_mtime, reverse=True)
        for e in entries[self.keep:]:
            shutil.rmtree(e.path, ignore_errors=True)
        return self.path

    def close(self) -> None:
        if self._proc is not None:
            self._proc.kill()
            self._proc.wait()
            self._proc = None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    main()
