"""The three workloads.  Each drives the library only through its public
functions and implements the same methods:

- ``setup(spark)``: warm-up plus any state the ops need (timed as
  ``setup_s``);
- ``start_phase()``: reset mutable state before a measured phase;
- ``next_op(i)``: the i-th op of the seeded schedule, ``None`` past its
  end; ``kinds`` names every op kind it holds, and a measured phase ends
  only after a whole number of ``block`` ops;
- ``run_op(spark, op, sink, tr)``: re-call the library, then run one
  action on the fresh DataFrame.  ``sink`` is ``collect`` (the op users
  run: fast collect to Rows), ``arrow`` (``toArrow()``) or ``noop`` (a
  noop-sink write: execution only); the traced run uses all three to
  split execute / transfer / materialize;
- ``check(op, result)``: a :class:`checks.Verdict` for a ``collect`` or
  ``arrow`` result; it may raise on malformed output, which fails the op.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
from inputs import ALPHA, DAY, HOUR, NBUCKETS, PARAMS, QS
from tracer import Tracer

UNTRACED = Tracer(False)


def run_sink(df, sink: str):
    from ddsketch_spark.plans.fastcollect import fast_collect

    if sink == "collect":
        return fast_collect(df).collect()
    if sink == "arrow":
        return df.toArrow()
    df.write.format("noop").mode("overwrite").save()
    return None


def result_rows(result) -> list[dict]:
    """Rows of a collect (Row list) or arrow (pyarrow.Table) result."""
    if hasattr(result, "to_pylist"):
        return result.to_pylist()
    return [r.asDict() for r in result]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def parquet_data_bytes(path: str) -> int:
    """Compressed column-chunk bytes of the parquet files under ``path``,
    without their footers."""
    total = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(f).metadata
        total += sum(md.row_group(g).column(c).total_compressed_size
                     for g in range(md.num_row_groups)
                     for c in range(md.num_columns))
    return total


class _Base:
    name = ""
    block = 1

    def __init__(self, inputs_dir: str, work: str):
        self.inputs = inputs_dir
        self.work = os.path.join(work, self.name)
        with open(os.path.join(inputs_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.docs = self.meta["docs"]
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def start_phase(self) -> None:
        pass

    def has_result(self, op: dict) -> bool:
        return True

    def finish_op(self, op: dict) -> None:
        pass


class CorpusJob(_Base):
    """``jobs.web_sketch_job.run_job`` over the parquet corpus into a fresh
    checkpoint dir: stopped after half its batches, then resumed; the op
    ends by collecting p50/p90/p99 of ``length(text)`` by lang."""

    name = "corpus_job"
    kinds = ("job",)

    def __init__(self, inputs_dir, work):
        super().__init__(inputs_dir, work)
        self.corpus = os.path.join(inputs_dir, "corpus")
        self.batches = self.meta["batches"]
        self._n = 0

    @staticmethod
    def _job(spark, corpus: str, batches: int, ckpt: str, tr, op_id: str):
        from ddsketch_spark.jobs.web_sketch_job import file_batches, run_job

        provider = file_batches(spark, corpus, batches)
        with tr.span("job.run", op_id):
            first = run_job(spark, provider, ckpt, n_batches=batches,
                            max_batches=batches // 2)
        with tr.span("job.resume", op_id):
            second = run_job(spark, provider, ckpt, n_batches=batches)
        return first, second

    def setup(self, spark) -> None:
        warm = os.path.join(self.work, "warm")
        shutil.rmtree(warm, ignore_errors=True)
        os.makedirs(os.path.join(warm, "corpus"))
        shutil.copy(os.path.join(self.corpus, "part-000.parquet"),
                    os.path.join(warm, "corpus"))
        # a one-batch job over one file, finalized and collected
        _, done = self._job(spark, os.path.join(warm, "corpus"), 1,
                            os.path.join(warm, "ckpt"), UNTRACED, "warm")
        run_sink(done["result"], "collect")
        shutil.rmtree(warm)

    def next_op(self, i: int) -> dict:
        return {"kind": "job"}

    def run_op(self, spark, op, sink, tr, op_id):
        self._n += 1
        ckpt = os.path.join(self.work, f"ckpt-{self._n}")
        first, second = self._job(spark, self.corpus, self.batches, ckpt,
                                  tr, op_id)
        with tr.span(sink, op_id):
            result = run_sink(second["result"], sink)
        op["ckpt"] = ckpt
        op["runs"] = [first["metrics"], second["metrics"]]
        return result

    def check(self, op, result) -> checks.Verdict:
        got = checks.quantile_rows(result_rows(result), ["lang"])
        return checks.check_quantiles(got, self.meta["expected"])

    def job_stats(self, op) -> dict:
        """Lineage of the op's checkpoint: batch wall seconds as the job
        recorded them, batches run, replay ratio, checkpoint bytes."""
        wall = {}
        for d in glob.glob(os.path.join(op["ckpt"], "batch=*")):
            t = pq.read_table(d, columns=["wall_s"], partitioning=None)
            wall[d] = t.column("wall_s")[0].as_py()
        ran = sum(len(m["batches_ran"]) for m in op["runs"])
        return {"batch_s": float(sum(wall.values())),
                "batches_run": ran, "replay_ratio": ran / self.batches,
                "checkpoint_bytes": dir_bytes(op["ckpt"])}

    def output_bytes_per_item(self, op, result, stages) -> float:
        """Checkpoint data bytes per input doc.  Footers are left out: the
        parquet writer keeps a binary column's min/max statistics only when
        they are small enough, so whether a footer carries two sketches
        (about 4 KB on a 15 KB file) flips from seed to seed."""
        return parquet_data_bytes(op["ckpt"]) / self.docs

    def finish_op(self, op) -> None:
        shutil.rmtree(op["ckpt"], ignore_errors=True)


class DedupPairs(_Base):
    """``operators.textops.minhash_lsh_pairs`` over the near-duplicate
    corpus, collected to the driver."""

    name = "dedup_pairs"
    kinds = ("pairs",)

    def __init__(self, inputs_dir, work):
        super().__init__(inputs_dir, work)
        self.path = os.path.join(inputs_dir, "docs")
        with np.load(os.path.join(inputs_dir, "pairs.npz")) as z:
            self.injected = z["injected"]
            self.expected = z["expected"]

    def _build(self, spark, path, tr, op_id):
        from ddsketch_spark.operators.textops import minhash_lsh_pairs

        paths = path if isinstance(path, list) else [path]
        with tr.span("build", op_id):
            return minhash_lsh_pairs(spark.read.parquet(*paths))

    def setup(self, spark) -> None:
        warm = [os.path.join(self.path, f"part-00{i}.parquet") for i in (0, 1)]
        run_sink(self._build(spark, warm, UNTRACED, "warm"), "collect")

    def next_op(self, i: int) -> dict:
        return {"kind": "pairs"}

    def run_op(self, spark, op, sink, tr, op_id):
        df = self._build(spark, self.path, tr, op_id)
        with tr.span(sink, op_id):
            return run_sink(df, sink)

    COLUMNS = ["a", "b", "bands_shared"]

    def _array(self, result) -> np.ndarray:
        if hasattr(result, "column"):
            return np.stack([result.column(c).to_numpy()
                             for c in self.COLUMNS], axis=1)
        if result and list(result[0].__fields__) != self.COLUMNS:
            raise ValueError(f"columns {result[0].__fields__}, expected "
                             f"{self.COLUMNS}")
        # np.array(rows) probes every Row for array attributes, ~4 s per
        # 100k rows; flattening the tuples takes milliseconds
        return np.fromiter(itertools.chain.from_iterable(result),
                           dtype=np.int64,
                           count=3 * len(result)).reshape(-1, 3)

    def check(self, op, result) -> checks.Verdict:
        return checks.check_pairs(self._array(result), self.expected,
                                  self.injected)

    def output_bytes_per_item(self, op, result, stages) -> float:
        """Bytes of task results shipped to the driver per returned pair.
        Pairs, not docs: how many pairs a corpus yields is fixed by its
        texts, and swings with the hot template from seed to seed."""
        sent = sum(s["resultSize"] for s in stages if s["status"] == "COMPLETE")
        return sent / max(len(result), 1)


class StoreQueries(_Base):
    """A seeded mix over a stored hourly x lang sketch table: aligned
    1/7/30-day ``range_percentile`` queries, 30-day daily ``rollup``s and
    ingests of a new day's docs."""

    name = "store_queries"
    kinds = ("range", "rollup", "ingest")
    block = PARAMS["store_queries"]["block"]

    def __init__(self, inputs_dir, work):
        super().__init__(inputs_dir, work)
        self.golden = os.path.join(self.work, "golden")
        self.live = os.path.join(self.work, "live")

    @staticmethod
    def _sketch_rows(spark, path):
        from ddsketch_spark.operators.rollup import build_sketch_table

        raw = spark.read.parquet(path).select(
            "warc_ts", "lang", F.length("text").cast("double").alias("len"))
        return build_sketch_table(raw, "warc_ts", "len", ALPHA, NBUCKETS,
                                  HOUR, keys=["lang"])

    def setup(self, spark) -> None:
        from ddsketch_spark.operators.rollup import store_sketch_table

        # an ingest overwrites only the day partition it writes
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        shutil.rmtree(self.golden, ignore_errors=True)
        store_sketch_table(
            self._sketch_rows(spark, os.path.join(self.inputs, "base")),
            self.golden)
        self.table_bytes = dir_bytes(self.golden)
        first = next(o for o in self.meta["ops"] if o["kind"] == "range")
        run_sink(self._query(spark, self.golden, first, UNTRACED, "warm"),
                 "collect")

    def start_phase(self) -> None:
        # every measured phase starts from an identical copy of the table
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.golden, self.live)

    def next_op(self, i: int) -> dict:
        ops = self.meta["ops"]
        return dict(ops[i]) if i < len(ops) else None

    def has_result(self, op) -> bool:
        return op["kind"] != "ingest"

    def _query(self, spark, table, op, tr, op_id):
        from ddsketch_spark.operators.rollup import (
            range_percentile, read_sketch_table, rollup,
        )

        with tr.span("build", op_id):
            t = read_sketch_table(spark, table)
            if op["kind"] == "range":
                return range_percentile(t, op["t0"], op["t1"], QS, HOUR,
                                        keys=["lang"],
                                        partition_granularity_seconds=DAY)
            sub = t.where((F.col("pbucket") >= op["t0"])
                          & (F.col("pbucket") < op["t1"]))
            return rollup(sub, DAY, HOUR, keys=["lang"])

    def run_op(self, spark, op, sink, tr, op_id):
        if op["kind"] == "ingest":
            from ddsketch_spark.operators.rollup import store_sketch_table

            with tr.span("build", op_id):
                rows = self._sketch_rows(
                    spark, os.path.join(self.inputs, op["file"]))
            with tr.span("store.write", op_id):
                store_sketch_table(rows, self.live)
            return None
        df = self._query(spark, self.live, op, tr, op_id)
        with tr.span(sink, op_id):
            return run_sink(df, sink)

    def check(self, op, result) -> checks.Verdict:
        rows = result_rows(result)
        if op["kind"] == "range":
            got = checks.quantile_rows(rows, ["lang"])
            return checks.check_quantiles(got, op["expected"])
        from ddsketch_spark.core.ddsketch import from_bytes

        got = {f"{r['bucket']}/{r['lang']}": {
                   "n": r["n"],
                   "q": [float(x) for x in
                         from_bytes(bytes(r["sketch"])).quantile(QS)]}
               for r in rows}
        return checks.check_quantiles(got, op["expected"])

    def output_bytes_per_item(self, op, result, stages) -> float:
        return self.table_bytes / self.docs


WORKLOADS = {w.name: w for w in (CorpusJob, DedupPairs, StoreQueries)}
