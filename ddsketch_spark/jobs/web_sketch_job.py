"""Web-scale sketch job: quantile sketches of text/html size by ``lang``
over the Common-Crawl-style table, with the north rule's distributed-systems
layer — explicit skew handling, per-batch lineage + metrics, and
checkpointed resumability (a killed job replays only unfinished batches).

Runs standalone via ``spark-submit --py-files ddsketch_spark.zip
ddsketch_spark/jobs/web_sketch_job.py --n-docs ... --checkpoint ...`` or
programmatically via :func:`run_job` (what bench/tests use).

Architecture (SURVEY §3.2 + §7.1 step 5):

1. The input is split into ``n_batches`` deterministic slices by a
   *batch provider* — an id-range slice for synthesized corpora, a
   file-group for parquet/Iceberg inputs (:func:`file_batches`). Each batch
   job reads ONLY its slice (partition pruning / separate file lists), so
   no batch reads another batch's input, and reads it once: the batch
   plan has one ``FileScan``, so total scan volume is one pass regardless
   of batch count. A file provider takes the input schema from the first
   file's footer on the driver, so building a batch runs no inference
   job.
2. One Spark aggregation per *unfinished* batch computes the batch's
   DDSketch bucket cells per key in the JVM (operators/native.dd_cells:
   bucket index, summed count, row count and the value's ``min``/``max``
   per (key, bucket) cell) and fetches them with ``toArrow()``; the
   plan has no Python stage. The driver assembles each key's sketch from
   its cells with the assembler the executor-side build runs
   (operators/native.dd_assemble), reduces ``v_min``/``v_max`` per key
   from the cells, and writes those rows — plus lineage (batch id, row
   count, wall seconds) — with pyarrow as one file,
   ``checkpoint_dir/batch=K/part-00000.parquet``. The driver holds one
   batch's cells, at most keys x distinct bucket indexes rows (a few
   thousand for a low-cardinality key), and a key whose buckets exceed
   ``nbuckets`` raises the kernel's "bucket overflow" error there.
   Map-side partial aggregation bounds the shuffle to O(keys x nbuckets)
   rows per map task; Zipf-skewed keys cannot create a hot reduce key
   because bucket rows, not raw rows, are shuffled. The batch loop is
   the two-round merge: batch-local partials first, tiny global merge
   last.
3. Each written batch is committed as one version of the checkpoint's
   log (sources/tables.commit, under the directory's local ``file:``
   URI), whose entry names every finished batch file. A batch is done
   if and only if the newest entry names it, so a ``batch=K`` that a
   killed run left uncommitted is replaced and replayed, never merged.
   A ``run_job`` call reads the log once and lists no directory.
4. Finalize runs on the driver and submits no Spark job: it reads the
   files the log names, folds each key's sketches
   (operators/aggregate.fold_key_runs: one numpy pass over the sketch
   bytes — exact, DDSketch is fully mergeable), extracts quantiles with
   the row function the quantile UDF runs (functions/rows.dd_quantile),
   so estimates are bit-identical, and returns them as an Arrow local
   relation (plans/local.local_frame), whose collect runs no Spark job.
   The driver holds ``n_batches x keys`` sketch rows, so the key must be
   a low-cardinality dimension — the same bound each batch's cells
   already require. ``checkpoint_dir`` is a POSIX path.

Killing the job between batches loses nothing; killing mid-batch loses only
that batch's work.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import time
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import DoubleType, LongType, StringType, StructType

from ddsketch_spark.core.ddsketch import (
    from_bytes, validate_alpha, validate_nbuckets,
)
from ddsketch_spark.functions.rows import dd_quantile
from ddsketch_spark.operators.aggregate import fold_key_runs, sql_ident
from ddsketch_spark.operators.native import dd_assemble, dd_cells
from ddsketch_spark.plans.local import local_frame
from ddsketch_spark.sources import tables

DEFAULT_QS = [0.5, 0.9, 0.99]


def range_batches(spark: SparkSession, n_docs: int, n_batches: int,
                  seed: int = 42) -> Callable[[int], DataFrame]:
    """Batch provider over the synthesized corpus: id-range slices, each
    generated independently (no shared scan at all)."""
    from ddsketch_spark.sources.webpages import synthesize_range

    bounds = [round(i * n_docs / n_batches) for i in range(n_batches + 1)]

    def provider(b: int) -> DataFrame:
        return synthesize_range(spark, bounds[b], bounds[b + 1], seed)

    return provider


def file_batches(spark: SparkSession, path: str,
                 n_batches: int) -> Callable[[int], DataFrame]:
    """Batch provider over a parquet directory: deterministic file groups
    (sorted round-robin), each batch reads only its own files.

    Every group is read with the schema of the first file, as a
    directory read with ``mergeSchema`` off would read every file. The
    schema is taken from that file's footer on the driver
    (``sources.tables.parquet_schema``, Spark's own type rules), so no
    ``provider(b)`` call, the first one included, submits a Spark job
    until its DataFrame executes."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet files under {path}")
    groups = [files[b::n_batches] for b in range(n_batches)]
    schema = None

    def provider(b: int) -> DataFrame:
        nonlocal schema
        if schema is None:
            schema = tables.parquet_schema(spark, files[0])
        reader = spark.read.schema(schema)
        if not groups[b]:
            return reader.parquet(*files).limit(0)
        return reader.parquet(*groups[b])

    return provider


def _batch_schema(key: str) -> pa.Schema:
    return pa.schema([(key, pa.string()), ("sketch", pa.binary()),
                      ("n", pa.int64()), ("v_min", pa.float64()),
                      ("v_max", pa.float64()), ("batch", pa.int32()),
                      ("wall_s", pa.float64())])


def _write_batch(checkpoint_dir: str, b: int, rows: list[dict],
                 key: str) -> str:
    """One parquet file, named relative to ``checkpoint_dir``; a stale
    dir is replaced, never merged. No dictionary and no statistics on
    the sketch blobs: their page-header min/max would add about half
    again to the file."""
    name = f"batch={b}/part-00000.parquet"
    pdir = os.path.join(checkpoint_dir, f"batch={b}")
    shutil.rmtree(pdir, ignore_errors=True)
    os.makedirs(pdir)
    schema = _batch_schema(key)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(checkpoint_dir, name),
                   use_dictionary=False,
                   write_statistics=[c for c in schema.names if c != "sketch"])
    return name


def _finalize(spark: SparkSession, checkpoint_dir: str, files: list[str],
              key: str, qs) -> tuple[DataFrame, dict]:
    """Merge the committed partials per key (NULL is a key of its own)
    on the driver with the library's one driver fold; no Spark job runs."""
    parts = pa.concat_tables(
        [_batch_schema(key).empty_table()]
        + [pq.ParquetFile(os.path.join(checkpoint_dir, f)).read()
           for f in files])
    qs = [float(q) for q in qs]
    out = [(run.column(key)[0].as_py(), sum(run.column("n").to_pylist()), q, e)
           for run, blob in fold_key_runs(parts, [key], from_bytes)
           for q, e in zip(qs, dd_quantile(blob, np.array(qs)))]
    schema = (StructType().add(key, StringType()).add("n", LongType())
              .add("q", DoubleType()).add("est", DoubleType()))
    got = {c: [v for v in parts.column(c).to_pylist() if v is not None]
           for c in ("n", "v_min", "v_max")}
    lineage = {"rows": sum(got["n"]), "v_min": min(got["v_min"], default=None),
               "v_max": max(got["v_max"], default=None)}
    return local_frame(spark, out, schema), lineage


def run_job(
    spark: SparkSession,
    batch_provider: Callable[[int], DataFrame],
    checkpoint_dir: str,
    value_expr: str = "length(text)",
    key: str = "lang",
    alpha: float = 0.01,
    nbuckets: int = 2048,
    n_batches: int = 8,
    qs=DEFAULT_QS,
    max_batches: int | None = None,
) -> dict:
    """Returns {"result": DataFrame(key, n, q, est) or None, "metrics": {...}};
    the result is an Arrow local relation built on the driver (module
    docstring, 3): collecting it runs no Python worker.

    ``max_batches`` processes at most that many unfinished batches then
    stops (the kill-and-replay test uses it to simulate a mid-job failure —
    result is None until every batch is checkpointed).
    """
    validate_alpha(alpha)
    validate_nbuckets(nbuckets)
    t_start = time.perf_counter()
    log = "file:" + os.path.abspath(checkpoint_dir)
    entry = tables.read_entry(spark, log)
    done = {f.split("/")[0]: f for f in (entry["files"] if entry else [])}
    ran, skipped = [], []
    for b in range(n_batches):
        if f"batch={b}" in done:
            skipped.append(b)
            continue
        if max_batches is not None and len(ran) >= max_batches:
            break
        t0 = time.perf_counter()
        # project before anything else: html binary must never cross a
        # shuffle or enter Python (SURVEY §4.1)
        batch_df = batch_provider(b).selectExpr(
            sql_ident(key), f"CAST(({value_expr}) AS DOUBLE) AS v")
        cells = (dd_cells(batch_df, "v", alpha, [key], _extrema=True)
                 .toArrow().to_pandas()
                 # the NULL key is a run of its own
                 .sort_values(key, na_position="first", ignore_index=True))
        out = dd_assemble(cells, [key], alpha, nbuckets)
        wall = round(time.perf_counter() - t0, 3)
        rows = [dict(r, batch=b, wall_s=wall)
                for r in out.to_dict("records")]
        done[f"batch={b}"] = _write_batch(checkpoint_dir, b, rows, key)
        tables.commit(spark, log, list(done.values()),
                      from_arrow_schema(_batch_schema(key)))
        ran.append(b)

    files = [done.get(f"batch={b}") for b in range(n_batches)]
    metrics = {
        "batches_total": n_batches,
        "batches_ran": ran,
        "batches_skipped_checkpointed": skipped,
        "complete": None not in files,
        "wall_s": round(time.perf_counter() - t_start, 3),
    }
    if not metrics["complete"]:
        return {"result": None, "metrics": metrics}

    result, lineage = _finalize(spark, checkpoint_dir, files, key, qs)
    metrics.update(lineage)
    return {"result": result, "metrics": metrics}


def main() -> None:
    from ddsketch_spark.plans.session import get_spark

    ap = argparse.ArgumentParser(description="web-scale sketch job")
    ap.add_argument("--n-docs", type=int, default=1_000_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--input-path", default=None,
                    help="parquet dir of web pages; default: synthesize")
    ap.add_argument("--value-expr", default="length(text)")
    ap.add_argument("--alpha", type=float, default=0.01)
    ap.add_argument("--nbuckets", type=int, default=2048)
    ap.add_argument("--n-batches", type=int, default=8)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("web-sketch-job", master=args.master)
    # a checkpoint batch reads only its own file group; with coarse default
    # splits (128 MB) a small group under-fans the cluster, so cut split
    # size so every batch still spreads across all cores/executors
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    if args.input_path:
        provider = file_batches(spark, args.input_path, args.n_batches)
    else:
        provider = range_batches(spark, args.n_docs, args.n_batches, args.seed)
    out = run_job(spark, provider, args.checkpoint, args.value_expr,
                  alpha=args.alpha, nbuckets=args.nbuckets,
                  n_batches=args.n_batches)
    if out["result"] is not None:
        out["result"].orderBy("lang", "q").show(100, truncate=False)
    print(json.dumps(out["metrics"]))
    spark.stop()


if __name__ == "__main__":
    main()
