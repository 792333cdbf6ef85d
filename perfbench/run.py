#!/usr/bin/env python3
"""Seeded benchmark of ddsketch_spark, run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_job --seed 1 --seconds 15 --trace 0

One closed-loop client runs one op at a time for ``--seconds`` seconds on
``plans.session.get_spark`` with master ``local[<cpus>/2]``; every op re-calls
the library and is checked against exact answers.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced run
with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

import inputs
from checks import Verdict, guarded
from tracer import SparkStatus, Tracer, reused_shuffle
from workloads import UNTRACED, WORKLOADS

SETUP_REPEATS = 3
# a median needs several ops even when ops are slow: three let it pass over
# one outlier, such as a first op that still pays one-time costs; a traced
# op runs three variants, so the traced run's phases settle for two
MIN_OPS = 3
MIN_TRACED_OPS = 2
SINKS = ("noop", "arrow")   # the traced variants beside collect

END_TO_END = {
    "setup_s": "s", "op_s_p50": "s", "docs_per_s": "1/s",
    "ok_ops_ratio": "ratio", "answer_err_max": "ratio",
    "driver_peak_rss_mb": "MB", "output_bytes_per_item": "B",
}
PER_LAYER = {
    "build.s": "s", "build.py4j_calls": "count", "build.eager_jobs": "count",
    "build.share": "ratio",
    "execute.s": "s", "execute.shuffle_write_bytes": "B",
    "execute.shuffle_read_bytes": "B", "execute.spill_bytes": "B",
    "execute.task_skew": "ratio", "execute.python_eval_s": "s",
    "execute.share": "ratio",
    "collect.transfer_s": "s", "collect.materialize_s": "s",
    "collect.result_rows": "count", "collect.result_arrow_bytes": "B",
    "collect.fallback_ops": "count", "collect.share": "ratio",
    "job.batch_s": "s", "job.finalize_s": "s", "job.batches_run": "count",
    "job.replay_ratio": "ratio", "job.checkpoint_bytes": "B",
    "job.share": "ratio",
    "store.ingest_s": "s", "store.query_s.range": "s",
    "store.query_s.rollup": "s", "store.rows_read_per_result_row": "ratio",
    "store.files_read": "count", "store.bytes_written": "B",
    "trace.op_s_p50": "s", "trace.overhead_s": "s",
}


class ReusedShuffle(RuntimeError):
    pass


def last_job_end(spark_rec: dict) -> float:
    """Epoch seconds at which the group's last Spark job completed."""
    return max((j.get("completionTime") or 0 for j in spark_rec["job_data"]),
               default=0) / 1000.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """Clock ticks all CPUs spent busy, and ticks the hypervisor kept
    them from running while they had work (steal), from ``/proc/stat``;
    zeros where that is not available."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Times a stretch of work two ways: wall seconds, and wall seconds
    less the share the host stole.  On a virtual machine of a shared host
    the hypervisor takes CPUs away while they have work; that share, read
    as ``steal / (busy + steal)`` over the stretch, moved from under 10 %
    to about half within minutes, and op wall times with it.  Scaling by
    the share not stolen gives the seconds the work takes on CPUs of its
    own, which is what the program controls."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = cpu_ticks()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, cpu_ticks()))
        own = wall * busy / (busy + steal) if busy + steal > 0 else wall
        return wall, own


def task_slots() -> int:
    """Spark task threads: half the CPUs, so the JVM's GC and compiler
    threads, the Python workers and this driver keep CPUs of their own
    rather than queueing behind tasks.  On a 4-vCPU VM the corpus_job
    op's median wall time over 10 seeds was 4.2 s with a task on every
    CPU and 3.35 s with two slots."""
    return max(1, cpus() // 2)


def configure_env(root: str, work: str) -> None:
    """Settings the Spark JVM and its Python workers inherit: the library
    on the workers' path, and every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    # Arrow's thread pool, in this process and the Python workers
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions="
                              f"-Djava.io.tmpdir={tmp} "
                              f"-XX:ParallelGCThreads={task_slots()} "
                              f"-XX:ConcGCThreads=1"),
        "pyspark-shell"])


def remove_stale_runs(parent: str) -> None:
    """Delete the work dirs of runs whose process is gone (killed runs)."""
    if not os.path.isdir(parent):
        return
    for e in os.scandir(parent):
        if e.name.startswith("run-"):
            try:
                os.kill(int(e.name[4:]), 0)
            except ProcessLookupError:
                shutil.rmtree(e.path, ignore_errors=True)
            except (ValueError, PermissionError):
                pass


def start_spark():
    from ddsketch_spark.plans.session import get_spark

    spark = get_spark("perfbench", master=f"local[{task_slots()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb(pid="self") -> float:
    """Peak RSS (``VmHWM``) of a process, by default this one."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss() -> None:
    """Restart this process's ``VmHWM`` from its current RSS, so the next
    reading is the peak of one op.  Where the kernel refuses, readings stay
    the peak since process start."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def jvm_peak_rss_mb() -> float:
    """Peak RSS of the Spark driver JVM.  It is reported but not gated: it
    follows G1's heap sizing, which moves by ±20 % between runs of
    identical work."""
    proc = jvm_process()
    return peak_rss_mb(proc.pid) if proc is not None else 0.0


def shutdown_spark(spark) -> None:
    """Stop the session and the JVM; wait until the JVM has exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def pctl(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        int(round(q * 100)) - 1]


class Bench:
    def __init__(self, wl, spark):
        self.wl = wl
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = SparkStatus(spark)
        # the tracer patches py4j and fast collect only once the traced
        # phase starts, so untraced ops run unpatched
        self.tr = UNTRACED

    def _run(self, op, sink, group, tr) -> dict:
        """One op variant under job group ``group``: its seconds, result,
        error, Spark record and the process's peak RSS during it."""
        self.sc.setJobGroup(group, group)
        n_sql = self.status.sql_count() if tr.enabled else None
        fast0 = tr.fast_collects
        result, error = None, None
        reset_peak_rss()
        sw = Stopwatch()
        try:
            with tr.counting(), tr.span("op", group):
                result = self.wl.run_op(self.spark, op, sink, tr, group)
        except Exception:
            error = traceback.format_exc(limit=3)
        wall, t = sw.stop()
        rss = peak_rss_mb()
        spark_rec = self.status.group(group, n_sql)
        if reused_shuffle(spark_rec["stages"]):
            raise ReusedShuffle(f"op {group}: every shuffle stage was skipped "
                                f"(reused an earlier plan's shuffle files)")
        return {"op": op, "group": group, "s": t, "wall_s": wall,
                "result": result,
                "error": error, "spark": spark_rec, "rss_mb": rss,
                "fast": tr.fast_collects - fast0}

    def _record(self, op_id, run) -> dict:
        """The op's record; output that makes the check raise fails the op
        rather than the run."""
        op, error = run["op"], run["error"]
        rec = {"id": op_id, "kind": op["kind"], "s": run["s"],
               "wall_s": run["wall_s"],
               "error": error, "rss_mb": run["rss_mb"], "verdict": Verdict()}
        if error is not None:
            return rec

        def check():
            v = (self.wl.check(op, run["result"]) if self.wl.has_result(op)
                 else Verdict())
            rec["out_per_item"] = self.wl.output_bytes_per_item(
                op, run["result"], run["spark"]["stages"])
            return v

        rec["verdict"] = guarded(check)
        return rec

    def untraced_op(self, op, i, phase):
        op_id = f"{phase}-{i}"
        rec = self._record(op_id, self._run(op, "collect", op_id, UNTRACED))
        self.wl.finish_op(op)
        return rec

    def traced_op(self, base, i, phase):
        op_id = f"{phase}-{i}"
        # the collect variant, the op users run, goes first so it starts
        # as cold as an untraced op; the other two alternate
        sinks = (("collect",) + (SINKS[i % 2:] + SINKS[:i % 2])
                 if self.wl.has_result(base) else ("collect",))
        runs = {sink: self._run(dict(base), sink, f"{op_id}:{sink}", self.tr)
                for sink in sinks}
        rec = self._record(op_id, runs["collect"])
        if rec["error"] is None:
            rec["layers"] = self.layers(runs)
        for r in runs.values():
            self.wl.finish_op(r["op"])
        return rec

    def layers(self, runs) -> dict:
        tr = self.tr
        col = runs["collect"]
        # spans are wall time, so shares are of the op's wall time
        g, t, spark_rec = col["group"], col["wall_s"], col["spark"]
        build_spans = [s for s in tr.spans if s["op"] == g
                       and s["name"] == "build"]
        eager = sum(1 for j in spark_rec["job_data"]
                    if any(s["start"] * 1000 <= j["submissionTime"]
                           <= s["end"] * 1000 for s in build_spans))
        out = {"build.s": tr.total(g, "build"),
               "build.py4j_calls": tr.total(g, "build", "py4j_calls"),
               "build.eager_jobs": eager}
        out["build.share"] = out["build.s"] / t
        job_s = tr.total(g, "job.run") + tr.total(g, "job.resume")
        if job_s:
            js = self.wl.job_stats(col["op"])
            out.update({f"job.{k}": v for k, v in js.items()})
            out["job.finalize_s"] = job_s - js["batch_s"]
            out["job.share"] = job_s / t
        if "noop" in runs:
            noop, arrow = runs["noop"], runs["arrow"]
            ex = self.status.metrics(noop["spark"])
            execute_s = tr.total(noop["group"], "noop")
            table = arrow["result"]
            out.update({
                "execute.s": execute_s,
                "execute.share": execute_s / t,
                # what the caller waits for after Spark's last job ended
                "collect.transfer_s": max(
                    tr.end(arrow["group"], "arrow")
                    - last_job_end(arrow["spark"]), 0.0),
                # fast path: Row building after the Arrow fetch, timed inside
                # one collect; fallback: the pickle path's whole tail
                "collect.materialize_s": (
                    tr.total(g, "collect") - tr.total(g, "collect.arrow")
                    if col["fast"] else
                    max(tr.end(g, "collect") - last_job_end(spark_rec), 0.0)),
                "collect.result_rows": table.num_rows,
                "collect.result_arrow_bytes": table.nbytes,
                "collect.fallback_ops": 0 if col["fast"] else 1,
                "rows_read_per_result_row":
                    ex["input_records"] / max(table.num_rows, 1),
                "files_read": ex["files_read"],
            })
            out["collect.share"] = (out["collect.transfer_s"]
                                    + out["collect.materialize_s"]) / t
            out.update({f"execute.{k}": ex[k] for k in (
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "task_skew", "python_eval_s")})
        else:
            out["bytes_written"] = self.status.metrics(
                spark_rec, with_skew=False)["output_bytes"]
        return out

    def phase(self, seconds: float, traced: bool, name: str,
              min_ops: int, block: int = 1) -> list[dict]:
        """Ops until ``seconds`` have passed, at least ``min_ops`` ran,
        every kind of op in the workload ran once and the ops make whole
        blocks of ``block``, or until the schedule runs out."""
        self.wl.start_phase()
        if traced:
            self.tr = Tracer(True)
        recs, kinds, i = [], set(), 0
        t_end = time.perf_counter() + seconds
        while True:
            op = self.wl.next_op(i)
            if op is None:
                return recs
            if traced:
                recs.append(self.traced_op(op, i, name))
            else:
                recs.append(self.untraced_op(op, i, name))
            kinds.add(op["kind"])
            i += 1
            if (i >= min_ops and kinds >= set(self.wl.kinds)
                    and i % block == 0 and time.perf_counter() >= t_end):
                return recs


def end_to_end(recs, setups, docs: int) -> dict:
    ok = [r for r in recs if r["error"] is None]
    p50 = statistics.median([r["s"] for r in ok]) if ok else 0.0
    verdicts = [r["verdict"] for r in ok]
    recalls = [v.cluster_recall for v in verdicts
               if v.cluster_recall is not None]
    if recalls:
        err = 1.0 - statistics.median(recalls)
    else:
        err = max((v.err_max for v in verdicts), default=0.0)
    return {
        "setup_s": statistics.median(own for _, own in setups),
        "op_s_p50": p50,
        # the workload's input docs over the median op: on store_queries a
        # 30-day range summarizes 30x the docs of a 1-day one, so a rate
        # pooled over ops would swing with the kind of the run's last op
        "docs_per_s": docs / p50 if p50 else 0.0,
        "ok_ops_ratio": sum(1 for r in recs if r["error"] is None
                            and r["verdict"].ok) / len(recs),
        "answer_err_max": err,
        # the largest peak RSS of one op, read before its output is checked
        "driver_peak_rss_mb": max(r["rss_mb"] for r in recs),
        "output_bytes_per_item": statistics.median(
            [r["out_per_item"] for r in ok if "out_per_item" in r] or [0.0]),
    }


def per_layer(untraced, traced) -> dict:
    def med(key, sel=lambda r: True):
        vals = [r["layers"][key] for r in traced
                if "layers" in r and key in r["layers"] and sel(r)]
        return statistics.median(vals) if vals else 0.0

    def op_s(recs):
        return statistics.median([r["s"] for r in recs])

    is_query = lambda r: r["kind"] in ("range", "rollup")  # noqa: E731
    out = {k: med(k) for k in PER_LAYER if not k.startswith(
        ("store.", "trace.", "collect.fallback_ops"))}
    out["collect.fallback_ops"] = sum(
        r["layers"].get("collect.fallback_ops", 0)
        for r in traced if "layers" in r)
    kind_s = lambda kind: statistics.median(  # noqa: E731
        [r["s"] for r in traced if r["kind"] == kind] or [0.0])
    out.update({
        "store.ingest_s": kind_s("ingest"),
        "store.query_s.range": kind_s("range"),
        "store.query_s.rollup": kind_s("rollup"),
        "store.rows_read_per_result_row":
            med("rows_read_per_result_row", is_query),
        "store.files_read": med("files_read", is_query),
        "store.bytes_written": med("bytes_written"),
    })
    out["trace.op_s_p50"] = op_s(traced)
    # both phases run the same schedule from the same state: compare the
    # ops at the indices both reached
    n = min(len(untraced), len(traced))
    out["trace.overhead_s"] = op_s(traced[:n]) - op_s(untraced[:n])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import ddsketch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import ddsketch_spark from {root}: {e}",
              file=sys.stderr)
        return 2
    # the input cache is shared; everything else a run writes is its own
    cache = os.path.join(root, ".perfbench_work", "inputs")
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    remove_stale_runs(os.path.dirname(work))
    configure_env(root, work)
    # inputs generate in a child process while the JVM starts; the wait
    # for them is excluded from the first setup's time
    pending = inputs.Pending(args.workload, args.seed, cache)
    spark, wl, wait_s, jvm_mb = None, None, 0.0, 0.0
    try:
        # the first set-up starts the session (and the JVM); the repeats
        # redo the warm-up and rebuild the workload's state on it, so the
        # median is a warm set-up.  Restarting the session for each repeat
        # would add a new SparkContext's one-time work, several seconds a
        # repeat, to every run.
        setups = []
        for _ in range(SETUP_REPEATS):
            start = (0.0, 0.0)
            if spark is None:
                sw = Stopwatch()
                spark = start_spark()
                start = sw.stop()
                t1 = time.perf_counter()
                wl = WORKLOADS[args.workload](pending.wait(), work)
                wait_s = time.perf_counter() - t1
            sw = Stopwatch()
            wl.setup(spark)
            setups.append([a + b for a, b in zip(start, sw.stop())])
        bench = Bench(wl, spark)
        if args.trace:
            untraced = bench.phase(args.seconds / 2, False, "u",
                                   MIN_TRACED_OPS)
            traced = bench.phase(args.seconds / 2, True, "t", MIN_TRACED_OPS)
            recs = untraced + traced
            metrics, units = per_layer(untraced, traced), PER_LAYER
            bench.tr.dump(os.path.join(
                root, ".perfbench_work",
                f"trace-{args.workload}-s{args.seed}.json"))
        else:
            # one untimed block first: over the first blocks of a run the
            # JIT and the heap still settle, and store_queries' block
            # medians fell by up to 17 % from the first block to the fourth
            bench.phase(0, False, "w", wl.block, wl.block)
            recs = bench.phase(args.seconds, False, "m", MIN_OPS, wl.block)
            metrics, units = end_to_end(recs, setups, wl.docs), END_TO_END
        jvm_mb = jvm_peak_rss_mb()
        bench.tr.close()
    except ReusedShuffle as e:
        print(f"perfbench: self-check failed: {e}", file=sys.stderr)
        return 3
    finally:
        pending.close()
        shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = [r for r in recs if r["error"] is not None or not r["verdict"].ok]
    for r in failed[:5]:
        print(f"FAILED op {r['id']} ({r['kind']}): "
              f"{r['error'] or '; '.join(r['verdict'].problems)}",
              file=sys.stderr)
    verdicts = [r["verdict"] for r in recs if r["error"] is None]
    injected = sum(v.injected for v in verdicts)
    detail = {
        "ops": len(recs), "op_s": [round(r["s"], 3) for r in recs],
        "op_s_p90": round(pctl([r["s"] for r in recs], 0.9), 3),
        "inputs_wait_s": round(wait_s, 2),
        "jvm_peak_rss_mb": round(jvm_mb, 1),
        "setups_s": [round(own, 2) for _, own in setups],
        "setups_wall_s": [round(wall, 2) for wall, _ in setups],
        "op_wall_s": [round(r["wall_s"], 3) for r in recs],
        "failed_ops_ratio": len(failed) / len(recs),
        "quantile_rel_err_max": max((v.err_max for v in verdicts), default=0.0),
        "dedup_recall": (sum(v.found for v in verdicts) / injected
                         if injected else None),
        "dedup_cluster_recall": next((v.cluster_recall for v in verdicts
                                      if v.cluster_recall is not None), None),
    }
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          + json.dumps(detail))
    for k, v in metrics.items():
        print(f"{k:36s} {v:>16.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(recs),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
