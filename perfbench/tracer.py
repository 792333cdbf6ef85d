"""Outside-in tracing: spans around library calls, a py4j round-trip
counter, and per-op Spark job/stage/task/SQL metrics.

Nothing here reaches into the library.  Spans are recorded by the
benchmark around the public calls it makes; py4j round trips are counted
by wrapping ``py4j.java_gateway.GatewayClient.send_command`` in this
process; Spark metrics are read after each op from the driver's status
stores (the data behind the Spark UI, kept even with the UI disabled),
serialized to JSON by the JVM's own Jackson so one py4j call returns a
whole record.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time

from py4j.java_gateway import GatewayClient


class Tracer:
    """Spans kept in memory (``name, start, end, parent, op``; epoch
    seconds) plus the py4j calls made inside each, and a count of
    ``FastCollectDataFrame.collect`` calls that took the Arrow path.  A
    disabled tracer records nothing and patches nothing, so untraced ops
    pay only a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.fast_collects = 0
        self._stack: list[dict] = []
        self._calls = 0
        self._counting = False
        self._restore = []
        if enabled:
            from ddsketch_spark.plans.fastcollect import FastCollectDataFrame

            tracer = self
            send = GatewayClient.send_command

            def send_command(client, *args, **kwargs):
                if tracer._counting:
                    tracer._calls += 1
                return send(client, *args, **kwargs)

            to_arrow = FastCollectDataFrame.toArrow

            def fast_to_arrow(df, *args, **kwargs):
                # collect() takes the fast path exactly when it calls this
                op = tracer._stack[-1]["op"] if tracer._stack else ""
                with tracer.span("collect.arrow", op):
                    out = to_arrow(df, *args, **kwargs)
                tracer.fast_collects += 1
                return out

            GatewayClient.send_command = send_command
            FastCollectDataFrame.toArrow = fast_to_arrow
            self._restore = [
                lambda: setattr(GatewayClient, "send_command", send),
                lambda: delattr(FastCollectDataFrame, "toArrow")]

    def close(self) -> None:
        for undo in self._restore:
            undo()
        self._restore = []

    @contextlib.contextmanager
    def counting(self):
        """Count py4j round trips while inside (the op itself, not the
        metric reads between ops)."""
        self._counting = self.enabled
        try:
            yield
        finally:
            self._counting = False

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": op,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans), "start": time.time(),
               "py4j_calls": self._calls}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j_calls"] = self._calls - rec["py4j_calls"]

    def total(self, op: str, name: str, key: str = "s") -> float:
        """Summed duration (``key='s'``) or py4j calls of ``op``'s spans
        called ``name``."""
        sel = [s for s in self.spans if s["op"] == op and s["name"] == name]
        if key == "s":
            return sum(s["end"] - s["start"] for s in sel)
        return sum(s[key] for s in sel)

    def end(self, op: str, name: str) -> float:
        """End time of ``op``'s last span called ``name``."""
        return max(s["end"] for s in self.spans
                   if s["op"] == op and s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def sql_metric_total(text: str) -> float:
    """Parse an SQL UI metric string (``"12"``, ``"1.2 s"``, ``"22.9 KiB"``
    or ``"total (min, med, max ...)\\n1.2 s (...)"``) to its total in
    seconds / bytes / count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class SparkStatus:
    """Per-job-group metrics from the driver's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._empty_list = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def sql_count(self) -> int:
        return int(self._sql.executionsCount())

    def group(self, group: str, sql_from: int | None) -> dict:
        """Jobs, stage attempts and SQL executions of job group ``group``;
        ``sql_from`` is :meth:`sql_count` taken before the group ran
        (``None`` skips the SQL executions)."""
        self.drain()
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        jobs = [self._json(self._store.job(jid)) for jid in job_ids]
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            stages += self._json(self._store.stageData(
                sid, False, self._empty_list, False, self._no_quantiles))
        execs = []
        if sql_from is not None:
            n = self.sql_count()
            execs = [e for e in self._json(self._sql.executionsList(
                         sql_from, max(n - sql_from, 0)))
                     if set(map(int, e["jobs"])) & set(job_ids)]
        return {"jobs": job_ids, "job_data": jobs, "stages": stages,
                "sql": execs}

    def task_durations(self, stage: dict) -> list[float]:
        tasks = self._json(self._store.taskList(
            stage["stageId"], stage["attemptId"], 1 << 20))
        return [t["duration"] / 1000.0 for t in tasks
                if t.get("duration") is not None]

    def metrics(self, rec: dict, with_skew: bool = True) -> dict:
        """Execute-layer numbers for one group record."""
        done = [s for s in rec["stages"] if s["status"] == "COMPLETE"]
        out = {
            "jobs": len(rec["jobs"]),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in done),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in done),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in done),
            "input_records": sum(s["inputRecords"] for s in done),
            "output_bytes": sum(s["outputBytes"] for s in done),
            "python_eval_s": 0.0, "files_read": 0.0, "task_skew": 1.0,
        }
        for e in rec["sql"]:
            values = e.get("metricValues") or {}
            for m in e["metrics"]:
                v = values.get(str(m["accumulatorId"]))
                if v is None:
                    continue
                if m["name"] == "time to run Python workers":
                    out["python_eval_s"] += sql_metric_total(v)
                elif m["name"] == "number of files read":
                    out["files_read"] += sql_metric_total(v)
        if with_skew and done:
            slowest = max(done, key=lambda s: s["executorRunTime"])
            d = self.task_durations(slowest)
            med = statistics.median(d) if d else 0.0
            out["task_skew"] = max(d) / med if med > 0 else 1.0
        return out


def reused_shuffle(stages: list[dict]) -> bool:
    """True when an op skipped shuffle map stages without running any:
    its result came from shuffle files an earlier action left behind, so
    it measured a collect of cached work rather than the op."""
    skipped = [s for s in stages if s["status"] == "SKIPPED"]
    wrote = [s for s in stages
             if s["status"] == "COMPLETE" and s["shuffleWriteBytes"] > 0]
    return bool(skipped) and not wrote
