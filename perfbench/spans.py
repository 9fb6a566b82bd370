"""Tracing for the benchmark's traced run.

Spans are recorded in memory (name, start, end, parent, run id) around
calls into the program's public module functions, which the tracer
patches on the module objects for the length of the traced run and
restores afterwards. The pipeline calls its operators through module
attributes (``R.rollup_from_points``, ``M.partition_lineage``...), so
the patched functions see every call the pipeline makes.

Spark's own task and SQL metrics are attributed through job groups:
each pipeline stage, each read and each operator construction runs
under a job group named after it, and after the run the tracer reads
the jobs of each group from Spark's status store. The pipeline has no
public per-stage hook, so the stage group wraps its private
``_run_stage``; that is the one non-public name the tracer touches.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Spark SQL metric display string -> number (bytes, seconds or count).

    Task-level metrics read ``total (min, med, max ...)\\n<total> (...)``;
    driver-level ones are a bare value such as ``7,534`` or ``26 ms``."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Tracer:
    """In-memory span recorder plus Spark job-group attribution."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.run_id = "setup"
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._t0 = time.perf_counter()
        self._exec_of_job: dict[int, int] | None = None  # filled on first use, after drain()

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = None
        if group is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", self.group(group))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def group(self, name: str) -> str:
        return f"{self.run_id}/{name}"

    def wrap(self, module, fn: str, layer: str, group=None) -> None:
        """Patch ``module.fn`` with a span (and, if given, a job group:
        a string, or a callable of the call's arguments)."""
        orig = getattr(module, fn)

        def traced(*args, **kwargs):
            g = group(args, kwargs) if callable(group) else group
            with self.span(f"{layer}.{fn}", g):
                return orig(*args, **kwargs)

        setattr(module, fn, traced)
        self._patched.append((module, fn, orig, traced))

    def restore(self) -> None:
        """Put the original functions back (``reinstall`` re-patches)."""
        for module, fn, orig, _ in reversed(self._patched):
            setattr(module, fn, orig)

    def reinstall(self) -> None:
        for module, fn, _, traced in self._patched:
            setattr(module, fn, traced)

    def totals(self, name: str, run: str | None = None) -> tuple[int, float]:
        """(calls, seconds) of the spans named ``name`` or ``name.*``,
        counting only those with no such span above them, so a function
        that calls another of the same layer is not counted twice."""
        by_id = {s["id"]: s for s in self.spans}

        def match(s):
            return s["name"] == name or s["name"].startswith(name + ".")

        calls, secs = 0, 0.0
        for s in self.spans:
            if not match(s) or (run is not None and s["run"] != run):
                continue
            p = s["parent"]
            while p is not None and not match(by_id[p]):
                p = by_id[p]["parent"]
            if p is None:
                calls += 1
                secs += s["end"] - s["start"]
        return calls, secs

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=0)

    # ------------------------------------------------------ Spark metrics
    def _jvm(self):
        return self.sc._jvm

    def _list(self, seq) -> list:
        return list(self._jvm().scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store holds the finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(self.group(group)))

    def stage_metrics(self, group: str) -> dict:
        """Task time, shuffle write, spill, GC, job count and task skew
        (max / median task time of the Spark stage with the most task
        time) over the jobs of one group."""
        jvm, gw = self._jvm(), self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        empty, no_q = jvm.java.util.ArrayList(), gw.new_array(jvm.double, 0)
        q = gw.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        jobs = self.job_ids(group)
        out = {"task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "jobs": len(jobs)}
        top, skew, seen = -1.0, 1.0, set()
        for jid in jobs:
            for sid in self._list(store.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in self._list(store.stageData(sid, False, empty, False, no_q)):
                    run_s = sd.executorRunTime() / 1000.0
                    out["task_s"] += run_s
                    out["gc_s"] += sd.jvmGcTime() / 1000.0
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if run_s > top and sd.numCompleteTasks() > 0:
                        dist = store.taskSummary(sid, sd.attemptId(), q)
                        if dist.isDefined():
                            med, mx = self._list(dist.get().executorRunTime())
                            top, skew = run_s, (mx / med if med > 0 else 1.0)
        out["task_skew"] = skew
        return out

    def sql_nodes(self, group: str) -> list[tuple[str, dict, dict]]:
        """(node name, metric name -> value, child node metrics) for
        every plan node of the SQL executions whose jobs ran in ``group``."""
        conv = self._jvm().scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        if self._exec_of_job is None:
            self._exec_of_job = {
                int(j): ex.executionId()
                for ex in self._list(sql.executionsList())
                for j in conv.asJava(ex.jobs()).keySet()
            }
        out = []
        for eid in sorted({self._exec_of_job[j] for j in self.job_ids(group) if j in self._exec_of_job}):
            values = conv.asJava(sql.executionMetrics(eid))
            graph = sql.planGraph(eid)
            metrics = {}
            for node in self._list(graph.allNodes()):
                m = {}
                for pm in self._list(node.metrics()):
                    v = values.get(pm.accumulatorId())
                    if v is not None:
                        m[pm.name()] = parse_metric(v)
                metrics[node.id()] = (node.name(), m)
            child = {e.toId(): e.fromId() for e in self._list(graph.edges())}
            for nid, (name, m) in metrics.items():
                c = metrics.get(child.get(nid), (None, {}))[1]
                out.append((name, m, c))
        return out
