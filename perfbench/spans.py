"""In-memory spans around public engine calls, with Spark metrics per span.

A span is (name, start, end, parent, run id) plus whatever attributes the
caller attaches.  While a span is open, every Spark job the calls submit is
tagged with a per-span job group, so when the span closes its jobs, stages
and SQL executions are read back from Spark's in-process status stores
(``sc._jsc.sc().statusStore()``, ``sharedState().statusStore()``,
``statusTracker()``); no UI or REST endpoint is involved.  Spans stay in
memory and are written out once, when the run ends.

With tracing off, ``span`` only yields: no job groups, no status reads.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_VALUE = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)?")
_PY_RUN = "time to run Python workers"


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("1,234", "2.5 s", "751.5 KiB", or the
    multi-task "total (min, med, max ...)\\n3.1 s (...)") -> its total in
    base units (rows, seconds, bytes)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    """Spans may be opened from several threads (set-up warms calls
    concurrently); each thread keeps its own stack, and Spark's job group
    is a thread-local property."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._spark = spark
        self._next_execution = 0
        self._by_group: dict[str, dict] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def _append(self, rec: dict) -> dict:
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        return rec

    def record(self, name: str, wall_s: float, **attrs) -> None:
        """A span timed elsewhere that has just ended (no Spark metrics)."""
        if self.enabled:
            end = time.time()
            self._append({"name": name, "run": self.run_id, "parent": None,
                          "start": end - wall_s, "end": end, "wall_s": wall_s, **attrs})

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = self._append({"name": name, "run": self.run_id,
                            "parent": parent["id"] if parent else None, **attrs})
        stack.append(rec)
        group = f"{self.run_id}/{rec['id']}"
        self._by_group[group] = rec
        self._spark.sparkContext.setJobGroup(group, name, False)
        t_open = time.perf_counter() - t
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            t = time.perf_counter()
            stack.pop()
            sc = self._spark.sparkContext
            if parent is not None:
                sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self._collect(rec, group)
            with self._lock:
                self.overhead_s += t_open + time.perf_counter() - t

    def _collect(self, rec: dict, group: str) -> None:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        intervals, stage_ids = [], set()
        for jid in job_ids:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            seq = jd.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        rec["jobs"] = len(job_ids)
        rec["job_intervals"] = intervals
        task_ms = shuffle = spill = 0
        main = None
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # a skipped stage has no attempt in the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            task_ms += sd.executorRunTime()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.diskBytesSpilled()
            if main is None or sd.executorRunTime() > main[1]:
                main = (sd, sd.executorRunTime())
        rec["task_s"] = task_ms / 1e3
        rec["shuffle_write_bytes"] = shuffle
        rec["spill_bytes"] = spill
        rec["task_skew"] = self._skew(store, main[0]) if main else 1.0
        self._collect_sql()

    def _skew(self, store, sd) -> float:
        gw = self._spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(sd.stageId(), sd.attemptId(), q)
        if sd.numTasks() < 2 or not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def _collect_sql(self) -> None:
        """Attribute every new SQL execution to the span owning its jobs."""
        sql = self._spark._jsparkSession.sharedState().statusStore()
        store = self._spark.sparkContext._jsc.sc().statusStore()
        while True:
            opt = sql.execution(self._next_execution)
            if not opt.isDefined():
                return
            eid = self._next_execution
            self._next_execution += 1
            jobs = opt.get().jobs().keySet().iterator()
            owner = None
            while jobs.hasNext() and owner is None:
                g = store.job(jobs.next()).jobGroup()
                if g.isDefined():
                    owner = self._by_group.get(g.get())
            if owner is None:
                continue
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        self._add_node_metric(owner, node, m.name(), parse_metric(v.get()))

    @staticmethod
    def _add_node_metric(rec: dict, node, metric: str, value: float) -> None:
        name = node.name()

        def add(key):
            rec[key] = rec.get(key, 0.0) + value

        if metric == _PY_RUN:
            add("python_udf_s")
        elif metric == "scan time" and name.startswith("Scan"):
            add("scan_s")
        elif metric == "number of output rows" and (
                name.startswith("Scan") or name.startswith("InMemoryTableScan")):
            add("rows_scanned")
        elif name.startswith("Execute InsertInto"):
            if metric == "written output":
                add("written_bytes")
            elif metric == "number of output rows":
                add("written_rows")

    def write(self, path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def candidate_rows(df) -> int:
    """Rows entering the refine step of ``df``: the topmost Filter whose
    input (through Projects/Filters) is a Join is the refine; its Join is
    counted on its own.  Reads the analyzed plan only, so it needs no
    engine change, but it runs the join once more (traced runs only)."""
    from pyspark.sql import DataFrame

    def refine_join(node):
        if node.nodeName() == "Filter":
            inner = node.child()
            while inner.nodeName() in ("Filter", "Project"):
                inner = inner.child()
            if inner.nodeName() == "Join":
                return inner
        kids = node.children()
        for i in range(kids.size()):
            hit = refine_join(kids.apply(i))
            if hit is not None:
                return hit
        return None

    spark = df.sparkSession
    join = refine_join(df._jdf.queryExecution().analyzed())
    if join is None:
        return 0
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, join)
    return DataFrame(jdf, spark).count()
