"""Benchmark entry point: one workload, one fresh process, one result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of this repository.  The run generates its
inputs from ``--seed``, starts a ``local[N]`` session (N = min(4, nproc) - 1),
runs one set-up pass, measures its workload in a closed loop for
``--seconds``, checks every recorded result against a DuckDB oracle, and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones read from Spark's status stores through the
spans in ``spans.py`` (the spans are written to
``.perfbench/traces/``).  The line before it holds host state and sample
counts.  Any oracle mismatch or failed call makes the run exit 1.

Everything the run writes stays under ``<checkout>/.perfbench/``; its work
directory is removed at the end, and the JVM it starts is stopped and
waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (the 8th field of /proc/stat's cpu line)."""
    return int(Path("/proc/stat").read_text().split()[8]) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count)."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class TreeRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak.  Once
    ``heap_probe`` is set it also keeps the peak of the JVM's used heap."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak, self._done = interval, 0, threading.Event()
        self.heap_probe, self.heap_peak = None, 0
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    parent[int(d)] = int(Path(f"/proc/{d}/stat").read_text().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier += kids
        total = 0
        for p in tree:
            try:
                total += int(Path(f"/proc/{p}/statm").read_text().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def sample_heap(self) -> None:
        probe = self.heap_probe
        if probe is not None:
            try:
                self.heap_peak = max(self.heap_peak, probe())
            except Exception:  # the JVM is shutting down
                pass

    def run(self):
        while not self._done.is_set():
            self.peak = max(self.peak, self.sample())
            self.sample_heap()
            self._done.wait(self.interval)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return max(self.peak, self.sample())


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args):
        self.args = args
        self.spark = self.oracle = self.tracer = None
        self.inputs: dict = {}
        self.phase = "setup"
        self.latencies: list[float] = []
        self.labels: list[str] = []  # call name (and kind) of each latency
        self.pending: list[tuple] = []  # (check key, result) of timed calls
        self.attempted = self.failed = 0
        self._extras_done: set = set()

    def call(self, name, fn, check=None, op=True, output_rows=None, candidates=None,
             encode=None, **attrs):
        """One engine call.  In the timed phase an ``op`` call is one
        closed-loop operation: its latency is recorded, an exception counts
        as a failed operation, and its result is kept for the oracle check
        under key ``check``.

        Traced runs also record ``output_rows(result)``, and once per call
        site, after the call: the refine's input rows of the DataFrame
        ``candidates()`` returns, and the wall time of ``encode(result)``."""
        timed = self.phase == "timed"
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, phase=self.phase, **attrs) as rec:
                result = fn()
        except Exception as exc:  # the run goes on; the failure is counted
            if not (timed and op):
                raise
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            return None
        if timed and op:
            self.latencies.append(time.perf_counter() - t0)
            self.labels.append(":".join(str(x) for x in (name, attrs.get("kind")) if x))
            self.attempted += 1
            if check is not None:
                self.pending.append((check, result))
        if rec is not None:
            if output_rows is not None:
                rec["output_rows"] = output_rows(result)
            site = (name, tuple(sorted(attrs.items())))
            if timed and site not in self._extras_done and (candidates or encode):
                self._extras_done.add(site)
                t = time.perf_counter()
                if candidates is not None:
                    from spans import candidate_rows

                    rec["candidate_rows"] = candidate_rows(candidates())
                if encode is not None:
                    encode(result)
                    rec["encode_s"] = time.perf_counter() - t
                self.tracer.overhead_s += time.perf_counter() - t
        return result

    def concurrently(self, *chains) -> None:
        """Run each chain (a list of callables, in order) on its own
        thread and wait for all of them; set-up warms independent calls
        this way, since each pays its cold start mostly in the Spark driver
        (on 4 vCPUs the batch set-up pass took 21-26 s this way and 32-35 s
        one call after another, in four alternating pairs)."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(chains)) as pool:
            futures = [pool.submit(lambda c=c: [f() for f in c]) for c in chains]
        for f in futures:
            f.result()

    def corrupt(self, kind: str, df):
        """Test hook (``--corrupt KIND``): add 1 to the first numeric column
        of the rows holding its minimum, so the oracle must flag them."""
        if kind != self.args.corrupt:
            return df
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from pyspark.sql.types import NumericType

        c = next(f.name for f in df.schema.fields if isinstance(f.dataType, NumericType))
        low = F.min(c).over(Window.partitionBy())
        return df.withColumn(c, F.when(F.col(c) == low, F.col(c) + 1).otherwise(F.col(c)))


def start_session(n: int, work: Path):
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    from geowave_spark.session import get_spark

    # the engine's own memory settings; only the places Spark writes to
    # are moved into the run's work directory
    tmp = work / "tmp"
    spark = get_spark("perfbench", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    ap.add_argument("--corrupt", default=None, help="corrupt one result kind (tests)")
    args = ap.parse_args(argv)

    if not (ROOT / "geowave_spark" / "__init__.py").is_file():
        print(f"perfbench: no geowave_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    work = base / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

    # one core stays with the Spark driver process: Python, py4j and the
    # JVM's planner, JIT and GC threads carry much of every operation here
    nproc = len(os.sched_getaffinity(0))
    n = max(1, min(4, nproc) - 1)
    host = {"nproc": nproc, "local_n": n, "load_before": os.getloadavg()}
    steal0 = steal_s()
    rss = TreeRss()
    rss.start()
    run = Run(args)
    workload = WORKLOADS[args.workload](args.scale)
    try:
        import numpy as np

        t = time.perf_counter()
        run.inputs = workload.generate(np.random.default_rng(args.seed), work / "inputs")
        gen_s = time.perf_counter() - t

        run.spark = start_session(n, work)
        session_s = process_age_s() - gen_s
        heap = run.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        rss.heap_probe = lambda: heap.getHeapMemoryUsage().getUsed()
        from spans import Tracer

        run.tracer = Tracer(run.spark, f"{args.workload}-{args.seed}-{os.getpid()}", args.trace)
        run.tracer.record("session.get_spark", session_s, phase="setup")

        t = time.perf_counter()
        with run.tracer.span("setup", phase="setup"):
            workload.setup(run, work / "setup")
        setup_pass_s = time.perf_counter() - t

        # iterate while a typical (median) iteration still fits in --seconds
        run.phase = "timed"
        its = []
        t_start = time.perf_counter()
        while True:
            t = time.perf_counter()
            workload.iteration(run, work / f"it{len(its)}")
            its.append(time.perf_counter() - t)
            wall = time.perf_counter() - t_start
            if wall + statistics.median(its) > args.seconds:
                break
        iterations = len(its)
        overhead = run.tracer.overhead_s
        rss.sample_heap()
        rss.heap_probe = None

        from oracle import Oracle

        run.oracle = Oracle(str(work / "tmp"), n)
        expected = {}
        for key, result in run.pending:
            if key not in expected:
                expected[key] = workload.expected(run, key)
            if result != expected[key]:
                run.failed += 1
                print(f"perfbench: result mismatch for {key[0]}", file=sys.stderr)
        run.oracle.close()
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        peak = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    ops = len(run.latencies)
    lat = run.latencies or [wall]
    # linear interpolation between order statistics (numpy's default): the
    # exclusive method degenerates to the maximum below ten samples
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0]
    if args.trace:
        from layers import METRICS, derive

        values = derive(run.tracer.spans, session_s, overhead, ops, sum(lat),
                        rss.heap_peak / 2**20)
        metrics = {m: {"value": values[m], "unit": u} for m, u in METRICS}
        spans_file = base / "traces" / f"{run.tracer.run_id}.jsonl"
        spans_file.parent.mkdir(parents=True, exist_ok=True)
        run.tracer.write(spans_file)
    else:
        metrics = {
            "rows_per_s": {"value": workload.rows_per_iteration * iterations / wall, "unit": "1/s"},
            "queries_per_s": {"value": ops / wall, "unit": "1/s"},
            "query_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "query_p90_s": {"value": p90, "unit": "s"},
            "peak_rss_mb": {"value": peak / 2**20, "unit": "MB"},
            "setup_s": {"value": session_s + setup_pass_s, "unit": "s"},
        }
    host["load_after"] = os.getloadavg()
    host["steal_s"] = steal_s() - steal0
    print(json.dumps({
        "host": host, "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sizes": workload.sizes, "iterations": iterations, "timed_s": wall,
        "samples": ops, "beyond_p90": sum(x > p90 for x in lat),
        "jvm_peak_heap_mb": rss.heap_peak / 2**20,
        "p50_by_call": {k: statistics.median(x for x, l in zip(lat, run.labels) if l == k)
                        for k in sorted(set(run.labels))},
        "failed_ratio": run.failed / max(run.attempted, 1),
        "session_start_s": session_s, "setup_pass_s": setup_pass_s, "generate_s": gen_s,
        **({"spans_file": str(spans_file), "trace_overhead_s": overhead} if args.trace else {}),
    }))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
