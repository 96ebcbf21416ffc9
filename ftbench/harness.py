"""Measurement plumbing shared by the workloads: the Spark session, job
groups read back from Spark's status store, the span tracer, run-time
bookkeeping and the percentile rule.

Nothing here calls into the engine except ``start_session``, which goes
through ``searchengine_spark.session.get_spark``.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from contextlib import contextmanager

CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "1g"


def configure_env(work: str) -> None:
    """Point every scratch file the session, the JVM and the Python
    workers write into ``work`` (inside the checkout) and size the engine
    for a 4-core host. Must run before the engine or pyspark is imported:
    ``searchengine_spark.session`` reads these variables at import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def start_session(work: str):
    from searchengine_spark.session import get_spark

    spark = get_spark(
        "ftbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
        extra={
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: otherwise the JVM's RSS follows
            # when the collector chose to grow the heap, not the engine
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit (the
    Python workers are the JVM's children and exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus the Spark JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm = 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return py + jvm


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[str, float]:
    """The highest of p99.9/p99/p95/p90 with at least ten samples beyond
    it, as (label, value); with fewer than 100 samples none qualifies and
    the maximum is reported as ``max``."""
    s = sorted(xs)
    n = len(s)
    for p in (99.9, 99.0, 95.0, 90.0):
        if n * (100.0 - p) / 100.0 >= 10:
            return f"p{p:g}", float(s[min(n - 1, int(n * p / 100.0))])
    return "max", float(s[-1])


# --------------------------------------------------------------------------
# Spark job groups → per-stage metrics from the status store
# --------------------------------------------------------------------------

class SparkStages:
    """Tags each timed call with its own job group and reads the stages
    those jobs ran from Spark's status store (works with the UI off).
    Spark 4 needs all five ``stageList`` arguments: Scala defaults do not
    cross py4j."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def group(self, kind: str):
        self.n += 1
        gid = f"{kind}#{self.n}"
        self.sc.setJobGroup(gid, kind)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def by_kind(self) -> dict[str, dict]:
        """kind → summed stage metrics and the number of groups seen."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_group: dict[int, str] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_group[int(ids.apply(k))] = str(g.get())
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = store.stageList(None, False, False, empty, None)
        out: dict[str, dict] = {}
        groups: dict[str, set] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            gid = stage_group.get(int(s.stageId()))
            if gid is None or s.status().toString() != "COMPLETE":
                continue
            kind = gid.split("#", 1)[0]
            groups.setdefault(kind, set()).add(gid)
            m = out.setdefault(
                kind,
                {"executor_run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0,
                 "input_bytes": 0, "stages": 0},
            )
            m["executor_run_s"] += s.executorRunTime() / 1e3
            m["cpu_s"] += s.executorCpuTime() / 1e9
            m["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            m["input_bytes"] += int(s.inputBytes())
            m["stages"] += 1
        for kind, m in out.items():
            m["calls"] = len(groups[kind])
        return out


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans around each call into a layer: (id, parent, name,
    start, end). Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [sid, parent, name, time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec[4] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """name → summed self time: each span's duration minus the time its
        direct children cover (children nest, so they never overlap)."""
        child: dict[int, float] = {}
        for sid, parent, _, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] = child.get(parent, 0.0) + (t1 - t0)
        out: dict[str, float] = {}
        for sid, _, name, t0, t1 in self.spans:
            out[name] = out.get(name, 0.0) + (t1 - t0) - child.get(sid, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        base = self.spans[0][3] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": s, "parent": p, "name": n,
                         "start_s": t0 - base, "end_s": t1 - base}
                        for s, p, n, t0, t1 in self.spans
                    ],
                    "self_s": self.self_times(),
                },
                f,
            )


class Run:
    """One benchmark run: its seed, time budget, tracer, Spark groups and
    the tally of operations attempted and failed."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.stages: SparkStages | None = None

    def span(self, name: str):
        return self.tracer.span(name)

    def check(self, ok: bool, what: str, n: int = 1) -> bool:
        """Count ``n`` operations whose outputs were checked; on a mismatch
        all ``n`` count as failed and the reason is kept for the report."""
        self.attempted += n
        if not ok:
            self.failed += n
            self.failures.append(what)
        return ok
