"""Spark session lifecycle, memory probe and span tracer for the benchmark.

The tracer wraps attributes of `imc` modules from outside the package:
`imc.pipeline` calls `manifest.materialize`, `joins.eps_join`, ... through
the module objects, so a wrapper installed on the module sees every call.
No file under `imc/` is edited.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


HEAP = "1g"


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """One CPU fewer than there are: the driver, the JVM's compiler and GC
    threads and the host's CPU steal then do not take time from a task."""
    return max(1, cpu_count() - 1)


def start_spark(root: str, work: str):
    """local[task_slots()] session whose Python workers can import `imc` and
    whose scratch files stay under `work`."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the env var, not spark.local.dir: an inherited SPARK_LOCAL_DIRS would
    # override the conf. No JVM (the launcher's included) writes its
    # perf-data file to /tmp.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    n = task_slots()
    spark = (SparkSession.builder
             .master(f"local[{n}]")
             .appName("imc-perfbench")
             .config("spark.sql.shuffle.partitions", str(2 * n))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory", HEAP)
             # a fixed, pre-touched heap: all of it is resident from the
             # start, so memory_mb can take it out of the peak RSS, which
             # otherwise follows G1's timing-dependent heap growth
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # the tracer reads job/stage counts after the run; keep them all
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def settle_heap(spark) -> int:
    """Run full collections until the heap in use stops falling; returns it
    in bytes. Spark's ContextCleaner frees shuffles, broadcasts and RDDs
    only after a collection has found them unreachable, so one collection
    leaves a varying share of them in place: after a build it read between
    107 and 145 MB, and settled at 82-95 MB after three or four rounds."""
    jvm = spark._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(8):  # it settled within five rounds
        jvm.java.lang.System.gc()
        now = heap.getHeapMemoryUsage().getUsed()
        if used is not None and now >= used:
            break
        used = now
        time.sleep(0.3)  # for the cleaner thread
    return used


def memory_mb(spark) -> tuple[float, float]:
    """(peak RSS without the Java heap, live Java heap), in MB.

    The first is the peak resident memory (VmHWM) of this Python driver
    plus the Spark JVM, less the JVM's committed heap: the heap is fixed
    and pre-touched, so it would add the same amount to every run. The
    second is the heap still in use once collections have settled, i.e.
    what the program keeps alive: persisted blocks, listener state."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark._jvm
    live = settle_heap(spark)
    committed = jvm.java.lang.management.ManagementFactory.getMemoryMXBean(
    ).getHeapMemoryUsage().getCommitted()
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    own = max(hwm_kb("self"), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    mb = 1024.0 * 1024.0
    return (own + hwm_kb(jvm_pid)) / 1024.0 - committed / mb, live / mb


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    xs = sorted(values)
    return xs[min(len(xs), max(1, math.ceil(q * len(xs)))) - 1]


def median(values) -> float:
    return statistics.median(values)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str
    rdds_before: int
    end: float = 0.0
    rdds_after: int = 0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    """In-memory spans (name, start, end, parent, run id) with a unique
    Spark job group per span. Spans are recorded only between `wrap` and
    `unwrap_all` (the measured region); disabled, every method is a no-op,
    so the untraced run pays nothing."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.active = False
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = itertools.count()
        self._saved = []

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        sc = self.spark.sparkContext
        group = f"{self.run_id}/{next(self._seq)}/{name}"
        parent = self._stack[-1] if self._stack else None
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        s = Span(name, 0.0, parent, group, self._persisted())
        self.spans.append(s)
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(s)
        self._stack.append(idx)
        sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            # restore the parent's group, so its later jobs stay its own
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)
            s.rdds_after = self._persisted()

    def wrap(self, module, attr: str, name_of=None) -> None:
        """Replace module.attr by a wrapper that records a span per call;
        `name_of(args, kwargs)` may refine the span name."""
        if not self.enabled:
            return
        self.active = True
        fn = getattr(module, attr)
        base = f"{module.__name__.split('.')[-1]}.{attr}"
        self._saved.append((module, attr, fn))

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name = base + (f":{name_of(args, kwargs)}" if name_of else "")
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        self.active = False
        for module, attr, fn in reversed(self._saved):
            setattr(module, attr, fn)
        self._saved.clear()

    def job_counts(self, span: Span) -> tuple[int, int, int]:
        """(jobs, tasks, failed tasks) of the span's own job group, from the
        public status tracker."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(span.group)
        tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return len(jobs), tasks, failed

    def subtree(self, span: Span):
        yield span
        for c in span.children:
            yield from self.subtree(c)

    def inclusive_counts(self, span: Span) -> tuple[int, int, int]:
        tot = [0, 0, 0]
        for s in self.subtree(span):
            for i, v in enumerate(self.job_counts(s)):
                tot[i] += v
        return tuple(tot)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON line each."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                jobs, tasks, failed = self.job_counts(s)
                f.write(json.dumps({
                    "id": i, "run": self.run_id, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": s.self_time, "jobs": jobs, "tasks": tasks,
                    "failed_tasks": failed,
                    "persisted_rdds_delta": s.rdds_after - s.rdds_before,
                    "children": [index[id(c)] for c in s.children],
                }) + "\n")
