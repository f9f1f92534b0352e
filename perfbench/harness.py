"""Run set-up shared by every workload: fit the Spark session to the
machine, isolate the run's state in a fresh directory inside the
checkout, record spans and counters from outside the program, and tear
everything down.

Import order matters: :func:`isolate` must run before ``pyspark`` or the
package is imported, because both read ``TMPDIR`` and the
``SPARK_GRAFT_*`` settings at import or session start.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def machine() -> tuple[int, int]:
    """CPUs this process may use, and a driver heap in GiB sized from
    ``MemTotal`` (a third of it, 2..32)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return len(os.sched_getaffinity(0)), max(2, min(32, kb // (3 * 1024 * 1024)))


def isolate(root: str) -> str:
    """Make a fresh run directory under ``root`` and point every place
    the program or Spark writes scratch state at it."""
    os.makedirs(root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=root)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus, mem_gb = machine()
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE="file://" + os.path.join(run_dir, "warehouse"),
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = tmp
    return run_dir


def teardown(spark, run_dir: str) -> None:
    """Stop the session and its JVM, wait for the JVM to exit, drop the
    program's tracked state and delete the run directory."""
    from regpulse_lakehouse_spark import tmpstate

    try:
        if spark is not None:
            sc = spark.sparkContext
            gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
            spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
    finally:
        tmpstate.cleanup()
        shutil.rmtree(run_dir, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def median(values: list[float]) -> float:
    return statistics.median(values)


class JvmProbe:
    """Counters read from the driver JVM, outside the program: job and
    task counts per job group from ``StatusTracker``, GC time from the
    ``GarbageCollectorMXBean``s, peak RSS from ``/proc/<pid>/status``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.tracker = self.sc._jsc.sc().statusTracker()
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, int(b.getCollectionTime())) for b in beans)

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024

    def jobs_and_tasks(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run under job group ``group``."""
        jobs = stages = tasks = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info.isEmpty():
                continue
            jobs += 1
            for sid in info.get().stageIds():
                st = self.tracker.getStageInfo(sid)
                if not st.isEmpty():
                    stages += 1
                    tasks += int(st.get().numTasks())
        return jobs, stages, tasks


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans around the calls the benchmark makes into each layer.

    Spans stay in memory until the run ends. Each span runs its Spark
    jobs under its own job group, so job, stage and task counts are
    exact per span. Disabled, ``span`` does nothing and no job group is
    set.

    With ``alternate``, unit ops are traced in the pattern U T T U U T
    T U ...: adjacent ops run one traced and one untraced, each order
    equally often, so the median difference between the two sets is the
    tracing overhead rather than warm-up drift."""

    def __init__(self, spark, alternate: bool):
        self.alternate = alternate
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0
        self.units = 0
        self.probe = JvmProbe(spark) if alternate else None
        self.sc = spark.sparkContext

    def next_op(self, unit: bool = True) -> bool:
        """Start an op; a unit op (a query, commit or build) picks the
        tracing state that it and the ops after it until the next unit
        op (the reads of a commit) run under. Returns that state."""
        self.op += 1
        if unit:
            k = self.units
            self.units += 1
            self.enabled = self.alternate and (k // 2 + k) % 2 == 1
        return self.enabled

    def want_more(self) -> bool:
        """Alternating, keep going until both states ran once."""
        return self.alternate and self.units < 2

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(idx)
        group = f"perfbench-{idx}"
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            s.counts.update(zip(("jobs", "stages", "tasks"), self.probe.jobs_and_tasks(group)))

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        child spans, in milliseconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - child[i]) * 1000
        return out

    def total(self, name: str, key: str | None = None) -> float:
        """Sum over spans called ``name`` and their descendants of a
        count (``key``) or of the span's own duration in ms."""
        if key is None:
            return sum((s.end - s.start) * 1000 for s in self.spans if s.name == name)
        roots = {i for i, s in enumerate(self.spans) if s.name == name}
        total = 0
        for i, s in enumerate(self.spans):
            j = i
            while j is not None and j not in roots:
                j = self.spans[j].parent
            if j is not None:
                total += s.counts.get(key, 0)
        return total

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
