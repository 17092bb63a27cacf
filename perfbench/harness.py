"""Benchmark plumbing: the Spark session, process-tree memory, Spark's own
counters, spans, and the summary statistics.

Nothing here knows about a particular workload.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------- statistics


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ten samples beyond it.

    With fewer than 20 samples that percentile would sit at or below the
    median, so the upper quartile is reported instead (percentile 75): the
    maximum of a handful of jobs moves with every stray stall.
    """
    s = sorted(xs)
    n = len(s)
    if n < 2:
        return float(s[-1]), 100.0
    if n < 20:
        return statistics.quantiles(s, n=4, method="inclusive")[2], 75.0
    return float(s[n - 11]), 100.0 * (n - 10) / n


# --------------------------------------------------------------- Spark session


class BenchSession:
    """A ``local[slots]`` session whose every file stays under ``work``.

    ``close`` stops the context, ends the JVM by closing its stdin (the
    gateway exits on EOF) and waits for the process.
    """

    def __init__(self, work: str, slots: int):
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

        from lib_gdal_spark import get_spark

        # One shuffle partition per task slot: every stage runs in one wave.
        self.spark = get_spark(
            "perfbench",
            master=f"local[{slots}]",
            shuffle_partitions=slots,
            extra_conf={
                "spark.driver.memory": "1536m",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # A fixed, pre-touched heap, as a server would run: resident
                # memory then does not depend on when the collector grew it.
                # C1 only: job times settle within a few jobs. With C2 they
                # kept falling for over 40 s, so a run measured how far the
                # JIT had got rather than the program.
                "spark.driver.extraJavaOptions":
                    f"-Xms1536m -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_BYTES
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's RSS every ``interval`` s while active."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# --------------------------------------------------------------- Spark counters


@dataclass
class SparkCounters:
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    arrow_bytes_to_python: int = 0
    arrow_bytes_from_python: int = 0
    # Largest (slowest task / median task) run time over the job's stages.
    task_skew: float = 1.0

    def add(self, o: SparkCounters) -> None:
        for k in ("tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                  "arrow_bytes_to_python", "arrow_bytes_from_python"):
            setattr(self, k, getattr(self, k) + getattr(o, k))


_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"


class CounterReader:
    """Reads Spark's own stage, task and SQL-metric counters.

    The closed loop runs one job at a time, so everything with a stage or
    SQL execution id above the last mark belongs to the current job.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.stage_mark, self.exec_mark = self._marks()

    def _stages(self):
        return self.store.stageList(None, False, False,
                                    self.sc._gateway.new_array(self.jvm.double, 0),
                                    self.jvm.java.util.ArrayList())

    def _marks(self) -> tuple[int, int]:
        st = self._stages()
        ex = self.sql.executionsList()
        smax = max((st.apply(i).stageId() for i in range(st.size())), default=-1)
        emax = max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)
        return smax, emax

    def mark(self) -> None:
        self.stage_mark, self.exec_mark = self._marks()

    def read(self) -> SparkCounters:
        """Counters of everything since the last mark; moves the mark."""
        c = SparkCounters()
        st = self._stages()  # newest first
        for i in range(st.size()):
            s = st.apply(i)
            if s.stageId() <= self.stage_mark:
                break
            if str(s.status().toString()) != "COMPLETE":
                continue
            c.tasks += s.numCompleteTasks()
            c.executor_run_s += s.executorRunTime() / 1000.0
            c.gc_s += s.jvmGcTime() / 1000.0
            c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.numCompleteTasks() > 1:
                ts = self.store.taskList(s.stageId(), s.attemptId(), 100000)
                runs = []
                for j in range(ts.size()):
                    tm = ts.apply(j).taskMetrics()
                    if tm.isDefined():
                        runs.append(tm.get().executorRunTime())
                if runs and statistics.median(runs) > 0:
                    c.task_skew = max(c.task_skew, max(runs) / statistics.median(runs))
        ex = self.sql.executionsList()
        seen: set[int] = set()
        acc_ctx = self.jvm.org.apache.spark.util.AccumulatorContext
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= self.exec_mark:
                continue
            ms = e.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                name, aid = m.name(), m.accumulatorId()
                if name not in (_TO_PY, _FROM_PY) or aid in seen:
                    continue
                seen.add(aid)
                acc = acc_ctx.get(aid)
                if not acc.isDefined():
                    continue
                v = int(acc.get().value())
                if name == _TO_PY:
                    c.arrow_bytes_to_python += v
                else:
                    c.arrow_bytes_from_python += v
        self.mark()
        return c


# --------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    job: int


class Tracer:
    """In-memory spans at layer boundaries; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.job = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, t0, time.perf_counter(), parent, self.job))

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by children."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = sum(c.end - c.start for c in self.spans
                       if c.parent == s.name and c.job == s.job
                       and s.start <= c.start and c.end <= s.end)
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - kids
        return out


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out
