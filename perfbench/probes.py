"""Measurement for the benchmark: spans around calls into the program's
modules, Spark work per job group, the Arrow boundary from SQL metrics,
streaming progress, py4j call counts and process-tree RSS.

Everything here observes the program from outside: spans wrap the module
functions the engine calls (the program itself is not edited), and Spark
numbers come from its status stores. Untraced runs use only
``StreamProgress``, ``RssSampler`` and, after the timed passes,
``SparkStats``.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from collections import Counter, defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),\w+\)")


class Spans:
    """Inclusive time and call count per span name, plus self time (the
    span minus the spans nested directly inside it)."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self._open: list[float] = []
        self._patches: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patches.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str) -> None:
        def make(orig):
            def spanned(*args, **kwargs):
                self._open.append(0.0)
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    dur = time.perf_counter() - t0
                    child = self._open.pop()
                    self.seconds[name] += dur
                    self.seconds[name + ".self"] += dur - child
                    self.calls[name] += 1
                    if self._open:
                        self._open[-1] += dur

            return spanned

        self._patch(owner, attr, make)

    def count(self, owner, attr: str, name: str) -> None:
        def make(orig):
            def counted(*args, **kwargs):
                self.calls[name] += 1
                return orig(*args, **kwargs)

            return counted

        self._patch(owner, attr, make)

    def take(self) -> tuple[dict[str, float], Counter]:
        """Return and reset the totals accumulated since the last take."""
        out = (dict(self.seconds), self.calls)
        self.seconds, self.calls = defaultdict(float), Counter()
        return out

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def instrument_engine(spans: Spans) -> None:
    """Spans around every module call the plan engine makes."""
    from topnotch_spark import engine
    from topnotch_spark.operators import dedup
    from topnotch_spark.plans import extensions, readers
    from topnotch_spark.reports import writers

    spans.wrap(engine.TnEngine, "run", "engine.run")
    spans.count(engine.TnEngine, "run_command", "engine.commands")
    spans.wrap(readers.FileReader, "read_configuration", "plans.read")
    spans.wrap(engine, "parse_commands", "plans.parse")
    spans.wrap(engine, "run_assertions", "operators.assertion")
    spans.wrap(engine, "create_diff", "operators.diff")
    spans.wrap(engine, "create_view", "operators.view")
    for cls in vars(extensions).values():
        if isinstance(cls, type) and "execute" in vars(cls):
            spans.wrap(cls, "execute", "operators.extension")
    spans.wrap(engine, "store_output", "sources.write")
    spans.wrap(engine, "assertion_group_to_json", "reports.build")
    spans.wrap(writers.FileWriter, "write_report", "reports.write")

    # the engine imports this at call time, so the module attribute is
    # what it runs; the count is what the plan persisted and now releases
    def make(release):
        def counted_release(snap, *args, **kwargs):
            spans.calls["dedup.persisted"] += len(dedup.snapshot_intermediates() - snap)
            return release(snap, *args, **kwargs)

        return counted_release

    spans._patch(dedup, "release_new_intermediates", make)


class Py4jCounter:
    """Counts py4j commands sent from the Python driver to the JVM."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.orig = self.client.send_command
        self.n = 0

        def send_command(*args, **kwargs):
            self.n += 1
            return self.orig(*args, **kwargs)

        self.client.send_command = send_command

    def restore(self) -> None:
        self.client.send_command = self.orig


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class SparkStats:
    """Spark work of an operation, read from the status stores by job
    group: every job the op's thread ran under its group, plus the jobs
    of the streaming queries it started (their group is the run id)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def settle(self) -> None:
        """Wait until the status stores have seen every finished job."""
        self.jsc.listenerBus().waitUntilEmpty(30000)

    def jobs(self, groups: list[str]) -> tuple[Counter, list[int]]:
        """Totals over the jobs of ``groups``, and each job's duration in
        milliseconds."""
        self.settle()
        out: Counter = Counter()
        intervals: list[tuple[int, int]] = []
        tracker = self.sc.statusTracker()
        for group in groups:
            for jid in tracker.getJobIdsForGroup(group):
                job = self.store.job(jid)
                out["jobs"] += 1
                sub, comp = job.submissionTime(), job.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime(), comp.get().getTime()))
                sids = job.stageIds()
                for i in range(sids.size()):
                    self._add_stage(out, sids.apply(i))
        out["jobs_wall_s"] = _union_seconds(intervals)
        return out, [b - a for a, b in intervals]

    def _add_stage(self, out: Counter, sid: int) -> None:
        attempts = self.store.stageData(
            sid, False, self._no_status, False, self._no_quantiles
        )
        for k in range(attempts.size()):
            s = attempts.apply(k)
            tasks = s.numCompleteTasks()
            if tasks == 0:
                continue  # skipped: its output was reused from another job
            out["stages"] += 1
            out["tasks"] += tasks
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_mb"] += s.inputBytes() / 2**20
            out["output_mb"] += s.outputBytes() / 2**20
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20

    def storage_mb(self) -> float:
        infos = self.jsc.getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / 2**20

    def sql_mark(self) -> int:
        return self.sql.executionsCount()

    def python_mb(self, mark: int) -> tuple[float, float]:
        """MB sent to and returned from Python workers by the SQL
        executions that started after ``mark``."""
        self.settle()
        n = self.sql.executionsCount()
        execs = self.sql.executionsList(mark, max(0, n - mark))
        sent = recv = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            wanted = {
                int(acc): name
                for name, acc in _PLAN_METRIC.findall(ex.metrics().mkString("\n"))
                if name in (PY_SENT, PY_RECV)
            }
            if not wanted:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            for acc, name in wanted.items():
                v = values.get(acc)
                if not v.isDefined():
                    continue
                m = _SIZE.search(v.get().split("\n")[-1])
                if m:
                    mb = float(m.group(1)) * _UNITS[m.group(2)] / 2**20
                    if name == PY_SENT:
                        sent += mb
                    else:
                        recv += mb
        return sent, recv


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress event and query run id."""

    def __init__(self) -> None:
        self.lock = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        state = p.stateOperators
        rec = {
            "run_id": str(p.runId),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "offset_commit_ms": d.get("latestOffset", 0)
            + d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_mb": sum(s.memoryUsedBytes for s in state) / 2**20,
        }
        with self.lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))
            self.lock.notify_all()

    def mark(self) -> tuple[int, int]:
        with self.lock:
            return len(self.started), len(self.batches)

    def since(self, mark: tuple[int, int], timeout: float = 60.0):
        """Run ids and batches of the queries started after ``mark``,
        once every one of them has reported termination."""
        deadline = time.monotonic() + timeout
        with self.lock:
            while not self.terminated.issuperset(self.started[mark[0]:]):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("a streaming query never reported termination")
                self.lock.wait(left)
            return self.started[mark[0]:], self.batches[mark[1]:]


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` and all its descendant processes, as
    the sum of their proportional set sizes: pages that forked Python
    workers share with their parent count once, not once per worker."""
    total = 0
    for pid in _descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total / 1024


def host_cpu_ticks() -> tuple[int, int]:
    """Clock ticks the host's CPUs have spent stolen by the hypervisor,
    and in all, since boot (the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return ticks[7], sum(ticks[:8])


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak_mb`` is the max.
    A sample reads the JVM's smaps_rollup, which costs the driver about
    18 ms of CPU on a 4-core host, so samples are a second apart."""

    def __init__(self, interval: float = 1.0) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
