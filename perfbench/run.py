#!/usr/bin/env python3
"""Benchmark of the TopNotch plan path, the batch catalog and streaming
replay.

    python3 perfbench/run.py --workload plans --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. One run is one driver process on
``local[nproc]``: set-up (session start, seeded inputs), an untimed
warm-up pass that checks every operation's output, then timed passes
run back to back. The last stdout line is the result JSON; the line
before it records every setting of the run. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (and the tracing
overhead). See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import Counter

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
from workloads import WORKLOADS, Plans  # noqa: E402

E2E = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "batch_p50_ms": "ms", "batch_tail_ms": "ms", "peak_rss_mb": "MB",
    "write_amp": "ratio",
}
LAYERS = {
    "plans.parse_s": "s", "engine.self_s": "s", "engine.commands": "count",
    "operators.assertion_s": "s", "operators.diff_s": "s", "operators.view_s": "s",
    "operators.extension_s": "s", "dedup.persisted": "count",
    "sources.write_s": "s", "sources.bytes_written": "B", "sources.files_written": "count",
    "reports.build_s": "s", "reports.write_s": "s", "reports.bytes": "B",
    "catalog.build_s": "s", "catalog.force_s": "s", "catalog.py4j_calls": "count",
    "streaming.batches": "count", "streaming.input_rows": "rows",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.offset_commit_ms": "ms", "streaming.query_overhead_s": "s",
    "streaming.state_rows": "rows", "streaming.state_mem_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.jobs_wall_s": "s", "spark.driver_gap_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.storage_mb": "MB",
    "python.sent_mb": "MB", "python.returned_mb": "MB",
    "trace.overhead_s": "s",
}
# Seconds of ``--seconds`` that one timed pass stands for; a run makes
# round(seconds / this) passes, so every run of a workload has the same
# number of samples whatever its speed. A pass takes 7-12 s on a 4-core
# host for plans and catalog_batch and 9-15 s for streaming_replay. At 30
# seconds plans makes four passes: its first timed pass is still warming
# and its tail op is one plan, whose fastest of two warm runs still moved
# with the host's load. Two streaming passes give six micro-batches each
# and were steady enough; a third would not fit the time of ten runs per
# workload on two commits.
SECONDS_PER_PASS = {"plans": 7.5, "catalog_batch": 10.0, "streaming_replay": 15.0}
DRIVER_MEMORY = "2g"


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest percentile of ``xs`` with at least 10 samples beyond
    it, and that percentile; the maximum when there are fewer than 20."""
    q = math.floor(100 * (1 - 10 / len(xs))) if len(xs) >= 20 else 100
    return float(np.percentile(xs, q)), q


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def interquartile_mean(xs) -> float:
    """Mean of the samples ranked between the 25th and 75th percentiles:
    a median that neither snaps to the whole milliseconds Spark reports
    nor jumps between the batches of two queries of different cost."""
    xs = sorted(xs)
    n = len(xs) - 1
    return float(np.mean(xs[math.floor(0.25 * n):math.ceil(0.75 * n) + 1]))


def configure(root: str, work: str, cpus: int) -> dict[str, str]:
    """Environment and Spark settings that keep the run on this host's
    cores, under its memory and inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_STREAM_CKPT_ROOT"] = os.path.join(work, "ckpt")
    os.environ["TMPDIR"] = tmp
    # Python workers import topnotch_spark whatever their working dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap, so peak RSS does not follow the JVM's heap resizing
        "spark.driver.extraJavaOptions": f"{java_opts} -Xms{DRIVER_MEMORY}",
        "spark.executor.extraJavaOptions": java_opts,
        # keep every job, stage and SQL execution of a run readable
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the Python workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext

    children = [p for p in probes._descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


class Tracer:
    """Per-layer numbers of the traced passes, summed over operations."""

    def __init__(self, spark, wl, progress) -> None:
        self.wl = wl
        self.progress = progress
        self.totals: dict[str, float] = {k: 0.0 for k in LAYERS}
        self.stats = probes.SparkStats(spark)
        self.py4j = probes.Py4jCounter(spark)
        self.spans = probes.Spans()
        self.written: list[int] = [0, 0]
        if wl.name == "plans":
            # inside the sources.write span, so engine.self_s stays clean
            self._watch_writes()
            probes.instrument_engine(self.spans)

    def _watch_writes(self) -> None:
        """Bytes and files each ``store_output`` call leaves in the
        plan's output and warehouse dirs."""
        from topnotch_spark import engine

        dirs = (self.wl.outputs, self.wl.warehouse)

        def make(store):
            def watched(*args, **kwargs):
                before = _files(dirs)
                try:
                    return store(*args, **kwargs)
                finally:
                    after = _files(dirs)
                    new = [k for k, v in after.items() if before.get(k) != v]
                    self.written[0] += sum(after[k][0] for k in new)
                    self.written[1] += len(new)

            return watched

        self.spans._patch(engine, "store_output", make)

    def op(self, spark, op: str, group: str):
        """Run ``op`` under job group ``group``; returns (seconds, output)."""
        n_py4j = self.py4j.n
        build0 = getattr(self.wl, "build_s", 0.0)
        force0 = getattr(self.wl, "force_s", 0.0)
        stream_mark = self.progress.mark()
        sql_mark = self.stats.sql_mark()
        t0 = time.perf_counter()
        out = self.wl.run(spark, op)
        dt = time.perf_counter() - t0
        t = self.totals
        if self.wl.name != "plans":
            t["catalog.build_s"] += self.wl.build_s - build0
            t["catalog.force_s"] += self.wl.force_s - force0
            t["catalog.py4j_calls"] += self.py4j.n - n_py4j
        runs, batches = self.progress.since(stream_mark)
        jobs, _ = self.stats.jobs([group, *runs])
        for k in ("jobs", "stages", "tasks", "jobs_wall_s", "executor_run_s",
                  "executor_cpu_s", "gc_s", "input_mb", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb"):
            t[f"spark.{k}"] += jobs[k]
        t["spark.driver_gap_s"] += dt - jobs["jobs_wall_s"]
        t["spark.storage_mb"] = max(t["spark.storage_mb"], self.stats.storage_mb())
        sent, recv = self.stats.python_mb(sql_mark)
        t["python.sent_mb"] += sent
        t["python.returned_mb"] += recv
        trigger_s = sum(b["trigger_ms"] for b in batches) / 1e3
        if runs:
            t["streaming.query_overhead_s"] += dt - trigger_s
        t["streaming.batches"] += len(batches)
        for key, name in (("input_rows", "input_rows"), ("add_batch_ms", "add_batch_ms"),
                          ("planning_ms", "query_planning_ms"),
                          ("offset_commit_ms", "offset_commit_ms")):
            t[f"streaming.{name}"] += sum(b[key] for b in batches)
        # state at the end of each query: its last batch
        for last in _last_batches(batches, runs):
            t["streaming.state_rows"] += last["state_rows"]
            t["streaming.state_mem_mb"] += last["state_mb"]
        if self.wl.name == "plans":
            t["reports.bytes"] += sum(v[0] for v in _files([self.wl.reports]).values())
        return dt, out

    def layers(self, passes: int, overhead: float) -> dict[str, float]:
        seconds, calls = self.spans.take()
        t = dict(self.totals)
        t["plans.parse_s"] = seconds.get("plans.read", 0.0) + seconds.get("plans.parse", 0.0)
        t["engine.self_s"] = seconds.get("engine.run.self", 0.0)
        t["engine.commands"] = calls.get("engine.commands", 0)
        for name in ("assertion", "diff", "view", "extension"):
            t[f"operators.{name}_s"] = seconds.get(f"operators.{name}", 0.0)
        t["dedup.persisted"] = calls.get("dedup.persisted", 0)
        t["sources.write_s"] = seconds.get("sources.write", 0.0)
        t["sources.bytes_written"], t["sources.files_written"] = self.written
        t["reports.build_s"] = seconds.get("reports.build", 0.0)
        t["reports.write_s"] = seconds.get("reports.write", 0.0)
        out = {k: v / passes for k, v in t.items() if k != "spark.storage_mb"}
        out["spark.storage_mb"] = t["spark.storage_mb"]
        out["trace.overhead_s"] = overhead
        return out

    def restore(self) -> None:
        self.spans.restore()
        self.py4j.restore()


def _files(dirs) -> dict[str, tuple[int, int]]:
    out = {}
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                p = os.path.join(base, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _last_batches(batches: list[dict], runs: list[str]) -> list[dict]:
    last: dict[str, dict] = {}
    for b in batches:
        last[b["run_id"]] = b
    return [last[r] for r in runs if r in last]


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "topnotch_spark", "__init__.py")):
        print("run from the root of a TopNotch checkout: no topnotch_spark/ here",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(".bench_run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    conf = configure(root, work, cpus)

    from topnotch_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, work)
    spark = get_spark("perfbench", extra_conf=conf)
    try:
        return measure(args, spark, wl, cpus, conf)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spark, wl, cpus, conf) -> int:
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-setup", "first job")
    spark.range(1).count()
    session_s = process_age()
    gen = []
    for _ in range(3):
        t0 = time.perf_counter()
        wl.generate(spark)
        gen.append(time.perf_counter() - t0)
    setup_s = session_s + median(gen)
    progress = probes.StreamProgress()
    spark.streams.addListener(progress)
    wl.start(spark)

    attempted = failed = 0

    def fail(op: str, why: str) -> None:
        nonlocal failed
        failed += 1
        print(f"FAIL {op}: {why}", file=sys.stderr)

    t_warm = time.perf_counter()
    print(f"set-up {setup_s:.1f} s (session {session_s:.1f} s)", file=sys.stderr)
    # warm-up: every operation once, output checked
    for op in wl.pass_order():
        attempted += 1
        t0 = time.perf_counter()
        try:
            why = wl.check(op, wl.run(spark, op, check=True))
        except Exception:
            why = traceback.format_exc()
        if why:
            fail(op, why)
        print(f"  warm {op} {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        wl.between_ops()
    wl.between_passes()
    wl.report_bytes = 0
    print(f"warm-up {time.perf_counter() - t_warm:.1f} s", file=sys.stderr)

    passes = max(1, round(args.seconds / SECONDS_PER_PASS[wl.name]))
    # a traced run brackets its traced passes with plain ones, so the
    # overhead is not confused with the warming of the first passes
    kinds = ["plain"] * passes
    if args.trace:
        half = max(1, passes // 4)
        kinds = ["plain"] * half + ["traced"] * max(1, passes - 2 * half) + ["plain"] * half
    plain, traced = kinds.count("plain"), kinds.count("traced")
    tracer = None
    walls: dict[str, list[float]] = {"plain": [], "traced": []}
    lat: dict[str, list[float]] = {}
    pass_groups: list[list[str]] = []
    pass_streams: list[tuple[list[str], list[dict]]] = []
    steal0, ticks0 = probes.host_cpu_ticks()
    with probes.RssSampler() as rss:
        for k, kind in enumerate(kinds):
            if kind == "traced" and tracer is None:
                tracer = Tracer(spark, wl, progress)
            elif kind == "plain" and tracer is not None:
                tracer.restore()
            if kind == "plain":
                pass_groups.append([])
                mark = progress.mark()
            wall = 0.0
            for i, op in enumerate(wl.pass_order()):
                attempted += 1
                group = f"perfbench-{k}-{i}"
                sc.setJobGroup(group, op)
                t0 = time.perf_counter()
                try:
                    if kind == "traced":
                        dt, out = tracer.op(spark, op, group)
                    else:
                        out = wl.run(spark, op)
                        dt = time.perf_counter() - t0
                    why = wl.check(op, out) if wl.name == "plans" else None
                except Exception:
                    dt = time.perf_counter() - t0
                    why = traceback.format_exc()
                if why:
                    fail(op, why)
                wall += dt
                print(f"  {op} {dt:.2f} s", file=sys.stderr)
                if kind == "plain":
                    lat.setdefault(op, []).append(dt)
                    pass_groups[-1].append(group)
                wl.between_ops()
            walls[kind].append(wall)
            if kind == "plain":
                pass_streams.append(progress.since(mark))
            wl.between_passes()
    steal1, ticks1 = probes.host_cpu_ticks()
    print(f"timed passes {walls}", file=sys.stderr)
    settings = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": wl.sf, "cpus": cpus,
        "master": sc.master, "driver_memory": DRIVER_MEMORY,
        "pythonpath": os.environ["PYTHONPATH"], "spark_conf": conf,
        "passes": {"plain": plain, "traced": traced},
        "ops_per_pass": len(wl.pass_order()),
        "fail_ratio": failed / attempted,
        # share of the host's CPU time the hypervisor gave to other
        # guests during the timed passes: a busy host reads high here
        "host_steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
    }
    if args.trace:
        overhead = median(walls["traced"]) - median(walls["plain"])
        metrics = tracer.layers(traced, overhead)
        units = LAYERS
    else:
        metrics, extra = end_to_end(probes.SparkStats(spark), wl, pass_groups,
                                    pass_streams, lat, walls["plain"], setup_s, rss.peak_mb)
        settings.update(extra)
        units = E2E
    print(json.dumps({"settings": settings}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def end_to_end(stats, wl, pass_groups, pass_streams, lat, walls, setup_s, peak_mb):
    """End-to-end metrics of the untraced timed passes. A batch is a
    streaming micro-batch on ``streaming_replay`` and a Spark job on the
    other workloads.

    A slower neighbour on a shared host only ever adds time, so each
    operation's fastest timed run, and the batch times of the pass that
    reads lowest, are the steadiest estimates."""
    jobs: Counter = Counter()
    per_pass = []
    for groups, (runs, batches) in zip(pass_groups, pass_streams):
        pass_jobs, job_ms = stats.jobs([*groups, *runs])
        jobs.update(pass_jobs)
        if wl.name == "streaming_replay":
            job_ms = [b["trigger_ms"] for b in batches]
        per_pass.append((interquartile_mean(job_ms), *tail(job_ms), len(job_ms)))
    batch_p50 = min(p[0] for p in per_pass)
    batch_tail, batch_q, n_batches = min(p[1:] for p in per_pass)
    best = {op: min(v) for op, v in lat.items()}
    op_tail, op_q = tail(list(best.values()))
    written = jobs["output_mb"] + jobs["shuffle_write_mb"]
    written += getattr(wl, "report_bytes", 0) / 2**20
    metrics = {
        "setup_s": setup_s,
        "wall_s": sum(best.values()),
        "op_p50_s": median(list(best.values())),
        "op_tail_s": op_tail,
        "batch_p50_ms": batch_p50,
        "batch_tail_ms": batch_tail,
        "peak_rss_mb": peak_mb,
        "write_amp": written / jobs["input_mb"],
    }
    extra = {"op_tail_percentile": op_q, "batch_tail_percentile": batch_q,
             "ops_timed": sum(map(len, lat.values())), "batches_per_pass": n_batches,
             "pass_walls_s": walls}
    return metrics, extra


def record(seeds: list[int]) -> int:
    """Write the expected plan results of ``seeds`` to expected_plans.json."""
    root = os.getcwd()
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    # the plan variables hold this path, so it is the one runs use
    work = os.path.join(".bench_run", "plans")
    conf = configure(root, work, len(os.sched_getaffinity(0)))
    from topnotch_spark.session import get_spark

    path = os.path.join(HERE, "expected_plans.json")
    with open(path) as f:
        expected = json.load(f)
    spark = get_spark("perfbench-record", extra_conf=conf)
    try:
        for seed in seeds:
            # cached views of the previous seed's tables have the same
            # plan, so the cache would answer for the new seed
            spark.catalog.clearCache()
            wl = Plans(seed, work)
            wl.generate(spark)
            wl.start(spark)
            expected[str(seed)] = got = {}
            for op in wl.pass_order():
                got[op] = wl.digests(op, wl.run(spark, op))
                wl.between_ops()
            wl.between_passes()
            print(f"seed {seed}: {got}", file=sys.stderr)
            with open(path, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


def smoke() -> int:
    """Each workload once, untraced and traced: every metric present
    with its unit and no operation failed."""
    bad = 0
    for name in SECONDS_PER_PASS:
        for tr, units in ((0, E2E), (1, LAYERS)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(tr)]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                ok = (proc.returncode == 0 and res["correct"] and res["failed"] == 0
                      and got == units)
            except (IndexError, KeyError, ValueError):
                ok = False
            print(f"{'ok  ' if ok else 'FAIL'} {name} trace={tr}", flush=True)
            if not ok:
                bad += 1
                print(proc.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SECONDS_PER_PASS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once and check the metrics it emits")
    ap.add_argument("--record", metavar="FIRST-LAST",
                    help="record the expected plan results of these seeds")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.record:
        first, last = map(int, args.record.split("-"))
        return record(list(range(first, last + 1)))
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
