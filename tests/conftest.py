from __future__ import annotations

import functools
import os
import uuid
from pathlib import Path

import pytest

from topnotch_spark.session import get_spark

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="session", autouse=True)
def _run_in_tmp_cwd(tmp_path_factory):
    """Run the whole suite from a scratch CWD so relative-path artifacts
    (the engine's default ``topnotch/`` report dir, Spark's derby/warehouse
    dirs) land under pytest's tmp tree instead of the repo root. Tests
    reference the repo and testdata by absolute path, so nothing else
    resolves against CWD."""
    repo = str(REPO)
    # Python workers used to find topnotch_spark via a CWD at the checkout;
    # with the scratch CWD they need it on PYTHONPATH explicitly (set
    # before the session starts so executors inherit it).
    pp = os.environ.get("PYTHONPATH", "")
    if repo not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo}{os.pathsep}{pp}" if pp else repo
    prev = os.getcwd()
    os.chdir(tmp_path_factory.mktemp("cwd"))
    yield
    os.chdir(prev)


@pytest.fixture(scope="session")
def spark(_run_in_tmp_cwd):
    # The live heap is about 1.5 GB after a full GC midway through the
    # suite, but a 16 GB cap let the JVM keep up to 10.6 GB resident.
    s = get_spark(
        "topnotch_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ingestion_plan_run(spark, tmp_path_factory):
    """``run(sf_dir)``: ``examples/incremental_ingestion_plan.json`` run
    once per session and testdata dir, for every test that checks it, as
    (engine, failed assertions, the plan's ``workDir``)."""
    from topnotch_spark.engine import TnEngine

    @functools.cache
    def run(sf_dir: str):
        work = tmp_path_factory.mktemp("ingestion") / "w"
        engine = TnEngine(spark)
        num_failed = engine.run(
            str(REPO / "examples" / "incremental_ingestion_plan.json"),
            variables={"sfDir": sf_dir, "workDir": str(work)},
        )
        return engine, num_failed, work

    return run


def df_equals(df1, df2, ignore_order=True) -> bool:
    """Schema-as-set + rows-as-set comparison, ignoring nullability
    (reference test helper TnTestHelper.scala:51-56)."""
    s1 = {(f.name.lower(), f.dataType.simpleString()) for f in df1.schema.fields}
    s2 = {(f.name.lower(), f.dataType.simpleString()) for f in df2.schema.fields}
    if s1 != s2:
        return False
    cols = sorted(c.lower() for c in df1.columns)
    r1 = [tuple(r[c] for c in cols) for r in df1.toDF(*[c.lower() for c in df1.columns]).select(cols).collect()]
    r2 = [tuple(r[c] for c in cols) for r in df2.toDF(*[c.lower() for c in df2.columns]).select(cols).collect()]
    if ignore_order:
        key = lambda t: tuple(repr(x) for x in t)  # noqa: E731
        r1, r2 = sorted(r1, key=key), sorted(r2, key=key)
    return r1 == r2


def count_jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it scheduled), counted under a
    job group of its own."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
