"""Structured Streaming extension tests.

Strategy: replay the driver's ``events`` table as a file-source stream
(split into 3 time-ordered parquet files, maxFilesPerTrigger=1 +
availableNow => 3 deterministic micro-batches) and check stream results
against the equivalent batch computation — the streaming analogue of the
DuckDB-oracle gate.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import df_equals
from topnotch_spark import catalog
from topnotch_spark.operators.assertions import AssertionRule, run_assertions
from topnotch_spark.streaming import (
    run_stream_to_table,
    run_streaming_assertions,
    sessionize_stream,
    stream_from_parquet,
    windowed_event_metrics,
)

SF_DIR = "/root/testdata/sf0.001"
BATCH_DIR = "/root/repo/.tmp/test_stream_events"
CUTS = ("2024-01-11", "2024-01-21")


@pytest.fixture(scope="module")
def events_dir(spark):
    """events split into 3 time-ordered parquet files in one directory."""
    if os.path.exists(BATCH_DIR):
        shutil.rmtree(BATCH_DIR)
    os.makedirs(BATCH_DIR)
    # catalog.load converts the driver's TIMESTAMP(NANOS) ts to micros, so
    # the re-written batch files carry a plain timestamp column
    ev = catalog.load(spark, SF_DIR, "events")
    ranges = [
        ev.filter(f"ts < timestamp'{CUTS[0]}'"),
        ev.filter(f"ts >= timestamp'{CUTS[0]}' AND ts < timestamp'{CUTS[1]}'"),
        ev.filter(f"ts >= timestamp'{CUTS[1]}'"),
    ]
    for i, r in enumerate(ranges):
        stage = f"{BATCH_DIR}/_stage{i}"
        r.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.startswith("part-"))
        shutil.move(os.path.join(stage, part), f"{BATCH_DIR}/{i:03d}.parquet")
        shutil.rmtree(stage)
    yield BATCH_DIR
    shutil.rmtree(BATCH_DIR, ignore_errors=True)


def test_windowed_metrics_stream_matches_batch(spark, events_dir):
    stream = stream_from_parquet(spark, events_dir)
    streamed = run_stream_to_table(
        windowed_event_metrics(stream, window_duration="1 hour"),
        output_mode="complete",
    )
    batch = windowed_event_metrics(
        catalog.load(spark, SF_DIR, "events"), window_duration="1 hour"
    )
    assert streamed.count() > 0
    assert df_equals(streamed, batch)


def test_windowed_metrics_sliding(spark, events_dir):
    stream = stream_from_parquet(spark, events_dir)
    streamed = run_stream_to_table(
        windowed_event_metrics(stream, window_duration="1 hour", slide="30 minutes"),
        output_mode="complete",
    )
    batch = windowed_event_metrics(
        catalog.load(spark, SF_DIR, "events"),
        window_duration="1 hour",
        slide="30 minutes",
    )
    assert df_equals(streamed, batch)


def test_streaming_assertions_match_batch(spark, events_dir):
    rules = [
        AssertionRule("value >= 0", "value must be non-negative", 0.01),
        AssertionRule("event_type <> 'error'", "no error events", 0.05),
        AssertionRule("user_id is not null", "user id present", 0.0),
    ]
    stream = stream_from_parquet(spark, events_dir, max_files_per_trigger=1)
    summary = run_streaming_assertions(stream, rules)
    assert len(summary.batches) >= 3  # one micro-batch per file

    batch_df = catalog.load(spark, SF_DIR, "events")
    batch_res = run_assertions(batch_df, "batch", rules, with_samples=False)
    for merged, ref in zip(summary.reports, batch_res.reports):
        assert merged.num_invalid == ref.num_invalid
        assert merged.fraction_invalid == pytest.approx(ref.fraction_invalid)
        assert merged.failed == ref.failed
    assert summary.num_failed == batch_res.num_failed


def _batch_sessions(spark, gap_seconds=1800):
    """Reference sessionization computed in batch (lag + cumulative sum)."""
    ev = catalog.load(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    lag_ts = F.lag("ts").over(w)
    is_new = (
        lag_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(lag_ts) > gap_seconds * 1_000_000)
    )
    sess = (
        ev.withColumn("__new__", is_new.cast("int"))
        .withColumn(
            "session_id",
            F.sum("__new__").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_id")
    )
    return sess


def test_sessionize_stream_closed_sessions_match_batch(spark, events_dir):
    stream = stream_from_parquet(spark, events_dir, max_files_per_trigger=1)
    sessions = run_stream_to_table(
        sessionize_stream(stream, gap_seconds=1800), output_mode="append"
    )
    emitted = sessions.collect()
    # multi-batch replay must close a substantial number of sessions
    assert len(emitted) > 0

    ref = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in _batch_sessions(spark).collect()
    }
    for r in emitted:
        key = (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        assert key in ref, f"streamed session not in batch reference: {key}"
    # no session may be emitted twice
    assert len(emitted) == len(
        {(r["user_id"], r["session_start"]) for r in emitted}
    )


def test_multi_file_per_cut_replay_matches_single_file(spark):
    """events_replay_dir(files_per_cut=4): each cut split into 4
    contiguous time-range files, mtimes pinned in replay order — the
    stream sees 12 micro-batches instead of 3, and both a stateless
    windowed aggregation and the custom stateful sessionizer must
    produce results identical to the single-file layout."""
    from topnotch_spark.streaming.ops import events_replay_dir

    multi = events_replay_dir(spark, SF_DIR, files_per_cut=4)
    files = [f for f in os.listdir(multi) if f.endswith(".parquet")]
    assert len(files) == 12
    # mtimes strictly increasing in name order
    mtimes = [os.path.getmtime(os.path.join(multi, f)) for f in sorted(files)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)

    stream = stream_from_parquet(spark, multi, max_files_per_trigger=1)
    streamed = run_stream_to_table(
        windowed_event_metrics(stream, window_duration="1 hour"),
        output_mode="complete",
    )
    batch = windowed_event_metrics(
        catalog.load(spark, SF_DIR, "events"), window_duration="1 hour"
    )
    assert df_equals(streamed, batch)

    stream2 = stream_from_parquet(spark, multi, max_files_per_trigger=1)
    sessions = run_stream_to_table(
        sessionize_stream(stream2, gap_seconds=1800), output_mode="append"
    )
    emitted = sessions.collect()
    assert len(emitted) > 0
    ref = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in _batch_sessions(spark).collect()
    }
    for r in emitted:
        key = (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        assert key in ref, f"streamed session not in batch reference: {key}"
    assert len(emitted) == len(
        {(r["user_id"], r["session_start"]) for r in emitted}
    )


def test_session_window_metrics_gap_boundary(spark):
    """Built-in session_window: diff > gap starts a NEW session — a
    window that merely touches (diff == gap) MERGES; batch mode mirrors
    streaming semantics."""
    import datetime as dt

    from topnotch_spark.streaming.ops import session_window_metrics

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=29), 2.0),  # same session
        (1, t0 + dt.timedelta(minutes=59), 4.0),  # exactly 30min: MERGES
        (1, t0 + dt.timedelta(minutes=95), 8.0),  # 36min gap -> new session
        (2, t0, 16.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = session_window_metrics(df).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    u1 = sorted(by_user[1], key=lambda r: r["session_start"])
    assert [r["n_events"] for r in u1] == [3, 1]
    assert u1[0]["sum_value"] == 7.0 and u1[1]["sum_value"] == 8.0
    # session_end = last event + gap
    assert u1[0]["session_end"] == t0 + dt.timedelta(minutes=89)
    assert by_user[2][0]["n_events"] == 1


def test_streaming_drift_equals_batch(spark, tmp_path):
    """Accumulated per-batch counts == one batch histogram_drift pass."""
    import datetime as dt

    from topnotch_spark.operators.drift import histogram_drift
    from topnotch_spark.streaming.ops import run_streaming_drift, stream_from_parquet

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, float(i % 7) + (1.0 if i % 3 == 0 else 0.0)) for i in range(60)]
    schema = "event_id long, ts timestamp, value double"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "drift_replay")
    for k in range(2):  # two files -> two micro-batches
        df.filter(f"event_id % 2 = {k}").coalesce(1).write.parquet(f"{src}/p{k}")
    ref = df.filter("event_id % 5 = 0")
    stream = stream_from_parquet(spark, f"{src}/p*", schema=schema,
                                 max_files_per_trigger=1)
    got = run_streaming_drift(ref, stream, "value", n_buckets=5).collect()
    want = histogram_drift(ref, df, "value", n_buckets=5).collect()
    key = lambda r: r["bucket"]  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)


def test_running_user_stats_gated_or_exact(spark, tmp_path):
    """transformWithState surface: with protobuf present the stream's
    final snapshots equal the batch aggregate; without it (this
    container) the operator fails fast with a clear message instead of
    an opaque mid-query worker crash."""
    import pytest

    from topnotch_spark.streaming.ops import run_stream_to_table, stream_from_parquet
    from topnotch_spark.streaming.stateful import running_user_stats

    rows = [(1, 100, 5.0), (2, 100, 1.0), (3, 200, 7.0), (4, 100, 3.0)]
    schema = "event_id long, user_id long, value double"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "tws")
    for k in range(2):
        df.filter(f"event_id % 2 = {k}").coalesce(1).write.parquet(f"{src}/p{k}")
    stream = stream_from_parquet(spark, f"{src}/p*", schema=schema,
                                 max_files_per_trigger=1)
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            running_user_stats(stream)
        return
    out = run_stream_to_table(running_user_stats(stream), output_mode="append")
    final = {
        r["user_id"]: (r["n_events"], r["min_value"], r["max_value"])
        for r in out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "min_value", "max_value")).alias("s"))
        .select("user_id", "s.*")
        .collect()
    }
    assert final == {100: (3, 1.0, 5.0), 200: (1, 7.0, 7.0)}


def test_session_window_end_at_final_watermark_oracle_parity(spark, tmp_path):
    """Boundary fixture for the closed-session filter: Spark append mode
    EMITS a session whose end EQUALS the final watermark (watermark >=
    end closes the window), so the DuckDB twin's filter must be
    ``session_end <= max(ts)``, not ``<``. Fixture: user 1's session
    ends exactly gap after its only event, and user 2's event at exactly
    that instant sets the final watermark."""
    import datetime as dt

    import duckdb

    from topnotch_spark.oracles import streaming_session_window_sql
    from topnotch_spark.streaming.ops import session_window_metrics

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, 1, t0, 1.0),
        # exactly gap later: final watermark == user 1's session_end
        (2, 2, t0 + dt.timedelta(minutes=30), 2.0),
    ]
    schema = "event_id long, user_id long, ts timestamp, value double"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "swb")
    for k in (1, 2):
        df.filter(f"event_id = {k}").coalesce(1).write.parquet(f"{src}/p{k}")
    stream = stream_from_parquet(
        spark, f"{src}/p*", schema=schema, max_files_per_trigger=1
    )
    got = run_stream_to_table(
        session_window_metrics(stream), output_mode="append"
    ).collect()
    # user 1's session emits (end == final watermark); user 2's stays open
    assert [(r["user_id"], r["n_events"]) for r in got] == [(1, 1)]

    pq = str(tmp_path / "swb_all")
    df.coalesce(1).write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{pq}/*.parquet'")
    want = sorted(con.execute(streaming_session_window_sql(30)).fetchall())
    got_rows = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["sum_value"])
        for r in got
    )
    assert got_rows == want


def test_transitions_stream_cross_batch(spark, tmp_path):
    """A transition straddling two micro-batches must be counted — the
    whole reason the operator is stateful rather than per-batch lag."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
        transitions_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # batch 0: user 1 view; batch 1: user 1 click (cross-batch pair),
    # user 1 view (in-batch pair), user 2 single event (no pair)
    batches = [
        [(1, ts(0), 1, "view")],
        [(2, ts(10), 1, "click"), (3, ts(20), 1, "view"), (4, ts(5), 2, "view")],
    ]
    src = str(tmp_path / "replay")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/part{i}"
        )
    stream = stream_from_parquet(
        spark, f"{src}/part*", schema=schema, max_files_per_trigger=1
    )
    pairs = run_stream_to_table(
        transitions_stream(stream), output_mode="append", state_partitions=4
    )
    counts = {
        (r["prev_state"], r["next_state"]): r["n"]
        for r in pairs.groupBy("prev_state", "next_state")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {("view", "click"): 1, ("click", "view"): 1}


def test_funnel_stream_no_rerun_after_completion(spark, tmp_path):
    """Completed users must not re-enter the funnel in later batches,
    and cross-batch advances must count (stage state carries over)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.stateful import funnel_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # batch 0: user 1 view+click; batch 1: user 1 buy (cross-batch
    # completion) THEN a second full view->click->buy pass that must be
    # ignored; user 2 clicks before viewing -> stuck at view
    batches = [
        [(1, ts(0), 1, "view"), (2, ts(10), 1, "click"),
         (3, ts(0), 2, "click")],
        [(4, ts(20), 1, "buy"), (5, ts(30), 1, "view"),
         (6, ts(40), 1, "click"), (7, ts(50), 1, "buy"),
         (8, ts(60), 2, "view")],
    ]
    src = str(tmp_path / "replay")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/part{i}"
        )
    stream = stream_from_parquet(
        spark, f"{src}/part*", schema=schema, max_files_per_trigger=1
    )
    advances = run_stream_to_table(
        funnel_stream(stream, ["view", "click", "buy"]),
        output_mode="append",
        state_partitions=4,
    )
    counts = {
        r["stage_idx"]: r["n"]
        for r in advances.groupBy("stage_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {0: 2, 1: 1, 2: 1}  # u1+u2 view; only u1 click+buy


def test_write_stream_idempotent_survives_checkpoint_loss(spark, tmp_path):
    """The batch-id ledger prevents double-writes even when the
    checkpoint is lost and the stream replays from scratch."""
    import shutil

    from topnotch_spark.streaming.ops import (
        stream_from_parquet,
        write_stream_idempotent,
    )

    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id", "id % 7 AS grp").coalesce(2).write.parquet(src)
    dest = str(tmp_path / "dest")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    def run():
        write_stream_idempotent(
            stream_from_parquet(spark, src, max_files_per_trigger=1),
            dest, ledger, ckpt,
        )

    run()
    assert spark.read.parquet(dest).count() == 100
    # same checkpoint: Spark itself knows the files are done -> no-op
    run()
    assert spark.read.parquet(dest).count() == 100
    # checkpoint lost: without the ledger this re-appends all 100 rows
    shutil.rmtree(ckpt)
    run()
    back = spark.read.parquet(dest)
    assert back.count() == 100
    assert back.selectExpr("sum(id) s").collect()[0]["s"] == 100 * 99 // 2


def test_anomaly_stream_cross_batch_window(spark, tmp_path):
    """A spike whose trailing window spans two micro-batches must score
    against the FULL window (carried state), not just the spike's own
    batch — and must equal the batch operator exactly."""
    import datetime as dt
    import os

    from topnotch_spark.operators.temporal import rolling_zscore_anomalies
    from topnotch_spark.streaming import (
        anomaly_stream,
        run_stream_to_table,
        stream_from_parquet,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # 15 quiet events in batch 0, then 5 quiet + a spike in batch 1:
    # the spike's 20-event window spans both batches.
    quiet0 = [(i, ts(i), 1, 100.0 + (i % 3)) for i in range(15)]
    quiet1 = [(i, ts(i), 1, 100.0 + (i % 3)) for i in range(15, 20)]
    spike = [(20, ts(20), 1, 400.0)]
    batches = [quiet0, quiet1 + spike]
    src = str(tmp_path / "replay")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/part{i}"
        )
    stream = stream_from_parquet(
        spark, f"{src}/part*", schema=schema, max_files_per_trigger=1
    )
    out = run_stream_to_table(
        anomaly_stream(stream), output_mode="append", state_partitions=4
    ).collect()
    assert len(out) == 1
    got = out[0]
    assert got["event_id"] == 20 and got["n_window"] == 20

    batch_df = spark.createDataFrame(
        quiet0 + quiet1 + spike, schema
    )
    expected = rolling_zscore_anomalies(
        batch_df, "user_id", "ts", "value", "event_id"
    ).collect()
    assert len(expected) == 1
    assert got["zscore"] == expected[0]["zscore"]  # bit-identical


def test_ewma_stream_cross_batch_window(spark, tmp_path):
    """EWMA values just after a batch cut must use the carried trailing
    window, and every value must equal the batch operator exactly."""
    import datetime as dt
    import os

    from topnotch_spark.operators.temporal import ewma_per_key
    from topnotch_spark.streaming import (
        ewma_stream,
        run_stream_to_table,
        stream_from_parquet,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [(i, ts(i), 1, 10.0 * (i % 4) + 3.25) for i in range(12)]
    batches = [rows[:7], rows[7:]]
    src = str(tmp_path / "replay")
    os.makedirs(src)
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            f"{src}/part{i}"
        )
    stream = stream_from_parquet(
        spark, f"{src}/part*", schema=schema, max_files_per_trigger=1
    )
    got = {
        r["event_id"]: r["ewma"]
        for r in run_stream_to_table(
            ewma_stream(stream), output_mode="append", state_partitions=4
        ).collect()
    }
    expected = {
        r["event_id"]: r["ewma"]
        for r in ewma_per_key(
            spark.createDataFrame(rows, schema),
            "user_id", "ts", "value", "event_id",
        ).collect()
    }
    assert got == expected  # bit-identical, including rows 7-11 post-cut


def test_python_state_rounding_matches_spark_round(spark):
    """The streaming state ops quantize Decimal(repr(x)) — the
    shortest-round-trip convention of Spark's Round on doubles
    (BigDecimal.valueOf). Midpoint-repr values whose exact binary
    expansion sits just BELOW the midpoint (2.675 -> ...74999...) are
    where Decimal(x) would diverge; lock the convention on both sides."""
    import decimal

    from pyspark.sql import functions as F

    vals = [2.675, 1.005, 0.125, 2.665, 3.015, 1.2345499999, -2.675]
    got = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 2).alias("r"))
        .collect()
    )
    for v, row in zip(vals, got):
        py = float(
            decimal.Decimal(repr(v)).quantize(
                decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
            )
        )
        assert row["r"] == py, v


@pytest.mark.parametrize("runner", ["drift", "wasserstein", "assertions"])
def test_failed_foreach_batch_leaves_no_checkpoint(
    spark, tmp_path, monkeypatch, runner
):
    """A micro-batch body that raises fails the query; the run's
    single-use checkpoint is still deleted."""
    from pyspark.errors import StreamingQueryException

    from topnotch_spark.streaming import ops

    root = tmp_path / "ckpt"
    root.mkdir()
    monkeypatch.setattr(ops, "DEFAULT_CHECKPOINT_ROOT", str(root))
    src = str(tmp_path / "src")
    spark.range(20).selectExpr("id AS event_id", "CAST(id AS double) AS x") \
        .coalesce(1).write.parquet(src)
    stream = ops.stream_from_parquet(spark, src)
    # the reference has "value"; the stream lacks it, so each batch's
    # bucket count (or assertion query) raises inside foreachBatch
    ref = spark.range(20).selectExpr("CAST(id AS double) AS value")
    run = {
        "drift": lambda: ops.run_streaming_drift(ref, stream, "value"),
        "wasserstein": lambda: ops.run_streaming_wasserstein(ref, stream, "value"),
        "assertions": lambda: ops.run_streaming_assertions(
            stream, [AssertionRule(query="value > 0", description="v", threshold=0.0)]
        ),
    }[runner]
    with pytest.raises(StreamingQueryException):
        run()
    assert os.listdir(root) == []
