"""Structured Streaming extensions (SURVEY.md §2.3 / §7E).

The reference engine is batch-only (its SparkSession is plain batch,
tnengine/TnEngine.scala:34-40, and no streaming API appears anywhere in
src/main). These operators extend the same QC semantics to streams the
idiomatic Spark way:

- ``stream_from_parquet``: file-source stream over parquet (the driver's
  ``events`` table replayed as a stream; at scale this is the same code
  path as a continuously-landing parquet/Delta directory).
- ``windowed_event_metrics``: watermark + tumbling/sliding ``window()``
  aggregation. Works identically on a batch DataFrame (window() is a
  plain grouping expression), which is how the DuckDB oracle reproduces
  it.
- ``run_streaming_assertions``: re-uses the BATCH rule evaluator
  (operators/assertions.run_assertions) per micro-batch via
  ``foreachBatch``, then merges per-batch counts into stream-level
  fractions — the reference's fraction/threshold semantics, incrementally.

Scale notes: the windowed aggregation is a standard streaming state-store
aggregation — state is bounded by (watermark horizon / slide) x groups,
and late data beyond the watermark is dropped. foreachBatch assertion
evaluation adds no state at all: each micro-batch is a bounded DataFrame
and the fused one-job count evaluator runs on it as-is.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from topnotch_spark.operators.assertions import (
    AssertionReport,
    AssertionRule,
    AssertionResult,
    run_assertions,
)
from topnotch_spark.sources.inputs import read_parquet


def _default_checkpoint_root() -> str:
    """Root for the SINGLE-USE checkpoints of memory-sink runs (each
    run creates a fresh directory and deletes it on completion — see
    run_stream_to_table). Because these checkpoints are throwaway by
    construction, a RAM-backed filesystem is the right default where
    one exists: the HDFS-backed state store writes a snapshot + commit
    log per state partition per micro-batch, and at bench cadence the
    resulting fsync bursts measurably stall batches on local disk
    (r13: streaming_sessionize reps of 9.2s / 20.5s on-disk vs a
    stable ~5.1s on /dev/shm at sf0.1). DURABLE checkpoints — anything
    that must survive a restart — are the caller's ``checkpoint_dir``
    parameter, unaffected by this default. Override with
    $SPARK_GRAFT_STREAM_CKPT_ROOT (e.g. point it at HDFS/objectstore
    on a real cluster when even throwaway runs should live there)."""
    env = os.environ.get("SPARK_GRAFT_STREAM_CKPT_ROOT")
    if env:
        return env
    if os.path.isdir("/dev/shm"):
        return "/dev/shm/topnotch_spark_checkpoints"
    return "/root/repo/.tmp/checkpoints"


DEFAULT_CHECKPOINT_ROOT = _default_checkpoint_root()
REPLAY_ROOT = "/root/repo/.tmp/events_replay"
REPLAY_CUTS = ("2024-01-11", "2024-01-21")
# replay dirs whose ts dtype was already probed OK this process,
# keyed (dest, marker mtime_ns) — see events_replay_dir
_VALIDATED_REPLAY_DIRS: set = set()


def events_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    cuts: tuple[str, ...] = REPLAY_CUTS,
    files_per_cut: int = 1,
) -> str:
    """Materialize the events table as time-ordered parquet files so a
    file-source stream replays it as deterministic micro-batches with
    maxFilesPerTrigger=1. Also normalizes the driver's TIMESTAMP(NANOS)
    ts to micros (catalog.load) so the streaming schema is a plain
    timestamp. Idempotent per (sf_dir, files_per_cut) — built once,
    reused.

    ``files_per_cut`` > 1 splits each cut into that many contiguous
    time-range sub-files (repartitionByRange on (ts, event_id)), so
    micro-batch boundaries are exercised with multiple files per cut —
    closer to a real continuously-landing directory than one giant file
    per cut. Sub-files keep global time order (range partitioning is
    contiguous) and file mtimes are pinned strictly increasing in name
    order, so FileStreamSource's (mtime, path) ordering replays them
    deterministically; streaming results are hash-identical to the
    single-file layout (tested)."""
    from topnotch_spark import catalog

    base = os.path.basename(os.path.normpath(sf_dir))
    suffix = "" if files_per_cut == 1 else f"_f{files_per_cut}"
    dest = f"{REPLAY_ROOT}/{base}{suffix}"
    marker = os.path.join(dest, "_REPLAY_READY")
    if os.path.exists(marker):
        # Guard against a replay dir built from stale testdata whose ts was
        # not yet normalized to the plain (LTZ) timestamp type — watermarks
        # reject TIMESTAMP_NTZ, so rebuild rather than reuse. The parquet
        # dtype probe costs a footer read per call, so a dir validated once
        # this process is remembered (keyed on the marker's mtime — a
        # rebuild writes a fresh marker and misses the memo).
        try:
            mkey = (dest, os.stat(marker).st_mtime_ns)
            if mkey in _VALIDATED_REPLAY_DIRS:
                return dest
            if dict(spark.read.parquet(dest).dtypes).get("ts") == "timestamp":
                _VALIDATED_REPLAY_DIRS.add(mkey)
                return dest
        except Exception:
            pass
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest, exist_ok=True)
    ev = catalog.load(spark, sf_dir, "events")
    bounds = [None, *cuts, None]
    out_files: list[str] = []
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        part = ev
        if lo is not None:
            part = part.filter(f"ts >= timestamp'{lo}'")
        if hi is not None:
            part = part.filter(f"ts < timestamp'{hi}'")
        stage = f"{dest}/_stage{i}"
        if files_per_cut == 1:
            part.coalesce(1).write.mode("overwrite").parquet(stage)
        else:
            part.repartitionByRange(
                files_per_cut, "ts", "event_id"
            ).write.mode("overwrite").parquet(stage)
        pfs = sorted(f for f in os.listdir(stage) if f.startswith("part-"))
        for j, pf in enumerate(pfs):
            name = f"{dest}/{i:03d}_{j:02d}.parquet"
            shutil.move(os.path.join(stage, pf), name)
            out_files.append(name)
        shutil.rmtree(stage)
    # strictly increasing mtimes in replay order: FileStreamSource picks
    # files by (modification time, path), and same-millisecond writes
    # would otherwise leave the order to the filesystem
    now = int(os.path.getmtime(out_files[0])) if out_files else 0
    for k, name in enumerate(out_files):
        os.utime(name, (now + k, now + k))
    with open(marker, "w") as f:
        f.write("")
    return dest


def stream_from_parquet(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet file-source stream. ``path`` may be a file, directory or
    glob. Schema is taken from a batch read when not supplied (streaming
    file sources require an explicit schema).

    ``max_files_per_trigger`` bounds each micro-batch; with the
    availableNow trigger this replays existing files as a deterministic
    sequence of micro-batches — how the tests drive multi-batch behavior.
    """
    if schema is None:
        # the parquet schema registry: the batch probe reads the footer
        # in a Spark job otherwise; a rebuilt dir misses and re-infers
        schema = read_parquet(spark, path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_metrics(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark_delay: str = "1 hour",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-(time-window, event_type) counts and value stats.

    On a streaming DataFrame: watermarked stateful aggregation (late rows
    beyond ``watermark_delay`` are dropped, state is evicted as the
    watermark passes window ends). On a batch DataFrame the same code is a
    plain groupBy — used by tests and the DuckDB oracle for equivalence.
    """
    e = events.withWatermark(ts_col, watermark_delay) if events.isStreaming else events
    win = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        e.groupBy(win.alias("win"), F.col(type_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
            # avg derived from the ROUNDED sum, not an independent AVG
            # aggregate: parallel partial-sum order vs a sequential
            # engine can drift a raw avg by one ulp across the round()
            # boundary (observed at sf0.1); once the rounded sums agree,
            # round(sum/n) agrees by construction.
            F.round(F.round(F.sum(value_col), 6) / F.count(F.lit(1)), 6).alias(
                "avg_value"
            ),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col(type_col),
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def run_stream_to_table(
    stream_df: DataFrame,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 16,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into an
    in-memory sink and return the result table. Each call uses a fresh
    checkpoint + sink name, so it is safe to re-invoke (bench loops).

    ``state_partitions`` temporarily pins ``spark.sql.shuffle.partitions``
    for the run: stateful streaming creates one state store (files,
    commit log) PER shuffle partition per batch, so an oversized default
    (e.g. 200 from a vanilla session) multiplies checkpoint I/O for no
    parallelism gain at test scale. On a cluster pass None and size the
    session conf to the key cardinality instead.

    The memory-sink table is NOT left registered: dozens of leaked
    result tables would otherwise hold their rows in driver memory for
    the session's lifetime. The returned DataFrame's analyzed plan
    references the sink relation directly, so dropping the catalog name
    costs nothing — the rows are freed by GC once the caller's last
    reference dies, instead of never.
    """
    spark = stream_df.sparkSession
    name = f"tn_stream_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint_dir or f"{DEFAULT_CHECKPOINT_ROOT}/{name}"
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            else:
                # conf was never explicitly set: unset back to the
                # built-in default instead of pinning our override
                spark.conf.unset("spark.sql.shuffle.partitions")
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    if checkpoint_dir is None:
        # the auto-generated checkpoint is single-use (fresh name per
        # call) — drop it now or a long session accumulates hundreds of
        # dead commit-log directories
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str],
    watermark_col: str | None = None,
    watermark_delay: str = "1 hour",
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming deduplication on key columns: emits the first arrival
    per key, suppressing every later duplicate across micro-batches.

    State = one entry per distinct key, forever — the right default for
    id-style keys bounded by the domain. For unbounded keys pass a
    watermark column and ``within_watermark=True``
    (dropDuplicatesWithinWatermark): duplicates are only suppressed
    within the watermark horizon and state is evicted past it — the
    standard trade for infinite streams.
    """
    s = stream_df
    if watermark_col is not None:
        s = s.withWatermark(watermark_col, watermark_delay)
    if within_watermark:
        return s.dropDuplicatesWithinWatermark(keys)
    return s.dropDuplicates(keys)


def run_streaming_drift(
    ref: DataFrame,
    stream: DataFrame,
    col: str,
    n_buckets: int = 10,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Streaming PSI drift monitor: histogram a STREAM against a static
    reference distribution.

    Bucket bounds come from the batch reference (one 2-scalar fetch,
    exactly as histogram_drift); each micro-batch is reduced to its
    per-bucket counts (≤ n_buckets rows to the driver per batch — the
    foreachBatch body runs driver-side, same pattern as
    run_streaming_assertions) and the integer counts accumulate across
    batches, so the result is bit-identical to running the batch
    operator over the whole stream. The final table reuses
    drift.psi_table — the SAME expression code as the batch path. No
    streaming state store at all: the only state is n_buckets longs on
    the driver."""
    from topnotch_spark.operators.drift import psi_table

    spark = ref.sparkSession
    r = ref.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("x")
    )
    mn, mx = r.agg(F.min("x"), F.max("x")).collect()[0]
    if mn is None or mx == mn:
        raise ValueError(
            f"run_streaming_drift: reference '{col}' is empty or constant"
        )
    mn, mx = float(mn), float(mx)
    width = (mx - mn) / n_buckets

    def idx(frame: DataFrame) -> DataFrame:
        b = F.least(
            F.greatest(
                F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
                F.lit(0),
            ),
            F.lit(n_buckets - 1),
        )
        return frame.select(b.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n")
        )

    ref_counts = {row["bucket"]: row["n"] for row in idx(r).collect()}
    cur_counts: dict[int, int] = {}
    seen_batches: set[int] = set()

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a restart can re-deliver the
        # last uncommitted batch — dedup on batch_id or counts double
        if batch_id in seen_batches:
            return
        seen_batches.add(batch_id)
        rows = idx(
            batch_df.filter(F.col(col).isNotNull()).select(
                F.col(col).cast("double").alias("x")
            )
        ).collect()
        for row in rows:
            cur_counts[row["bucket"]] = cur_counts.get(row["bucket"], 0) + row["n"]

    ckpt = f"{DEFAULT_CHECKPOINT_ROOT}/tn_drift_{uuid.uuid4().hex[:12]}"
    try:
        stream.writeStream.foreachBatch(_process).option(
            "checkpointLocation", ckpt
        ).trigger(availableNow=True).start().awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    joined = spark.createDataFrame(
        [
            (b, ref_counts.get(b, 0), cur_counts.get(b, 0))
            for b in range(n_buckets)
        ],
        "bucket int, n_ref long, n_cur long",
    )
    return psi_table(joined, mn, width, eps, round_digits)


def run_streaming_wasserstein(
    ref: DataFrame,
    stream: DataFrame,
    col: str,
    n_buckets: int = 32,
    round_digits: int = 6,
) -> DataFrame:
    """Streaming earth-mover drift monitor: the W1 twin of
    [run_streaming_drift] — bucket bounds from the static reference,
    per-micro-batch integer bucket counts accumulated on the driver
    (≤ n_buckets longs of state, no state store), and the final 1-row
    (w1, w1_norm, n_ref, n_cur) computed by drift.w1_table — the SAME
    expression code as the batch wasserstein_binned, so the stream
    result is bit-identical to running the batch operator over the
    whole stream."""
    from topnotch_spark.operators.drift import w1_table

    spark = ref.sparkSession
    r = ref.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("x")
    )
    mn, mx = r.agg(F.min("x"), F.max("x")).collect()[0]
    if mn is None or mx == mn:
        raise ValueError(
            f"run_streaming_wasserstein: reference '{col}' is empty or "
            "constant"
        )
    mn, mx = float(mn), float(mx)
    width = (mx - mn) / n_buckets

    def idx(frame: DataFrame) -> DataFrame:
        b = F.least(
            F.greatest(
                F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
                F.lit(0),
            ),
            F.lit(n_buckets - 1),
        )
        return frame.select(b.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n")
        )

    ref_counts = {row["bucket"]: row["n"] for row in idx(r).collect()}
    cur_counts: dict[int, int] = {}
    seen_batches: set[int] = set()

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in seen_batches:
            return
        seen_batches.add(batch_id)
        rows = idx(
            batch_df.filter(F.col(col).isNotNull()).select(
                F.col(col).cast("double").alias("x")
            )
        ).collect()
        for row in rows:
            cur_counts[row["bucket"]] = (
                cur_counts.get(row["bucket"], 0) + row["n"]
            )

    ckpt = f"{DEFAULT_CHECKPOINT_ROOT}/tn_w1_{uuid.uuid4().hex[:12]}"
    try:
        stream.writeStream.foreachBatch(_process).option(
            "checkpointLocation", ckpt
        ).trigger(availableNow=True).start().awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    joined = spark.createDataFrame(
        [
            (b, ref_counts.get(b, 0), cur_counts.get(b, 0))
            for b in range(n_buckets)
        ],
        "bucket int, n_ref long, n_cur long",
    )
    return w1_table(joined, width, n_buckets, round_digits)


def session_window_metrics(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    user_col: str = "user_id",
    value_col: str = "value",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Gap-sessionization via the BUILT-IN ``session_window`` aggregation
    — the idiomatic Structured Streaming session operator (state-store
    managed, window-merge on overlap), complementing the custom
    ``applyInPandasWithState`` sessionizer in streaming/stateful.py which
    exists for semantics session_window can't express (per-session custom
    Python state). Session = [first_ts, last_ts + gap); a new event
    starts a new session iff it arrives MORE than gap after the previous
    one — windows that merely touch are merged. In append mode a session emits once the
    watermark passes its end; sessions still open at the final watermark
    are unemitted — same closure rule as the stateful sessionizer.
    State per active session is the running aggregate only; eviction at
    watermark, so state ∝ active sessions, not history."""
    e = events.withWatermark(ts_col, watermark_delay) if events.isStreaming else events
    return (
        e.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), F.col(user_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.col(user_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_time_join(
    left: DataFrame,
    right: DataFrame,
    key: tuple[str, str],
    ts_cols: tuple[str, str],
    tolerance_seconds: int = 3600,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time range constraint:
    rows pair when keys match and ``right_ts ∈ [left_ts − tolerance,
    left_ts]``. The canonical Structured Streaming unbounded join —
    both sides are watermarked so the state store can evict: a right row
    is dropped once the watermark passes ``right_ts + tolerance``
    (can no longer match any future left row), a left row once the
    watermark passes ``left_ts`` — state is bounded by
    (watermark horizon + tolerance) × arrival rate, NOT by stream
    length. ``watermark_delay`` must exceed the max event-time disorder
    across micro-batches or late pairs are dropped (documented Spark
    semantics; the replay source is time-ordered so 2 h ≫ disorder = 0).

    Works identically on batch frames (watermarks are no-ops there),
    which is how tests and the DuckDB oracle reproduce it.
    """
    lk, rk = key
    lts, rts = ts_cols
    l = left.withWatermark(lts, watermark_delay) if left.isStreaming else left
    r = right.withWatermark(rts, watermark_delay) if right.isStreaming else right
    # The range bound MUST be plain timestamp ± INTERVAL arithmetic:
    # StreamingJoinHelper can only derive the state-eviction watermark
    # from conditions it can parse — wrapping the columns in unix_micros()
    # defeats the extraction and state is then held until the global
    # watermark instead of being evicted at ts + tolerance (observed as
    # "Failed to extract state value watermark" warnings).
    cond = (
        (F.col(lk) == F.col(rk))
        & (F.col(rts) <= F.col(lts))
        & (
            F.col(rts)
            >= F.col(lts) - F.expr(f"INTERVAL {tolerance_seconds} SECONDS")
        )
    )
    return l.join(r, cond, "inner")


@dataclass
class StreamingBatchResult:
    batch_id: int
    total: int
    result: AssertionResult


@dataclass
class StreamingAssertionSummary:
    """Stream-level rollup of per-micro-batch assertion runs."""

    batches: list[StreamingBatchResult]
    reports: list[AssertionReport]  # merged across batches
    num_failed: int  # rules whose stream-level fraction exceeds threshold


def run_streaming_assertions(
    stream_df: DataFrame,
    rules: list[AssertionRule],
    checkpoint_dir: str | None = None,
    with_samples: bool = False,
) -> StreamingAssertionSummary:
    """Evaluate assertion rules over a stream, one micro-batch at a time,
    re-using the batch evaluator via foreachBatch.

    Per batch this runs the fused one-job count evaluator; afterwards the
    per-batch (num_invalid, total) pairs are merged so
    ``fraction_invalid`` reflects the WHOLE stream — matching what the
    batch engine would report on the union of all micro-batches. Sampling
    defaults off in streaming (per-batch samples are rarely wanted and
    cost an extra job per batch per rule).
    """
    batches: list[StreamingBatchResult] = []

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        total = batch_df.count()
        res = run_assertions(
            batch_df, f"batch_{batch_id}", rules, with_samples=with_samples
        )
        batches.append(StreamingBatchResult(batch_id, total, res))

    name = f"tn_assert_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint_dir or f"{DEFAULT_CHECKPOINT_ROOT}/{name}"
    try:
        stream_df.writeStream.foreachBatch(_process).option(
            "checkpointLocation", ckpt
        ).trigger(availableNow=True).start().awaitTermination()
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)

    grand_total = sum(b.total for b in batches)
    merged: list[AssertionReport] = []
    for i, rule in enumerate(rules):
        num_invalid = sum(b.result.reports[i].num_invalid for b in batches)
        fraction = (num_invalid / grand_total) if grand_total > 0 else 0.0
        merged.append(
            AssertionReport(
                query=rule.query,
                description=rule.description,
                threshold=rule.threshold,
                fraction_invalid=fraction,
                num_invalid=num_invalid,
                sample_invalid=[
                    r for b in batches for r in b.result.reports[i].sample_invalid
                ][:20],
                user_summary_statistics={},
                user_defined_features=tuple(
                    (rule.user_defined_features or {}).keys()
                ),
            )
        )
    num_failed = sum(1 for r in merged if r.failed)
    return StreamingAssertionSummary(batches, merged, num_failed)


def write_stream_idempotent(
    stream_df: DataFrame,
    dest: str,
    ledger_path: str,
    checkpoint_dir: str,
    output_format: str = "parquet",
) -> None:
    """Exactly-once file sink via a foreachBatch batch-id ledger.

    Spark's checkpoint already makes foreachBatch at-least-once with a
    stable ``batch_id`` per retry — but a LOST or rebuilt checkpoint
    (the classic ops accident: checkpoint dir cleaned, stream restarted
    from scratch) restarts batch ids at 0 and re-appends everything the
    sink already holds. The ledger closes that hole: each committed
    micro-batch writes a ``(source fingerprint, batch content hash)``
    marker file AFTER its data lands, and a batch whose marker already
    exists is skipped — so re-processing the same input files, under the
    SAME or a FRESH checkpoint, never double-writes.

    The marker name is derived from the batch's IDENTITY, not its batch
    id, because a fresh checkpoint may re-number or re-split batches.
    For file sources the identity is the sorted set of input file names
    (a re-delivered file is the same data re-landed — skip; identical
    ROWS arriving in a genuinely new file are new data — keep). For
    non-file sources it falls back to an order-independent content
    hash. Marker writes are one tiny file per micro-batch — at scale
    put the ledger next to the sink on the same object store
    (create-if-absent is enough: Spark serializes micro-batches per
    query).

    Runs the stream to completion with the availableNow trigger.
    """
    import hashlib

    from pyspark.sql import functions as F  # noqa: F401 (local rebind)

    os.makedirs(ledger_path, exist_ok=True)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        files = sorted(
            r["f"]
            for r in batch_df.select(
                F.input_file_name().alias("f")
            ).distinct().collect()
            if r["f"]
        )
        if files:
            ident = "\n".join(files)
        else:
            h = batch_df.select(
                F.sum(F.crc32(F.to_json(F.struct("*")))).alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            if h["n"] == 0:
                return
            ident = f"content:{h['h']}:{h['n']}"
        digest = hashlib.sha256(ident.encode()).hexdigest()[:32]
        marker = os.path.join(ledger_path, f"batch-{digest}")
        if os.path.exists(marker):
            return  # already committed by a previous incarnation
        batch_df.write.mode("append").format(output_format).save(dest)
        with open(marker, "w") as f:
            f.write(f"{batch_id}\n")

    q = (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def topk_types_per_window(agg: DataFrame, k: int = 3) -> DataFrame:
    """Heavy hitters per time window, composed ON TOP of the streamed
    aggregation: rank each window's event types by count (count desc,
    type asc tiebreak) and keep the top k. Structured Streaming cannot
    chain a rank after a stateful aggregation in one query (no
    multi-level stateful ops in complete mode), so the streaming twin
    runs the windowed count statefully and applies this rank to the
    materialized result table — a |windows|x|types| frame, so the
    window is partitioned AND bounded. Batch-callable for tests and
    the oracle."""
    rank_w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
    )


# HLL-estimate constants for hll_register_stream /
# windowed_distinct_estimate: m = 256 registers (2 hex nibbles), rho
# capped at 33, alpha_256 = 0.7182 as the exact rational 7182/10000.
# Numerator = 7182 * 256^2 * 2^33 — precomputed so the whole estimate
# is one BIGINT division (4.04e18, inside int64).
_HLL_M = 256
_HLL_EST_NUM = 7182 * _HLL_M * _HLL_M * (2**33)
assert _HLL_EST_NUM < 2**63


def hll_register_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_duration: str = "1 hour",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Per-(time-window, HLL register) max rank — the DETERMINISTIC
    distinct-count sketch as a streaming stateful aggregation.

    Unlike the DataSketches binary sketches (operators/sketch.py), the
    register state here is md5-derived and engine-exact: register =
    first byte of md5(key), rho = 33 - bitlength of the next 32 bits
    (33 when those bits are all zero). MAX is order- and
    batch-insensitive, so the stream equals the batch groupBy
    bit-for-bit, and a DuckDB oracle replays every register. State per
    window is bounded at 256 rows regardless of traffic — the whole
    point of the sketch: "distinct users per window" without keeping
    user sets in the state store.

    Batch-callable (same code is a plain groupBy) for tests and the
    oracle.
    """
    h = F.md5(F.col(key_col).cast("string"))
    v = F.conv(F.substring(h, 3, 8), 16, 10).cast("long")
    projected = events.select(
        F.col(ts_col),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("reg"),
        F.when(v == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(v)).cast("int"))
        .alias("rho"),
    )
    e = (
        projected.withWatermark(ts_col, watermark_delay)
        if events.isStreaming
        else projected
    )
    return (
        e.groupBy(F.window(F.col(ts_col), window_duration).alias("win"), "reg")
        .agg(F.max("rho").alias("max_rho"))
        .select(F.col("win.start").alias("window_start"), "reg", "max_rho")
    )


def hll_linear_counting_table() -> list[int]:
    """LC[z] = round(m·ln(m/z)) for z = 1..m-1 empty registers — the
    Flajolet small-range correction, precomputed DRIVER-side once and
    embedded as the SAME integer literals in the Spark plan and the
    DuckDB oracle, so the float ln never runs inside either engine."""
    import math

    return [round(_HLL_M * math.log(_HLL_M / z)) for z in range(1, _HLL_M)]


def windowed_distinct_estimate(regs: DataFrame) -> DataFrame:
    """(window_start, n_regs, est_distinct) from the register table —
    the HLL harmonic-mean estimate in EXACT integer arithmetic: the
    denominator Σ 2^(33-rho) (absent registers contribute 2^33) stays
    a BIGINT and the raw estimate is one integer division; the
    small-range regime (empty registers present AND raw ≤ 5m/2) takes
    the linear-counting value from the precomputed integer table — so
    any engine reproduces every estimate bit-for-bit. Runs on the
    materialized |windows|×256 result table (the streaming_topk_types
    pattern: no multi-level stateful ops), which also makes it the
    cross-batch MERGE — register maxima union by max for free."""
    lc = hll_linear_counting_table()
    raw = (
        f"CAST({_HLL_EST_NUM} AS BIGINT) div "
        f"(10000 * (__dp__ + (256 - n_regs) * CAST({2**33} AS BIGINT)))"
    )
    return (
        regs.groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n_regs"),
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), 33 - max_rho)")
            ).alias("__dp__"),
        )
        .select(
            "window_start",
            "n_regs",
            F.expr(
                f"CASE WHEN n_regs < 256 AND ({raw}) <= {5 * _HLL_M // 2} "
                f"THEN element_at(array({', '.join(f'CAST({v} AS BIGINT)' for v in lc)}), "
                "CAST(256 - n_regs AS INT)) "
                f"ELSE {raw} END"
            ).alias("est_distinct"),
        )
    )


def windowed_benford(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window_duration: str = "1 day",
    watermark_delay: str = "1 hour",
    int_scale: int = 100,
) -> DataFrame:
    """Per-window Benford first-digit counts of a positive numeric
    stream — the streaming twin of ``drift.benford_first_digit``'s
    counting stage, as a live fabricated-traffic monitor (a window
    whose digit mix jumps off the law is a bot/synthetic-burst
    signal). Same integer-exact digit extraction: power-of-10 scale →
    BIGINT → first decimal-string character; values scaling below 1
    (and nulls/negatives) drop.

    On a streaming frame: watermarked stateful windowed count — state
    is ≤ 9 counters per open window, evicted at the watermark. On a
    batch frame the same code is a plain groupBy (the oracle/test
    equivalence path). Output: (window_start, window_end, digit,
    n_values)."""
    e = (
        events.withWatermark(ts_col, watermark_delay)
        if events.isStreaming
        else events
    )
    v = F.round(F.col(value_col) * int_scale).cast("bigint")
    return (
        e.select(
            F.window(F.col(ts_col), window_duration).alias("win"),
            v.alias("__v__"),
        )
        .filter(F.col("__v__") >= 1)
        .select(
            "win",
            F.substring(F.col("__v__").cast("string"), 1, 1)
            .cast("int")
            .alias("digit"),
        )
        .groupBy("win", "digit")
        .agg(F.count(F.lit(1)).alias("n_values"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "digit",
            "n_values",
        )
    )
