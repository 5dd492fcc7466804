"""Keyed Python-state stream operators on ``applyInPandasWithState``
(SURVEY.md §7E; no counterpart in the batch-only reference).

Each operator carries a small per-user state across micro-batches so
that its append stream equals a batch operator exactly for time-ordered
replay — the batch op (or its SQL) is the correctness oracle:

- ``sessionize_stream``: gap sessions (``view_sessionize_events``),
  closed in-batch or by event-time timeout;
- ``transitions_stream``: (previous state -> state) pairs
  (``temporal.transition_counts``);
- ``funnel_stream``: stage advances (``temporal.funnel_stages``);
- ``anomaly_stream``: trailing-window z-score anomalies
  (``temporal.rolling_zscore_anomalies``);
- ``ewma_stream``: truncated power-of-two EWMA
  (``temporal.ewma_per_key``);
- ``paths_stream``: n-step state paths (``temporal.frequent_paths``).

A stateless per-batch version of any of these drops or mis-scores
whatever straddles a batch cut; the carried state closes exactly that
gap. Every operator runs through one wrapper, ``_keyed_state``: it
projects the columns the operator reads, watermarks, groups by user,
picks the timeout conf, handles timed-out groups and hands the
operator's ``fn(user_id, rows, state)`` one pandas frame per group.
State values are plain longs/strings (timestamps as epoch micros, the
parquet precision) so nothing timezone-dependent crosses the Arrow
state boundary.

Scale: state is O(active users) x a few bounded fields; shuffle is one
exchange on the user key per micro-batch — the minimum any keyed
stateful operator needs. Rows arrive per group as Arrow record batches
(no row-at-a-time Python outside each operator's own scalar math).
"""

from __future__ import annotations

import functools
import re
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _per_group(
    fn: Callable[[int, pd.DataFrame, GroupState], Iterator[pd.DataFrame]],
    on_timeout: Callable[[int, GroupState], Iterator[pd.DataFrame]] | None,
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    gs: GroupState,
) -> Iterator[pd.DataFrame]:
    """One group of one micro-batch: ``on_timeout`` for a timed-out
    group, else ``fn`` over the group's rows as one frame."""
    (user_id,) = key
    if gs.hasTimedOut:
        if on_timeout is None:  # no timeouts registered; defensive
            gs.remove()
        else:
            yield from on_timeout(user_id, gs)
        return
    chunks = list(pdfs)
    yield from fn(
        user_id, chunks[0] if len(chunks) == 1 else pd.concat(chunks), gs
    )


def _keyed_state(
    events: DataFrame,
    fn: Callable[[int, pd.DataFrame, GroupState], Iterator[pd.DataFrame]],
    output: StructType,
    state: StructType,
    cols: tuple[str, ...],
    user_col: str,
    ts_col: str,
    watermark_delay: str,
    on_timeout: (
        Callable[[int, GroupState], Iterator[pd.DataFrame]] | None
    ) = None,
) -> DataFrame:
    """``fn(user_id, rows, state)`` per user and micro-batch over
    ``events`` projected to (user, ts, *cols), as an append stream of
    ``output`` rows carrying ``state`` per user.

    ``on_timeout(user_id, state)`` runs for a group whose event-time
    timeout fired (the operator sets it with ``setTimeoutTimestamp``);
    without one no timeout is registered and a timed-out group only
    drops its state.

    Spark gets a partial of the module-level ``_per_group``, which
    cloudpickle pickles by reference: unpickling it imports this
    package in the Python worker, and so installs the package's
    zipimport guard for every later task that worker runs."""
    return (
        # explicit projection: applyInPandasWithState is opaque to
        # Catalyst, so every child column would otherwise cross the
        # Arrow boundary per group (guide §4)
        events.select(user_col, ts_col, *cols)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(user_col)
        .applyInPandasWithState(
            functools.partial(_per_group, fn, on_timeout),
            outputStructType=output,
            stateStructType=state,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout
            if on_timeout is None
            else GroupStateTimeout.EventTimeTimeout,
        )
    )


def _time_order(
    rows: pd.DataFrame, ts_col: str, tiebreak_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Row order by (ts, tiebreak), and the unsorted ts array."""
    ts = rows[ts_col].to_numpy()
    return np.lexsort((rows[tiebreak_col].to_numpy(), ts)), ts


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _session_frame(
    user_id: int, start_us: list[int], last_us: list[int], n: list[int]
) -> pd.DataFrame:
    # columnar construction with explicit datetime64[us] arrays: a
    # list-of-dicts frame of pd.Timestamp objects goes through pandas'
    # object-dtype datetime inference (objects_to_datetime64) — measured
    # as a top CPU consumer in worker stack samples, ~|sessions| times
    # per micro-batch
    return pd.DataFrame(
        {
            "user_id": user_id,
            "session_start": np.array(start_us, dtype="datetime64[us]"),
            "session_end": np.array(last_us, dtype="datetime64[us]"),
            "n_events": n,
        }
    )


def sessionize_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Gap-based sessions over a stream of (user, timestamp) events.

    A session is a maximal run of a user's events where consecutive
    events are no more than ``gap_seconds`` apart — the definition of
    the batch ``view_sessionize_events`` query, the oracle for every
    session this operator CLOSES. A session closes either (a) in-batch,
    when a later event arrives more than the gap after the previous
    one, or (b) by event-time timeout, when the watermark passes
    last_event + gap. Sessions the final watermark never passes stay
    open (a real deployment keeps running; availableNow runs emit only
    sessions closed by (a) or (b)).

    State per user: (session_start_us, last_event_us, n_events), three
    longs. Output: one row per CLOSED session (user_id, session_start,
    session_end, n_events), append mode.
    """
    gap_us = gap_seconds * 1_000_000

    def on_timeout(user_id: int, state: GroupState) -> Iterator[pd.DataFrame]:
        start_us, last_us, n = state.get
        state.remove()
        yield _session_frame(user_id, [start_us], [last_us], [n])

    def fn(
        user_id: int, rows: pd.DataFrame, state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # datetime64[ns] -> epoch micros (exact for parquet micro precision)
        ts_us = np.sort(rows[ts_col].to_numpy().astype("int64") // 1000)
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0

        c_start: list[int] = []
        c_last: list[int] = []
        c_n: list[int] = []
        for t in ts_us.tolist():
            if last_us is not None and t - last_us > gap_us:
                c_start.append(start_us)
                c_last.append(last_us)
                c_n.append(n)
                start_us, n = None, 0
            if start_us is None:
                start_us = t
            last_us = t
            n += 1
        state.update((start_us, last_us, n))
        # close the open session when event-time passes last event + gap;
        # timeout API is epoch millis — round UP so we never fire early
        state.setTimeoutTimestamp((last_us + gap_us + 999) // 1000)
        if c_start:
            yield _session_frame(user_id, c_start, c_last, c_n)

    return _keyed_state(
        events, fn, SESSION_SCHEMA, STATE_SCHEMA, (), user_col, ts_col,
        watermark_delay, on_timeout,
    )


# ---------------------------------------------------------------------------
# Streaming transition pairs (cross-batch-correct sequence bigrams)
# ---------------------------------------------------------------------------

TRANSITION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("prev_state", StringType()),
        StructField("next_state", StringType()),
    ]
)

TRANSITION_STATE_SCHEMA = StructType(
    [
        StructField("last_state", StringType()),
        StructField("last_us", LongType()),
    ]
)


def transitions_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    tiebreak_col: str = "event_id",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Per-user (previous state -> state) transition pairs over a
    stream — the streaming twin of ``temporal.transition_counts``.

    Summing per-batch counts of a stateless lag would DROP every
    transition that straddles a micro-batch boundary; carrying the last
    (state, ts) per user in ``applyInPandasWithState`` makes the pair
    stream exactly equal to the batch lag() result when events arrive
    time-ordered (the replay contract; late arrivals beyond the
    watermark are dropped, as in any watermarked op).

    State per user: one string + one long. Output: append stream of
    (user_id, prev_state, next_state) pairs; aggregate downstream
    (bounded |states|² space) per batch or at the end.
    """

    def fn(
        user_id: int, rows: pd.DataFrame, state: GroupState
    ) -> Iterator[pd.DataFrame]:
        order, ts_a = _time_order(rows, ts_col, tiebreak_col)
        states = rows[state_col].to_numpy()[order].tolist()
        last_t = int(ts_a[order[-1]].astype("int64") // 1000)
        if state.exists:
            last_state, last_us = state.get
        else:
            last_state, last_us = None, None

        # the transition list is [carry-in] + states, lagged by one —
        # pure list slicing, no per-row loop
        if last_state is not None:
            prev = [last_state, *states[:-1]]
            nxt = states
        else:
            prev = states[:-1]
            nxt = states[1:]
        state.update((states[-1], last_t))
        if nxt:
            yield pd.DataFrame(
                {"user_id": user_id, "prev_state": prev, "next_state": nxt}
            )

    return _keyed_state(
        events, fn, TRANSITION_SCHEMA, TRANSITION_STATE_SCHEMA,
        (state_col, tiebreak_col), user_col, ts_col, watermark_delay,
    )


# ---------------------------------------------------------------------------
# Streaming conversion funnel (stage advances with cross-batch state)
# ---------------------------------------------------------------------------

FUNNEL_ADVANCE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage_idx", LongType()),
        StructField("ts", TimestampType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("stage", LongType()),     # next stage index to reach
        StructField("last_us", LongType()),   # ts of the last advance
    ]
)


def funnel_stream(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    tiebreak_col: str = "event_id",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``temporal.funnel_stages``: emit one row per
    user STAGE ADVANCE (user_id, stage_idx, ts). For time-ordered
    arrival (the replay contract) the greedy first-qualifying-event
    advance equals the batch min-after-previous semantics exactly, so
    counts per stage_idx reproduce the batch funnel.

    State per user: (next stage index, last advance ts) — two longs; a
    terminal stage==len(stages) marker persists after completion so
    later batches cannot re-run the funnel. One exchange on the user
    key per micro-batch.
    """
    n_stages = len(stages)
    if n_stages == 0:
        raise ValueError("funnel_stream: stages must be non-empty")
    stage_of = {s: i for i, s in enumerate(stages)}

    def fn(
        user_id: int, rows: pd.DataFrame, state: GroupState
    ) -> Iterator[pd.DataFrame]:
        order, ts_raw = _time_order(rows, ts_col, tiebreak_col)
        states = rows[state_col].to_numpy()[order].tolist()
        ts_us = (ts_raw[order].astype("int64") // 1000).tolist()
        if state.exists:
            stage, last_us = state.get
        else:
            stage, last_us = 0, None

        adv_stage: list[int] = []
        adv_ts: list[int] = []
        for st, t in zip(states, ts_us):
            if stage >= n_stages:
                break
            if stage_of.get(st) == stage and (
                stage == 0 or t > last_us
            ):
                adv_stage.append(stage)
                adv_ts.append(t)
                stage, last_us = stage + 1, t
        # completed users keep a terminal (stage == n_stages) marker —
        # removing the state would let later batches re-run the funnel
        # from stage 0 and double-count advances
        state.update((stage, last_us if last_us is not None else -1))
        if adv_stage:
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "stage_idx": adv_stage,
                    "ts": np.array(adv_ts, dtype="datetime64[us]"),
                }
            )

    return _keyed_state(
        events, fn, FUNNEL_ADVANCE_SCHEMA, FUNNEL_STATE_SCHEMA,
        (state_col, tiebreak_col), user_col, ts_col, watermark_delay,
    )


# ---------------------------------------------------------------------------
# Streaming rolling z-score anomalies (trailing window carried across
# micro-batches)
# ---------------------------------------------------------------------------

ANOMALY_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("n_window", LongType()),
        StructField("zscore", DoubleType()),
    ]
)

ANOMALY_STATE_SCHEMA = StructType(
    [StructField("window_vals", ArrayType(LongType()))]
)


def anomaly_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    window_rows: int = 20,
    threshold: float = 3.0,
    min_rows: int = 12,
    decimals: int = 2,
    round_digits: int = 4,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``temporal.rolling_zscore_anomalies``: per-user
    trailing-window point anomalies with the window carried across
    micro-batch boundaries in ``applyInPandasWithState`` — a stateless
    per-batch window would mis-score every event whose trailing window
    straddles a batch cut (the first ``window_rows`` events of EVERY
    batch).

    State per user: at most ``window_rows − 1`` scaled-integer values
    (≤ 152 bytes at the defaults) — the same bound the batch window
    frame carries, so state can never grow with stream length. The
    z-score math is identical to the batch op: Python ints are exact
    like int64 window sums, the float expression is evaluated in the
    same order, and rounding uses decimal HALF_UP — the semantics of
    Spark's ``F.round`` on doubles — so stream ≡ batch bit-for-bit for
    time-ordered replay and the batch SQL is the oracle."""
    import decimal
    import math

    scale = 10 ** decimals
    quantum = decimal.Decimal(1).scaleb(-round_digits)

    def fn(
        user_id: int, rows: pd.DataFrame, state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # hot path: ~|users| invocations per micro-batch, so the pandas
        # plumbing (concat/sort_values/row-dict frames) costs more than
        # the math — keep it in numpy, loop only over scalar lists
        keep = rows[value_col].notna().to_numpy()
        if not keep.any():
            return
        ts_a = rows[ts_col].to_numpy()[keep]
        # normalize dtypes once per batch: value may arrive as
        # float32/int/Decimal — the output schema is DoubleType, so the
        # frame below must carry float64 (object/float32 columns would
        # error or lose precision at the Arrow boundary)
        tb_a = rows[tiebreak_col].to_numpy()[keep].astype("int64")
        val_a = rows[value_col].to_numpy()[keep].astype("float64")
        order = np.lexsort((tb_a, ts_a))
        ts_a, tb_a, val_a = ts_a[order], tb_a[order], val_a[order]
        window: list[int] = list(state.get[0]) if state.exists else []

        hits: list[int] = []
        n_win: list[int] = []
        zs: list[float] = []
        for i, val in enumerate(val_a.tolist()):
            v = int(
                decimal.Decimal(repr(val * scale)).quantize(
                    decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                )
            )
            window.append(v)
            if len(window) > window_rows:
                window.pop(0)
            n = len(window)
            s1 = sum(window)
            s2 = sum(x * x for x in window)
            var_num = n * s2 - s1 * s1
            if n >= min_rows and var_num > 0:
                z = (n * v - s1) / math.sqrt((n * var_num) / (n - 1))
                zr = float(
                    decimal.Decimal(repr(z)).quantize(
                        quantum, rounding=decimal.ROUND_HALF_UP
                    )
                )
                if abs(zr) > threshold:
                    hits.append(i)
                    n_win.append(n)
                    zs.append(zr)
        state.update((window[-(window_rows - 1):] if window_rows > 1 else [],))
        if hits:
            idx = np.array(hits)
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "ts": ts_a[idx],
                    "event_id": tb_a[idx].astype("int64"),
                    "value": val_a[idx],
                    "n_window": n_win,
                    "zscore": zs,
                }
            )

    return _keyed_state(
        events, fn, ANOMALY_SCHEMA, ANOMALY_STATE_SCHEMA,
        (value_col, tiebreak_col), user_col, ts_col, watermark_delay,
    )


# ---------------------------------------------------------------------------
# Streaming EWMA (trailing truncated window carried across micro-batches)
# ---------------------------------------------------------------------------

EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [StructField("recent_vals", ArrayType(LongType()))]
)


def ewma_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    terms: int = 16,
    decimals: int = 2,
    round_digits: int = 6,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``temporal.ewma_per_key``: the trailing
    ``terms − 1`` values are carried across micro-batch boundaries in
    ``applyInPandasWithState`` (a stateless per-batch window would
    restart the average at every batch cut). State per user: ≤ 15
    scaled ints at the defaults.

    Numerics replicate the batch op exactly: scaled integers,
    power-of-two weights (every term exact, the ≤16-term sum fits the
    53-bit budget in ANY order), one division, decimal HALF_UP rounding
    (= Spark ``F.round``) — stream ≡ batch bit-for-bit for time-ordered
    replay, so the batch SQL is the oracle."""
    import decimal

    scale = 10 ** decimals
    quantum = decimal.Decimal(1).scaleb(-round_digits)
    # precomputed per-stream: same construction order as the inline
    # generator sums they replace, so the float accumulation (exact
    # dyadic anyway) is unchanged
    weights = [2.0 ** -k for k in range(terms)]
    dens = [sum(2.0 ** -k for k in range(n)) for n in range(terms + 1)]

    def fn(
        user_id: int, rows: pd.DataFrame, state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # hot path: ~|users| invocations per micro-batch — numpy
        # plumbing, scalar loop only for the exact dyadic/Decimal math
        keep = rows[value_col].notna().to_numpy()
        if not keep.any():
            return
        ts_a = rows[ts_col].to_numpy()[keep]
        # normalize dtypes once per batch (see anomaly fn above): the
        # output schema is DoubleType/LongType, so coerce here rather
        # than trusting the incoming pandas dtypes
        tb_a = rows[tiebreak_col].to_numpy()[keep].astype("int64")
        val_a = rows[value_col].to_numpy()[keep].astype("float64")
        order = np.lexsort((tb_a, ts_a))
        ts_a, tb_a, val_a = ts_a[order], tb_a[order], val_a[order]
        recent: list[int] = list(state.get[0]) if state.exists else []

        ewmas: list[float] = []
        for val in val_a.tolist():
            v = int(
                decimal.Decimal(repr(val * scale)).quantize(
                    decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                )
            )
            recent.append(v)
            if len(recent) > terms:
                recent.pop(0)
            num = sum(x * w for x, w in zip(reversed(recent), weights))
            den = dens[len(recent)]
            ewmas.append(
                float(
                    decimal.Decimal(repr(num / den / float(scale))).quantize(
                        quantum, rounding=decimal.ROUND_HALF_UP
                    )
                )
            )
        state.update((recent[-(terms - 1):] if terms > 1 else [],))
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "ts": ts_a,
                "event_id": tb_a.astype("int64"),
                "value": val_a,
                "ewma": ewmas,
            }
        )

    return _keyed_state(
        events, fn, EWMA_SCHEMA, EWMA_STATE_SCHEMA,
        (value_col, tiebreak_col), user_col, ts_col, watermark_delay,
    )


# ---------------------------------------------------------------------------
# Streaming n-step path mining (last n-1 states carried across batches)
# ---------------------------------------------------------------------------

PATHS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("path", StringType()),
    ]
)

PATHS_STATE_SCHEMA = StructType([StructField("carry", StringType())])

# separators for the carry encoding: \x1f between carried states, \x00
# marks a NULL state (must occupy its position so null-straddling
# windows are DROPPED, exactly like the batch lead() semantics — a
# filtered null would let the window silently skip over it). State
# VALUES are escaped before joining so a value containing the separator
# or sentinel bytes round-trips: '\' -> '\\', '\x1f' -> '\1',
# '\x00' -> '\0', and the empty string -> '\e' (so an empty carry
# string unambiguously means an EMPTY carry list, never a carried
# empty-string state).
_PATH_SEP = "\x1f"
_PATH_NULL = "\x00"
_PATH_DECODE = {"\\": "\\", "0": "\x00", "1": "\x1f", "e": ""}


def _path_enc(s: str | None) -> str:
    if s is None:
        return _PATH_NULL
    if s == "":
        return "\\e"
    return (
        s.replace("\\", "\\\\")
        .replace(_PATH_SEP, "\\1")
        .replace(_PATH_NULL, "\\0")
    )


def _path_dec(piece: str) -> str | None:
    if piece == _PATH_NULL:
        return None
    return re.sub(r"\\(.)", lambda m: _PATH_DECODE[m.group(1)], piece)


def paths_stream(
    events: DataFrame,
    n_steps: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    tiebreak_col: str = "event_id",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Per-user ``n_steps``-long consecutive state paths over a stream —
    the streaming twin of ``temporal.frequent_paths`` (and the n-gram
    generalization of :func:`transitions_stream`). Carrying the last
    ``n_steps - 1`` states per user across micro-batches makes the
    emitted path stream exactly equal the batch lead() windows for
    time-ordered replay; a stateless per-batch window would drop every
    path straddling a batch boundary.

    State per user: ONE string holding the last ``n_steps - 1`` states
    (separator-joined, NULL states position-encoded so windows touching
    a NULL drop exactly as in batch). Output: append stream of
    (user_id, path) with path = states joined by ``' > '``; aggregate
    downstream over the bounded |states|^n_steps space."""
    if n_steps < 2:
        raise ValueError("paths_stream: n_steps must be >= 2")

    def fn(
        user_id: int, rows: pd.DataFrame, state: GroupState
    ) -> Iterator[pd.DataFrame]:
        order, _ = _time_order(rows, ts_col, tiebreak_col)
        states = [
            None if s is None or (isinstance(s, float) and pd.isna(s))
            else str(s)
            for s in rows[state_col].to_numpy()[order].tolist()
        ]
        # state.exists alone gates the read; an empty carry STRING is a
        # valid encoding (empty carry list — values escape to '\e', so
        # '' never means a carried empty-string state)
        carried = state.get[0] if state.exists else ""
        carry = (
            [_path_dec(p) for p in carried.split(_PATH_SEP)]
            if carried
            else []
        )
        seq = carry + states
        paths = [
            " > ".join(seq[i : i + n_steps])
            for i in range(len(seq) - n_steps + 1)
            # windows produced entirely from the carry were emitted by a
            # previous batch; only windows ending in THIS batch are new
            if i + n_steps > len(carry)
            and not any(x is None for x in seq[i : i + n_steps])
        ]
        if seq:
            state.update(
                (_PATH_SEP.join(_path_enc(x) for x in seq[-(n_steps - 1):]),)
            )
        if paths:
            yield pd.DataFrame({"user_id": user_id, "path": paths})

    return _keyed_state(
        events, fn, PATHS_SCHEMA, PATHS_STATE_SCHEMA,
        (state_col, tiebreak_col), user_col, ts_col, watermark_delay,
    )
