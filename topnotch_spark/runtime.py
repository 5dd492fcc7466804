"""Lifecycle of what the engine materializes and later deletes.

One owner for three things: the registry of persisted intermediates,
their parquet checkpoints (and the per-round checkpoints of iterative
operators), and the paths a query creates and must remove again.
Operators call :func:`persist`, :func:`persist_if_large`,
:func:`truncate_round` and :func:`own_paths`; nothing else touches the
registry state.

Cache lifecycle: minhash/jaccard/simhash persist their shingle tables
(multi-branch plans); the returned DataFrame is lazily derived from the
cached one, so the operator itself cannot unpersist. Every such persist
is tracked: consume the result (an action), then call
``unpersist_intermediates()`` — or wrap the whole consume in a
``dedup_scope()`` context manager — to release the storage without the
``spark.catalog.clearCache()`` sledgehammer. The plan engine does this
automatically at the end of every plan run
(engine.execute_commands → release_new_intermediates), so back-to-back
plans in one session do not accumulate storage; direct API callers
manage the scope themselves. Unpersisting before the result is consumed
is safe but recomputes the lineage. At real scale, replace the persist
with a parquet checkpoint (SCALE.md §6).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from topnotch_spark.sources.inputs import write_read_back

# Intermediates persisted by the operators, in creation order.
# Intentionally process-global: the plan engine frees its own plan's
# entries per run (snapshot-scoped), and direct API callers use
# unpersist_intermediates()/dedup_scope().
_PERSISTED: list[DataFrame] = []

# When set, persist() spills intermediates to parquet under this
# directory instead of executor storage (SCALE.md §6: at 100 TB the
# shingle/signature tables of a multi-branch dedup plan do not fit the
# BlockManager; a parquet checkpoint also truncates lineage). Entries
# are tracked in _CHECKPOINTED (id(df) → the paths it owns) and the
# paths are deleted on release. Set via set_checkpoint_dir(), the
# checkpoint_dir argument of dedup_scope(), or a plan-level
# "checkpointDir" field.
_CHECKPOINT_DIR: str | None = None
_CHECKPOINTED: dict[int, list[str]] = {}
_CHECKPOINT_SEQ = 0


def set_checkpoint_dir(path: str | None) -> str | None:
    """Route subsequent intermediates to parquet under ``path`` (any
    Hadoop-FS scheme) instead of persist(MEMORY_AND_DISK); ``None``
    restores in-memory persist. Returns the previous setting."""
    global _CHECKPOINT_DIR
    prev = _CHECKPOINT_DIR
    _CHECKPOINT_DIR = path
    return prev


def delete_path(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete via the Hadoop FileSystem API (works
    for local paths, ``file://`` URIs, HDFS and object stores alike)."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:  # cleanup must never fail the query
        pass


def _next_checkpoint_path(prefix: str) -> str:
    global _CHECKPOINT_SEQ
    _CHECKPOINT_SEQ += 1
    return f"{_CHECKPOINT_DIR.rstrip('/')}/{prefix}_{_CHECKPOINT_SEQ}"


def persist(df: DataFrame) -> DataFrame:
    """Materialize + register an intermediate for reuse across branches:
    parquet checkpoint when a checkpoint dir is set (scale path), else
    persist(MEMORY_AND_DISK). Released by unpersist_intermediates() /
    release_new_intermediates().

    A plan that is cached already (by an earlier persist of the same
    plan, in this scope, an enclosing one or by the caller) is returned
    as is and not registered again: it reads that cache, and whoever
    cached it releases it. Persisting it again would be a no-op in Spark
    ("Asked to cache already cached data")."""
    if _CHECKPOINT_DIR is not None:
        path = _next_checkpoint_path("tn_ckpt")
        out = write_read_back(df, path)
        own_paths(out, [path])
        return out
    if df.storageLevel != StorageLevel.NONE:
        return df
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(out)
    return out


def _estimated_input_bytes(df: DataFrame) -> int | None:
    """Sum of the on-disk sizes of the files feeding ``df``'s scan, via
    the Hadoop FileSystem API (works for local paths, HDFS, object
    stores). Returns None when unknowable (non-file source, registry
    input, any error) — callers must treat None as "assume large".
    More than 200 files short-circuits to a large sentinel rather than
    paying one RPC per file: a many-file input IS the large case."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        if len(files) > 200:
            return 1 << 60
        spark = df.sparkSession
        conf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            jp = spark._jvm.org.apache.hadoop.fs.Path(f)
            total += jp.getFileSystem(conf).getFileStatus(jp).getLen()
        return total
    except Exception:
        return None


# Below this input size, a multi-branch operator's shared intermediate
# is cheaper to recompute per branch than to materialize: persist()
# write+read of the exploded table costs more than the 2-4 extra scans
# of a small source (measured on bm25: sf0.1's 584 KB documents table
# ran 1.6x slower WITH the tf persist). At/above it — the cluster-scale
# case the persist exists for — materialize once.
PERSIST_INPUT_THRESHOLD_BYTES = 64 << 20


def persist_if_large(
    df: DataFrame,
    source: DataFrame,
    force: bool | None = None,
    threshold_bytes: int = PERSIST_INPUT_THRESHOLD_BYTES,
) -> DataFrame:
    """``persist(df)`` gated on the estimated input size of ``source``:
    persist when forced (``force=True``), when the source size is
    unknown (conservative: at 100 TB a missed persist re-tokenizes the
    corpus per branch), or when it meets ``threshold_bytes``. With
    ``force=False`` or a measurably small source, return ``df``
    unchanged and let the branches recompute the cheap lineage."""
    if force is False:
        return df
    if force is None:
        est = _estimated_input_bytes(source)
        if est is not None and est < threshold_bytes:
            return df
    return persist(df)


def truncate_round(
    df: DataFrame, prev_path: str | None, eager: bool = True
) -> tuple[DataFrame, str | None]:
    """Per-round lineage truncation of an iterative operator:
    localCheckpoint normally; a parquet roundtrip when the checkpoint
    dir is set (survives executor loss — the real-cluster path).
    Deletes the previous round's files once the new round is
    materialized. ``eager=False`` defers the local checkpoint to the
    first action (fewer scheduled jobs for fixed-iteration loops that
    never inspect intermediate rounds; the convergence-checked CC loop
    keeps the eager default, and the parquet path is inherently eager).
    The caller hands the final round's path to :func:`own_paths` on its
    output frame."""
    if _CHECKPOINT_DIR is None:
        return df.localCheckpoint(eager=eager), None
    path = _next_checkpoint_path("cc_round")
    out = write_read_back(df, path)
    if prev_path is not None:
        delete_path(out.sparkSession, prev_path)
    return out, path


def own_paths(out: DataFrame, paths: list[str | None]) -> None:
    """Defer deletion of ``paths`` to the release of ``out``: checkpoint
    directories that still back ``out``'s lineage (an iterative loop's
    final round, a greedy loop's per-round picks — whose anti-join /
    union lineage still scans every round's files, so no round may
    delete its predecessor's path eagerly) or a query's temp root. The
    paths are keyed to ``out`` in the registry and deleted only when
    the owning scope/run releases it. ``None`` entries (the in-memory
    path of :func:`truncate_round`) are skipped."""
    live = [p for p in paths if p is not None]
    if not live:
        return
    if id(out) not in _CHECKPOINTED:
        _PERSISTED.append(out)
        _CHECKPOINTED[id(out)] = live
    else:
        _CHECKPOINTED[id(out)] += live


def _release(df: DataFrame, blocking: bool = False) -> None:
    """Free one registry entry: delete the paths it owns or unpersist."""
    paths = _CHECKPOINTED.pop(id(df), None)
    if paths is None:
        df.unpersist(blocking)
    for p in paths or ():
        delete_path(df.sparkSession, p)


def snapshot_intermediates() -> set[int]:
    """Identity snapshot of the current registry; pass to
    ``release_new_intermediates`` to free exactly the entries created
    AFTER the snapshot — correct even when another engine or scope in
    the same process interleaves its own persists (a positional mark
    would pop the other owner's live tables)."""
    return {id(df) for df in _PERSISTED}


def release_new_intermediates(
    snapshot: set[int], blocking: bool = False
) -> int:
    """Unpersist and remove every registry entry not in ``snapshot``,
    leaving pre-existing (other owners') entries untouched and in
    order. Returns the number released."""
    mine = [df for df in _PERSISTED if id(df) not in snapshot]
    _PERSISTED[:] = [df for df in _PERSISTED if id(df) in snapshot]
    for df in mine:
        _release(df, blocking)
    return len(mine)


def unpersist_intermediates(blocking: bool = False) -> int:
    """Release every registered intermediate so far (the whole
    registry — use snapshot/release for scoped cleanup).

    Call after the returned DataFrames have been consumed (actions run).
    Returns the number of tables released. Safe to call twice."""
    n = 0
    while _PERSISTED:
        _release(_PERSISTED.pop(), blocking)
        n += 1
    return n


@contextmanager
def dedup_scope(checkpoint_dir: str | None = None) -> Iterator[None]:
    """Scope whose exit releases intermediates created inside it
    (identity-scoped — safe alongside other concurrent scopes)::

        with dedup_scope():
            pairs = minhash_lsh_dedup(docs, "doc_id", "text")
            pairs.write.parquet(out)   # consume INSIDE the scope

    With ``checkpoint_dir`` set, intermediates inside the scope spill to
    parquet under that directory instead of executor storage (and the
    files are deleted on exit) — the 100 TB valve for multi-branch dedup
    plans whose shingle/signature tables exceed BlockManager capacity."""
    snap = snapshot_intermediates()
    prev = set_checkpoint_dir(checkpoint_dir) if checkpoint_dir else _CHECKPOINT_DIR
    try:
        yield
    finally:
        if checkpoint_dir:
            set_checkpoint_dir(prev)
        release_new_intermediates(snap)


@contextmanager
def pinned_conf(
    spark: SparkSession, key: str, value: str | int | None
) -> Iterator[None]:
    """Set the session conf ``key`` to ``value`` inside the block and
    restore it after; a key that was never set is unset again rather
    than pinned to the override. ``value=None`` leaves the conf alone."""
    if value is None:
        yield
        return
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
