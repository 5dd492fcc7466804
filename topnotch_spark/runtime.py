"""Lifecycle of what a scope or a plan run materializes: one registry
owns it all. Each unit is registered when made: a frame persisted
``MEMORY_AND_DISK`` (:func:`persist`, :func:`cache`), a local checkpoint
(:func:`truncate_round`), or a parquet dir (a spill or round under a
checkpoint dir, or a temp root handed to :func:`own_paths`).

One release rule, in both checkpoint modes: :func:`truncate_round`
frees a round once its successor is materialized; ``dedup_scope()``'s
exit frees every unit made inside it; a plan run frees the same except
what operators hand their outputs through :func:`own_paths`, which
:func:`unpersist_intermediates` or an enclosing scope frees.

Consume a result inside its scope: a released persist recomputes, a
released checkpoint cannot (so after a plan run under a checkpoint dir,
an output whose lineage reads a ``persist`` spill fails). The checkpoint
dir (:func:`spill_to`) is per thread and block; the registry is
process-wide, so a scope also frees what other threads made inside it.
"""

from __future__ import annotations

import threading
import uuid
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from topnotch_spark.sources.inputs import write_read_back


@dataclass(eq=False)
class _Unit:
    """A persisted frame or checkpoint RDD, or a parquet path; a plan
    run keeps an ``owned`` one."""

    spark: SparkSession
    storage: object
    owned: bool = False

    def free(self, blocking: bool = False) -> None:
        if isinstance(self.storage, str):
            delete_path(self.spark, self.storage)
        else:
            self.storage.unpersist(blocking)


# A truncate_round handle: the round's unit, after the units of the
# unmaterialized (lazy) rounds it still reads.
Handle = tuple[_Unit, ...]

# Every unit made and not yet freed, in creation order; _LOCK makes
# picking units to free and unregistering them one step.
_REGISTRY: list[_Unit] = []
_LOCK = threading.Lock()

# Where persist() and truncate_round() spill; None: executor storage.
_checkpoint_dir: ContextVar[str | None] = ContextVar(
    "topnotch_checkpoint_dir", default=None
)


def delete_path(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete via the Hadoop FileSystem API (works
    for local paths, ``file://`` URIs, HDFS and object stores alike)."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:  # cleanup must never fail the query
        pass


def _register(spark: SparkSession, storage, owned: bool = False) -> _Unit:
    unit = _Unit(spark, storage, owned)
    _REGISTRY.append(unit)
    return unit


def _free(units: Iterable[_Unit], blocking: bool = False) -> int:
    """Unregister and free ``units``; skip those another release took."""
    with _LOCK:
        live = set(_REGISTRY)
        units = [u for u in units if u in live]
        for unit in units:
            _REGISTRY.remove(unit)
    for unit in units:
        unit.free(blocking)
    return len(units)


def _spill(df: DataFrame, prefix: str) -> tuple[DataFrame, _Unit]:
    path = f"{_checkpoint_dir.get().rstrip('/')}/{prefix}_{uuid.uuid4().hex}"
    out = write_read_back(df, path)
    return out, _register(out.sparkSession, path)


def cache(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + register, whatever the checkpoint dir
    (``cache: true`` plan outputs). A plan cached already is returned
    as is and not registered: whoever cached it releases it."""
    if df.storageLevel == StorageLevel.NONE:
        _register(df.sparkSession, df.persist(StorageLevel.MEMORY_AND_DISK))
    return df


def persist(df: DataFrame) -> DataFrame:
    """Materialize + register an intermediate for reuse across branches:
    an eager parquet spill when a checkpoint dir is set (scale path),
    else :func:`cache`."""
    if _checkpoint_dir.get() is None:
        return cache(df)
    return _spill(df, "tn_ckpt")[0]


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
    df: DataFrame,
    prev: Handle | None = None,
    eager: bool = True,
    local: bool = False,
) -> tuple[DataFrame, Handle]:
    """Per-round lineage truncation of an iterative operator: a local
    checkpoint, or a parquet roundtrip under a checkpoint dir (survives
    executor loss) unless ``local``. Returns the frame and its handle;
    the next round takes it as ``prev`` and frees it once materialized.
    ``eager=False`` defers a local checkpoint to the first action; such
    a handle carries its unmaterialized predecessors. The caller hands
    the final handle to :func:`own_paths` on its output frame."""
    if not local and _checkpoint_dir.get() is not None:
        out, unit = _spill(df, "cc_round")
        eager = True
    else:
        out = df.localCheckpoint(eager=eager)
        unit = _register(out.sparkSession, out._jdf.logicalPlan().rdd())
    if not eager:
        return out, (*(prev or ()), unit)
    _free(prev or ())
    return out, (unit,)


def own_paths(out: DataFrame, handles: list[str | Handle]) -> None:
    """Hand storage that backs ``out`` (:func:`truncate_round` handles,
    or parquet paths such as a query's temp root) to ``out``: the scope
    that made it frees it; a plan run keeps it for its outputs."""
    for handle in handles:
        if isinstance(handle, str):
            _register(out.sparkSession, handle, owned=True)
        else:
            for unit in handle:
                unit.owned = True


def snapshot_intermediates() -> set[_Unit]:
    """Identity snapshot of the registry: ``release_new_intermediates``
    frees exactly the units made after it, on any thread (a positional
    mark would pop another owner's units)."""
    return set(_REGISTRY)


def release_new_intermediates(
    snapshot: set[_Unit], blocking: bool = False, keep_owned: bool = False
) -> int:
    """Free every registered unit not in ``snapshot`` (other owners'
    units stay); ``keep_owned`` also keeps what :func:`own_paths` handed
    to outputs (a plan run's rule). Returns the number freed."""
    new = [u for u in _REGISTRY if u not in snapshot]
    return _free([u for u in new if not (keep_owned and u.owned)], blocking)


def unpersist_intermediates(blocking: bool = False) -> int:
    """Free the whole registry (use snapshot/release for scoped
    cleanup) once the results are consumed. Returns the number freed."""
    return _free(_REGISTRY[:], blocking)


@contextmanager
def spill_to(checkpoint_dir: str | None) -> Iterator[None]:
    """Spill persists and rounds made in the block to parquet under
    ``checkpoint_dir`` (any Hadoop-FS scheme; SCALE.md §6); ``None``
    keeps the enclosing setting. Frees nothing (see dedup_scope)."""
    if not checkpoint_dir:
        yield
        return
    token = _checkpoint_dir.set(checkpoint_dir)
    try:
        yield
    finally:
        _checkpoint_dir.reset(token)


@contextmanager
def dedup_scope(checkpoint_dir: str | None = None) -> Iterator[None]:
    """Scope whose exit frees every unit made inside it (identity-scoped:
    an enclosing scope's units stay; units another thread makes while it
    is open are freed with it)::

        with dedup_scope():
            pairs = minhash_lsh_dedup(docs, "doc_id", "text")
            pairs.write.parquet(out)   # consume INSIDE the scope

    With ``checkpoint_dir`` set, intermediates inside the scope spill to
    parquet under that directory instead of executor storage (and the
    files are deleted on exit) — the 100 TB valve for multi-branch dedup
    plans whose shingle/signature tables exceed BlockManager capacity."""
    snap = snapshot_intermediates()
    try:
        with spill_to(checkpoint_dir):
            yield
    finally:
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
