"""Input loading: on-disk files or registry references.

Semantics from the reference (tnengine/TnEngine.scala:173-191): an
``Input`` is either a prior command's output key (``on_disk=False``) or a
path (``on_disk=True``). On-disk inputs with a ``delimiter`` are delimited
text with header + schema inference; otherwise Parquet. We extend the
format surface with explicit ``format`` (parquet/csv/json/orc) while
keeping the reference's JSON shape valid.

Scale note: inferSchema on CSV is a full extra pass over the data — fine
for QC-plan inputs (the reference's contract), but plans can pass
``schema`` (a DDL string) to skip it for 100 TB inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# Parquet schema registry: the schema of every local parquet path this
# process has read or written, so a later read passes it to the reader
# instead of scheduling a schema-inference job (a footer-reading Spark
# job, about 60 ms per read at small scale against about 10 ms with the
# schema given) — the role a table catalog plays at real scale. Only
# schemas are kept, never data or plans. One entry per path: the
# (relative path, mtime, size) of every file under it, and the schema
# per setting of the session confs that change what inference returns
# (an index is read both with and without partition-type inference).
# A rewritten, added or removed file replaces the entry, and a conf
# setting not seen for the current files infers; a path os.stat cannot
# see (another scheme, a glob) is never registered and always infers.
_SCHEMAS: dict[str, tuple[tuple, dict[tuple, StructType]]] = {}

_INFERENCE_CONFS = (
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)


# (py4j gateway, working directory of its JVM): fetched once per JVM
_jvm_cwd: tuple = (None, "")


def _local_path(spark: SparkSession, path: str) -> str:
    """``path`` as the JVM resolves it: relative to the JVM's working
    directory, which need not be this process's current one."""
    global _jvm_cwd
    if os.path.isabs(path):
        return path
    gateway = spark.sparkContext._gateway
    if _jvm_cwd[0] is not gateway:
        _jvm_cwd = (gateway, spark._jvm.System.getProperty("user.dir"))
    return os.path.join(_jvm_cwd[1], path)


def _file_identity(path: str) -> tuple | None:
    """(relative path, mtime_ns, size) of every file under ``path``, or
    None when it is not a local file or directory."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return ((".", st.st_mtime_ns, st.st_size),)
        out = []
        for parent, dirs, files in os.walk(path, followlinks=True):
            dirs.sort()
            for name in sorted(files):
                full = os.path.join(parent, name)
                fst = os.stat(full)
                out.append(
                    (os.path.relpath(full, path), fst.st_mtime_ns, fst.st_size)
                )
        return tuple(out)
    except (OSError, ValueError):  # not local, or changed mid-walk
        return None


def _confs(spark: SparkSession) -> tuple:
    # no default: an unset conf reads as Spark's default, equal to the
    # same value set explicitly
    return tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def _register(path: str, files: tuple, confs: tuple, schema: StructType) -> None:
    entry = _SCHEMAS.get(path)
    if entry is None or entry[0] != files:
        entry = _SCHEMAS[path] = (files, {})
    entry[1][confs] = schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema from the registry
    when the path's files and the inference confs are unchanged since
    it was last read or recorded; otherwise infer and register."""
    local = _local_path(spark, path)
    files = _file_identity(local)
    if files is None:
        return spark.read.parquet(path)
    confs = _confs(spark)
    entry = _SCHEMAS.get(local)
    if entry is not None and entry[0] == files and confs in entry[1]:
        return spark.read.schema(entry[1][confs]).parquet(path)
    df = spark.read.parquet(path)
    _register(local, files, confs, df.schema)
    return df


def record_schema(spark: SparkSession, path: str, schema: StructType | None) -> None:
    """Register the schema a writer just committed at ``path`` (what a
    read under the current confs would infer), or with ``None`` drop the
    path's entry so the next read infers."""
    local = _local_path(spark, path)
    files = _file_identity(local) if schema is not None else None
    if files is None:
        _SCHEMAS.pop(local, None)
    else:
        _register(local, files, _confs(spark), schema)


def nullable(dt: DataType) -> DataType:
    """``dt`` as a parquet read returns it: every field, array element
    and map value nullable (Spark's ``asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(nullable(dt.keyType), nullable(dt.valueType), True)
    return dt


def write_read_back(df: DataFrame, path: str) -> DataFrame:
    """Overwrite ``path`` with ``df`` as unpartitioned parquet and read it
    back with the schema just written: the hard lineage break of staged
    commits and checkpoints, without a schema-inference job."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


@dataclass(frozen=True)
class Input:
    """One input of a command.

    ref: registry key (on_disk=False) or filesystem path (on_disk=True).
    delimiter: if set and on_disk, read delimited text w/ header+inference
               (reference: tnengine/TnEngine.scala:179-184).
    format: optional explicit reader format (extension).
    schema: optional DDL schema string to skip inference (extension).
    """

    ref: str
    on_disk: bool = True
    delimiter: str | None = None
    format: str | None = None
    schema: str | None = None
    wholetext: bool = False

    @classmethod
    def from_json(cls, obj: dict) -> "Input":
        return cls(
            ref=obj["ref"],
            on_disk=obj.get("onDisk", obj.get("on_disk", True)),
            delimiter=obj.get("delimiter"),
            format=obj.get("format"),
            schema=obj.get("schema"),
            wholetext=bool(obj.get("wholetext", False)),
        )


def load_input(
    spark: SparkSession, inp: Input, registry: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Resolve an Input to a DataFrame (reference: TnEngine.scala:173-191)."""
    if not inp.on_disk:
        if registry is None or inp.ref not in registry:
            raise KeyError(
                f"Input key '{inp.ref}' not found in registry; "
                f"known keys: {sorted(registry) if registry else []}"
            )
        return registry[inp.ref]

    fmt = inp.format
    if fmt is None:
        fmt = "csv" if inp.delimiter is not None else "parquet"

    reader = spark.read
    if inp.schema:
        reader = reader.schema(inp.schema)
    if fmt == "csv":
        reader = reader.option("header", "true").option(
            "delimiter", inp.delimiter or ","
        )
        if not inp.schema:
            reader = reader.option("inferSchema", "true")
        return reader.csv(inp.ref)
    if fmt == "json":
        return reader.json(inp.ref)
    if fmt == "orc":
        return reader.orc(inp.ref)
    if fmt == "parquet":
        if inp.schema:
            return reader.parquet(inp.ref)
        return read_parquet(spark, inp.ref)
    if fmt == "text":
        # Raw text corpora (the LLM-ingest shape): one row per LINE by
        # default, or one row per FILE with {"wholetext": true}. Columns:
        # (doc_path, line_no?, text) — doc_path/line_no give dedup/text
        # commands a deterministic id without a pre-processing step.
        # Scale: spark.read.text is a splittable scan in line mode;
        # wholetext makes each file one record (bound file sizes — a
        # 10 GB file becomes one task's row).
        from pyspark.sql import functions as F

        df = spark.read.text(inp.ref, wholetext=inp.wholetext)
        df = df.withColumn("doc_path", F.input_file_name())
        if not inp.wholetext:
            from pyspark.sql import Window

            # line_no = true in-file line order. A file bigger than one
            # split becomes several partitions, and FileSourceScanExec
            # packs splits sorted by LENGTH (not offset), so partition
            # index — the high bits of monotonically_increasing_id —
            # does not follow byte order within a file. The per-file
            # window therefore sorts by the split's BYTE OFFSET first
            # (input_file_block_start(), constant per split) and only
            # uses monotonically_increasing_id to order lines inside a
            # split, where scan order is the file order.
            df = df.withColumn("__mid__", F.monotonically_increasing_id())
            df = df.withColumn(
                "__blk__", F.expr("input_file_block_start()")
            )
            df = df.withColumn(
                "line_no",
                F.row_number().over(
                    Window.partitionBy("doc_path").orderBy("__blk__", "__mid__")
                ),
            ).drop("__mid__", "__blk__")
        return df.withColumnRenamed("value", "text")
    if fmt == "table":
        # Catalog table (ref = table name). The 100 TB path for repeated
        # keyed commands: a table written bucketed+sorted on the diff/join
        # keys (sources/bucketing.write_bucketed) feeds sort-merge join
        # with ZERO per-run Exchange — both snapshot shuffles are paid
        # once at write time (tests/test_bucketing.py asserts the
        # no-Exchange diff plan).
        return spark.table(inp.ref)
    raise ValueError(f"Unsupported input format: {fmt!r}")
