"""Typed command model for JSON plans.

The JSON shapes are kept compatible with the reference
(tnengine/TnCmd.scala, tnassertion/TnAssertionCmd.scala,
tndiff/TnDiffCmd.scala, tnview/TnViewCmd.scala) so reference example plans
run unmodified. Extension commands (dedup/similarity/text/...) use the same
envelope: {"command": <name>, "params": {...}, "outputKey": ...}.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from topnotch_spark.operators.assertions import AssertionRule
from topnotch_spark.operators.diff import DEFAULT_DIFF_THRESHOLD, DiffParams
from topnotch_spark.operators.view import ViewParams
from topnotch_spark.sources.inputs import Input


@dataclass(frozen=True)
class Command:
    """Common envelope (reference: tnengine/TnCmd.scala:12-28)."""

    output_key: str
    cache: bool = False
    output_path: str | None = None
    table_name: str | None = None
    # extensions beyond the reference envelope: sink format + layout
    output_format: str = "parquet"
    partition_by: tuple[str, ...] = ()
    sort_by: tuple[str, ...] = ()
    sort_partitions: int | None = None
    zorder_by: tuple[str, ...] = ()
    zorder_bits: int = 16
    bucket_by: tuple[str, ...] = ()
    num_buckets: int | None = None

    @staticmethod
    def _common(obj: dict) -> dict:
        return dict(
            output_key=obj["outputKey"],
            cache=bool(obj.get("cache", False)),
            output_path=obj.get("outputPath"),
            table_name=obj.get("tableName"),
            output_format=obj.get("outputFormat", "parquet"),
            partition_by=tuple(obj.get("partitionBy", [])),
            sort_by=tuple(obj.get("sortBy", [])),
            sort_partitions=obj.get("sortPartitions"),
            zorder_by=tuple(obj.get("zorderBy", [])),
            zorder_bits=int(obj.get("zorderBits", 16)),
            bucket_by=tuple(obj.get("bucketBy", [])),
            num_buckets=obj.get("numBuckets"),
        )


@dataclass(frozen=True)
class AssertionCmd(Command):
    input: Input = None  # type: ignore[assignment]
    rules: tuple[AssertionRule, ...] = ()

    @classmethod
    def from_json(cls, obj: dict) -> "AssertionCmd":
        params = obj["params"]
        return cls(
            input=Input.from_json(obj["input"]),
            rules=tuple(AssertionRule.from_json(a) for a in params["assertions"]),
            **cls._common(obj),
        )


@dataclass(frozen=True)
class DiffCmd(Command):
    params: DiffParams = None  # type: ignore[assignment]
    input1: Input = None  # type: ignore[assignment]
    input1_name: str = ""
    input2: Input = None  # type: ignore[assignment]
    input2_name: str = ""
    filter_equal_rows: bool = False
    threshold: float = DEFAULT_DIFF_THRESHOLD

    @classmethod
    def from_json(cls, obj: dict) -> "DiffCmd":
        return cls(
            params=DiffParams.from_json(obj["params"]),
            input1=Input.from_json(obj["input1"]),
            input1_name=obj["input1Name"],
            input2=Input.from_json(obj["input2"]),
            input2_name=obj["input2Name"],
            filter_equal_rows=bool(obj.get("filterEqualRows", False)),
            threshold=float(obj.get("threshold", DEFAULT_DIFF_THRESHOLD)),
            **cls._common(obj),
        )


@dataclass(frozen=True)
class ViewCmd(Command):
    params: ViewParams = None  # type: ignore[assignment]
    inputs: tuple[Input, ...] = ()

    @classmethod
    def from_json(cls, obj: dict) -> "ViewCmd":
        return cls(
            params=ViewParams.from_json(obj["params"]),
            inputs=tuple(Input.from_json(i) for i in obj["inputs"]),
            **cls._common(obj),
        )


@dataclass(frozen=True)
class ErrorCmd(Command):
    """A command that failed to parse/validate
    (reference: tnengine/TnCmd.scala:63-88)."""

    cmd_string: str = ""
    error_str: str = ""
    cmd_idx: int = -1

    def __str__(self) -> str:
        return (
            f"There was an error with the command in position {self.cmd_idx} in "
            f"its plan. The command was: \n {self.cmd_string} \n The message "
            f"was: \n {self.error_str} \n\n END OF ERROR MESSAGE FOR COMMAND "
            f"IN POSITION {self.cmd_idx} \n\n"
        )


def command_inputs(cmd: Command) -> list[Input]:
    """The inputs a command reads, in field order: Input fields, tuples
    of them (view inputs, fuse runs, sketch parts) and the Inputs inside
    relation tuples (integrity's child/parent pairs)."""
    out: list[Input] = []
    for f in fields(cmd):
        value = getattr(cmd, f.name)
        for item in value if isinstance(value, tuple) else (value,):
            if isinstance(item, tuple):
                out.extend(x for x in item if isinstance(x, Input))
            elif isinstance(item, Input):
                out.append(item)
    return out
