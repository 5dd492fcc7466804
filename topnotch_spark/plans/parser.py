"""Plan parsing: JSON AST → typed commands, with nested plans, external
params merge, input validation and error aggregation.

Reference semantics (tnengine/TnEngine.scala:294-358):
- ``externalParamsFile`` is read (referrer-relative) and merged under the
  command's ``params`` key (:327-329).
- ``command`` dispatches to assertion/diff/view; ``plan`` recurses with the
  SHARED defined-output-key scope (:330-345).
- Each input must be a previously defined output key (not on disk) or an
  existing filesystem path (on disk); violations become ErrorCmds carrying
  the command JSON + index (:309-321). The command's own outputKey becomes
  defined even if the command is invalid (reference adds before checking).
- Any exception while parsing one command becomes an ErrorCmd with the
  stack trace (:351-355).
"""

from __future__ import annotations

import json
import os
import traceback
from typing import Callable

from topnotch_spark.plans.model import (
    AssertionCmd,
    Command,
    DiffCmd,
    ErrorCmd,
    ViewCmd,
    command_inputs,
)

# Extension command parsers register here: name -> from_json(obj) -> Command.
# Populated by topnotch_spark.plans.extensions at import time.
EXTENSION_COMMANDS: dict[str, Callable[[dict], Command]] = {}


def _merge_json(left: dict, right: dict) -> dict:
    """json4s-style recursive merge — right wins on scalar conflicts."""
    out = dict(left)
    for k, v in right.items():
        if k in out and isinstance(out[k], dict) and isinstance(v, dict):
            out[k] = _merge_json(out[k], v)
        else:
            out[k] = v
    return out


def _input_exists(inp, defined_output_keys: set, spark=None) -> bool:
    if not inp.on_disk:
        return inp.ref in defined_output_keys
    if getattr(inp, "format", None) == "table":
        # catalog-table input (bucketed-layout path): validate against the
        # table catalog, not the filesystem
        if spark is None:
            return True  # no session at parse time; load_input will fail clearly
        try:
            return spark.catalog.tableExists(inp.ref)
        except Exception:
            return False
    return _path_exists(inp.ref, spark)


def _path_exists(path: str, spark=None) -> bool:
    if os.path.exists(path):
        return True
    if spark is not None and "://" in path:
        # non-local URI (hdfs://, s3a://...): ask the Hadoop FS
        try:
            jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            p = jvm.org.apache.hadoop.fs.Path(path)
            return p.getFileSystem(conf).exists(p)
        except Exception:
            return False
    return False


def parse_commands(
    root: dict,
    reader,
    defined_output_keys: set[str] | None = None,
    spark=None,
    produced_paths: set[str] | None = None,
) -> list[Command]:
    from topnotch_spark.plans import extensions  # noqa: F401  (registers commands)

    if defined_output_keys is None:
        defined_output_keys = set()
    if produced_paths is None:
        produced_paths = set()
    out: list[Command] = []
    for i, cmd_obj in enumerate(root.get("commands", [])):
        try:
            merged = dict(cmd_obj)
            if "externalParamsFile" in cmd_obj:
                external = reader.read_configuration(
                    cmd_obj["externalParamsFile"], referrer=root
                )
                # json4s `cmdAST merge {params: external}`: recursive merge,
                # the external file's keys win over inline params; the file's
                # own "path" rides along so nested plans resolve relative to it.
                merged["params"] = _merge_json(dict(cmd_obj.get("params", {})), external)
            kind = merged.get("command")
            if kind == "plan":
                nested = dict(merged.get("params", {}))
                nested.setdefault("path", root.get("path", ""))
                out.extend(
                    parse_commands(
                        nested, reader, defined_output_keys, spark,
                        produced_paths,
                    )
                )
                continue
            if kind == "assertion":
                cmd: Command = AssertionCmd.from_json(merged)
            elif kind == "diff":
                cmd = DiffCmd.from_json(merged)
            elif kind == "view":
                cmd = ViewCmd.from_json(merged)
            elif kind in EXTENSION_COMMANDS:
                cmd = EXTENSION_COMMANDS[kind](merged)
            else:
                out.append(
                    ErrorCmd(
                        output_key="",
                        cmd_string=json.dumps(cmd_obj, indent=2),
                        error_str=(
                            f"The value {kind}, which is given with key command "
                            "to specify the command type, is invalid. It must be "
                            "diff, assertion, view, plan, or one of: "
                            + ", ".join(sorted(EXTENSION_COMMANDS))
                        ),
                        cmd_idx=i,
                    )
                )
                continue
            invalid = [
                inp.ref
                for inp in command_inputs(cmd)
                if not _input_exists(inp, defined_output_keys, spark)
                # an on-disk path an EARLIER command of this plan writes
                # (outputPath sink, index upsert indexPath) exists by
                # the time this command runs — static validation must
                # not reject the build → screen → upsert chaining shape
                and inp.ref not in produced_paths
            ]
            defined_output_keys.add(cmd.output_key)
            if getattr(cmd, "output_path", None):
                produced_paths.add(cmd.output_path)
            if getattr(cmd, "index_path", None):
                produced_paths.add(cmd.index_path)
            if invalid:
                out.append(
                    ErrorCmd(
                        output_key="",
                        cmd_string=json.dumps(merged, indent=2, default=str),
                        error_str=f"The following input refs are invalid: {', '.join(invalid)}",
                        cmd_idx=i,
                    )
                )
            else:
                out.append(cmd)
        except Exception:
            out.append(
                ErrorCmd(
                    output_key="",
                    cmd_string=json.dumps(cmd_obj, indent=2, default=str),
                    error_str=traceback.format_exc(),
                    cmd_idx=i,
                )
            )
    return out


def collect_errors(cmds: list[Command]) -> str | None:
    """Merge all ErrorCmds into one message (reference: TnEngine.scala:156-165)."""
    errors = [c for c in cmds if isinstance(c, ErrorCmd)]
    if not errors:
        return None
    return "".join(str(e) for e in errors)
