"""Plan executor: sequential fold over commands, summing failed assertions.

Reference semantics (tnengine/TnEngine.scala:113-264): read plan →
pick writer → parse commands → aggregate parse errors (halt or warn) →
execute each command in order, registering outputs, appending report
sections, single report flush at the end. Exit codes: 0 success,
3 assertions failed, 4 bad arguments.
"""

from __future__ import annotations

import dataclasses
import json
import logging
import os

from pyspark.sql import DataFrame, SparkSession

from topnotch_spark.operators.assertions import run_assertions
from topnotch_spark.operators.diff import create_diff
from topnotch_spark.operators.view import create_view
from topnotch_spark.plans.model import (
    AssertionCmd,
    Command,
    DiffCmd,
    ErrorCmd,
    ViewCmd,
)
from topnotch_spark.plans.parser import collect_errors, parse_commands
from topnotch_spark.plans.readers import FileReader, RESTReader
from topnotch_spark.reports.model import assertion_group_to_json
from topnotch_spark.reports.writers import get_writer
from topnotch_spark.runtime import spill_to
from topnotch_spark.sources.inputs import load_input
from topnotch_spark.sources.outputs import store_output

logger = logging.getLogger(__name__)

SUCCESS_EXIT_CODE = 0
ASSERTIONS_FAILED_EXIT_CODE = 3
INVALID_ARGUMENTS_EXIT_CODE = 4
NO_FAILURES = 0


class TnEngine:
    """Executes parsed plans against a SparkSession, holding the
    cross-command DataFrame registry (reference dataframeLookupTable,
    TnEngine.scala:105)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.registry: dict[str, DataFrame] = {}

    # ---- plan-level entry -------------------------------------------------
    def run(
        self,
        plan_path: str,
        plan_server_url: str | None = None,
        report_key: str | None = None,
        halt_if_potential_errors: bool = False,
        variables: dict[str, str] | None = None,
    ) -> int:
        """Load, parse and execute a plan; returns number of failed assertions."""
        reader = (
            RESTReader(plan_server_url, variables)
            if plan_server_url
            else FileReader(variables)
        )
        root = reader.read_configuration(plan_path)
        writer = get_writer(root, spark=self.spark)
        cmds = parse_commands(root, reader, spark=self.spark)

        errors = collect_errors(cmds)
        if errors is not None:
            msg = "Possible error parsing plans and commands.\n" + errors
            if halt_if_potential_errors:
                raise ValueError(msg)
            logger.error(
                "%s\nContinuing with execution despite possible issue with "
                "plans and commands.",
                msg,
            )

        # plan-level "checkpointDir": spill dedup-family intermediates and
        # iterative rounds to parquet under this dir for the duration of
        # the plan (the 100 TB valve — see runtime.spill_to)
        ckpt = root.get("checkpointDir") if isinstance(root, dict) else None
        with spill_to(ckpt):
            return self.execute_commands(
                cmds, report_key or os.path.basename(plan_path), writer
            )

    # ---- command loop -----------------------------------------------------
    def execute_commands(self, cmds: list[Command], report_key: str, writer) -> int:
        # plan echo as first report section (reference :260)
        writer.add_section(
            [self._cmd_echo(c) for c in cmds if not isinstance(c, ErrorCmd)]
        )
        # resolved from operators.dedup at call time: perfbench's probes
        # patch that attribute to count what each plan releases
        from topnotch_spark.operators.dedup import (
            release_new_intermediates,
            snapshot_intermediates,
        )

        snap = snapshot_intermediates()
        num_failed = 0
        try:
            for cmd in cmds:
                num_failed += self.run_command(cmd, writer)
            writer.write_report(report_key)
        finally:
            # free what THIS plan persisted (identity-snapshot-scoped):
            # intermediates, their parquet spills and ``cache: true``
            # outputs (a pinned output would answer for a later plan that
            # reads rewritten files). The checkpoints operators hand to
            # their outputs stay, so those outputs stay readable; under a
            # checkpointDir an output whose lineage reads a deleted
            # persist spill (k_core, the dedup family) does not.
            release_new_intermediates(snap, keep_owned=True)
        return num_failed

    def run_command(self, cmd: Command, writer=None) -> int:
        if isinstance(cmd, ErrorCmd):
            raise ValueError(str(cmd))
        if isinstance(cmd, AssertionCmd):
            result = run_assertions(
                load_input(self.spark, cmd.input, self.registry),
                cmd.output_key,
                list(cmd.rules),
            )
            if writer is not None:
                writer.add_section(
                    assertion_group_to_json(cmd.output_key, result.reports, self.spark)
                )
            self._store(result.df, cmd)
            return result.num_failed
        if isinstance(cmd, DiffCmd):
            df = create_diff(
                load_input(self.spark, cmd.input1, self.registry),
                cmd.input1_name,
                load_input(self.spark, cmd.input2, self.registry),
                cmd.input2_name,
                cmd.params,
                cmd.threshold,
                cmd.filter_equal_rows,
            )
            self._store(df, cmd)
            return NO_FAILURES
        if isinstance(cmd, ViewCmd):
            inputs = [load_input(self.spark, i, self.registry) for i in cmd.inputs]
            df = create_view(self.spark, inputs, cmd.params)
            self._store(df, cmd)
            return NO_FAILURES
        # extension commands implement .execute(engine) (duck-typed)
        execute = getattr(cmd, "execute", None)
        if execute is not None:
            df = execute(self)
            self._store(df, cmd)
            return NO_FAILURES
        raise TypeError(f"Unknown command type: {type(cmd).__name__}")

    # ---- helpers ----------------------------------------------------------
    def _store(self, df: DataFrame, cmd: Command) -> DataFrame:
        return store_output(
            self.spark,
            df,
            cmd.output_key,
            self.registry,
            cache=cmd.cache,
            output_path=cmd.output_path,
            table_name=cmd.table_name,
            partition_by=list(cmd.partition_by) or None,
            output_format=cmd.output_format,
            sort_by=list(cmd.sort_by) or None,
            sort_partitions=cmd.sort_partitions,
            zorder_by=list(cmd.zorder_by) or None,
            zorder_bits=cmd.zorder_bits,
            bucket_by=list(cmd.bucket_by) or None,
            num_buckets=cmd.num_buckets,
        )

    @staticmethod
    def _cmd_echo(cmd: Command) -> dict:
        try:
            return json.loads(json.dumps(dataclasses.asdict(cmd), default=str))
        except Exception:
            return {"outputKey": cmd.output_key}
