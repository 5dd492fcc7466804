"""Plan engine e2e tests: parse + execute JSON plans, registry wiring,
nested plans, variable substitution, error handling, report output
(reference suite: tnengine/TnEngineTest.scala, SURVEY.md §5)."""

from __future__ import annotations

import json
import os

import pytest

from topnotch_spark.engine import TnEngine
from topnotch_spark.plans.model import ErrorCmd
from topnotch_spark.plans.parser import collect_errors, parse_commands
from topnotch_spark.plans.readers import FileReader


@pytest.fixture()
def engine(spark):
    return TnEngine(spark)


@pytest.fixture(scope="module")
def input_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("data") / "input.parquet")
    spark.createDataFrame(
        [
            (1, 2.0, "Failure1", False),
            (3, 4.0, "Failure2", True),
            (5, 6.0, "Failure3", False),
            (7, 8.0, "Failure4", True),
        ],
        "Ints long, Doubles double, Strings string, Booleans boolean",
    ).write.mode("overwrite").parquet(path)
    return path


def _write(tmp_path, name, obj):
    p = tmp_path / name
    p.write_text(json.dumps(obj))
    return str(p)


def test_example_plan_shape(engine, tmp_path, input_parquet):
    """The reference's example plan (example/plan.json + assertions.json)
    runs unmodified modulo paths."""
    _write(
        tmp_path,
        "assertions.json",
        {
            "assertions": [
                {"query": "Ints > 1", "description": "Ints must be greater than 1", "threshold": 0.01},
                {"query": "Booleans = true", "description": "Booleans must be true", "threshold": 0.1},
            ]
        },
    )
    out_path = str(tmp_path / "out.parquet")
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "assertion",
                    "externalParamsFile": "assertions.json",
                    "input": {"ref": input_parquet, "onDisk": True},
                    "outputKey": "exampleAssertionReport",
                    "outputPath": out_path,
                }
            ],
        },
    )
    failed = engine.run(plan)
    assert failed == 2  # 1/4 > 0.01 and 2/4 > 0.1
    # invalid rows written to parquet
    out = engine.spark.read.parquet(out_path)
    assert out.count() == 2  # Ints=1 fails both rules; Ints=5 fails r2
    assert "__REASON_INVALID__" in out.columns
    # report file exists with plan echo + one assertion section
    report = json.loads((tmp_path / "reports" / "plan.json").read_text())
    assert len(report) == 2
    assert report[1]["outputKey"] == "exampleAssertionReport"
    assert len(report[1]["assertionReports"]) == 2
    rep0 = report[1]["assertionReports"][0]
    assert rep0["fractionInvalid"] == 0.25
    assert rep0["numInvalid"] == 1
    # column restriction: only the queried column appears in samples
    assert list(rep0["sampleInvalid"][0].keys()) == ["ints"]


def test_view_then_assertion_registry(engine, tmp_path, input_parquet):
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "commands": [
                {
                    "command": "view",
                    "params": {"tableAliases": ["t"], "query": "SELECT Ints, Booleans FROM t WHERE Ints > 1"},
                    "inputs": [{"ref": input_parquet, "onDisk": True}],
                    "outputKey": "filtered",
                },
                {
                    "command": "assertion",
                    "params": {"assertions": [{"query": "Booleans = true", "description": "b", "threshold": 0.5}]},
                    "input": {"ref": "filtered", "onDisk": False},
                    "outputKey": "checked",
                },
            ],
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
        },
    )
    failed = engine.run(plan)
    assert failed == 0  # 1/3 invalid ≤ 0.5
    assert engine.registry["filtered"].count() == 3
    assert engine.registry["checked"].count() == 1


def test_diff_plan(engine, tmp_path, spark):
    p1 = str(tmp_path / "d1.parquet")
    p2 = str(tmp_path / "d2.parquet")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double").write.parquet(p1)
    spark.createDataFrame([(1, 10.0), (2, 25.0)], "k long, v double").write.parquet(p2)
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "diff",
                    "params": {
                        "input1Columns": {"joinColumns": ["k"], "diffColumns": ["v"]},
                        "input2Columns": {"joinColumns": ["k"], "diffColumns": ["v"]},
                    },
                    "input1": {"ref": p1, "onDisk": True},
                    "input1Name": "old",
                    "input2": {"ref": p2, "onDisk": True},
                    "input2Name": "new",
                    "outputKey": "thediff",
                }
            ],
        },
    )
    assert engine.run(plan) == 0
    rows = {r["old_k"]: r for r in engine.registry["thediff"].collect()}
    assert rows[2]["old_v__minus__new_v"] == -5.0


def test_nested_plan_shared_scope(engine, tmp_path, input_parquet):
    nested = _write(
        tmp_path,
        "nested.json",
        {
            "commands": [
                {
                    "command": "view",
                    "params": {"tableAliases": ["t"], "query": "SELECT * FROM t"},
                    "inputs": [{"ref": input_parquet, "onDisk": True}],
                    "outputKey": "inner_out",
                }
            ]
        },
    )
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {"command": "plan", "externalParamsFile": "nested.json", "outputKey": "unused"},
                {
                    "command": "view",
                    "params": {"tableAliases": ["x"], "query": "SELECT count(*) AS n FROM x"},
                    "inputs": [{"ref": "inner_out", "onDisk": False}],
                    "outputKey": "outer_out",
                },
            ],
        },
    )
    assert engine.run(plan) == 0
    assert engine.registry["outer_out"].collect()[0]["n"] == 4


def test_variable_substitution(engine, tmp_path, input_parquet):
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "assertion",
                    "params": {"assertions": [{"query": "Ints > ${minval}", "description": "d", "threshold": 0.5}]},
                    "input": {"ref": input_parquet, "onDisk": True},
                    "outputKey": "k",
                }
            ],
        },
    )
    failed = engine.run(plan, variables={"minval": "100"})
    assert failed == 1  # all rows < 100 → fraction 1.0 > 0.5


def test_invalid_input_becomes_error(spark, tmp_path):
    reader = FileReader()
    root = {
        "path": str(tmp_path),
        "commands": [
            {
                "command": "view",
                "params": {"tableAliases": ["t"], "query": "SELECT 1"},
                "inputs": [{"ref": "/does/not/exist.parquet", "onDisk": True}],
                "outputKey": "k",
            }
        ],
    }
    cmds = parse_commands(root, reader, spark=spark)
    assert isinstance(cmds[0], ErrorCmd)
    assert "invalid" in cmds[0].error_str
    assert collect_errors(cmds) is not None


def test_registry_ref_defined_later_is_error(spark):
    root = {
        "commands": [
            {
                "command": "view",
                "params": {"tableAliases": ["t"], "query": "SELECT 1"},
                "inputs": [{"ref": "not_yet", "onDisk": False}],
                "outputKey": "k",
            }
        ]
    }
    cmds = parse_commands(root, FileReader(), spark=spark)
    assert isinstance(cmds[0], ErrorCmd)


def test_unknown_command_is_error(spark):
    root = {"commands": [{"command": "bogus", "outputKey": "k"}]}
    cmds = parse_commands(root, FileReader(), spark=spark)
    assert isinstance(cmds[0], ErrorCmd)
    assert "invalid" in cmds[0].error_str


def test_halt_on_errors(engine, tmp_path):
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "view",
                    "params": {"tableAliases": ["t"], "query": "SELECT 1"},
                    "inputs": [{"ref": "/nope.parquet", "onDisk": True}],
                    "outputKey": "k",
                }
            ],
        },
    )
    with pytest.raises(ValueError, match="Possible error"):
        engine.run(plan, halt_if_potential_errors=True)


def _after_each_command(engine, probe):
    """Call ``probe(cmd)`` after each command ``engine`` runs."""
    run_command = engine.run_command

    def spy(cmd, writer=None):
        n = run_command(cmd, writer)
        probe(cmd)
        return n

    engine.run_command = spy


def test_cache_flag(engine, tmp_path, input_parquet):
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "view",
                    "params": {"tableAliases": ["t"], "query": "SELECT * FROM t"},
                    "inputs": [{"ref": input_parquet, "onDisk": True}],
                    "outputKey": "cached_out",
                    "cache": True,
                }
            ],
        },
    )
    levels = []
    _after_each_command(
        engine, lambda cmd: levels.append(engine.registry[cmd.output_key].storageLevel)
    )
    engine.run(plan)
    # pinned while its plan runs, released when the plan ends
    assert levels[0].useMemory
    assert not engine.registry["cached_out"].storageLevel.useMemory


def _cached_count_plan(tmp_path, data_dir):
    return _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "view",
                    "params": {"tableAliases": ["t"], "query": "SELECT * FROM t"},
                    "inputs": [{"ref": data_dir, "onDisk": True}],
                    "outputKey": "cached_rows",
                    "cache": True,
                },
                {
                    "command": "view",
                    "params": {
                        "tableAliases": ["c"],
                        "query": "SELECT count(*) AS n FROM c",
                    },
                    "inputs": [{"ref": "cached_rows", "onDisk": False}],
                    "outputKey": "row_count",
                },
            ],
        },
    )


def _write_ids(data_dir, n):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    pq.write_table(
        pa.table({"id": list(range(n))}), os.path.join(data_dir, "part-0.parquet")
    )


def test_cached_output_does_not_outlive_its_plan(spark, tmp_path):
    """A later plan over rewritten source files reads the new rows, not
    the previous plan's cached ones."""
    data_dir = str(tmp_path / "ids")
    plan = _cached_count_plan(tmp_path, data_dir)
    counts = []
    for n in (10, 100):
        _write_ids(data_dir, n)
        engine = TnEngine(spark)
        engine.run(plan)
        counts.append(engine.registry["row_count"].first()["n"])
    assert counts == [10, 100]


def test_plan_run_leaves_no_rdd_cached(spark, tmp_path):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    data_dir = str(tmp_path / "ids")
    _write_ids(data_dir, 10)
    engine = TnEngine(spark)
    seen = []

    def probe(cmd):
        engine.registry[cmd.output_key].count()  # materialize the cache
        seen.append(set(jsc.getPersistentRDDs().keySet()) - before)

    _after_each_command(engine, probe)
    engine.run(_cached_count_plan(tmp_path, data_dir))
    assert seen[-1]  # the cached output was materialized during the plan
    assert not set(jsc.getPersistentRDDs().keySet()) - before


def test_table_mount(engine, tmp_path, input_parquet):
    out_path = str(tmp_path / "mounted.parquet")
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "view",
                    "params": {"tableAliases": ["t"], "query": "SELECT * FROM t"},
                    "inputs": [{"ref": input_parquet, "onDisk": True}],
                    "outputKey": "k",
                    "outputPath": out_path,
                    "tableName": "mounted_table",
                }
            ],
        },
    )
    engine.run(plan)
    assert engine.spark.sql("SELECT count(*) AS n FROM mounted_table").collect()[0]["n"] == 4
    engine.spark.sql("DROP TABLE mounted_table")


def test_cli_exit_codes(tmp_path, input_parquet, spark):
    from topnotch_spark import cli

    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "assertion",
                    "params": {"assertions": [{"query": "Ints > 100", "description": "d", "threshold": 0.0}]},
                    "input": {"ref": input_parquet, "onDisk": True},
                    "outputKey": "k",
                }
            ],
        },
    )
    assert cli.main(["-l", plan]) == 3
    assert cli.main([]) == 4


def test_csv_input(engine, tmp_path):
    csv = tmp_path / "data.csv"
    csv.write_text("a|b\n1|x\n2|y\n")
    plan = _write(
        tmp_path,
        "plan.json",
        {
            "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
            "commands": [
                {
                    "command": "view",
                    "params": {"tableAliases": ["t"], "query": "SELECT * FROM t WHERE a > 1"},
                    "inputs": [{"ref": str(csv), "onDisk": True, "delimiter": "|"}],
                    "outputKey": "k",
                }
            ],
        },
    )
    engine.run(plan)
    assert engine.registry["k"].collect()[0]["b"] == "y"


def test_json_and_orc_inputs(spark, tmp_path):
    """Extension input formats round-trip through load_input."""
    from topnotch_spark.sources.inputs import Input, load_input

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    jpath, opath = str(tmp_path / "j"), str(tmp_path / "o")
    df.write.json(jpath)
    df.write.orc(opath)

    j = load_input(spark, Input(ref=jpath, format="json"))
    assert {(r["id"], r["s"]) for r in j.collect()} == {(1, "a"), (2, "b")}
    o = load_input(spark, Input(ref=opath, format="orc"))
    assert {(r["id"], r["s"]) for r in o.collect()} == {(1, "a"), (2, "b")}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="Unsupported input format"):
        load_input(spark, Input(ref=jpath, format="avro"))


def test_classpath_plan_read(engine, input_parquet, monkeypatch, tmp_path):
    """A plan bundled inside the package loads through FileReader's
    package-resource fallback, mirroring the reference's classpath read
    (TnReader.scala:104-118, TnEngineTest readFromClasspathPlan). The cwd
    holds no such file, so only the resource lookup can satisfy it."""
    monkeypatch.chdir(tmp_path)  # ensure no CWD fallback can hit
    reader = FileReader(variables={"inputPath": input_parquet})
    obj = reader.read_configuration(
        "topnotch_spark/resources/classpath_example_plan.json"
    )
    assert obj["path"] == "/"  # reference sets path to the classpath root
    assert collect_errors(parse_commands(obj, reader, spark=engine.spark)) is None
    # and end-to-end through the engine entrypoint
    failed = engine.run(
        "topnotch_spark/resources/classpath_example_plan.json",
        variables={"inputPath": input_parquet},
    )
    assert failed == 0
    assert engine.registry["bundledView"].count() == 4


def test_classpath_miss_still_raises(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(FileNotFoundError):
        FileReader().read_configuration("topnotch_spark/resources/nope.json")


def test_session_reference_parity_defaults(spark):
    """The session factory carries the reference's scheduler settings
    (TnEngine.scala:38-39): FAIR scheduling AND speculative execution,
    plus the case-insensitivity the HiveQL surface assumes."""
    assert spark.conf.get("spark.scheduler.mode") == "FAIR"
    assert spark.conf.get("spark.speculation") == "true"
    assert spark.conf.get("spark.sql.caseSensitive") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_output_format_sinks(spark, tmp_path):
    """outputFormat extension: csv/json/orc sinks + csv roundtrip +
    partitionBy layout + unsupported-format rejection."""
    import json as jsonlib

    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "view",
                "inputs": [{"ref": "/root/testdata/sf0.001/nation.parquet",
                            "onDisk": True}],
                "params": {"tableAliases": ["n"],
                           "query": "SELECT n_nationkey, n_name, n_regionkey FROM n"},
                "outputKey": "nations",
                "outputPath": str(tmp_path / "nations_csv"),
                "outputFormat": "csv",
            },
            {
                "command": "view",
                "inputs": [{"ref": "nations", "onDisk": False}],
                "params": {"tableAliases": ["n"], "query": "SELECT * FROM n"},
                "outputKey": "nationsJson",
                "outputPath": str(tmp_path / "nations_json"),
                "outputFormat": "json",
                "partitionBy": ["n_regionkey"],
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(jsonlib.dumps(plan))
    assert TnEngine(spark).run(str(p)) == 0
    back = (
        spark.read.option("header", "true").option("inferSchema", "true")
        .csv(str(tmp_path / "nations_csv"))
    )
    assert back.count() == 25 and set(back.columns) == {
        "n_nationkey", "n_name", "n_regionkey"
    }
    # partitioned json layout: one directory per region key
    parts = [d for d in (tmp_path / "nations_json").iterdir()
             if d.name.startswith("n_regionkey=")]
    assert len(parts) == 5
    jback = spark.read.json(str(tmp_path / "nations_json"))
    assert jback.count() == 25


def test_csv_table_mount_skips_header(spark, tmp_path):
    """A csv sink mount must pass the same header/inferSchema options to
    createTable that the writer used — otherwise the header row comes
    back as data with an all-string schema."""
    from topnotch_spark.sources.outputs import store_output

    df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    try:
        store_output(
            spark, df, "nations", {},
            output_path=str(tmp_path / "nations_csv"),
            table_name="tn_test_csv_mount",
            output_format="csv",
        )
        mounted = spark.table("tn_test_csv_mount")
        assert mounted.count() == 25
        assert dict(mounted.dtypes)["n_nationkey"] in ("int", "bigint")
        assert mounted.filter("n_name = 'n_name'").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS tn_test_csv_mount")


def test_output_format_unsupported_raises(spark, tmp_path):
    import pytest as _pytest

    from topnotch_spark.sources.outputs import store_output

    df = spark.range(3)
    with _pytest.raises(ValueError, match="Unsupported output format"):
        store_output(spark, df, "x", {}, output_path=str(tmp_path / "x"),
                     output_format="avro")


def test_sorted_sink_writes_disjoint_file_ranges(spark, tmp_path):
    """sortBy layout: every written file must cover a disjoint value
    range of the sort column (that disjointness is exactly what lets
    parquet min/max stats prune whole files for range predicates)."""
    import glob

    from topnotch_spark.sources.outputs import store_output

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = str(tmp_path / "orders_sorted")
    store_output(
        spark, df, "sorted", {},
        output_path=out,
        sort_by=["o_totalprice"],
        sort_partitions=4,
    )
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        mm = spark.read.parquet(f).agg(
            {"o_totalprice": "min"}
        ).collect()[0][0], spark.read.parquet(f).agg(
            {"o_totalprice": "max"}
        ).collect()[0][0]
        ranges.append(mm)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, ordered ranges
    # nothing lost
    assert spark.read.parquet(out).count() == df.count()


def test_sorted_sink_rows_sorted_within_files(spark, tmp_path):
    from topnotch_spark.sources.outputs import store_output

    df = spark.range(0, 1000).selectExpr(
        "id", "cast(hash(id) as double) as v"
    )
    out = str(tmp_path / "sorted_v")
    store_output(
        spark, df, "s", {}, output_path=out, sort_by=["v"], sort_partitions=2
    )
    import glob

    for f in glob.glob(f"{out}/part-*.parquet"):
        vals = [r.v for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals)
