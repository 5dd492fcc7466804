"""Bucketed co-located diff: the per-run plan must contain no shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from topnotch_spark.operators.diff import DiffParams, DiffSide, create_diff
from topnotch_spark.sources.bucketing import write_bucketed

SF = "/root/testdata/sf0.001"


def plan_has_exchange(df) -> bool:
    """True if the physical plan contains any Exchange (shuffle)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" in plan


@pytest.fixture(scope="module")
def bucketed_orders(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    modified = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")),
    )
    write_bucketed(orders, "orders_a", ["o_orderkey"], 4)
    write_bucketed(modified, "orders_b", ["o_orderkey"], 4)
    # simulate the big-big case bucketing exists for: at test sizes the
    # planner would rather broadcast (and rightly ignores buckets)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield "orders_a", "orders_b"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS orders_a")
    spark.sql("DROP TABLE IF EXISTS orders_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_orders):
    a, b = bucketed_orders
    joined = spark.table(a).join(spark.table(b), "o_orderkey")
    assert not plan_has_exchange(joined)
    assert joined.count() == spark.table(a).count()


def test_create_diff_plan_has_no_exchange(spark, bucketed_orders):
    """The diff operator ITSELF (not just a bare join) over bucketed
    tables plans zero Exchange — both snapshot shuffles were paid once at
    write time (VERDICT r5 #7)."""
    a, b = bucketed_orders
    diff = create_diff(
        spark.table(a),
        "a",
        spark.table(b),
        "b",
        DiffParams(
            DiffSide(("o_orderkey",), ("o_totalprice",)),
            DiffSide(("o_orderkey",), ("o_totalprice",)),
        ),
        filter_equal_rows=True,
    )
    assert not plan_has_exchange(diff)


def test_diff_command_over_bucketed_table_inputs(spark, bucketed_orders, tmp_path):
    """Plan-surface wiring: a diff command whose inputs are catalog
    tables (format: "table") runs shuffle-free over pre-bucketed
    snapshots and produces the same changed-row count."""
    import json

    from topnotch_spark.engine import TnEngine

    a, b = bucketed_orders
    plan = {
        "commands": [
            {
                "command": "diff",
                "input1": {"ref": a, "onDisk": True, "format": "table"},
                "input1Name": "a",
                "input2": {"ref": b, "onDisk": True, "format": "table"},
                "input2Name": "b",
                "outputKey": "bucketedDiff",
                "filterEqualRows": True,
                "params": {
                    "input1Columns": {
                        "joinColumns": ["o_orderkey"],
                        "diffColumns": ["o_totalprice"],
                    },
                    "input2Columns": {
                        "joinColumns": ["o_orderkey"],
                        "diffColumns": ["o_totalprice"],
                    },
                },
            }
        ]
    }
    path = tmp_path / "bucketed_diff_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["bucketedDiff"]
    assert not plan_has_exchange(out)
    expect = spark.table(a).filter("o_orderkey % 10 = 0").count()
    assert out.count() == expect

    # a missing table name must fail static validation with the clear
    # invalid-input message, not a deep analysis error
    bad = dict(plan)
    bad["commands"] = [dict(plan["commands"][0])]
    bad["commands"][0] = {
        **bad["commands"][0],
        "input1": {"ref": "no_such_table", "onDisk": True, "format": "table"},
    }
    bad_path = tmp_path / "bad_bucketed_diff_plan.json"
    bad_path.write_text(json.dumps(bad))
    with pytest.raises(Exception, match="invalid"):
        TnEngine(spark).run(str(bad_path))


def test_bucketed_diff_correct_and_shuffle_light(spark, bucketed_orders):
    a, b = bucketed_orders
    df1, df2 = spark.table(a), spark.table(b)
    diff = create_diff(
        df1,
        "a",
        df2,
        "b",
        DiffParams(
            DiffSide(("o_orderkey",), ("o_totalprice",)),
            DiffSide(("o_orderkey",), ("o_totalprice",)),
        ),
        filter_equal_rows=True,
    )
    changed = diff.count()
    expect = df1.filter("o_orderkey % 10 = 0").count()
    assert changed == expect
    # the diff's own outer join must not re-shuffle bucketed inputs
    assert not plan_has_exchange(
        df1.join(df2, df1["o_orderkey"] == df2["o_orderkey"], "outer")
    )


def test_plan_declarative_bucketed_write_then_shuffle_free_diff(
    spark, tmp_path
):
    """The full declarative loop (r13): a plan WRITES both snapshots
    bucketed on the diff keys (bucketBy/numBuckets in the output
    options — the layout SCALE.md §5 prescribes), and the follow-up
    diff plan over the two tables runs with ZERO Exchange."""
    import json

    from topnotch_spark.engine import TnEngine

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_plan = {
            "commands": [
                {
                    "command": "view",
                    "inputs": [
                        {
                            "ref": f"{SF}/orders.parquet",
                            "onDisk": True,
                            "format": "parquet",
                            "name": "orders",
                        }
                    ],
                    "params": {
                        "tableAliases": ["orders"],
                        "query": "SELECT * FROM orders",
                    },
                    "outputKey": "snapA",
                    "tableName": "plan_orders_a",
                    "bucketBy": ["o_orderkey"],
                    "numBuckets": 4,
                },
                {
                    "command": "view",
                    "inputs": [
                        {
                            "ref": f"{SF}/orders.parquet",
                            "onDisk": True,
                            "format": "parquet",
                            "name": "orders",
                        }
                    ],
                    "params": {
                        "tableAliases": ["orders"],
                        "query": "SELECT o_orderkey, o_custkey, "
                        "o_orderstatus, CASE WHEN o_orderkey % 10 = 0 "
                        "THEN o_totalprice + 1 ELSE o_totalprice END AS "
                        "o_totalprice FROM orders"
                    },
                    "outputKey": "snapB",
                    "tableName": "plan_orders_b",
                    "bucketBy": ["o_orderkey"],
                    "numBuckets": 4,
                },
            ]
        }
        # the write-once plan creates both bucketed snapshots; static
        # validation resolves table refs at parse time, so the repeated
        # diff is its own plan (the production cadence anyway)
        path = tmp_path / "bucketed_write_plan.json"
        path.write_text(json.dumps(write_plan))
        assert TnEngine(spark).run(str(path)) == 0
        diff_plan = {
            "commands": [
                {
                    "command": "diff",
                    "input1": {
                        "ref": "plan_orders_a",
                        "onDisk": True,
                        "format": "table",
                    },
                    "input1Name": "a",
                    "input2": {
                        "ref": "plan_orders_b",
                        "onDisk": True,
                        "format": "table",
                    },
                    "input2Name": "b",
                    "outputKey": "bucketedDiff2",
                    "filterEqualRows": True,
                    "params": {
                        "input1Columns": {
                            "joinColumns": ["o_orderkey"],
                            "diffColumns": ["o_totalprice"],
                        },
                        "input2Columns": {
                            "joinColumns": ["o_orderkey"],
                            "diffColumns": ["o_totalprice"],
                        },
                    },
                },
            ]
        }
        dpath = tmp_path / "bucketed_diff_plan2.json"
        dpath.write_text(json.dumps(diff_plan))
        engine = TnEngine(spark)
        assert engine.run(str(dpath)) == 0
        out = engine.registry["bucketedDiff2"]
        assert not plan_has_exchange(out)
        expect = spark.table("plan_orders_a").filter(
            "o_orderkey % 10 = 0"
        ).count()
        assert out.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS plan_orders_a")
        spark.sql("DROP TABLE IF EXISTS plan_orders_b")


def test_bucketed_write_validation(spark, tmp_path):
    from topnotch_spark.sources.outputs import store_output

    df = spark.range(5)
    with pytest.raises(ValueError, match="tableName"):
        store_output(
            spark, df, "k", {}, output_path=str(tmp_path / "x"),
            bucket_by=["id"], num_buckets=4,
        )
    with pytest.raises(ValueError, match="numBuckets"):
        store_output(
            spark, df, "k", {}, table_name="t_no_buckets",
            bucket_by=["id"],
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        store_output(
            spark, df, "k", {}, table_name="t_zb",
            bucket_by=["id"], num_buckets=4, zorder_by=["id", "id"],
        )
