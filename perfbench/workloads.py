"""The benchmark's workloads.

Each workload turns a seed into inputs (``generate``), orders its
operations for one pass (``pass_order``) and runs one of them (``run``).
``check`` verifies an operation's output. An operation is one
``TnEngine.run`` of a plan (``plans``) or one catalog query forced
through the noop sink (``catalog_batch``, ``streaming_replay``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))

# One query per module under topnotch_spark/operators, the cheapest one
# the catalog has for it (measured at sf 0.001 on 4 cores), except
# cluster, graph and retrieval: their cheapest queries (dedup_clusters,
# graph_triangle_parts, text_bm25_topk) cost over a second each warm and
# three times that cold. The heaviest query of each heavy module
# (dedup_semantic_compaction, unigram_segment_docs,
# graph_ppr_related_parts, profile_lineitem_approx) costs 4-9 s warm on
# its own. With them a run would not fit this benchmark's time budget.
CATALOG_BATCH = [
    "assertion_invalid_rows",     # assertions
    "basket_brand_pairs",         # basket
    "text_chunks",                # chunking
    "train_split_assign",         # curation
    "dedup_exact",                # dedup
    "diff_orders",                # diff
    "drift_chi2_priority",        # drift
    "fuzzy_customer_names",       # fuzzy
    "k_anonymity_customers",      # integrity
    "bloom_membership",           # membership
    "multimodal_byte_stats",      # multimodal
    "melt_part_measures",         # profile
    "cdc_apply_orders",           # scd
    "embedding_norm_outliers",    # similarity
    "cms_heavy_hitters",          # sketch
    "salted_join_revenue",        # skew
    "spatial_customer_supplier",  # spatial
    "latest_event_per_user",      # temporal
    "quality_calibrated_ranks",   # textqc
    "view_topk_per_group",        # view
]

# Streaming queries: a JVM state store (windowed aggregation) and an
# applyInPandasWithState query for the Arrow boundary of Python state.
STREAMING_REPLAY = [
    "streaming_window_metrics",
    "streaming_ewma",
]

# What each plan writes under its work dir, digested by ``check``.
PLAN_OUTPUTS = {
    "qc_lines": ["revenue_by_priority"],
    "qc_diff": ["orders_diff"],
    "ingest_build": ["index/exact"],
    "ingest_batch": ["index/exact"],
    "ingest_retire": ["index/exact"],
    "warehouse": ["dim_history", "lines_by_shipdate", "orders_z"],
}
# Plan runs of one pass. Groups run in a seeded order; the stages inside
# a group keep theirs (the ingestion stages share one index).
PLAN_GROUPS = [
    ["qc_lines"],
    ["qc_diff"],
    ["ingest_build", "ingest_batch", "ingest_retire"],
    ["warehouse"],
]


def _canon(v):
    """A cell as text, floats to 9 significant digits so that a change
    in summation order does not change a digest."""
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def table_digest(table: pa.Table) -> str:
    cols = sorted(table.column_names)
    rows = zip(*(table.column(c).to_pylist() for c in cols)) if cols else []
    keys = sorted("|".join(_canon(v) for v in r) for r in rows)
    h = hashlib.sha256(",".join(cols).encode())
    for k in keys:
        h.update(k.encode() + b"\n")
    return h.hexdigest()[:16]


class Workload:
    name = ""
    # generated tables: lineitem has 6,000,000 x sf rows
    sf = 0.001

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.data = os.path.join(work, "data")
        self.rng = random.Random(seed)

    def generate(self, spark) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        datagen.write(self.data, self.seed, self.sf)

    def pass_order(self) -> list[str]:
        raise NotImplementedError

    def start(self, spark) -> None:
        """Imports and state shared by every operation."""

    def run(self, spark, op: str, check: bool = False):
        raise NotImplementedError

    def check(self, op: str, out) -> str | None:
        """None when ``out`` is right, else why it is not."""
        raise NotImplementedError

    def between_ops(self) -> None:
        """Untimed cleanup after an operation."""

    def between_passes(self) -> None:
        """Untimed cleanup after a pass."""


class CatalogWorkload(Workload):
    """Catalog queries, each built and then forced through the noop sink
    inside ``dedup_scope`` (which releases what the query persisted)."""

    queries: list[str] = []

    def start(self, spark) -> None:
        import duckdb

        import __spark_entry__ as entry
        from topnotch_spark.operators.dedup import dedup_scope

        self.builders = entry.queries()
        self.oracles = entry.oracle_sql()
        self.dedup_scope = dedup_scope
        self.duck = duckdb.connect()
        for t in datagen.TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.build_s = self.force_s = 0.0

    def pass_order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def run(self, spark, op: str, check: bool = False):
        with self.dedup_scope():
            t0 = time.perf_counter()
            df = self.builders[op](spark, self.data)
            t1 = time.perf_counter()
            if check:
                cols = [c.lower() for c in df.columns]
                out = (cols, [tuple(r) for r in df.toDF(*cols).collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
            t2 = time.perf_counter()
        self.build_s += t1 - t0
        self.force_s += t2 - t1
        return out

    def check(self, op: str, out) -> str | None:
        from strict_hash_check import table_hash

        cols, rows = out
        res = self.duck.execute(self.oracles[op])
        dcols = [d[0].lower() for d in res.description]
        drows = res.fetchall()
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
        if table_hash(cols, rows) != table_hash(dcols, drows):
            return f"value hash differs from the oracle ({len(rows)} vs {len(drows)} rows)"
        return None


class CatalogBatch(CatalogWorkload):
    name = "catalog_batch"
    queries = CATALOG_BATCH


class StreamingReplay(CatalogWorkload):
    name = "streaming_replay"
    queries = STREAMING_REPLAY

    def generate(self, spark) -> None:
        from topnotch_spark.streaming import ops

        super().generate(spark)
        ops.REPLAY_ROOT = os.path.join(self.work, "replay")
        shutil.rmtree(ops.REPLAY_ROOT, ignore_errors=True)
        ops.events_replay_dir(spark, self.data)


class Plans(Workload):
    """``TnEngine.run`` over the bench-owned plans, each with a file
    report sink. Expected results per seed are in ``expected_plans.json``;
    for a seed not recorded there every pass must reproduce the warm-up
    pass."""

    name = "plans"

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.snapshot = os.path.join(work, "snapshot")
        self.out = os.path.join(work, "out")
        self.reports = os.path.join(self.out, "reports")
        self.outputs = os.path.join(self.out, "outputs")
        self.warehouse = os.path.join(work, "warehouse")
        rng = random.Random(seed * 7919 + 1)
        split = rng.randrange(3)
        self.variables = {
            "dataDir": self.data,
            "snapshotDir": self.snapshot,
            "reportDir": self.reports,
            "workDir": self.outputs,
            "minShipDate": f"1996-0{1 + rng.randrange(3)}-01",
            "maxDiscount": f"0.0{5 + rng.randrange(4)}",
            "seedSplit": str(split),
            "batchSplit": str((split + 1 + rng.randrange(2)) % 3),
            "updateSplit": str(rng.randrange(3)),
        }
        with open(os.path.join(HERE, "expected_plans.json")) as f:
            self.expected = json.load(f).get(str(seed))
        self.seen: dict[str, dict] = {}
        self.report_bytes = 0

    def generate(self, spark) -> None:
        super().generate(spark)
        self._perturb_snapshot()

    def _perturb_snapshot(self) -> None:
        """Yesterday's orders: a seeded share of rows changed in price,
        status or customer, a few removed and a few added."""
        rng = np.random.default_rng(self.seed + 10_000)
        t = pq.read_table(os.path.join(self.data, "orders.parquet"))
        n = t.num_rows
        price = t.column("o_totalprice").to_numpy().copy()
        bump = rng.random(n) < 0.08
        price[bump] = np.round(price[bump] * rng.uniform(0.5, 1.5, bump.sum()), 2)
        status = np.array(t.column("o_orderstatus").to_pylist(), dtype=object)
        flip = rng.random(n) < 0.03
        status[flip] = "P"
        cust = t.column("o_custkey").to_numpy().copy()
        move = rng.random(n) < 0.01
        cust[move] = (cust[move] + 1) % max(1, int(cust.max()) + 1)
        t = t.set_column(t.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price))
        t = t.set_column(t.schema.get_field_index("o_orderstatus"), "o_orderstatus",
                         pa.array(status.tolist(), pa.string()))
        t = t.set_column(t.schema.get_field_index("o_custkey"), "o_custkey", pa.array(cust))
        keep = rng.random(n) >= 0.01
        t = t.filter(pa.array(keep))
        os.makedirs(self.snapshot, exist_ok=True)
        pq.write_table(t, os.path.join(self.snapshot, "orders.parquet"))

    def start(self, spark) -> None:
        from topnotch_spark.engine import TnEngine

        self.engine_cls = TnEngine

    def pass_order(self) -> list[str]:
        groups = list(PLAN_GROUPS)
        self.rng.shuffle(groups)
        return [p for g in groups for p in g]

    def run(self, spark, op: str, check: bool = False):
        engine = self.engine_cls(spark)
        failed = engine.run(
            os.path.join(HERE, "plans", f"{op}.json"),
            report_key=f"{op}.json",
            variables=self.variables,
        )
        return failed

    def digests(self, op: str, failed: int) -> dict:
        """Exit code, failed assertions and digests of the report and of
        every output the plan wrote."""
        with open(os.path.join(self.reports, f"{op}.json"), "rb") as f:
            report = f.read()
        self.report_bytes += len(report)
        outputs = {
            name: table_digest(ds.dataset(
                os.path.join(self.outputs, name), format="parquet", partitioning="hive"
            ).to_table())
            for name in PLAN_OUTPUTS[op]
        }
        return {
            "exit_code": 3 if failed else 0,
            "failed_assertions": failed,
            "report": table_digest(pa.table({"r": [_canon(json.loads(report))]})),
            "outputs": outputs,
        }

    def check(self, op: str, out) -> str | None:
        got = self.digests(op, out)
        want = (self.expected or {}).get(op) or self.seen.setdefault(op, got)
        if got != want:
            return f"got {got}, expected {want}"
        return None

    def between_ops(self) -> None:
        shutil.rmtree(self.reports, ignore_errors=True)

    def between_passes(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Plans, CatalogBatch, StreamingReplay)}
