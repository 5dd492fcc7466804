"""Query catalog: each entry demonstrates one implemented operator from
SURVEY.md §2 on the driver's TPC-H-ish test tables, with a matching ANSI-SQL
oracle (DuckDB) defined in ``__spark_entry__.py``.

Each function takes (spark, sf_dir) and returns a DataFrame. Every computed
column is aliased identically to the oracle SQL. Doubles coming from
aggregation are rounded in BOTH engines to dodge last-ulp float noise.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from topnotch_spark.operators.assertions import (
    AssertionRule,
    identify_invalid_rows,
)
from topnotch_spark.operators.diff import DiffParams, DiffSide, create_diff
from topnotch_spark.operators.view import ViewParams, create_view
from topnotch_spark.sources.inputs import read_parquet

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


BM25_QUERIES = [
    (1, "spark window agg"),
    (2, "hash join table"),
    (3, "stream filter sort"),
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # ts is parquet TIMESTAMP(NANOS). Depending on the session the
        # caller hands us (the driver builds its own), Spark either needs
        # legacy.parquet.nanosAsLong to read it at all (as epoch-nanos
        # long) or may surface it as a timestamp directly. Set the flag
        # defensively (runtime-settable SQL conf), then normalize long →
        # micros with integer `div` (float division would lose precision
        # above 2^53 ns) so oracles agree with DuckDB's TIMESTAMP_NS cast.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Newer testdata writes TIMESTAMP(MICROS, isAdjustedToUTC=false),
            # which Spark reads as TIMESTAMP_NTZ — a type withWatermark and
            # unix_micros() reject. The session runs in UTC, so casting to
            # the LTZ timestamp type reinterprets the same wall-clock value
            # without shifting it, matching DuckDB's naive TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# O7 view: delegated SQL surface
# --------------------------------------------------------------------------

def view_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary via the view operator (O7)."""
    return create_view(
        spark,
        [load(spark, sf_dir, "lineitem")],
        ViewParams(
            ("lineitem_v",),
            """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2)                                        AS sum_qty,
                   round(sum(l_extendedprice), 2)                                   AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
                   round(avg(l_quantity), 4)                                        AS avg_qty,
                   round(avg(l_extendedprice), 4)                                   AS avg_price,
                   round(avg(l_discount), 6)                                        AS avg_disc,
                   count(*)                                                         AS count_order
            FROM lineitem_v
            WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            """,
        ),
    )


def view_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join + agg via the view operator; small dims broadcast."""
    return create_view(
        spark,
        [
            load(spark, sf_dir, "customer"),
            load(spark, sf_dir, "orders"),
            load(spark, sf_dir, "lineitem"),
            load(spark, sf_dir, "nation"),
            load(spark, sf_dir, "region"),
        ],
        ViewParams(
            ("customer_v", "orders_v", "lineitem_v", "nation_v", "region_v"),
            """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM customer_v
            JOIN orders_v   ON c_custkey = o_custkey
            JOIN lineitem_v ON l_orderkey = o_orderkey
            JOIN nation_v   ON c_nationkey = n_nationkey
            JOIN region_v   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
            GROUP BY n_name
            """,
        ),
    )


def view_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets rollup (delegated SQL surface, SURVEY §2.2 —
    available for free via spark.sql, inventoried explicitly)."""
    return create_view(
        spark,
        [load(spark, sf_dir, "lineitem")],
        ViewParams(
            ("lineitem_v",),
            """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem_v
            GROUP BY CUBE(l_returnflag, l_linestatus)
            """,
        ),
    )


def view_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function top-k per group (delegated analytic surface, §2.3)."""
    return create_view(
        spark,
        [load(spark, sf_dir, "part")],
        ViewParams(
            ("part_v",),
            """
            SELECT p_brand, p_partkey, p_retailprice
            FROM (
              SELECT p_brand, p_partkey, p_retailprice,
                     row_number() OVER (
                       PARTITION BY p_brand
                       ORDER BY p_retailprice DESC, p_partkey ASC
                     ) AS rk
              FROM part_v
            ) ranked
            WHERE rk <= 3
            """,
        ),
    )


def view_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + cumulative sum windows (30-min gap)."""
    return create_view(
        spark,
        [load(spark, sf_dir, "events")],
        ViewParams(
            ("events_v",),
            """
            SELECT user_id,
                   session_id,
                   count(*)                    AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                                               AS session_value
            FROM (
              SELECT user_id, value,
                     CAST(sum(is_new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS session_id
              FROM (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                 IS NULL THEN 1
                            WHEN ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                 + INTERVAL 30 MINUTE THEN 1
                            ELSE 0 END AS is_new_session
                FROM events_v
              ) flagged
            ) sessions
            GROUP BY user_id, session_id
            """,
        ),
    )


# --------------------------------------------------------------------------
# O8-O10 assertions
# --------------------------------------------------------------------------

LINEITEM_RULES = [
    AssertionRule(
        query="l_discount <= 0.06",
        description="discount must not exceed 6 percent",
        threshold=0.1,
    ),
    AssertionRule(
        query="l_quantity < 50",
        description="quantity under 50",
        threshold=0.01,
    ),
    AssertionRule(
        query="l_extendedprice > 0",
        description="positive price",
        threshold=0.0,
    ),
]


def assertion_invalid_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9: single-pass invalid-row union with merged reasons."""
    return identify_invalid_rows(load(spark, sf_dir, "lineitem"), LINEITEM_RULES)


def assertion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8+O10: per-rule invalid counts / fractions / pass-fail, computed in
    ONE fused aggregation job then unpivoted to one row per rule."""
    df = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("__total__")]
    for i, rule in enumerate(LINEITEM_RULES):
        aggs.append(
            F.sum(F.when(F.expr(f"NOT({rule.query})"), 1).otherwise(0)).alias(f"__inv_{i}__")
        )
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{rule.description}', __inv_{i}__, cast({rule.threshold} as double)"
        for i, rule in enumerate(LINEITEM_RULES)
    )
    return wide.selectExpr(
        "__total__",
        f"stack({len(LINEITEM_RULES)}, {stack_args}) as (description, num_invalid, threshold)",
    ).selectExpr(
        "description",
        "num_invalid",
        "round(num_invalid / __total__, 8) as fraction_invalid",
        "cast(num_invalid / __total__ > threshold as boolean) as failed",
    )


def assertion_window_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 (deterministic distributed form): for every order containing an
    invalid line, return the full ordered partition of that order."""
    df = load(spark, sf_dir, "lineitem")
    invalid_keys = (
        df.filter("NOT(l_discount <= 0.06)").select("l_orderkey").distinct()
    )
    return (
        df.join(invalid_keys, "l_orderkey", "left_semi")
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_shipdate"
        )
    )


# --------------------------------------------------------------------------
# O12-O16 diff
# --------------------------------------------------------------------------

def _orders_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """orders vs a deterministically perturbed copy: value drift on keys
    %7==0, nulls on %13==5, dropped rows on %97==3, string change on %11==0."""
    orders = load(spark, sf_dir, "orders")
    first = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    second = (
        orders.filter("o_orderkey % 97 != 3")
        .selectExpr(
            "o_orderkey",
            """CASE WHEN o_orderkey % 13 = 5 THEN CAST(NULL AS DOUBLE)
                    WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice""",
            """CASE WHEN o_orderkey % 11 = 0 THEN 'CHANGED'
                    ELSE o_orderpriority END AS o_orderpriority""",
        )
    )
    return first, second


def diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12-O13: keyed outer-join diff with status + minus columns."""
    first, second = _orders_pair(spark, sf_dir)
    return create_diff(
        first,
        "first",
        second,
        "second",
        DiffParams(
            DiffSide(("o_orderkey",), ("o_totalprice", "o_orderpriority")),
            DiffSide(("o_orderkey",), ("o_totalprice", "o_orderpriority")),
        ),
        validate=False,  # keys provably unique (derived from a unique key)
    )


def diff_orders_changed_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14: same diff with filterEqualRows=True."""
    first, second = _orders_pair(spark, sf_dir)
    return create_diff(
        first,
        "first",
        second,
        "second",
        DiffParams(
            DiffSide(("o_orderkey",), ("o_totalprice", "o_orderpriority")),
            DiffSide(("o_orderkey",), ("o_totalprice", "o_orderpriority")),
        ),
        filter_equal_rows=True,
        validate=False,
    )


# --------------------------------------------------------------------------
# Extensions (SURVEY.md §7 phase E): dedup / similarity / text analysis
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.dedup import exact_dedup

    return exact_dedup(load(spark, sf_dir, "documents"), "doc_id", "text")


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.dedup import fingerprint_dedup

    return fingerprint_dedup(load(spark, sf_dir, "documents"), "doc_id", "text")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=4, threshold=0.5, shingle_n=5,
    )


def cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric source×source near-dup matrix over the minhash pair
    set (dedup.cross_source_dup_matrix): who mirrors whom, who repeats
    itself — the curation view above dedup_rate_by_source. Pair stage
    rides the banding bounds; the rollup is two tiny-pair-set id joins
    + a |sources|²-bounded groupBy."""
    from topnotch_spark.operators.dedup import cross_source_dup_matrix

    return cross_source_dup_matrix(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source",
        num_hashes=16, bands=4, threshold=0.5, shingle_n=5,
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        threshold=0.5, shingle_n=5,
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.dedup import simhash_dedup

    return simhash_dedup(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        bits=32, band_bits=8, max_hamming=2,
    )


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.dedup import embedding_near_dups

    return embedding_near_dups(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.25, n_planes=4, dim=64,
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: seeded 16-cluster assignment over the embeddings table,
    within-cluster cosine prune at 0.35 — per-vector keep decision."""
    from topnotch_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_clusters=16, threshold=0.35,
    ).withColumnRenamed("id", "vec_id")


def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on a TRAINED clustering, silhouette-gated (the full
    Abbas-2023 shape): engine-exact spherical k-means
    (similarity.kmeans_centroids_exact, 8 centroids x 2 fixed
    integer-mean rounds) -> within-cluster cosine prune at 0.35
    (dedup.semantic_dedup with the trained centroids) -> per-cluster
    simplified silhouette (similarity.cluster_silhouette) gating the
    prune: a duplicate verdict inside a badly-separated cluster
    (mean_silhouette < 0.15) is NOT trusted — keep wins. Output per
    vector: (vec_id, centroid_id, keep_raw, mean_silhouette, keep).
    The oracle replays the deterministic kmeans rounds end to end."""
    from topnotch_spark.operators.dedup import semantic_dedup
    from topnotch_spark.operators.similarity import (
        cluster_silhouette,
        kmeans_centroids_exact,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents, _ = kmeans_centroids_exact(
        emb, "vec_id", "embedding", n_centroids=8, n_rounds=2
    )
    dd = semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.35, centroids=cents
    )
    sil = cluster_silhouette(emb, "vec_id", "embedding", centroids=cents)
    return (
        dd.join(
            sil.select("centroid_id", "mean_silhouette"),
            "centroid_id",
            "left",
        )
        .select(
            F.col("id").alias("vec_id"),
            "centroid_id",
            F.col("keep").alias("keep_raw"),
            "mean_silhouette",
            (F.col("keep") | (F.col("mean_silhouette") < 0.15)).alias(
                "keep"
            ),
        )
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-N / snapshot-N+1 ingestion: even doc_ids form the already-
    accepted corpus (index of content hashes only), odd doc_ids arrive as
    the new batch — deduped against the index AND within the batch."""
    from topnotch_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    docs = load(spark, sf_dir, "documents")
    index = build_dedup_index(
        docs.filter("doc_id % 2 = 0"), "doc_id", "text"
    )
    return dedup_against_index(
        docs.filter("doc_id % 2 = 1"), index, "doc_id", "text"
    )


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingestion (dedup.build_minhash_index +
    dedup_batch_against_minhash_index — the fuzzy sibling of
    dedup_incremental's exact-hash path): even doc_ids form the
    accepted corpus whose signature/bucket index is all that persists,
    odd doc_ids arrive as the new batch and are screened against the
    index buckets with the signature-estimated Jaccard (fraction of
    agreeing minhash components — the index stores no text to verify
    against). Per batch doc: n_candidates, best match, estimate,
    keep."""
    from topnotch_spark.operators.dedup import (
        build_minhash_index,
        dedup_batch_against_minhash_index,
    )

    docs = load(spark, sf_dir, "documents")
    index = build_minhash_index(
        docs.filter("doc_id % 2 = 0"), "doc_id", "text"
    )
    return dedup_batch_against_minhash_index(
        docs.filter("doc_id % 2 = 1"), index, "doc_id", "text",
        threshold=0.5,
    )


def dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three sequential ingestion rounds folded through the incremental
    dedup path (dedup.build_dedup_index + dedup_against_index, the
    upsert_dedup_index merge rule): documents arrive as doc_id % 3
    batches; each round dedups against the index-so-far and the
    accepted rows upsert in. The final index is emitted — per content
    key, the owner is the lowest id of the EARLIEST round containing
    the key (not the global min id), which is exactly what the
    round-ordered oracle replays."""
    from topnotch_spark.operators.dedup import (
        _persist,
        build_dedup_index,
        dedup_against_index,
    )

    docs = load(spark, sf_dir, "documents")
    # each round's index is persisted — the in-memory stand-in for the
    # on-disk index upsert_dedup_index maintains in production, and
    # what keeps round k+1 from re-deriving (re-scanning) every prior
    # round's lineage (the scan-count plan guard)
    index = _persist(
        build_dedup_index(docs.filter("doc_id % 3 = 0"), "doc_id", "text")
    )
    for r in (1, 2):
        batch = docs.filter(f"doc_id % 3 = {r}")
        accepted = (
            dedup_against_index(batch, index, "doc_id", "text")
            .filter("keep")
            .select("dup_key", F.col("doc_id").alias("index_id"))
        )
        index = _persist(index.unionByName(accepted))
    return index


def dedup_index_retirement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index RETIREMENT folded through the on-disk exact-key index —
    the right-to-be-forgotten / corrected-batch lifecycle the
    growth-only upserts lacked (dedup.upsert_dedup_index →
    dedup.delete_from_index → re-screen): even doc_ids build the
    persisted bucket-partitioned index; owners divisible by 10 then
    RETIRE (partition-pruned delete — only the buckets holding retired
    keys are rewritten, a fully-retired bucket's directory is removed);
    finally the odd-id batch screens against the post-delete index.
    Content whose owner retired is absent from the index, so its batch
    duplicates now come back keep=true — a deleted document must be
    re-acceptable. Per batch doc: (doc_id, dup_key, in_index, dup_of,
    keep)."""
    import tempfile

    from topnotch_spark.operators.dedup import (
        _read_partitioned_index,
        _register_checkpoints,
        build_dedup_index,
        dedup_against_index,
        delete_from_index,
        upsert_dedup_index,
    )

    docs = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="tn_index_retirement_")
    idx_path = root + "/index"
    upsert_dedup_index(
        spark, idx_path,
        build_dedup_index(
            docs.filter("doc_id % 2 = 0"), "doc_id", "text"
        ),
        bucket_chars=1,
    ).collect()
    retired = docs.filter("doc_id % 2 = 0 AND doc_id % 10 = 0").select(
        F.col("doc_id").alias("index_id")
    )
    delete_from_index(spark, idx_path, retired).collect()
    index = _read_partitioned_index(spark, idx_path).select(
        "dup_key", "index_id"
    )
    out = dedup_against_index(
        docs.filter("doc_id % 2 = 1"), index, "doc_id", "text"
    )
    _register_checkpoints(out, [root])
    return out


def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC ingestion — the third leg of the trio next
    to dedup_incremental (exact keys) and dedup_incremental_minhash
    (near-dup text): even vec_ids form the accepted corpus, on which a
    TRAINED index persists (similarity.kmeans_centroids_exact centroids
    + dedup.build_semantic_index member table); odd vec_ids arrive as
    the new batch and are screened (dedup_batch_against_semantic_index)
    by routing each to its nearest trained centroid (engine-exact
    micro-int cosine rank) and comparing against that cluster's members
    only — the old corpus is never re-embedded or re-clustered. Per
    batch vector: (vec_id, centroid_id, n_candidates, best_match_id,
    best_cosine, keep) with keep iff no member cosine ≥ 0.35."""
    from topnotch_spark.operators.dedup import (
        build_semantic_index,
        dedup_batch_against_semantic_index,
    )
    from topnotch_spark.operators.similarity import kmeans_centroids_exact

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id % 2 = 0")
    cents, assigns = kmeans_centroids_exact(
        corpus, "vec_id", "embedding", n_centroids=8, n_rounds=2
    )
    index = build_semantic_index(corpus, assigns, "vec_id", "embedding")
    return dedup_batch_against_semantic_index(
        emb.filter("vec_id % 2 = 1"), index, cents, "vec_id",
        "embedding", threshold=0.35,
    )


def dedup_semantic_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three sequential SEMANTIC ingestion rounds folded through a
    PERSISTED ON-DISK member index — the SemDeDup compaction loop
    (similarity.kmeans_centroids_exact trained once on the seed →
    dedup.build_semantic_index → dedup_batch_against_semantic_index →
    dedup.upsert_semantic_index), completing the on-disk growth story
    for all three incremental families: vec_id%3==0 seeds the trained
    clustering AND the member index; rounds 1 and 2 route their batch
    to the trained centroids, screen against ONLY the assigned
    cluster's on-disk members (keep iff best rounded cosine < 0.35),
    and upsert the accepted vectors' member rows. The trained centroid
    matrix is PINNED in the index's _tn_meta.json sidecar at create
    time (r13): every round re-reads the on-disk matrix (never a frame
    carried across the loop) and routes the batch ONCE
    (dedup.route_batch_to_centroids) — the routing frame feeds both
    the screen and the accepted entries; a re-trained matrix at upsert
    time would raise instead of silently drifting. Emits the final
    index membership (index_id, centroid_id, nrm rounded) — the oracle
    replays the kmeans training and the round-ordered accept set."""
    import tempfile

    from topnotch_spark.operators.dedup import (
        _register_checkpoints,
        build_semantic_index,
        dedup_batch_against_semantic_index,
        read_semantic_centroids,
        read_semantic_index,
        route_batch_to_centroids,
        upsert_semantic_index,
    )
    from topnotch_spark.operators.similarity import kmeans_centroids_exact

    emb = load(spark, sf_dir, "embeddings")
    seed = emb.filter("vec_id % 3 = 0")
    cents, assigns = kmeans_centroids_exact(
        seed, "vec_id", "embedding", n_centroids=8, n_rounds=2
    )
    root = tempfile.mkdtemp(prefix="tn_semantic_compaction_")
    idx_path = root + "/index"
    upsert_semantic_index(
        spark, idx_path,
        build_semantic_index(seed, assigns, "vec_id", "embedding"),
        centroids=cents,
    ).collect()
    for r in (1, 2):
        batch = emb.filter(f"vec_id % 3 = {r}")
        # one batch x k routing per round (r13): the persisted routing
        # frame feeds the screen AND, semi-joined to the accepted ids,
        # the upsert entries — the batch is never re-routed (and the
        # sidecar matrix is read once per round, still from the index)
        cents_r = read_semantic_centroids(spark, idx_path)
        assigned = route_batch_to_centroids(
            batch, cents_r, "vec_id", "embedding"
        )
        accepted = (
            dedup_batch_against_semantic_index(
                batch, read_semantic_index(spark, idx_path), cents_r,
                "vec_id", "embedding", threshold=0.35,
                assigned=assigned,
            )
            .filter("keep")
            .select(F.col("vec_id").alias("__bid__"))
        )
        entries = assigned.join(accepted, "__bid__", "left_semi").select(
            F.col("__bid__").alias("index_id"),
            F.col("__bv__").alias("vec"),
            F.col("__bn__").alias("nrm"),
            "centroid_id",
        )
        upsert_semantic_index(
            spark, idx_path, entries, centroids=cents_r
        ).collect()
    out = read_semantic_index(spark, idx_path).select(
        "index_id", "centroid_id", F.round("nrm", 6).alias("nrm")
    )
    _register_checkpoints(out, [root])
    return out


def dedup_minhash_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three sequential NEAR-dup ingestion rounds folded through a
    PERSISTED ON-DISK MinHash index — the full incremental-ingestion
    loop (dedup.build_minhash_index → dedup_batch_against_minhash_index
    → dedup.upsert_minhash_index) on a real parquet index with the
    partition-pruned pfx layout, not an in-memory stand-in: round 0
    seeds the index with the doc_id%3==0 batch's signature rows;
    rounds 1 and 2 screen their batch against the index-so-far (keep
    iff best signature-estimated Jaccard < 0.5) and UPSERT the accepted
    docs' rows, so each round's probe sees everything previously
    accepted without any re-shingling of the old corpus. Emits the
    final index rows (index_id, band_idx, bucket, sig_digest) — the
    signature vector folded to an md5 over its '|'-joined components
    (the driver's canonicalizer compares scalar columns only; the
    digest still pins every signature bit); the oracle replays the
    round-ordered accept/reject decisions exactly."""
    import tempfile

    from topnotch_spark.operators.dedup import (
        _persist,
        _read_partitioned_index,
        _register_checkpoints,
        build_minhash_index,
        dedup_batch_against_minhash_index,
        upsert_minhash_index,
    )

    docs = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="tn_minhash_compaction_")
    idx_path = root + "/index"
    # pfx_chars=1 (16 partition dirs): at test scale 256 directories'
    # filesystem metadata dominates the write; production guidance
    # (operator docstring) is the 2-char default
    seed = build_minhash_index(
        docs.filter("doc_id % 3 = 0"), "doc_id", "text"
    )
    upsert_minhash_index(spark, idx_path, seed, pfx_chars=1).collect()
    for r in (1, 2):
        batch = docs.filter(f"doc_id % 3 = {r}")
        index = _read_partitioned_index(spark, idx_path).select(
            "index_id", "band_idx", "bucket", "sigs"
        )
        # one signature build per round (r13): the persisted batch
        # index feeds the screen AND, semi-joined to the accepted ids,
        # the upsert entries — the batch is never re-shingled
        bidx = _persist(build_minhash_index(batch, "doc_id", "text"))
        accepted = (
            dedup_batch_against_minhash_index(
                batch, index, "doc_id", "text", threshold=0.5,
                batch_index=bidx,
            )
            .filter("keep")
            .select(F.col("doc_id").alias("index_id"))
        )
        entries = bidx.join(accepted, "index_id", "left_semi")
        upsert_minhash_index(
            spark, idx_path, entries, pfx_chars=1
        ).collect()
    out = _read_partitioned_index(spark, idx_path).select(
        "index_id",
        "band_idx",
        "bucket",
        F.md5(
            F.array_join(
                F.transform("sigs", lambda x: x.cast("string")), "|"
            )
        ).alias("sig_digest"),
    )
    # the temp index root is released (deleted) with the run's other
    # intermediates once the output frame is done
    _register_checkpoints(out, [root])
    return out


def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom seen-set over the even-doc_id half's content, probed by ALL
    documents: (doc_id, bloom_hit, exact_hit). bloom_hit && !exact_hit
    rows are the filter's false positives — visible and bounded; false
    negatives are impossible by construction. m=2048 bits is deliberately
    small so the sf0.1 run shows the saturated-filter regime too."""
    from topnotch_spark.operators.dedup import _persist
    from topnotch_spark.operators.membership import bloom_build, bloom_probe

    docs = load(spark, sf_dir, "documents")
    key = F.coalesce(F.col("text"), F.lit(""))
    # hash ONCE into a persisted 2-column projection; build, probe, and
    # the exact check all read it (4 corpus scans -> 1)
    hashed = _persist(
        docs.select("doc_id", F.md5(key).alias("k"))
    )
    seen = hashed.filter("doc_id % 2 = 0")
    bl = bloom_build(seen, "k", m_bits=2048, k_hashes=3, prehashed=True)
    probed = bloom_probe(
        hashed, "doc_id", "k", bl, m_bits=2048, k_hashes=3, prehashed=True
    )
    seen_keys = (
        seen.select("k").distinct().withColumn("__seen__", F.lit(True))
    )
    exact = (
        hashed.join(F.broadcast(seen_keys), "k", "left")
        .select(
            "doc_id",
            F.coalesce("__seen__", F.lit(False)).alias("exact_hit"),
        )
    )
    return probed.join(exact, "doc_id")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph → connected components → per-doc cluster
    assignment + canonical ``keep`` flag (the actual corpus-dedup step)."""
    from topnotch_spark.operators.cluster import dup_clusters
    from topnotch_spark.operators.dedup import minhash_lsh_dedup

    pairs = minhash_lsh_dedup(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=4, threshold=0.5, shingle_n=5,
    )
    return dup_clusters(pairs)


def split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment (curation.cluster_safe_split):
    near-dup clusters (MinHash-LSH pairs → connected components) are
    split as UNITS — train/val contamination by near-duplicates is
    impossible by construction, the prevention-side twin of
    split_leakage_report's detection."""
    from topnotch_spark.operators.curation import cluster_safe_split

    return cluster_safe_split(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        fractions={"train": 0.9, "val": 0.1},
        num_hashes=16, bands=4, threshold=0.5, shingle_n=5,
    )


def dedup_spans_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut/keep-first span rewriter (dedup.rewrite_duplicate_spans —
    the action step of Lee et al. ACL 2022's ExactSubstr dedup):
    every 20-token window occurring 2+ times keeps only its
    globally-first occurrence; all other occurrences' token ranges are
    cut and the surviving corpus is emitted per doc with conservation
    counters (n_tokens_out = n_tokens_in - n_tokens_cut)."""
    from topnotch_spark.operators.dedup import rewrite_duplicate_spans

    return rewrite_duplicate_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        span_tokens=20, min_occurrences=2,
    ).withColumnRenamed("id", "doc_id")


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full production dedup flow: near-dup pairs → connected
    components → keep the highest-quality doc per cluster."""
    from topnotch_spark.operators.cluster import keep_best_in_cluster
    from topnotch_spark.operators.dedup import minhash_lsh_dedup
    from topnotch_spark.operators.textqc import quality_scores

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.5, shingle_n=5
    )
    scores = quality_scores(docs, "doc_id", "text")
    return keep_best_in_cluster(pairs, scores, "quality_score", "doc_id")


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter("vec_id < 5"), k=10, dim=64)


def similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.similarity import srp_ann_topk

    emb = load(spark, sf_dir, "embeddings")
    # hamming_probes=1 pinned DELIBERATELY (r5 bench delta 1.19→2.02 s):
    # measured on this corpus (weak-similarity embeddings, best cos ≈
    # 0.33), radius-0 SRP recalls 0.00 of the exact top-10 while radius-1
    # multiprobe recalls 0.12 at ~1.5× the cost — without the probe the
    # cataloged query returns no true neighbors at all. The per-method
    # numbers live in the similarity_ann_recall report.
    return srp_ann_topk(
        emb, emb.filter("vec_id < 5"), k=10, n_planes=8, dim=64,
        hamming_probes=1,
    )


def coreset_kcenter_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (similarity.kcenter_select, Gonzalez
    1985 / Sener 2018): 12 farthest-point exemplars over the embedding
    table in exact micro-int cosine distances — the space-covering data
    selector; the emitted distance column is the coverage-radius
    curve."""
    from topnotch_spark.operators.similarity import kcenter_select

    return kcenter_select(
        load(spark, sf_dir, "embeddings"), k=12, dim=64
    )


def embedding_dim_stats_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile
    (similarity.embedding_dim_stats): dead-dim and scale-imbalance
    screen (micro-int exact sums) — the table to read before trusting
    the int8/PQ quantization audits."""
    from topnotch_spark.operators.similarity import embedding_dim_stats

    return embedding_dim_stats(load(spark, sf_dir, "embeddings"))


def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ query path, graded (similarity.ivfpq_recall):
    seeded 16-list IVF restricts each query to 4 probed lists, seeded
    8x16 PQ codes + ADC lookup tables score the candidates, exact top-10
    grades the pipeline — production recall is the PRODUCT of index and
    representation losses, which only the composed path shows."""
    from topnotch_spark.operators.similarity import ivfpq_recall

    return ivfpq_recall(
        load(spark, sf_dir, "embeddings"),
        dim=64,
        m=8,
        n_codes=16,
        n_centroids=16,
        n_probe=4,
        k=10,
        n_queries=5,
    )


def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization recall audit (similarity.pq_recall, Jégou
    2011): 8 subspaces × 16 seeded codes (~32× compression), ADC
    lookup-table scoring in exact micro-int sums, recall@10 of the PQ
    top-k vs the raw-double top-k per query — grades the PQ
    REPRESENTATION the way quantize_recall grades int8."""
    from topnotch_spark.operators.similarity import pq_recall

    return pq_recall(
        load(spark, sf_dir, "embeddings"),
        dim=64,
        m=8,
        n_codes=16,
        k=10,
        n_queries=5,
    )


def retrieval_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity reranking (similarity.mmr_rerank, Carbonell 1998):
    exact top-50 candidates per query, then 10 greedy rounds trading
    relevance against redundancy at lambda=0.7 — the de-duplicating step
    between retrieval and a context window. Every round's argmax runs on
    rounded similarities, so the full greedy trajectory is
    oracle-replayable."""
    from topnotch_spark.operators.similarity import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb,
        emb.filter("vec_id < 5"),
        k=10,
        n_candidates=50,
        lambda_milli=700,
        dim=64,
    )


def label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit over the labeled embedding table
    (similarity.label_knn_agreement): each vector's 5 nearest
    SRP-bucketed neighbors vote on its label; low agreement flags the
    mislabeled-example candidates. Every row is a query — the candidate
    join is the bucket equi-join with both sides corpus-sized, never
    all-pairs (the plan guard would reject a cartesian)."""
    from topnotch_spark.operators.similarity import label_knn_agreement

    return label_knn_agreement(
        load(spark, sf_dir, "embeddings"), k=5, n_planes=8, dim=64,
        min_agree=0.5,
    )


def contrastive_pairs_mined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining (similarity.contrastive_pairs): for 8
    anchor vectors, the 5 most-similar same-label positives and the 5
    hardest (most-similar different-label) negatives — the triplet
    fodder a labeled-embedding curation pipeline exports for
    contrastive/reward-model training. Broadcast anchors, one corpus
    scan scoring both kinds."""
    from topnotch_spark.operators.similarity import contrastive_pairs

    emb = load(spark, sf_dir, "embeddings")
    return contrastive_pairs(emb, emb.filter("vec_id < 8"), k=5, dim=64)


def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter("vec_id < 5"), k=10, n_centroids=16, n_probe=4,
        dim=64,
    )


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.textqc import token_stats

    return token_stats(load(spark, sf_dir, "documents"), "doc_id", "text")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.textqc import quality_scores

    return quality_scores(load(spark, sf_dir, "documents"), "doc_id", "text")


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.textqc import language_id

    return language_id(load(spark, sf_dir, "documents"), "doc_id", "text")


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topnotch_spark.operators.textqc import fingerprints

    return fingerprints(load(spark, sf_dir, "documents"), "doc_id", "text")


def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size char windows per document (LLM pre-tokenize
    / long-doc embedding split); zero-shuffle posexplode fan-out."""
    from topnotch_spark.operators.chunking import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), "doc_id", "text", size=400, overlap=100
    )


def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-50 tokens by TF with DF alongside."""
    from topnotch_spark.operators.textqc import vocab_topk

    return vocab_topk(load(spark, sf_dir, "documents"), "doc_id", "text", k=50)


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class prototypes / IVF coarse seeds),
    emitted as exploded scalar rows (label, n_vectors, pos, value) so
    every output column is hashable by a pandas canonicalizer — the
    array-returning ``label_centroids`` API is unchanged for library
    users; only this oracle-checked query flattens."""
    from topnotch_spark.operators.similarity import label_centroids

    cents = label_centroids(load(spark, sf_dir, "embeddings"), "label", "embedding")
    return cents.select(
        "label", "n_vectors", F.posexplode("centroid").alias("pos", "value")
    )


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents augmented with synthetic PII spans
    (the raw corpus has none — the augmentation makes counts non-zero
    and is mirrored verbatim in oracles.PII_AUGMENT_SQL)."""
    from topnotch_spark.operators.curation import pii_scrub

    docs = load(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" ssn 123-45-6789 tel 555-123-4567"),
        ).alias("text"),
    )
    return pii_scrub(aug, "doc_id", "text")


def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style drop-rule chain with per-doc failure reasons."""
    from topnotch_spark.operators.curation import quality_filter

    return quality_filter(load(spark, sf_dir, "documents"), "doc_id", "text")


SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25, "zh": 0.1}

# mixture_plan_sources fixture: skewed targets over the 20 documents
# sources (src10-19 deliberately untargeted -> allocation 0), a budget
# and repeat cap sized so several heavy targets SATURATE at sf0.01
# (cap = 1.5 epochs) while the light ones stay water-levelled
MIX_TARGETS_MILLI = {
    "src0": 300, "src1": 200, "src2": 150, "src3": 100,
    "src4": 50, "src5": 50, "src6": 50, "src7": 50, "src8": 50,
    "src9": 50,
}
MIX_BUDGET_TOKENS = 20_000
MIX_MAX_REPEAT_MILLI = 1_500


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli sample (md5-threshold)."""
    from topnotch_spark.operators.curation import stratified_sample

    return stratified_sample(
        load(spark, sf_dir, "documents"), "doc_id", "lang", SAMPLE_RATES
    )


def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, deterministic md5 order."""
    from topnotch_spark.operators.curation import stratified_topn

    return stratified_topn(load(spark, sf_dir, "documents"), "doc_id", "lang", 20)


def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document."""
    from topnotch_spark.operators.textqc import tfidf_keywords

    return tfidf_keywords(load(spark, sf_dir, "documents"), "doc_id", "text", k=3)


def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment with GLOBAL contiguous numbering —
    inherently serial (one single-partition window, WindowExec warns):
    a global exclusive prefix sum has no parallel decomposition that
    keeps shard ids contiguous. Fine to ~10^8 docs; the 100 TB path is
    ``pack_token_shards_partitioned``."""
    from topnotch_spark.operators.curation import pack_token_shards as pack

    return pack(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        budget=2000,
        global_ordering=True,
    )


def pack_token_shards_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shard-packing path: prefix sums run per ``source``
    partition in parallel (no single-partition WindowExec); shard_id is
    unique per (source, shard) — the layout training shards want anyway
    (shards nested under source/date dirs)."""
    from topnotch_spark.operators.curation import pack_token_shards as pack

    return pack(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        budget=2000,
        partition_col="source",
    )


def drift_ks_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS: finished vs open orders' total price.

    ``bins=None`` pins the exact path so the oracle result is
    data-independent (the library default is ``bins="auto"``, which
    switches to a bounded grid above 250k distinct values — the 100 TB
    behavior, demonstrated by ``drift_ks_binned``)."""
    from topnotch_spark.operators.drift import ks_statistic

    orders = load(spark, sf_dir, "orders")
    return ks_statistic(
        orders.filter(F.col("o_orderstatus") == "F"),
        orders.filter(F.col("o_orderstatus") != "F"),
        "o_totalprice",
        bins=None,
    )


BENCH_SOURCES = ["src0", "src1"]


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleanup (control chars, whitespace, case) with
    per-doc change flags — the pass that runs ahead of dedup."""
    from topnotch_spark.operators.curation import normalize_text

    return normalize_text(load(spark, sf_dir, "documents"), "doc_id", "text")


def fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity suite: one summary row per
    child→parent relation (orphans + NULL-FK counts)."""
    from topnotch_spark.operators.integrity import referential_integrity_suite

    return referential_integrity_suite([
        (
            "lineitem->orders",
            load(spark, sf_dir, "lineitem"),
            ["l_orderkey"],
            load(spark, sf_dir, "orders"),
            ["o_orderkey"],
        ),
        (
            "orders->customer",
            load(spark, sf_dir, "orders"),
            ["o_custkey"],
            load(spark, sf_dir, "customer"),
            ["c_custkey"],
        ),
        (
            "events->customer",
            load(spark, sf_dir, "events"),
            ["user_id"],
            load(spark, sf_dir, "customer"),
            ["c_custkey"],
        ),
    ])


def key_skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile of orders.o_custkey: the 10 hottest
    customers with their row share — the pre-join skew diagnostic."""
    from topnotch_spark.operators.skew import key_skew_topk

    return key_skew_topk(load(spark, sf_dir, "orders"), ["o_custkey"], k=10)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment near-dup pairs (|A∩B|/|A| ≥ 0.5 over
    5-gram shingles): catches subset/quoted docs Jaccard misses."""
    from topnotch_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        threshold=0.5, shingle_n=5,
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization of the embedding column,
    exploded to scalar rows — the 4× ANN-index compression step."""
    from topnotch_spark.operators.similarity import quantize_embeddings

    return quantize_embeddings(load(spark, sf_dir, "embeddings"), "vec_id", "embedding")


def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage screen: 5-gram overlap between the training
    slice (source ∉ BENCH_SOURCES) and the held-out slice."""
    from topnotch_spark.operators.curation import cross_corpus_overlap

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source").isin(BENCH_SOURCES))
    corpus = docs.filter(~F.col("source").isin(BENCH_SOURCES))
    return cross_corpus_overlap(corpus, bench, "doc_id", "text", shingle_n=5)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc duplicate-token / duplicate-3-gram fractions."""
    from topnotch_spark.operators.textqc import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"), "doc_id", "text")


def bpe_top_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration over documents (textqc.bpe_top_merges):
    the top-50 adjacent character pairs by vocabulary-weighted
    frequency — the statistic a distributed tokenizer trainer computes
    every round. Corpus reduces to vocab first (Heaps-sublinear), pair
    counting runs on vocab rows only."""
    from topnotch_spark.operators.textqc import bpe_top_merges

    return bpe_top_merges(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=50
    )


def bpe_merge_sequence_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE trainer loop over documents
    (textqc.bpe_merge_sequence): 8 rounds of count → greedy merge →
    recount, emitting the realized merge sequence — the
    tokenizer-construction audit bpe_top_merges only previews (that
    operator is round 1 of this loop). The corpus reduces to its
    vocabulary once; every round after is vocab-sized with
    checkpoint-truncated lineage, the connected-components loop shape."""
    from topnotch_spark.operators.textqc import bpe_merge_sequence

    return bpe_merge_sequence(
        load(spark, sf_dir, "documents"), "doc_id", "text", n_merges=8
    )


def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fit per source (textqc.bpe_fertility_by_group): train
    6 BPE merges on the whole documents corpus, apply them, and report
    per-source fertility (subwords per token) and chars-per-subword —
    the tokenizer-skew audit of a multilingual training mix. The apply
    step is a vocab join; the corpus is never rewritten."""
    from topnotch_spark.operators.textqc import bpe_fertility_by_group

    return bpe_fertility_by_group(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source",
        n_merges=6,
    )


def unigram_lm_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer trainer over documents
    (textqc.unigram_lm_vocab, Kudo 2018 — the SentencePiece
    counterpart of bpe_merge_sequence_docs): seed vocab from frequent
    substrings, 2 EM rounds of Viterbi-segment → re-estimate → prune,
    emitting the final ranked piece vocabulary with fixed-point
    milli-nat log-probs. Corpus reduces to its word vocabulary once;
    every EM round is vocab-sized with checkpoint-truncated lineage."""
    from topnotch_spark.operators.textqc import unigram_lm_vocab

    return unigram_lm_vocab(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        max_word_len=12, max_piece_len=4, seed_size=64, vocab_size=48,
        n_rounds=2,
    )


def unigram_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fit under the trained unigram-LM vocab
    (textqc.unigram_fertility_by_group): train the Kudo EM loop on the
    whole documents corpus, Viterbi-segment the distinct words once
    under the final piece probs, and roll fertility (subwords/token)
    and chars-per-subword up per source — read next to
    bpe_fertility_by_source, it is the BPE-vs-unigram tokenizer
    selection audit. Apply step joins distinct words only; the corpus
    is never rewritten."""
    from topnotch_spark.operators.textqc import unigram_fertility_by_group

    return unigram_fertility_by_group(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source",
        max_word_len=12, max_piece_len=4, seed_size=64, vocab_size=48,
        n_rounds=2,
    )


def bpe_segment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY step, BPE half (textqc.bpe_segment — the encode
    twin of unigram_segment_docs): train 8 merges on documents
    (bpe_merge_sequence's loop), then encode every document by folding
    the merge list over its words — per-doc n_tokens/n_subwords/
    fertility. In production the merge list is a previously persisted
    trainer output; here it is trained inline so the oracle replays
    train → apply end to end."""
    from topnotch_spark.operators.textqc import (
        bpe_corpus_vocab,
        bpe_merge_sequence,
        bpe_segment,
    )

    docs = load(spark, sf_dir, "documents")
    # train and apply share ONE persisted corpus-vocabulary reduction
    # (r13: each half otherwise re-scans + re-shuffles the corpus words)
    vocab = bpe_corpus_vocab(docs, "text")
    merges = bpe_merge_sequence(docs, "doc_id", "text", n_merges=8,
                                vocab=vocab)
    return bpe_segment(docs, merges, "doc_id", "text", words=vocab)


def unigram_segment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY step (textqc.unigram_segment): train the unigram
    vocab on documents (unigram_lm_vocab's EM loop), then segment every
    document with it — per-doc n_tokens/n_subwords/fertility. In
    production the vocab input is a previously persisted trainer
    output; here it is trained inline so the oracle replays end to
    end."""
    from topnotch_spark.operators.textqc import (
        unigram_lm_vocab,
        unigram_segment,
        word_counts,
    )

    docs = load(spark, sf_dir, "documents")
    # train and apply share ONE persisted (word, wc) corpus reduction
    # (r13: each half otherwise re-scans + re-shuffles the corpus words)
    wc = word_counts(docs, "text", max_word_len=12)
    vocab = unigram_lm_vocab(
        docs, "doc_id", "text", max_word_len=12, max_piece_len=4,
        seed_size=64, vocab_size=48, n_rounds=2, words=wc,
    )
    return unigram_segment(docs, vocab, "doc_id", "text",
                           max_piece_len=4, max_word_len=12, words=wc)


def wordpiece_segment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third tokenizer family end-to-end (textqc.wordpiece_vocab +
    wordpiece_segment): frequency-seeded WordPiece-style vocabulary
    (every char + top-48 substrings) applied with the greedy
    longest-match-first walk BERT uses — per-doc n_tokens/n_subwords/
    fertility, output-compatible with unigram_segment_docs and
    bpe_segment_docs so the three families are drop-in comparable."""
    from topnotch_spark.operators.textqc import (
        word_counts,
        wordpiece_segment,
        wordpiece_vocab,
    )

    docs = load(spark, sf_dir, "documents")
    # train and apply share ONE persisted (word, wc) corpus reduction
    # (r13: each half otherwise re-scans + re-shuffles the corpus words)
    wc = word_counts(docs, "text", max_word_len=12)
    vocab = wordpiece_vocab(
        docs, "doc_id", "text", max_piece_len=4, vocab_size=48,
        max_word_len=12, words=wc,
    )
    return wordpiece_segment(
        docs, vocab, "doc_id", "text", max_piece_len=4, max_word_len=12,
        words=wc,
    )


def wordpiece_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source tokenizer fit under the trained WordPiece-style vocab
    (textqc.wordpiece_fertility_by_group): train the char + top-48
    substring vocabulary on the whole documents corpus, greedy-longest-
    match-walk the distinct words once, and roll fertility
    (subwords/token) and chars-per-subword up per source — the third
    column of the tokenizer-selection table next to
    bpe_fertility_by_source and unigram_fertility_by_source, so all
    three families are per-slice comparable. Walk touches distinct
    words only; the corpus is never rewritten."""
    from topnotch_spark.operators.textqc import (
        wordpiece_fertility_by_group,
    )

    return wordpiece_fertility_by_group(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source",
        max_piece_len=4, vocab_size=48, max_word_len=12,
    )


def cross_perplexity_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-corpus LM filter (textqc.cross_perplexity):
    add-1 unigram LM trained on the lang='en' documents slice, every
    document scored against it — n_tokens, n_oov, oov_rate,
    avg_neg_logprob per doc. Unlike text_unigram_logprob (self-corpus
    fluency), the model and the scored corpus are different slices, so
    out-of-reference-distribution docs surface. Reference vocab and
    target token spine each persisted; two exploded-token shuffles."""
    from topnotch_spark.operators.textqc import cross_perplexity

    docs = load(spark, sf_dir, "documents")
    return cross_perplexity(
        docs, docs.filter(F.col("lang") == "en"), "doc_id", "text", k=1.0
    )


def mixture_plan_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable training-mix allocation (curation.mixture_allocate):
    waterfill a 20k-token budget over the documents sources toward the
    skewed MIX_TARGETS_MILLI distribution under a 1.5-epoch repeat cap
    — heavy targets saturate at their cap, the surplus flows to the
    rest preserving target ratios, untargeted sources allocate 0. All
    integer cross-product arithmetic; one corpus scan, everything else
    on the 20-row source frame."""
    from topnotch_spark.operators.curation import mixture_allocate

    return mixture_allocate(
        load(spark, sf_dir, "documents"), "source", "text",
        MIX_TARGETS_MILLI, MIX_BUDGET_TOKENS,
        max_repeat_milli=MIX_MAX_REPEAT_MILLI,
    )


def langid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-heuristic language-ID accuracy vs the documents table's
    trusted ``lang`` label (textqc.langid_accuracy): per-language
    precision/recall/f1 of the LANG_MARKERS classifier — the documented
    boundary of the lexicon heuristic (a real deployment would swap in
    fastText; this row keeps the substitute honest). Single corpus
    scan; all aggregation on the ≤|langs|² confusion frame."""
    from topnotch_spark.operators.textqc import langid_accuracy as _acc

    return _acc(load(spark, sf_dir, "documents"), "doc_id", "text", "lang")


def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty rate (textqc.ngram_novelty): the
    share of each document's distinct word trigrams that no other
    document contains — the diversity-side twin of the dedup family
    (dedup asks who repeats whom; novelty asks what each doc adds to
    the mix). Shingle stream persisted once; df-count + join-back on
    the shingle key; skew-safe (no pair join, viral shingles are one
    counter row)."""
    from topnotch_spark.operators.textqc import ngram_novelty

    return ngram_novelty(load(spark, sf_dir, "documents"), "doc_id", "text")


def corpus_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-diversity indices per document source
    (curation.corpus_diversity): Shannon entropy (bits), Gini–Simpson,
    and the Gini coefficient of the per-source lang distribution — the
    scalar complement of source_lang_mix's raw shares when deciding
    which sources need lang-balancing before the mix. One map-side
    groupBy over the scan; everything after runs on the |sources|×|langs|
    rollup frame."""
    from topnotch_spark.operators.curation import corpus_diversity

    return corpus_diversity(
        load(spark, sf_dir, "documents"), "source", "lang"
    )


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published Gopher quality-rule set (Rae et al. 2021 A1.1), one
    boolean per rule + conjunctive keep, per document. Stopword markers
    are the corpus's English-marker set (the synthetic vocabulary), with
    the published thresholds otherwise."""
    from topnotch_spark.operators.textqc import LANG_MARKERS, gopher_rules

    return gopher_rules(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        stopwords=LANG_MARKERS["en"], min_stop_hits=1,
    )


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction: the most recent event per user (ts desc,
    event_id desc tiebreak)."""
    from topnotch_spark.operators.temporal import latest_per_key

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return latest_per_key(ev, ["user_id"], "ts", "event_id")


def outliers_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status z-score outlier flags on order totals."""
    from topnotch_spark.operators.profile import zscore_outliers

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return zscore_outliers(orders, "o_totalprice", ["o_orderstatus"], k=3.0)


def customers_without_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant-entity / referential check via LEFT ANTI join: customers
    with no event activity. The anti join is the DataFrame-native
    NOT EXISTS — Catalyst plans it as a broadcast/hash anti join (no
    row explosion, null-safe), the canonical shape for orphan and
    dormancy QC at any scale."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    events = load(spark, sf_dir, "events").select("user_id")
    return cust.join(
        events, cust.c_custkey == events.user_id, "left_anti"
    )


def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew tooling under the oracle: revenue per nation computed through
    a SALTED orders⋈customer join — the result must be row-identical to
    the plain-SQL join (the salt spreads hot keys without changing
    semantics; the DuckDB twin is the unsalted join)."""
    from topnotch_spark.operators.skew import salted_join

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        cust,
        on=["c_custkey"],
        salt=8,
    )
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing: parse the JSON ``props`` column and
    aggregate the extracted field per event type. ``get_json_object`` is
    a JVM expression (codegen'd, no Python); at scale prefer parsing
    ONCE with ``from_json`` into a struct column over repeated
    ``get_json_object`` calls per field."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            # int sums are exact, so the derived avg is deterministic
            F.round(F.sum("k") / F.count(F.lit(1)), 6).alias("avg_k"),
        )
    )


def timeseries_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily resample of events per type (dense spine)."""
    from topnotch_spark.operators.temporal import resample_timeseries

    return resample_timeseries(
        load(spark, sf_dir, "events"), "ts", "event_type", "value", "1 day"
    )


def drift_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB KS path: same statistic over a 32-bin reference grid —
    ECDF input bounded by bin count instead of distinct-value count."""
    from topnotch_spark.operators.drift import ks_statistic

    orders = load(spark, sf_dir, "orders")
    return ks_statistic(
        orders.filter(F.col("o_orderstatus") == "F"),
        orders.filter(F.col("o_orderstatus") != "F"),
        "o_totalprice",
        bins=32,
    )


def salt_plan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew salting prescription (skew.salt_plan): per hot supplier key
    the exact-integer salt factor that splits it to the target task
    size — the step between key_skew_orders (detection) and salted_join
    (application)."""
    from topnotch_spark.operators.skew import salt_plan

    return salt_plan(
        load(spark, sf_dir, "lineitem"),
        ["l_suppkey"],
        target_rows_per_task=600,
        max_salt=4,
    )


def lsh_tuning_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter S-curve table (dedup.lsh_tuning): every
    (bands, rows) factorization of the 16-hash MinHash config evaluated
    at the catalog's 0.5 Jaccard threshold ±0.1 — the zero-scan
    planning step before the banded dedup; dedup_minhash_recall then
    measures the pick."""
    from topnotch_spark.operators.dedup import lsh_tuning

    del sf_dir  # pure closed-form planning table — no corpus input
    return lsh_tuning(spark, num_hashes=16, threshold=0.5)


def fd_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (integrity.fd_check): does
    o_orderkey → o_orderpriority hold (a key must), does
    o_custkey → o_orderstatus (it should NOT — customers hold orders in
    several states)? One summary row per claimed dependency — the
    denormalization-drift detector next to fk_integrity."""
    from topnotch_spark.operators.integrity import fd_check

    return fd_check(
        load(spark, sf_dir, "orders"),
        [
            ("o_orderkey", "o_orderpriority"),
            ("o_custkey", "o_orderstatus"),
        ],
    )


def source_drift_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KS drift ranking (drift.groupwise_ks): every source's
    doc-length distribution tested against its complement on one shared
    32-bin grid — the which-slice-drifted drill-down when a corpus-level
    monitor trips; integer-exact ECDF gaps per group."""
    from topnotch_spark.operators.drift import groupwise_ks

    return groupwise_ks(
        load(spark, sf_dir, "documents"), "source", "n_chars", bins=32
    )


def cusum_value_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM mean-shift detection (temporal.cusum_changepoints,
    Page 1954): sustained small drifts in event values alarm long
    before any single point is a z-score outlier — the shift detector
    next to anomaly_value_zscore's spike detector; integer numerator
    form, two window passes."""
    from topnotch_spark.operators.temporal import cusum_changepoints

    return cusum_changepoints(
        load(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_id",
        "value",
        drift_k=0.5,
        threshold_h=3.0,
        decimals=2,
    )


def user_sequence_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence likelihood under the corpus Markov model
    (temporal.sequence_likelihood): every user's ordered event stream
    scored by the add-1-smoothed global transition matrix — users who
    keep taking rare transitions (bots, broken clients) surface with
    high avg_neg_logprob while each individual event looks normal."""
    from topnotch_spark.operators.temporal import sequence_likelihood

    return sequence_likelihood(
        load(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_id",
        "event_type",
    )


def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (textqc.vocab_coverage): corpus-token
    coverage of the top-k vocabulary at k = 1..2^10 powers — the
    empirical what-vocab-size-covers-99% table behind the Zipf/Heaps
    fits and BPE/unigram vocab sizing."""
    from topnotch_spark.operators.textqc import vocab_coverage

    return vocab_coverage(
        load(spark, sf_dir, "documents"), "text", max_log2_k=10
    )


def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (textqc.c4_rules, Raffel 2020 §2.2): per-doc
    line-retention counts, sentence counts, lorem-ipsum/brace flags, and
    the conjunctive keep — the published C4 filter bundle next to the
    Gopher rules (on this punctuation-free synthetic corpus the rules
    reject everything, which the oracle row pins exactly)."""
    from topnotch_spark.operators.textqc import c4_rules

    return c4_rules(load(spark, sf_dir, "documents"), "doc_id", "text")


def zipf_fit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary
    (textqc.zipf_fit): least squares through (ln rank, ln freq) of the
    top-200 tokens in exact milli-nat integer sums — natural text sits
    near alpha 1; spam/templated corpora deviate. The rank-frequency
    SHAPE screen next to token_entropy's concentration summary."""
    from topnotch_spark.operators.textqc import zipf_fit

    return zipf_fit(load(spark, sf_dir, "documents"), "text", vocab_k=200)


def heaps_fit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (textqc.heaps_fit): V(N) ≈ K·N^β
    over 10 id-grid corpus prefixes, milli-nat integer regression — the
    growth-shape companion to zipf_fit_docs and the planning curve for
    tokenizer vocab sizing."""
    from topnotch_spark.operators.textqc import heaps_fit

    return heaps_fit(
        load(spark, sf_dir, "documents"), "doc_id", "text", n_checkpoints=10
    )


def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (curation.dsir_weights, Xie 2023):
    hashed unigram+bigram bucket models — p from the en slice, q from
    the whole corpus — fixed-point log-ratio weights per doc, and the
    deterministic Gumbel-top-100 selection flag. The published
    target-like data selector as a catalog query."""
    from topnotch_spark.operators.curation import dsir_weights

    docs = load(spark, sf_dir, "documents")
    # target_pred (r13): the en slice is a predicate over the same
    # table, so the p model folds out of the one tokenized pass instead
    # of re-tokenizing the slice
    return dsir_weights(
        docs.select("doc_id", "text", "lang"),
        None,
        "doc_id",
        "text",
        n_buckets=512,
        k_select=100,
        target_pred=F.col("lang") == "en",
    )


def nb_en_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes classifier bootstrap (textqc.nb_train_score): train
    token milli-nat log-odds on the lang='en' label, score every
    labeled doc with its own model, and emit the per-doc verdict —
    training-set accuracy is the deploy-readiness floor (on this
    synthetic corpus the text carries no language signal, so the audit
    SHOWS the classifier can barely beat the prior — the measured
    boundary, same policy as langid_accuracy)."""
    from topnotch_spark.operators.textqc import nb_train_score

    docs = load(spark, sf_dir, "documents").withColumn(
        "is_en", F.col("lang") == "en"
    )
    return nb_train_score(docs, "doc_id", "text", "is_en")


def stupid_backoff_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM filter (textqc.stupid_backoff, Brants
    2007): count tables from the en slice, every document scored with
    backoff diagnostics — the word-order step past cross_perplexity_en's
    unigram model on the same reference slice."""
    from topnotch_spark.operators.textqc import stupid_backoff

    docs = load(spark, sf_dir, "documents")
    return stupid_backoff(
        docs.select("doc_id", "text"),
        docs.filter(F.col("lang") == "en"),
        "doc_id",
        "text",
    )


def drift_wasserstein_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned earth-mover drift (drift.wasserstein_binned): W1 distance
    between finished and unfinished orders' totalprice on a 32-bin
    reference grid — the integral-of-ECDF-gap companion to the KS max
    and the bucket-local PSI, integer-exact cumulative flows."""
    from topnotch_spark.operators.drift import wasserstein_binned

    orders = load(spark, sf_dir, "orders")
    return wasserstein_binned(
        orders.filter(F.col("o_orderstatus") == "F"),
        orders.filter(F.col("o_orderstatus") != "F"),
        "o_totalprice",
        n_buckets=32,
    )


def t_closeness_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-closeness privacy audit (integrity.t_closeness): variational
    distance between each (nation, acctbal-band) group's mktsegment
    distribution and the global one — the skewness-attack gate above
    k-anonymity/l-diversity; flags groups with distance > 0.2."""
    from topnotch_spark.operators.integrity import t_closeness

    cust = load(spark, sf_dir, "customer").withColumn(
        "acctbal_band", F.floor(F.col("c_acctbal") / 1000)
    )
    return t_closeness(
        cust, ["c_nationkey", "acctbal_band"], "c_mktsegment", t=0.2
    )


def asof_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event: the user's latest click at-or-before it
    (merge-sorted as-of join — one shuffle, no range-join explosion).
    Clicks are deduped to one per (user, ts) for engine-independent tie
    behavior."""
    from topnotch_spark.operators.temporal import asof_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter("event_type = 'error'").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter("event_type = 'click'")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("__rn__", F.row_number().over(w))
        .filter("__rn__ = 1")
        .drop("__rn__")
    )
    return asof_join(
        errors,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        suffix="_click",
    )


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of same-user events within 1 hour (bucket-banded range
    self-join: fan-out bounded to adjacent tolerance-width buckets)."""
    from topnotch_spark.operators.temporal import range_join_pairs

    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    return range_join_pairs(
        ev, on=["user_id"], ts_col="ts", id_col="event_id",
        tolerance_seconds=3600,
    )


def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level media analytics over a binary column (documents text
    encoded as UTF-8 blobs — the testdata has no real media table, but the
    operator is byte-agnostic). Exercises Arrow-batched mapInPandas."""
    from topnotch_spark.operators.multimodal import byte_stats

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("content")
    )
    return byte_stats(docs, "content", keep_cols=("doc_id",))


def multimodal_blob_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media-level dedup: md5 over the raw BYTES (not text), the
    standard first pass over an image/audio corpus — format-agnostic,
    JVM-side, one shuffle. Reuses keyed_dedup, which is column-type
    agnostic."""
    from topnotch_spark.operators.dedup import keyed_dedup

    blobs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("content")
    )
    return keyed_dedup(blobs, "doc_id", F.md5(F.col("content")), "blob_key")


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup image pairs (multimodal.phash_near_dups):
    integer-exact aHash over 8x8 TNIMG blobs, banded-LSH candidates,
    exact Hamming verify — the near-dup complement to
    multimodal_blob_dedup's exact byte hash. The testdata has no media
    table, so each document gets a deterministic synthetic image built
    JVM-SIDE as real TNIMG bytes (header + packed pixels, decoded back
    by the operator's mapInPandas stub path): pixel k is bright/dark by
    bit k of md5(g)||md5(g||'x') where g = doc_id DIV 8 — an 8-image
    "burst" shares each base pattern, so LSH buckets stay SELECTIVE
    (size ~8) instead of corpus-fraction-sized, the realistic dup-rate
    regime. Each image then inverts 1 + doc_id%3 pixels (at
    c*doc_id % 64 for c in 1,31,53), so within-burst pairs sit at
    hamming 2-6: the ≤3 pairs are kept (banding guarantees recall to
    bands-1 = 3), the rest exercise the verify filter, and cross-burst
    patterns differ in ~32 bits."""
    from topnotch_spark.operators.multimodal import phash_near_dups

    return phash_near_dups(
        _synthetic_tnimg_docs(spark, sf_dir), "doc_id", "content"
    )


def dedup_incremental_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental perceptual NEAR-dup ingestion for MEDIA — the image
    leg of the incremental family (multimodal.build_phash_index +
    dedup_batch_against_phash_index): even doc_ids form the accepted
    image corpus whose bucket/signature table is all that persists,
    odd doc_ids arrive as the new batch, are hashed (integer-exact
    ahash over the synthetic TNIMG blobs), routed by shared
    (band_idx, bucket) membership, and verified with exact Hamming —
    the old corpus's blobs are never re-decoded. Per batch blob:
    n_candidates, best match, best hamming, keep iff nothing within
    max_hamming=3 (= bands-1, the pigeonhole-exact config)."""
    from topnotch_spark.operators.multimodal import (
        build_phash_index,
        dedup_batch_against_phash_index,
    )

    docs = _synthetic_tnimg_docs(spark, sf_dir)
    index = build_phash_index(
        docs.filter("doc_id % 2 = 0"), "doc_id", "content"
    )
    return dedup_batch_against_phash_index(
        docs.filter("doc_id % 2 = 1"), index, "doc_id", "content",
        max_hamming=3,
    )


def _synthetic_tnimg_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, content) with one deterministic synthetic TNIMG blob per
    document — the shared fixture of multimodal_phash_dedup /
    multimodal_phash_recall (see multimodal_phash_dedup's docstring for
    the burst/flip design)."""
    gs = F.expr("CAST(doc_id DIV 8 AS STRING)")
    hex64 = F.concat(F.md5(gs), F.md5(F.concat(gs, F.lit("x"))))
    d = F.col("doc_id")
    # mark-string formulation (r8 perf, the shared fixture rewrite):
    # translate hex digits to H/L pixel marks, overwrite the 1-3
    # flipped positions with the inverse of the ORIGINAL mark
    # (idempotent under coinciding positions, matching the original OR
    # predicate), expand via one regexp chain — replaces 64 CASE
    # branches; bytes identical (strict-hash re-verified both SFs).
    marks = F.translate(hex64, "0123456789abcdef", "LLLLLLLLHHHHHHHH")

    def flip_edit(running, pos_expr, cond):
        pos = (pos_expr + 1).cast("int")
        inv = F.when(
            marks.substr(pos, F.lit(1)) == "H", F.lit("h")
        ).otherwise(F.lit("l"))
        edited = F.concat(
            running.substr(F.lit(1), pos - 1),
            inv,
            running.substr(pos + 1, F.lit(64)),
        )
        return F.when(cond, edited).otherwise(running)

    flipped = flip_edit(marks, d % 64, F.lit(True))
    flipped = flip_edit(flipped, d * 31 % 64, d % 3 >= 1)
    flipped = flip_edit(flipped, d * 53 % 64, d % 3 == 2)
    pix = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(flipped, "H", "E0"), "L", "20"
            ),
            "h", "1F",
        ),
        "l", "DF",
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.unhex(F.concat(F.lit("544E494D4700080008"), pix)).alias("content"),
    )


def multimodal_phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-recall report for the perceptual-hash near-dup pipeline
    (multimodal.phash_recall over the same synthetic TNIMG corpus as
    multimodal_phash_dedup): exact all-pairs Hamming ≤ 3 vs the 4-band
    16-bit LSH's found pairs. With max_hamming = bands - 1 the
    pigeonhole bound says recall = 1.0 — this row proves it with data,
    the media counterpart of dedup_minhash_recall. Exact side is a
    broadcast-NLJ over the tiny signature table only."""
    from topnotch_spark.operators.multimodal import phash_recall

    return phash_recall(
        _synthetic_tnimg_docs(spark, sf_dir), "doc_id", "content"
    )


def quantile_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV quantile-sketch verdict over lineitem extendedprice
    (sketch.kmv_accuracy): the k=256 bottom-hash sample estimates
    p25/p50/p75/p90/p99, one exact counting pass grades each estimate's
    true rank, within_bound asserts the 3/sqrt(k) rank-error envelope.
    Deterministic md5 sampling means the DuckDB oracle reproduces the
    sample — and the verdict — bit-exactly. Production path persists
    the 256-row sketch and skips the grading scan (the
    profile_lineitem_approx policy)."""
    from topnotch_spark.operators.sketch import kmv_accuracy

    li = load(spark, sf_dir, "lineitem").select(
        F.concat_ws(
            "#", F.col("l_orderkey"), F.col("l_linenumber")
        ).alias("rid"),
        "l_extendedprice",
    )
    return kmv_accuracy(
        li, "rid", "l_extendedprice",
        qs=(0.25, 0.5, 0.75, 0.9, 0.99), k=256,
    )


def cms_join_size_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimate from Count-Min sketches
    (sketch.cms_join_size, the AMS-style inner-product estimator):
    |orders ⋈ events on custkey = user_id| predicted from two
    dimension-sized sketch tables, graded against the exact per-key
    counts join — the can-I-afford-this-join planner audit."""
    from topnotch_spark.operators.sketch import cms_join_size

    orders = load(spark, sf_dir, "orders").select("o_custkey")
    events = load(spark, sf_dir, "events").select("user_id")
    return cms_join_size(
        orders,
        F.col("o_custkey").cast("string"),
        events,
        F.col("user_id").cast("string"),
        width=1024,
        depth=4,
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the 10 hottest order customers
    (sketch.cms_build/cms_query): the mergeable heavy-hitter sketch next
    to the HLL distinct sketch and the Bloom seen-set — build once per
    ingest batch, sum cells to merge, estimate without re-reading the
    corpus. Unlike the HLL this sketch is md5-double-hash deterministic,
    so the DuckDB oracle reproduces every cell and estimate bit-exactly.
    Output (o_custkey, exact_count, est_count, overestimate) shows the
    one-sided error live: est_count >= exact_count always, excess
    bounded by colliding keys (~N/width per row, min over depth)."""
    from topnotch_spark.operators.dedup import _persist
    from topnotch_spark.operators.sketch import cms_build, cms_query

    orders = load(spark, sf_dir, "orders").select("o_custkey")
    key = F.col("o_custkey").cast("string")
    cms = cms_build(orders, key, width=1024, depth=4)
    counts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    # TakeOrdered top-10 (never a global sort); persisted — it feeds the
    # probe AND the final join-back
    top = _persist(
        counts.orderBy(
            F.col("exact_count").desc(), F.col("o_custkey").asc()
        ).limit(10)
    )
    est = cms_query(top, "o_custkey", key, cms, width=1024, depth=4)
    return top.join(est, "o_custkey").select(
        "o_custkey",
        "exact_count",
        "est_count",
        (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
    )


def retrieval_rrf_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (retrieval.rrf_fuse,
    Cormack et al. 2009): the BM25 sparse run over documents fused with
    a dense cosine top-k run over embeddings for the same query ids —
    rank-space fusion needs no score calibration, and nano-unit integer
    contribution sums keep the fused ranking engine-exact. Fusion cost
    is |queries|·k·2 rows regardless of corpus size; the runs themselves
    are the scale path (each already audited)."""
    from topnotch_spark.operators.retrieval import bm25_topk, rrf_fuse
    from topnotch_spark.operators.similarity import brute_force_topk

    sparse = bm25_topk(
        spark, load(spark, sf_dir, "documents"), BM25_QUERIES, k=10
    )
    emb = load(spark, sf_dir, "embeddings")
    qids = [qid for qid, _ in BM25_QUERIES]
    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=10, dim=64
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([sparse, dense], k=60, topk=10)


# Pretrained linear quality model for text_classifier_quality: integer
# milli-weights (the reproducible-inference quantization) over the
# corpus vocabulary — stands in for an offline-trained fastText/logreg
# curated-vs-crawl filter. Shared with the DuckDB oracle literally.
CLASSIFIER_WEIGHTS: dict[str, int] = {
    "spark": 40, "vector": 30, "join": 25, "window": 20, "query": 15,
    "merge": 10, "hash": 8,
    "slow": -35, "big": -12, "the": -8, "a": -6,
}
CLASSIFIER_BIAS_MILLI = -150


def text_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (textqc.linear_classifier_score):
    every document scored by a pretrained linear classifier — integer
    milli-weight dot product over term frequencies, keep = logit > 0.
    The CCNet/DCLM-style stage between heuristic rules and an LLM
    judge; one explode + broadcast model join + map-side-combined
    groupBy, bit-exact on any engine."""
    from topnotch_spark.operators.textqc import linear_classifier_score

    return linear_classifier_score(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        CLASSIFIER_WEIGHTS,
        bias_milli=CLASSIFIER_BIAS_MILLI,
    )


def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming approximate distinct users per tumbling hour via the
    DETERMINISTIC md5-register HLL (streaming/ops.hll_register_stream):
    state per window is 256 register maxima — never a user set — and
    the exact-integer harmonic estimate runs on the materialized
    |windows|x256 result table. MAX is order/batch-insensitive and the
    registers are md5-derived, so stream == batch == DuckDB oracle
    bit-for-bit (the engine-specific DataSketches family stays
    test-gated; this one is hash-gated like everything else)."""
    from topnotch_spark.streaming import run_stream_to_table, stream_from_parquet
    from topnotch_spark.streaming.ops import (
        events_replay_dir,
        hll_register_stream,
        windowed_distinct_estimate,
    )

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    regs = run_stream_to_table(
        hll_register_stream(stream, window_duration="1 hour"),
        output_mode="complete",
        state_partitions=6,
    )
    return windowed_distinct_estimate(regs)


def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank item importance over the part co-purchase graph
    (graph.cooccurrence_edges + graph.pagerank): 8 fixed-point rounds,
    damping 17/20, ranks as BIGINTs scaled by 1e12 — every rank
    bit-reproducible by the oracle's chained integer CTEs. Each round
    broadcasts the node-sized shares frame into the dst-partitioned
    edge cache — exchange-free aggregation (SCALE.md §3); lineage
    truncated like connected_components. The demo ranks the SUPPORT>=2
    affinity graph (pairs co-purchased at least twice — the same graph
    the triangle entry uses): the raw support-1 graph (avg degree ~115,
    1.2M edges at sf0.1) runs the identical plan but costs ~26 s cold
    per bench rep; that dense path stays exercised by the operator unit
    tests and available via min_support=1."""
    from topnotch_spark.operators.graph import cooccurrence_edges, pagerank

    edges = cooccurrence_edges(
        load(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        max_basket_items=12,
        min_support=2,
    )
    return pagerank(edges, iters=8).withColumnRenamed("node", "part_id")


def graph_communities_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the part co-purchase graph
    (graph.label_propagation): 4 synchronous rounds, pair_count-weighted
    votes, min-label tie-break — the density-cluster complement to the
    pagerank/triangle entries on the same support>=2 graph. Every round
    broadcasts the node-sized label frame into the src-partitioned edge
    cache: zero per-round exchanges."""
    from topnotch_spark.operators.graph import (
        cooccurrence_edges,
        label_propagation,
    )

    edges = cooccurrence_edges(
        load(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        max_basket_items=12,
        min_support=2,
    )
    return label_propagation(
        edges, iters=4, weight_col="pair_count"
    ).withColumnRenamed("node", "part_id")


def graph_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core backbone of the part co-purchase graph (graph.k_core):
    synchronous peeling rounds delete sub-k-degree nodes until stable —
    the dense-engagement extraction degree alone cannot make; emits
    full-graph degree, membership, and within-core degree per node."""
    from topnotch_spark.operators.graph import cooccurrence_edges, k_core

    edges = cooccurrence_edges(
        load(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        max_basket_items=12,
        min_support=2,
    )
    return k_core(edges, k=4, max_rounds=8).withColumnRenamed(
        "node", "part_id"
    )


def graph_ppr_related_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-item retrieval by random walk with restart
    (graph.personalized_pagerank): teleport mass goes only to the 5
    most-ordered parts (distinct-basket count desc, part asc — a
    TakeOrdered seed frame joined in, never a collected driver list),
    and each node's damped mass splits across out-edges proportional to
    the INTEGER co-purchase count (per-edge floor division — exact).
    Same exchange-free per-round shape as graph_pagerank_parts; ranks
    answer "which parts does the affinity graph pull toward these five
    anchors"."""
    from topnotch_spark.operators.graph import (
        basket_items,
        cooccurrence_edges,
        personalized_pagerank,
    )

    li = load(spark, sf_dir, "lineitem")
    # one persisted (order, part) distinct feeds BOTH the edge build and
    # the seed ranking (r13) — previously the seed frame re-ran the same
    # fact-table distinct the edge build had already materialized
    items = basket_items(li, "l_orderkey", "l_partkey")
    edges = cooccurrence_edges(
        li, "l_orderkey", "l_partkey", max_basket_items=12, min_support=2,
        items=items,
    )
    seeds = (
        items.groupBy("__i__")
        .agg(F.count(F.lit(1)).alias("__cnt__"))
        .orderBy(F.col("__cnt__").desc(), F.col("__i__").asc())
        .limit(5)
        .select(F.col("__i__").alias("node"))
    )
    return personalized_pagerank(
        edges, seeds, iters=8, weight_col="pair_count"
    ).withColumnRenamed("node", "part_id")


def graph_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts + local clustering coefficient over the
    min-support-2 co-purchase graph (graph.triangle_counts): ordered
    wedges a<b<c closed by the (a,c) edge — join size is the orientation
    degrees' C(d,2) sum, never |nodes|² (Suri & Vassilvitskii, WWW'11).
    The support threshold is the density valve: it keeps the wedge set
    sparse on a co-occurrence graph whose raw density is avg-degree
    ~115."""
    from topnotch_spark.operators.graph import cooccurrence_edges, triangle_counts

    edges = cooccurrence_edges(
        load(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        max_basket_items=12,
        min_support=2,
    )
    return triangle_counts(edges).withColumnRenamed("node", "part_id")


def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs (multimodal.audio_near_dups): integer-exact
    energy-envelope fingerprint over TNAUD blobs (32 frames x 2 samples,
    bit = 32·Σs² > total energy), banded-LSH candidates, exact Hamming
    verify — the audio twin of multimodal_phash_dedup. Each document
    gets a deterministic 64-sample synthetic clip built JVM-SIDE as
    real TNAUD bytes (magic + 16 kHz rate + length + samples, decoded
    back by the operator's mapInPandas stub path): frame f is loud
    (sample 100) iff hex digit f of md5(burst||'aud') >= 'c' (biased
    so a single flipped sample cannot sit at the energy mean), quiet
    (sample 10) otherwise, burst = doc_id DIV 8; each clip then inverts
    1 + doc_id%3 samples (at c*doc_id % 64 for c in 1,37,59). Flips on
    quiet frames flip that frame's bit, so within-burst pairs span
    hamming 0-6: ≤3 kept (banding guarantees recall to bands-1 = 3),
    the rest exercise the verify; cross-burst envelopes differ in ~8
    loud-frame positions."""
    from topnotch_spark.operators.multimodal import audio_near_dups

    return audio_near_dups(
        _synthetic_tnaud_docs(spark, sf_dir), "doc_id", "content"
    )


def dedup_incremental_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental energy-envelope NEAR-dup ingestion for AUDIO — the
    audio leg of the incremental family (multimodal.build_audio_index +
    dedup_batch_against_audio_index over the shared generic
    dedup.build_bitsig_index core): even doc_ids form the accepted clip
    corpus whose bucket/signature table is all that persists, odd
    doc_ids arrive as the new batch, are fingerprinted (integer-exact
    frame energies over the synthetic TNAUD clips), routed by shared
    (band_idx, bucket) membership, and verified with exact Hamming —
    old clips are never re-decoded. Per batch clip: n_candidates, best
    match, best hamming, keep iff nothing within max_hamming=3
    (= bands-1, pigeonhole-exact)."""
    from topnotch_spark.operators.multimodal import (
        build_audio_index,
        dedup_batch_against_audio_index,
    )

    clips = _synthetic_tnaud_docs(spark, sf_dir)
    index = build_audio_index(
        clips.filter("doc_id % 2 = 0"), "doc_id", "content"
    )
    return dedup_batch_against_audio_index(
        clips.filter("doc_id % 2 = 1"), index, "doc_id", "content",
        max_hamming=3,
    )


def _synthetic_tnaud_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, content) with one deterministic synthetic TNAUD clip per
    document — the shared fixture of multimodal_audio_dedup /
    dedup_incremental_audio (see multimodal_audio_dedup's docstring for
    the burst/flip construction)."""
    gs = F.expr("CAST(doc_id DIV 8 AS STRING)")
    h32 = F.md5(F.concat(gs, F.lit("aud")))
    d = F.col("doc_id")
    # mark-string formulation (r8 perf, same rewrite as the video
    # fixture): one L/q mark per hex digit via translate, each mark
    # doubled to its 2 samples, the 1-3 flipped positions overwritten
    # with the INVERSE of the ORIGINAL mark (idempotent when flip
    # positions coincide, matching the original OR predicate), one
    # regexp chain expands marks to sample hex. Replaces 64 CASE
    # branches; bytes identical (strict-hash re-verified both SFs).
    marks = F.regexp_replace(
        F.translate(h32, "0123456789abcdef", "qqqqqqqqqqqqLLLL"),
        "(.)",
        "$1$1",
    )

    def flip_edit(running, pos_expr, cond):
        pos = (pos_expr + 1).cast("int")
        inv = F.when(
            marks.substr(pos, F.lit(1)) == "L", F.lit("l")
        ).otherwise(F.lit("Q"))
        edited = F.concat(
            running.substr(F.lit(1), pos - 1),
            inv,
            running.substr(pos + 1, F.lit(64)),
        )
        return F.when(cond, edited).otherwise(running)

    flipped = flip_edit(marks, d % 64, F.lit(True))
    flipped = flip_edit(flipped, d * 37 % 64, d % 3 >= 1)
    flipped = flip_edit(flipped, d * 59 % 64, d % 3 == 2)
    samples = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(flipped, "L", "64"), "q", "0A"
            ),
            "l", "0A",
        ),
        "Q", "64",
    )
    clips = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.unhex(
            F.concat(F.lit("544E41554400003E8000000040"), samples)
        ).alias("content"),
    )
    return clips


def multimodal_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs (multimodal.video_near_dups): per-frame
    integer-exact aHash signatures, matched per frame INDEX — the
    keyframe-signature pass a video corpus runs after exact byte dedup.
    Each document gets a deterministic 4-frame 8x8 TNVID built JVM-SIDE
    as real container bytes (decoded back by the operator's mapInPandas
    stub path): frame f's pixel pattern comes from md5(burst||'v'||f)
    bits (burst = doc_id DIV 8, so an 8-video burst shares all frame
    patterns), and each video corrupts one pixel (at doc_id % 64) in 1
    or 3 of its frames (doc_id%4, plus the next two frames for odd
    doc_ids). Within-burst pairs therefore agree on 0-3 of 4 frame
    signatures: the ≥ 0.5 match-rate pairs are kept, 1-vs-3-corruption
    pairs fall below the bar and exercise the filter; cross-burst
    signatures never collide."""
    from topnotch_spark.operators.multimodal import video_near_dups

    return video_near_dups(
        _synthetic_tnvid_docs(spark, sf_dir), "doc_id", "content"
    )


def dedup_incremental_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental keyframe-signature NEAR-dup ingestion for VIDEO —
    the last modality of the incremental family
    (multimodal.build_video_index + dedup_batch_against_video_index):
    even doc_ids form the accepted video corpus, of which ONLY the
    per-frame (frame_idx, 64-char ahash) signature table persists; odd
    doc_ids arrive as the new batch, are frame-hashed (integer-exact
    ahash over the synthetic 4-frame TNVID blobs), and candidates come
    from the exact (frame_idx, signature) equi-join — the
    video_near_dups overlap rule, a video being a SET of frame
    signatures. Old videos are never re-decoded. Per batch video:
    (doc_id, n_candidates, best_match_id, best_match_frac, keep) with
    match_frac = shared frames / max(frames hashed either side) and
    keep iff no candidate reaches 0.5."""
    from topnotch_spark.operators.multimodal import (
        build_video_index,
        dedup_batch_against_video_index,
    )

    vids = _synthetic_tnvid_docs(spark, sf_dir)
    index = build_video_index(
        vids.filter("doc_id % 2 = 0"), "doc_id", "content"
    )
    return dedup_batch_against_video_index(
        vids.filter("doc_id % 2 = 1"), index, "doc_id", "content",
        min_match_frac=0.5,
    )


def _synthetic_tnvid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, content) with one deterministic synthetic 4-frame 8x8
    TNVID blob per document — the shared fixture of
    multimodal_video_dedup / dedup_incremental_video (see
    multimodal_video_dedup's docstring for the burst/corruption
    design)."""
    gs = F.expr("CAST(doc_id DIV 8 AS STRING)")
    d = F.col("doc_id")
    # mark-string formulation (r8 perf): translate the 64 hex digits to
    # one L/H mark per pixel, overwrite the single corrupted position's
    # mark (lowercase = inverted pixel), then expand marks to byte hex
    # in one regexp chain — 6 string ops per frame instead of 64 CASE
    # branches (the original 256-term expression cost ~2.6 s of pure
    # synthesis at sf0.1 and dominated the query). Bytes are identical
    # (strict-hash gate re-verified at both SFs).
    kpos = (d % 64 + 1).cast("int")
    frames = []
    for f in range(4):
        hex64 = F.concat(
            F.md5(F.concat(gs, F.lit(f"v{f}"))),
            F.md5(F.concat(gs, F.lit(f"v{f}x"))),
        )
        corrupted = ((d % 4) == f) | (
            (d % 2 == 1) & ((((d + 1) % 4) == f) | (((d + 2) % 4) == f))
        )
        marks = F.translate(
            hex64, "0123456789abcdef", "LLLLLLLLHHHHHHHH"
        )
        cur = marks.substr(kpos, F.lit(1))
        flipped = F.concat(
            marks.substr(F.lit(1), kpos - 1),
            F.when(cur == "H", F.lit("h")).otherwise(F.lit("l")),
            marks.substr(kpos + 1, F.lit(64)),
        )
        final_marks = F.when(corrupted, flipped).otherwise(marks)
        frames.append(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(final_marks, "H", "E0"),
                        "L", "20",
                    ),
                    "h", "1F",
                ),
                "l", "DF",
            )
        )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.unhex(
            F.concat(F.lit("544E564944000400080008"), *frames)
        ).alias("content"),
    )


# --------------------------------------------------------------------------
# Structured Streaming extensions (SURVEY.md §2.3): the events table is
# replayed as a file-source stream (3 time-split files, availableNow) and
# the streaming result is returned as a batch DataFrame for the oracle gate
# --------------------------------------------------------------------------

# assertion rules used by the streaming assertion query AND its oracle
STREAM_RULES: list[tuple[str, str, float]] = [
    ("value >= 0", "value must be non-negative", 0.01),
    ("event_type <> 'error'", "no error events", 0.05),
    ("user_id is not null", "user id present", 0.0),
]


def streaming_window_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream."""
    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
        windowed_event_metrics,
    )
    from topnotch_spark.streaming.ops import events_replay_dir

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    # JVM-stateful aggs (unlike the Python-stateful ops, where 16 beat
    # 8) get ~30% faster with fewer state partitions at this key
    # cardinality — state-store/commit fixed cost dominates (measured
    # r6: 8 JVM streaming entries 19.4s @16 -> 14.4s @6). On a cluster,
    # size to key cardinality via the session conf instead.
    return run_stream_to_table(
        windowed_event_metrics(stream, window_duration="1 hour"),
        output_mode="complete",
        state_partitions=6,
    )


def streaming_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: the top-3 event types per tumbling hour,
    computed as the watermarked stateful windowed count (the
    streaming_window_metrics aggregation) with the rank applied to the
    materialized result table (streaming/ops.topk_types_per_window —
    Structured Streaming can't chain a rank after a stateful agg in one
    query; the rank input is the bounded |windows|×|types| frame)."""
    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
        windowed_event_metrics,
    )
    from topnotch_spark.streaming.ops import (
        events_replay_dir,
        topk_types_per_window,
    )

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    agg = run_stream_to_table(
        windowed_event_metrics(stream, window_duration="1 hour"),
        output_mode="complete",
        state_partitions=6,
    )
    return topk_types_per_window(agg, k=3)


def streaming_sliding_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation (2h window, 1h slide) —
    each event lands in duration/slide = 2 overlapping windows; state
    per key is windows-per-slide × groups, watermark-evicted."""
    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
        windowed_event_metrics,
    )
    from topnotch_spark.streaming.ops import events_replay_dir

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    return run_stream_to_table(
        windowed_event_metrics(
            stream, window_duration="2 hours", slide="1 hour"
        ),
        output_mode="complete",
        state_partitions=6,  # JVM-stateful: see streaming_window_metrics
    )


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful gap-sessionization (applyInPandasWithState) over the
    events stream. Emits every session CLOSED by the final watermark:
    equals the batch sessionization minus sessions still open at
    max(ts) - 30min (the oracle encodes exactly that)."""
    from topnotch_spark.streaming import (
        run_stream_to_table,
        sessionize_stream,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.ops import events_replay_dir

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    # Python-stateful ops are bound by per-partition pandas processing,
    # not state-store commits: 16 partitions beat 8 (5.3s vs 7.0s
    # measured idle at sf0.1) — keep the default parallelism
    return run_stream_to_table(
        sessionize_stream(stream, gap_seconds=1800),
        output_mode="append",
        state_partitions=16,
    )


def drift_orders_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI histogram drift of o_totalprice vs a +10%-on-every-5th-order
    perturbation (deterministic 'current' dataset)."""
    from topnotch_spark.operators.drift import histogram_drift

    orders = load(spark, sf_dir, "orders")
    cur = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")),
    )
    return histogram_drift(orders, cur, "o_totalprice", n_buckets=10)


def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass numeric column profile of lineitem (QC staple)."""
    from topnotch_spark.operators.profile import profile_columns

    li = load(spark, sf_dir, "lineitem")
    return profile_columns(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        round_digits=4,
    )


def profile_lineitem_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profile path, hash-checkably verified: job 1 is the
    fused HLL + percentile-sketch aggregation (no EXPAND, no sort
    buffer — the scan you'd run at scale); job 2 measures those
    estimates against Spark-computed exact aggregates and emits a
    deterministic verdict frame (column, n, n_null, distinct_ok,
    pct_ok). The DuckDB oracle is the exact counts + literal TRUEs, so
    the driver's value hash covers the approx path: it goes red exactly
    when a sketch breaks its published error bound."""
    from topnotch_spark.operators.profile import profile_accuracy

    li = load(spark, sf_dir, "lineitem")
    return profile_accuracy(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUS ingestion against the PERSISTED on-disk dedup index —
    the production shape of the incremental trio under Structured
    Streaming: the deterministic events replay (3 time-cut micro-
    batches, maxFilesPerTrigger=1 over mtime-pinned files) drives a
    foreachBatch loop in which every micro-batch is screened against
    the index-so-far (dedup.dedup_against_index; batch 0 bootstraps
    with the within-batch keyed_dedup winners) and its accepted rows
    are folded in with the partition-pruned dynamic overwrite
    (dedup.upsert_dedup_index) — the old stream is never replayed, only
    its (16-byte key, id) index survives between micro-batches, exactly
    as it would between pipeline RUNS at 100 TB. Content key =
    concat_ws('|', user_id, event_type). Emits one row per micro-batch:
    (batch_id, n_rows, n_known_keys = distinct batch keys the index
    already owned, n_new_keys = novel keys accepted and upserted,
    cum_index_keys = index size after the upsert) — the per-round
    accept/reject ledger, which pins the SCREEN itself (a loop that
    ignored the index would report n_known_keys = 0 and inflated
    accepts, even though the final min-merged index would look the
    same on time-ordered ids). The oracle replays the time-cut
    batching in SQL."""
    import tempfile

    from topnotch_spark.operators.dedup import (
        _read_partitioned_index,
        _register_checkpoints,
        dedup_against_index,
        keyed_dedup,
        upsert_dedup_index,
    )
    from topnotch_spark.streaming.ops import (
        events_replay_dir,
        stream_from_parquet,
    )

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    root = tempfile.mkdtemp(prefix="tn_stream_incdedup_")
    idx_path = root + "/index"
    ledger: list[tuple[int, int, int, int, int]] = []

    def ingest(batch_df, batch_id) -> None:
        from pyspark import StorageLevel

        sp = batch_df.sparkSession
        b = batch_df.select(
            "event_id",
            F.concat_ws("|", "user_id", "event_type").alias("__content__"),
        )
        jp = sp._jvm.org.apache.hadoop.fs.Path(idx_path)
        fs = jp.getFileSystem(sp._jsc.hadoopConfiguration())
        if fs.exists(jp):
            idx = _read_partitioned_index(sp, idx_path).select(
                "dup_key", "index_id"
            )
            screened = dedup_against_index(
                b, idx, "event_id", "__content__"
            )
        else:
            screened = keyed_dedup(
                b,
                "event_id",
                F.md5(F.coalesce(F.col("__content__"), F.lit(""))),
            ).withColumn("in_index", F.lit(False))
        # batch-local persist: the ledger agg and the upsert both read it
        screened = screened.persist(StorageLevel.MEMORY_AND_DISK)
        counts = screened.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(
                F.when(F.col("in_index"), F.col("dup_key"))
            ).alias("n_known"),
            F.sum(F.col("keep").cast("long")).alias("n_new"),
        ).collect()[0]
        accepted = screened.filter("keep").select(
            "dup_key", F.col("event_id").alias("index_id")
        )
        # bucket_chars=1: 16 partition dirs at test scale (the
        # pfx_chars=1 convention of dedup_minhash_compaction)
        upsert_dedup_index(
            sp, idx_path, accepted, bucket_chars=1
        ).collect()
        screened.unpersist()
        # cumulative index size by ARITHMETIC, not a per-batch full
        # index count: the min-merge adds exactly the accepted novel
        # keys, so cum = prev + n_new — at 100 TB a metadata count per
        # micro-batch would still list every index file
        n_new = int(counts["n_new"] or 0)
        cum = (ledger[-1][4] if ledger else 0) + n_new
        ledger.append(
            (
                int(batch_id),
                int(counts["n_rows"]),
                int(counts["n_known"]),
                n_new,
                cum,
            )
        )

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", root + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.createDataFrame(
        sorted(ledger),
        "batch_id long, n_rows long, n_known_keys long, "
        "n_new_keys long, cum_index_keys long",
    )
    _register_checkpoints(out, [root])
    return out


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first arrival per (user_id, event_type)
    across micro-batches; final state = the distinct key set."""
    from topnotch_spark.streaming import stream_from_parquet
    from topnotch_spark.streaming.ops import (
        dedup_stream,
        events_replay_dir,
        run_stream_to_table,
    )

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    dd = dedup_stream(
        stream.select("user_id", "event_type"), ["user_id", "event_type"]
    )
    # JVM-stateful: see the state_partitions note in streaming_window_metrics
    return run_stream_to_table(dd, output_mode="append", state_partitions=6)


def streaming_enriched_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the static
    customer dimension (broadcast — re-read per micro-batch, never
    stateful), then a watermarked daily window aggregation per nation."""
    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.ops import events_replay_dir

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = stream.join(F.broadcast(cust), "user_id").withWatermark(
        "ts", "1 hour"
    )
    agg = (
        enriched.groupBy(
            F.window("ts", "1 day").alias("win"), F.col("c_nationkey")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "c_nationkey",
            "n_events",
            "sum_value",
        )
    )
    # JVM-stateful: see the state_partitions note in streaming_window_metrics
    return run_stream_to_table(agg, output_mode="complete", state_partitions=6)


def streaming_assertion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule stream-level assertion metrics: the batch rule evaluator
    runs per micro-batch (foreachBatch), counts merge across batches."""
    from topnotch_spark.operators.assertions import AssertionRule
    from topnotch_spark.streaming import (
        run_streaming_assertions,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.ops import events_replay_dir

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    rules = [AssertionRule(q, d, t) for q, d, t in STREAM_RULES]
    summary = run_streaming_assertions(stream, rules)
    rows = [
        (r.description, r.num_invalid, r.fraction_invalid, r.failed)
        for r in summary.reports
    ]
    return spark.createDataFrame(
        rows,
        "description string, num_invalid long, fraction_invalid double, failed boolean",
    )


def streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of the streamed event values against the static 'click'
    distribution — per-bucket integer counts accumulate across
    micro-batches, so the stream result equals the batch operator."""
    from topnotch_spark.streaming import stream_from_parquet
    from topnotch_spark.streaming.ops import events_replay_dir, run_streaming_drift

    ref = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    return run_streaming_drift(ref, stream, "value", n_buckets=10)


def streaming_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover drift of the streamed event values against the static
    'click' distribution (streaming/ops.run_streaming_wasserstein): the
    W1 twin of streaming_drift_monitor — integer bucket counts
    accumulate across micro-batches, final arithmetic shared with the
    batch wasserstein_binned via drift.w1_table."""
    from topnotch_spark.streaming import stream_from_parquet
    from topnotch_spark.streaming.ops import (
        events_replay_dir,
        run_streaming_wasserstein,
    )

    ref = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    return run_streaming_wasserstein(ref, stream, "value", n_buckets=32)


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions via the built-in session_window state-store agg (the
    idiomatic counterpart to the applyInPandasWithState sessionizer)."""
    from topnotch_spark.streaming import stream_from_parquet
    from topnotch_spark.streaming.ops import (
        events_replay_dir,
        run_stream_to_table,
        session_window_metrics,
    )

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    # JVM-stateful: see the state_partitions note in streaming_window_metrics
    return run_stream_to_table(
        session_window_metrics(stream), output_mode="append",
        state_partitions=6,
    )


def streaming_error_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range: each error event
    paired with the same user's clicks in the preceding hour. Both sides
    watermarked; state bounded by watermark + tolerance, not stream
    length."""
    from topnotch_spark.streaming import stream_from_parquet
    from topnotch_spark.streaming.ops import (
        events_replay_dir,
        run_stream_to_table,
        stream_stream_time_join,
    )

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    errors = stream.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = stream_stream_time_join(
        errors, clicks, ("user_id", "c_user_id"), ("error_ts", "click_ts"),
        tolerance_seconds=3600,
    )
    out = joined.select(
        "error_id",
        "click_id",
        "user_id",
        (F.unix_micros("error_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )
    # stream-stream joins run FOUR state stores per shuffle partition
    # (keyToNumValues + keyWithIndexToValue x both sides); 8 partitions
    # halves the fixed store/commit cost vs the 16 default at test scale
    # (measured 8s -> 4.4s @8, 3.4s @6 in r6). On a cluster, size to
    # join-key cardinality.
    return run_stream_to_table(out, output_mode="append", state_partitions=6)


def events_throttle_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based temporal dedup over the event stream: repeat
    (user, event_type) fires within 5 minutes of the previous event are
    flagged — one lag() window pass."""
    from topnotch_spark.operators.temporal import throttle_dedup

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return throttle_dedup(
        ev, ["user_id", "event_type"], "ts", "event_id", min_gap_seconds=300
    )


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix over per-user ordered
    sequences (lag window + bounded groupBy) — sequence mining for
    session-flow priors."""
    from topnotch_spark.operators.temporal import transition_counts

    return transition_counts(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_id", "event_type"
    )


def cluster_silhouette_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cluster simplified silhouette of the seeded IVF index over
    embeddings (similarity.cluster_silhouette): centroid-based O(n·k)
    silhouette — the clustering-quality audit for inverted-list ANN and
    SemDeDup-style prototype stages. Micro-unit integer sums keep the
    means engine-exact."""
    from topnotch_spark.operators.similarity import cluster_silhouette

    return cluster_silhouette(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_centroids=16,
    )


def benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of o_totalprice
    (drift.benford_first_digit): nine-row digit distribution vs
    log10(1 + 1/d), integer-exact digit extraction (scale to cents →
    BIGINT → first decimal-string char, no float log10). The
    fabricated-data screen for numeric columns."""
    from topnotch_spark.operators.drift import benford_first_digit

    return benford_first_digit(
        load(spark, sf_dir, "orders"), "o_totalprice", int_scale=100
    )


def event_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 3-step event-type paths with occurrence and distinct-user
    counts (temporal.frequent_paths) — the n-gram generalization of the
    transition matrix: one window pass, path-space-bounded groupBy."""
    from topnotch_spark.operators.temporal import frequent_paths

    return frequent_paths(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_id",
        "event_type", n_steps=3, k=20,
    )


def winsorize_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status winsorization of order totals to the exact [p05, p95]
    band (heavy-tail guard). Exact percentiles here for the oracle; the
    operator's ``exact=False`` t-digest path is the 100 TB default."""
    from topnotch_spark.operators.curation import winsorize

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return winsorize(
        orders, "o_totalprice", ["o_orderstatus"], lower_p=0.05, upper_p=0.95
    )


SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment per document —
    seedless, engine-portable, stable under corpus growth. Zero
    shuffle."""
    from topnotch_spark.operators.curation import hash_split

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return hash_split(docs, "doc_id", SPLIT_FRACTIONS)


def quality_bands_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quartiles via ntile(4) — the stratification
    used to mix training batches across quality bands. Partitioned by
    source, so no single-partition window at scale."""
    from topnotch_spark.operators.textqc import quality_bands

    return quality_bands(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "n_chars",
        partition_col="source",
        n_bands=4,
    )


def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm z-score screen over the embedding table — the
    cheap broken-encoder detector (JVM fold per row, one window pass)."""
    from topnotch_spark.operators.similarity import embedding_norm_outliers as op

    return op(load(spark, sf_dir, "embeddings"), k=2.0)


def source_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language composition per source (langid rollup + windowed share
    over the bounded sources x langs frame)."""
    from topnotch_spark.operators.textqc import lang_mix

    return lang_mix(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


def embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection reduction of the 64-d embeddings to 8 dims via
    driver-literal ±1 planes — zero shuffle, one JVM fold per output
    value; exploded scalar rows for the oracle."""
    from topnotch_spark.operators.similarity import project_embeddings

    return project_embeddings(
        load(spark, sf_dir, "embeddings"), out_dim=8, dim=64
    )


def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-count histogram in power-of-two buckets, computed in
    integer space (length(bin(n))-1) — the one-glance length profile."""
    from topnotch_spark.operators.textqc import token_length_histogram

    return token_length_histogram(load(spark, sf_dir, "documents"), "text")


def streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_transitions: per-user last-state carried
    across micro-batches in applyInPandasWithState (a stateless per-batch
    lag would drop every boundary-straddling transition), then one
    bounded groupBy over the emitted pair stream. Stream ≡ batch exactly,
    so the oracle is the batch SQL."""
    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
        transitions_stream,
    )
    from topnotch_spark.streaming.ops import events_replay_dir

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    pairs = run_stream_to_table(
        transitions_stream(stream), output_mode="append", state_partitions=16
    )
    return pairs.groupBy("prev_state", "next_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


FUNNEL_STAGES = ["view", "click", "purchase"]


def streaming_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_paths_top: the last n-1 states per user
    carried across micro-batches in applyInPandasWithState (a stateless
    per-batch window would drop every boundary-straddling path), then
    one bounded groupBy + top-k over the emitted path stream. Stream ≡
    batch exactly for time-ordered replay, so the oracle is the batch
    SQL."""
    from pyspark.sql import Window as W

    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.ops import events_replay_dir
    from topnotch_spark.streaming.stateful import paths_stream

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    paths = run_stream_to_table(
        paths_stream(stream, n_steps=3),
        output_mode="append",
        state_partitions=16,
    )
    agg = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("user_id").alias("n_keys"),
    )
    # TakeOrdered(20) first; the global rank window sees only 20 rows
    return (
        agg.orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(20)
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(
                    F.col("n_occurrences").desc(), F.col("path").asc()
                )
            ),
        )
        .select("path", "n_occurrences", "n_keys", "rank")
    )


def streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_funnel: per-user stage advances emitted
    from applyInPandasWithState (2 longs of state per active user,
    dropped on completion); counts per stage equal the batch funnel for
    time-ordered replay, so the oracle is the batch SQL. A literal
    stage spine keeps zero-user stages present."""
    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.ops import events_replay_dir
    from topnotch_spark.streaming.stateful import funnel_stream

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    advances = run_stream_to_table(
        funnel_stream(stream, FUNNEL_STAGES),
        output_mode="append",
        state_partitions=16,
    )
    counts = advances.groupBy(
        F.col("stage_idx").cast("int").alias("stage_idx")
    ).agg(F.count(F.lit(1)).alias("n_users"))
    spine = spark.createDataFrame(
        list(enumerate(FUNNEL_STAGES)), "stage_idx int, stage string"
    )
    return spine.join(counts, "stage_idx", "left").select(
        "stage_idx",
        "stage",
        F.coalesce("n_users", F.lit(0).cast("long")).alias("n_users"),
    )


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users reaching
    view -> click -> purchase, each stage strictly after the previous
    one's first qualifying event (aggregate-sized joins, fully lazy)."""
    from topnotch_spark.operators.temporal import funnel_stages

    return funnel_stages(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        FUNNEL_STAGES,
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style fluency screen: per-doc mean negative log-prob
    under the corpus's own unigram LM (vocab-sized broadcast join)."""
    from topnotch_spark.operators.textqc import unigram_logprob

    return unigram_logprob(load(spark, sf_dir, "documents"), "doc_id", "text")


def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) corpus mixing weights per source
    from token shares — the multi-source sampling-ratio report."""
    from topnotch_spark.operators.curation import source_mix_weights

    return source_mix_weights(
        load(spark, sf_dir, "documents"), "source", "text", alpha=0.5
    )


def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling to a 10k-token global budget: per-source targets
    from alpha=0.5 temperature weights, filled by deterministic
    hash-ordered prefixes (overshoot < 1 doc per source)."""
    from topnotch_spark.operators.curation import sample_to_token_budget

    return sample_to_token_budget(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source",
        budget_tokens=10_000, alpha=0.5,
    )


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication accounting per source: corpus-wide exact-dup groups
    rolled up to (n_docs, n_keepers, dup_rate) per slice."""
    from topnotch_spark.operators.dedup import dedup_rate_by_group

    return dedup_rate_by_group(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


def dedup_lines_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup, demonstrated on a constructed
    boilerplate footer: every document gains a second line shared by its
    whole source ('mirrored via <source>'); the operator must strip the
    repeated footer (document frequency > 1) while keeping each unique
    body line, restoring the original text."""
    from topnotch_spark.operators.curation import dedup_lines

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n", F.col("text"), F.concat(F.lit("mirrored via "), F.col("source"))
        ).alias("text"),
    )
    return dedup_lines(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


def weighted_sample_bylength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli downsample: keep probability
    rises with document length (n_chars/400 clamped to 1) — the
    quality-weighted corpus sampler, seedless and engine-portable."""
    from topnotch_spark.operators.curation import weighted_sample

    docs = load(spark, sf_dir, "documents")
    w = F.col("n_chars") / F.lit(400.0)
    return weighted_sample(docs, "doc_id", w).select("doc_id", "lang", "source")


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency screen (add-1 smoothing): scores word ORDER,
    catching shuffled-word salads that keep a perfect unigram profile."""
    from topnotch_spark.operators.textqc import bigram_logprob

    return bigram_logprob(load(spark, sf_dir, "documents"), "doc_id", "text")


def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granular exact dedup (Lee et al. ACL 2022): every 20-token
    window occurring 2+ times corpus-wide, with its 0-based token offset
    — catches the copied paragraph inside otherwise-distinct documents
    that doc-level dedup misses."""
    from topnotch_spark.operators.dedup import duplicate_spans

    return duplicate_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        span_tokens=20, min_occurrences=2,
    )


def similarity_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of exact search over int8 quantize-dequantized vectors
    vs exact search over the raw doubles (similarity.quantize_recall):
    grades the REPRESENTATION where similarity_ann_recall grades the
    INDEX — the audit before shipping a 4x-compressed embedding store.
    Both sides are the documented 5-query brute-force baseline."""
    from topnotch_spark.operators.similarity import quantize_recall

    return quantize_recall(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        k=10, n_queries=5, dim=64,
    )


def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of BOTH approximate indexes against the brute-force
    exact neighbors — the quality report that picks the index: on these
    weak-similarity embeddings (best neighbors cos ≈ 0.33) IVF n_probe=4
    reaches ~0.9 recall while radius-1 SRP stays near 0.1, exactly the
    angular-closeness trade-off the operator docstrings describe. All
    searches are deterministic, so recall is engine-exact."""
    from topnotch_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        srp_ann_topk,
        topk_recall,
    )

    from topnotch_spark.operators.dedup import _persist

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 5")
    # shared by both report branches — without the persist the
    # brute-force scan would run once per branch
    exact = _persist(brute_force_topk(emb, q, k=10, dim=64))
    srp = topk_recall(
        srp_ann_topk(emb, q, k=10, n_planes=8, dim=64), exact
    ).select(F.lit("srp").alias("method"), "*")
    ivf = topk_recall(
        ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4, dim=64), exact
    ).select(F.lit("ivf").alias("method"), "*")
    return srp.unionByName(ivf)


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon token entropy + normalized form (zero-shuffle
    projection; gibberish/boilerplate screen)."""
    from topnotch_spark.operators.textqc import token_entropy

    return token_entropy(load(spark, sf_dir, "documents"), "doc_id", "text")


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability score + band from shared RE2 regex
    counts (zero-shuffle projection)."""
    from topnotch_spark.operators.textqc import readability

    return readability(load(spark, sf_dir, "documents"), "doc_id", "text")


def outliers_mad_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier flags on o_totalprice per order
    priority (two grouped exact medians, broadcast back)."""
    from topnotch_spark.operators.profile import mad_outliers

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return mad_outliers(orders, "o_totalprice", ["o_orderpriority"], k=3.5)


def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native groupBy().pivot() cross-tab: order count + revenue per
    (priority × status) with an explicit pivot domain."""
    from topnotch_spark.operators.profile import pivot_counts

    return pivot_counts(
        load(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_orderstatus",
        ["F", "O", "P"],
        value_col="o_totalprice",
    )


def retention_cohorts_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over events/user_id (first-seen
    week → share of cohort active N weeks later)."""
    from topnotch_spark.operators.temporal import retention_cohorts

    return retention_cohorts(load(spark, sf_dir, "events"), "user_id", "ts")


def rolling_value_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling count/sum/avg of event value per user
    (RANGE window over integer epoch micros)."""
    from topnotch_spark.operators.temporal import rolling_window_agg

    return rolling_window_agg(
        load(spark, sf_dir, "events"), "user_id", "ts", "value", decimals=2
    )


def histogram_equidepth_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile histogram of o_totalprice (exact percentile
    boundaries broadcast, bounded bucket groupBy)."""
    from topnotch_spark.operators.profile import equidepth_histogram

    return equidepth_histogram(
        load(spark, sf_dir, "orders"), "o_totalprice", n_buckets=10
    )


def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event: the user's nearest click in time (backward
    OR forward, ties to backward — pandas merge_asof 'nearest'). Same
    single-shuffle merge-sorted shape as the backward join; the forward
    carry reuses the exchange with a second window order."""
    from topnotch_spark.operators.temporal import asof_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter("event_type = 'error'").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter("event_type = 'click'")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("__rn__", F.row_number().over(w))
        .filter("__rn__ = 1")
        .drop("__rn__")
    )
    return asof_join(
        errors,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        suffix="_click",
        direction="nearest",
    )


def fuzzy_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution demo: all customer-name pairs within edit
    distance 1 via SymSpell deletion-neighborhood blocking (complete for
    d<=1, one equi-join on deletion keys — never n²)."""
    from topnotch_spark.operators.fuzzy import fuzzy_match_pairs

    return fuzzy_match_pairs(
        load(spark, sf_dir, "customer"), "c_custkey", "c_name"
    )


def view_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated scalar subquery via the view operator:
    yearly revenue lost if small-quantity orders (below 20% of the
    part's own average quantity) were not taken. Exercises Catalyst's
    correlated-subquery decorrelation (rewritten to an aggregate +
    join — no per-row re-scan)."""
    return create_view(
        spark,
        [load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")],
        ViewParams(
            ("lineitem_v", "part_v"),
            """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_small_orders
            FROM lineitem_v l1
            JOIN part_v p ON p.p_partkey = l1.l_partkey
            WHERE p.p_brand = 'Brand#2'
              AND p.p_type = 'ECONOMY'
              AND l1.l_quantity < (
                    SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem_v l2
                    WHERE l2.l_partkey = l1.l_partkey
              )
            """,
        ),
    )


def drift_chi2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square categorical drift of o_orderpriority vs a
    deterministic perturbation (every 7th order forced to 1-URGENT)."""
    from topnotch_spark.operators.drift import chi2_drift

    orders = load(spark, sf_dir, "orders")
    cur = orders.withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.lit("1-URGENT")
        ).otherwise(F.col("o_orderpriority")),
    )
    return chi2_drift(orders, cur, "o_orderpriority")


def trend_value_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of event value over time (exact
    integer-sum least squares: slope/intercept/R² bit-identical across
    engines; one bounded groupBy)."""
    from topnotch_spark.operators.temporal import trend_per_key

    return trend_per_key(
        load(spark, sf_dir, "events"), "user_id", "ts", "value", decimals=2
    )


def interval_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval lookup join (temporal.interval_join): orders
    priced into quadratic nation-derived bands via the chunked
    equi-join, then a per-band rollup over exact scaled-integer sums."""
    from topnotch_spark.operators.temporal import interval_join

    nk = F.col("n_nationkey")
    bands = load(spark, sf_dir, "nation").select(
        nk.alias("band_id"),
        (nk * nk * F.lit(400.0)).alias("lo"),
        ((nk + 1) * (nk + 1) * F.lit(400.0)).alias("hi"),
    )
    joined = interval_join(
        load(spark, sf_dir, "orders"), bands, "o_totalprice", "lo", "hi",
        ["band_id", "lo", "hi"],
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return joined.groupBy("band_id", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(cents) / 100.0, 2).alias("sum_totalprice"),
    )


def scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension-history merge (scd.scd2_merge): a derived update
    batch (every 3rd customer re-priced / re-segmented, five brand-new
    keys) applied to the customer dim — exercises passthrough, close +
    insert, and new-key insert in one deterministic result."""
    from topnotch_spark.operators.dedup import _persist
    from topnotch_spark.operators.scd import scd2_merge

    # the derived update batch re-reads the dim it is applied to — persist
    # the 3-column projection once (current + 2 update branches read it)
    cust = _persist(
        load(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
    )
    ck = F.col("c_custkey")
    current = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.to_date(F.lit("1992-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        cust.filter(ck % 3 == 0)
        .select(
            "c_custkey",
            F.when(ck % 5 == 0, F.lit("MACHINERY"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            F.round(
                F.col("c_acctbal")
                + F.when(ck % 2 == 0, F.lit(50.25)).otherwise(F.lit(0.0)),
                2,
            ).alias("acctbal"),
            F.to_date(F.lit("1996-06-01")).alias("eff"),
        )
        .unionByName(
            cust.filter(ck <= 5).select(
                (ck + 1000000).alias("c_custkey"),
                F.lit("NEWSEG").alias("segment"),
                F.lit(0.0).alias("acctbal"),
                F.to_date(F.lit("1996-06-01")).alias("eff"),
            )
        )
    )
    return scd2_merge(
        current, updates, ["c_custkey"], ["segment", "acctbal"], "eff"
    )


def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity privacy audit (integrity.k_anonymity): customer
    quasi-identifier tuples (nation, $100 balance band) shared by fewer
    than k=5 rows — the re-identifiable groups. One map-side-combined
    groupBy."""
    from topnotch_spark.operators.integrity import k_anonymity

    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 100).cast("bigint").alias("acctbal_band"),
    )
    return k_anonymity(cust, ["c_nationkey", "acctbal_band"], k=5)


def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (basket.market_basket_pairs): part
    brands bought together in the same order, with exact-integer lift.
    Basket-key self-join bounded by items-per-order, margins broadcast."""
    from topnotch_spark.operators.basket import market_basket_pairs

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        part, li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    return market_basket_pairs(
        baskets, "l_orderkey", "p_brand", min_support=5
    )


def spatial_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial within-radius join (spatial.
    within_radius_join): customers within 150 units of a supplier on a
    derived 10000x10000 integer grid — squared-integer distances, so the
    predicate and output are engine-exact. 3x3 cell equi-join, never a
    nested loop."""
    from topnotch_spark.operators.spatial import within_radius_join

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919) % 10000).alias("x"),
        ((F.col("c_custkey") * 104729) % 10000).alias("y"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919) % 10000).alias("x"),
        ((F.col("s_suppkey") * 104729) % 10000).alias("y"),
    )
    return within_radius_join(cust, supp, radius=150).select(
        "c_custkey", "s_suppkey", "dist_sq"
    )


def view_late_orders_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shape EXISTS correlated subquery via the view operator:
    orders with at least one lineitem shipped >60 days after the order
    date, counted by priority. Catalyst decorrelates the EXISTS into a
    left-semi join — no per-row re-scan of lineitem."""
    return create_view(
        spark,
        [load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")],
        ViewParams(
            ("orders_v", "lineitem_v"),
            """
            SELECT o_orderpriority, count(*) AS n_late_orders
            FROM orders_v o
            WHERE EXISTS (
                SELECT 1 FROM lineitem_v l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
            )
            GROUP BY o_orderpriority
            """,
        ),
    )


def view_rich_inactive_custs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shape query via the view operator: customers with an
    above-average positive balance and NO product events (NOT EXISTS anti-join
    + scalar aggregate subquery), rolled up by market segment. The
    above-average threshold compares SCALED-INTEGER cents cross-
    multiplied against (sum, count) — exact, so the boundary set is
    engine-independent."""
    return create_view(
        spark,
        [load(spark, sf_dir, "customer"), load(spark, sf_dir, "events")],
        ViewParams(
            ("customer_v", "events_v"),
            """
            WITH g AS (
              SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                          AS BIGINT) AS s,
                     count(*) AS n
              FROM customer_v WHERE c_acctbal > 0.0
            )
            SELECT c_mktsegment, count(*) AS n_custs,
                   round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS total_bal
            FROM customer_v c, g
            WHERE CAST(round(c_acctbal * 100) AS BIGINT) * g.n > g.s
              AND NOT EXISTS (
                  SELECT 1 FROM events_v e WHERE e.user_id = c.c_custkey
              )
            GROUP BY c_mktsegment
            """,
        ),
    )


def streaming_benford_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of benford_totalprice's counting stage: per-day
    first-digit counts of the event value stream
    (streaming.ops.windowed_benford) — a live fabricated-traffic
    monitor. Watermarked stateful windowed count (≤ 9 counters per open
    window); stream ≡ batch ≡ oracle."""
    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.ops import (
        events_replay_dir,
        windowed_benford,
    )

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    return run_stream_to_table(
        windowed_benford(stream, window_duration="1 day"),
        output_mode="complete",
        state_partitions=6,
    )


def collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI collocations over documents (textqc.collocations):
    adjacent word pairs co-occurring far above their unigram odds —
    multiword-expression / boilerplate-fingerprint discovery. One
    persisted tokenize pass feeds both count passes; min_count guards
    the hapax-pair pathology; TakeOrdered before the rank window."""
    from topnotch_spark.operators.textqc import collocations

    return collocations(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        min_count=5, k=20,
    )


def token_rank_shift_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens between English and Spanish documents
    (drift.token_rank_shift): the top-20 terms that climbed most in
    frequency rank — the interpretable drill-down behind
    token_drift_langs' divergence number. All-integer leaderboard
    arithmetic; every post-reduction frame is ≤ 2·vocab_k rows."""
    from topnotch_spark.operators.drift import token_rank_shift

    docs = load(spark, sf_dir, "documents")
    return token_rank_shift(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") == "es"),
        "text", vocab_k=200, k=20,
    )


def token_drift_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift (drift.token_distribution_drift): KL/JS
    divergence between the unigram token distributions of English vs
    Spanish documents — the corpus-mix monitor for training-data
    refreshes. One map-side-combined groupBy per side onto the token,
    one vocab-sized outer join, one final row."""
    from topnotch_spark.operators.drift import token_distribution_drift

    docs = load(spark, sf_dir, "documents")
    return token_distribution_drift(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") == "es"),
        "text",
    )


def vocab_overlap_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between language slices of the corpus
    (textqc.vocab_overlap): distinct (lang, token) reduction, token
    equi-join restricted to lang_a < lang_b, exact-integer counts."""
    from topnotch_spark.operators.textqc import vocab_overlap

    return vocab_overlap(load(spark, sf_dir, "documents"), "text", "lang")


def kmv_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation sketch audit (sketch.kmv_group_jaccard): for
    every source pair, bottom-128 hash sketches estimate the vocabulary
    union / Jaccard / intersection, and the exact vocab join grades the
    estimates — the sketch path of vocab_overlap for when |groups|² ·
    full-vocab joins are too expensive to run routinely."""
    from topnotch_spark.functions.text import tokens
    from topnotch_spark.operators.sketch import kmv_group_jaccard

    docs = load(spark, sf_dir, "documents").select(
        "source", F.explode(tokens("text")).alias("token")
    )
    return kmv_group_jaccard(
        docs, "source", "token", k=128, grade_exact=True
    )


def l_diversity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity privacy audit (integrity.l_diversity): customer
    quasi-identifier groups (nation, $1000 balance band) whose rows span
    fewer than l=3 distinct market segments — k-anonymous-but-homogeneous
    groups that still leak the segment. One groupBy with count-distinct."""
    from topnotch_spark.operators.integrity import l_diversity

    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("acctbal_band"),
        "c_mktsegment",
    )
    return l_diversity(
        cust, ["c_nationkey", "acctbal_band"], "c_mktsegment", l=3
    )


def ewma_value_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event value (temporal.ewma_per_key, α=1/2,
    16-term truncation): power-of-two weights over scaled integers make
    the smoothed series bit-identical across engines. One window pass."""
    from topnotch_spark.operators.temporal import ewma_per_key

    return ewma_per_key(
        load(spark, sf_dir, "events"), "user_id", "ts", "value", "event_id"
    )


def anomaly_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window point anomalies (temporal.rolling_zscore_anomalies):
    events whose value sits >3 trailing-20-event sample stddevs from the
    per-user mean — exact-integer window sums, one fixed double
    expression, one window pass."""
    from topnotch_spark.operators.temporal import rolling_zscore_anomalies

    return rolling_zscore_anomalies(
        load(spark, sf_dir, "events"), "user_id", "ts", "value", "event_id"
    )


def zorder_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over the customer grid coordinates
    (functions.layout.z_value): the multi-dimension data-skipping layout
    key for the range-sorted sink — pure integer bit-interleaving, exact
    on any engine. Returns each customer's cell and key plus the
    64-bucket key-range histogram a file-layout planner would use."""
    from topnotch_spark.functions.layout import z_value

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919) % 1024).alias("x"),
        ((F.col("c_custkey") * 104729) % 1024).alias("y"),
    )
    return cust.select(
        "c_custkey",
        "x",
        "y",
        z_value("x", "y", bits=10).alias("zkey"),
    ).withColumn("zbucket", F.shiftright(F.col("zkey"), 14))


def view_big_qty_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shape via the view operator: large-volume orders (total
    lineitem quantity > 120) with customer attribution — GROUP BY +
    HAVING feeding an IN subquery; Catalyst rewrites the IN into a
    left-semi hash join on the pre-aggregated keys (no per-row re-scan)."""
    return create_view(
        spark,
        [
            load(spark, sf_dir, "customer"),
            load(spark, sf_dir, "orders"),
            load(spark, sf_dir, "lineitem"),
        ],
        ViewParams(
            ("customer_v", "orders_v", "lineitem_v"),
            """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   CAST(sum(l_quantity) AS BIGINT) AS total_qty
            FROM customer_v c
            JOIN orders_v o ON c.c_custkey = o.o_custkey
            JOIN lineitem_v l ON o.o_orderkey = l.l_orderkey
            WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem_v
                GROUP BY l_orderkey HAVING sum(l_quantity) > 120
            )
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            """,
        ),
    )


def streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of anomaly_value_zscore: the per-user trailing
    window is carried across micro-batch boundaries in
    applyInPandasWithState (a stateless per-batch window would mis-score
    the first 20 events of every batch), exact-integer sums and HALF_UP
    rounding identical to the batch op — stream ≡ batch, so the oracle
    is the batch SQL."""
    from topnotch_spark.streaming import (
        anomaly_stream,
        run_stream_to_table,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.ops import events_replay_dir

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    return run_stream_to_table(
        anomaly_stream(stream), output_mode="append", state_partitions=16
    ).select("user_id", "ts", "event_id", "value", "n_window", "zscore")


def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ewma_value_by_user: the trailing truncated
    window rides across micro-batches in applyInPandasWithState;
    power-of-two weights over scaled ints + HALF_UP rounding make
    stream ≡ batch bit-for-bit, so the oracle is the batch SQL."""
    from topnotch_spark.streaming import (
        ewma_stream,
        run_stream_to_table,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.ops import events_replay_dir

    src = events_replay_dir(spark, sf_dir)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    return run_stream_to_table(
        ewma_stream(stream), output_mode="append", state_partitions=16
    ).select("user_id", "ts", "event_id", "value", "ewma")


def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (curation.embedding_decontaminate):
    corpus vectors cosine-near a held-out benchmark slice, SRP-bucket
    blocked with the benchmark side broadcast — the paraphrase-robust
    twin of the n-gram decontaminate_overlap screen."""
    from topnotch_spark.operators.curation import embedding_decontaminate

    emb = load(spark, sf_dir, "embeddings")
    return embedding_decontaminate(
        emb.filter(F.col("vec_id") % 41 != 0),
        emb.filter(F.col("vec_id") % 41 == 0),
        "vec_id",
        "embedding",
        threshold=0.25,
        n_planes=4,
        dim=64,
    )


def event_gaps_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event cadence fingerprint (temporal.
    interarrival_stats): exact integer-micros gaps, one window pass +
    one same-key groupBy — the bot/scraper screen."""
    from topnotch_spark.operators.temporal import interarrival_stats

    return interarrival_stats(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    )


def view_cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shape via the view operator: the customer-distribution
    histogram (how many customers placed exactly N orders, including
    N=0 via the left outer join) — the decorrelated outer-join
    double-aggregation shape."""
    return create_view(
        spark,
        [load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")],
        ViewParams(
            ("customer_v", "orders_v"),
            """
            SELECT n_orders, count(*) AS n_custs
            FROM (
                SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
                FROM customer_v c
                LEFT JOIN orders_v o ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey
            )
            GROUP BY n_orders
            """,
        ),
    )


_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue,
           count(*) AS n_items
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM {supplier} s
        JOIN {lineitem} l ON s.s_suppkey = l.l_suppkey
        JOIN {orders} o   ON o.o_orderkey = l.l_orderkey
        JOIN {customer} c ON c.c_custkey = o.o_custkey
        JOIN {nation} n1  ON s.s_nationkey = n1.n_nationkey
        JOIN {nation} n2  ON c.c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
    )
    GROUP BY supp_nation, cust_nation, l_year
"""


def view_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shape via the view operator: bilateral shipping volume
    between two nations by year — the 6-table join-ordering stress
    (nation appears twice); Catalyst pushes the nation-name filters to
    both dimension scans and broadcasts them."""
    return create_view(
        spark,
        [
            load(spark, sf_dir, "supplier"),
            load(spark, sf_dir, "lineitem"),
            load(spark, sf_dir, "orders"),
            load(spark, sf_dir, "customer"),
            load(spark, sf_dir, "nation"),
        ],
        ViewParams(
            ("supplier_v", "lineitem_v", "orders_v", "customer_v", "nation_v"),
            _Q7_SQL.format(
                supplier="supplier_v",
                lineitem="lineitem_v",
                orders="orders_v",
                customer="customer_v",
                nation="nation_v",
            ),
        ),
    )


def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application (scd.cdc_apply): a synthetic Debezium-style
    change log — an upsert for every key ≡1 (mod 10) and a LATER delete
    for the ≡1 (mod 20) half of them, same timestamp, sequence-number
    tiebreak — applied to the orders snapshot. Latest change per key
    wins: the delete overrides the upsert where both exist. One window
    + one anti-join/union pass."""
    from topnotch_spark.operators.dedup import _persist
    from topnotch_spark.operators.scd import cdc_apply

    # the synthetic change log derives from the snapshot itself, so the
    # snapshot/upsert/delete branches would re-scan orders 3x — persist
    # the used-column projection once (a real CDC feed reads its own log)
    orders = _persist(
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        )
    )
    ok = F.col("o_orderkey")
    ts = F.to_date(F.lit("1998-01-01"))
    upserts = orders.filter(ok % 10 == 1).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") + 10, 2).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        F.lit("u").alias("op"),
        ts.alias("change_ts"),
        F.lit(1).alias("change_seq"),
    )
    deletes = orders.filter(ok % 20 == 1).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
        F.lit("d").alias("op"),
        ts.alias("change_ts"),
        F.lit(2).alias("change_seq"),
    )
    out = cdc_apply(
        orders,
        upserts.unionByName(deletes),
        ["o_orderkey"],
        "change_ts",
        "op",
        "change_seq",
    )
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderdate",
    )


def melt_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (profile.melt — the inverse of the pivot cross-tab):
    part's numeric measures reshaped long, then a per-metric rollup.
    The EXPAND node is map-side; the only shuffle is the bounded
    groupBy(metric)."""
    from topnotch_spark.operators.profile import melt

    long = melt(
        load(spark, sf_dir, "part"),
        ["p_partkey"],
        ["p_size", "p_retailprice"],
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-quality report (dedup.minhash_recall): what fraction of the
    TRUE Jaccard≥0.5 pairs the 16×4 banding finds — the number that
    justifies the banding config before a full-corpus run."""
    from topnotch_spark.operators.dedup import minhash_recall

    return minhash_recall(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=16,
        bands=4,
        shingle_n=5,
    )


def corr_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem's numeric measures in
    ONE scan (profile.corr_matrix): decimal(38,0)-exact sums make the
    correlations bit-identical across engines — no float-summation
    drift."""
    from topnotch_spark.operators.profile import corr_matrix

    return corr_matrix(
        load(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        decimals=2,
    )


def mi_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order priority and status
    (drift.mutual_information): quantifies the column dependence the
    chi-square test only detects. One bounded joint groupBy; exact
    integer counts inside the logs."""
    from topnotch_spark.operators.drift import mutual_information

    return mutual_information(
        load(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


def weighted_topn_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n weighted sampling without replacement (curation.
    weighted_sample_topn, Efraimidis–Spirakis A-Res): the 100
    length-weighted documents — deterministic md5 keys, distributed
    top-n, no global sort."""
    from topnotch_spark.operators.curation import weighted_sample_topn

    return weighted_sample_topn(
        load(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        ),
        "doc_id",
        F.col("n_chars").cast("double"),
        n=100,
    )


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for three fixed queries over the documents
    corpus — the sparse-retrieval scorer for data mining / RAG indexing.
    Integer micro-unit score sums make the ranking engine-exact."""
    from topnotch_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        spark,
        load(spark, sf_dir, "documents"),
        BM25_QUERIES,
        k=10,
    )


def curriculum_decile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum downsampling: per-source quality quartiles
    (ntile by n_chars desc) with linearly decaying keep rates and a
    deterministic md5 draw — band 1 keeps all, band 4 keeps 25%."""
    from topnotch_spark.operators.curation import curriculum_sample

    return curriculum_sample(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "n_chars",
        "source",
        n_bands=4,
    )


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val contamination: val-split docs sharing 5-gram shingles
    with any train-split doc under the standard 80/10/10 hash split —
    the near-duplicate-across-the-boundary check that a pure id-hash
    split cannot see."""
    from topnotch_spark.operators.curation import split_leakage

    return split_leakage(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        shingle_n=5, max_shingle_df=1000,
    )


def drift_weekly_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal drift trend: weekly PSI of event values against the
    earliest week — the time-series form of the drift monitor ("when
    did the feed drift?"). Integer micro-unit term sums keep the
    per-week PSI engine-exact."""
    from topnotch_spark.operators.drift import psi_trend

    return psi_trend(
        load(spark, sf_dir, "events"), "ts", "value",
        period="week", n_buckets=10,
    )


def quality_calibrated_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: percent_rank of n_chars within
    each source — raw scores mapped onto a comparable [0,1] scale so one
    corpus-wide threshold means the same thing for every source."""
    from topnotch_spark.operators.textqc import quality_rank_calibrate

    return quality_rank_calibrate(
        load(spark, sf_dir, "documents"), "doc_id", "n_chars", "source"
    )


def vocab_oov_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab coverage: per-source OOV rate against the corpus
    top-40 token vocabulary — the "does the tokenizer cover source X"
    pre-training check (k tightened so the synthetic corpus actually
    has OOV mass)."""
    from topnotch_spark.operators.textqc import vocab_oov_rate

    return vocab_oov_rate(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source",
        vocab_k=40,
    )


# Ordering contract: the driver's CORRECTNESS gate records oracle rows for
# the FIRST 50 entries only.  Round-8 rotation (executes the r07 verdict's
# top task, closing the r7 TODO that sat here):
#   slots 1-6   — the 6 round-6/7 additions that never had a driver row
#                 (text_bm25_topk .. vocab_oov_by_source; each was
#                 strict-hash-verified in r6/r7 sessions, but the driver
#                 gate had never recorded them);
#   slots 10-39 — the 30 entries whose last driver row is r04
#                 (assertion/diff family, view_tpch_q1, dedup/similarity
#                 core, computed by scanning CORRECTNESS_r01..r07 keys);
#   slots 7-9   — multimodal_phash_dedup / _audio_dedup / _video_dedup,
#                 new this round (no driver rows yet; each
#                 strict-hash-exact at both SFs);
#   slots 40-50 — the 11 alphabetically-first entries whose last driver
#                 row is r05 (asof_error_click ..; the next three
#                 displaced to 51+ by the new-query inserts).
# With this rotation, every catalog query ever written has at least one
# driver-side CORRECTNESS row, and the staleness frontier moves to r05.
# Entries 51+ all carry an r05+ driver row AND are covered each round by
# scripts/strict_hash_check.py (stricter than the driver gate), recorded
# in the committed CORRECTNESS_FULL_r*.json artifacts at sf0.01 + sf0.1.
ALL = {
    # driver gate checks the LEADING 50 slots. r10 rotation:
    # queries NEW this round first (a new query must earn a
    # driver-side CORRECTNESS row in the round that ships it) —
    # the 17 session-2 queries, then the 8 session-1 queries,
    # then the 13 queries whose last driver row was r05 (the
    # staleness tail the r9 verdict flagged), then the oldest
    # of the r07 cohort; slots 51+ start with the remaining
    # r07 queries so the r11 rotation is a shift.
    "drift_wasserstein_totalprice": drift_wasserstein_totalprice,
    "t_closeness_customers": t_closeness_customers,
    "kmv_source_jaccard": kmv_source_jaccard,
    "graph_communities_parts": graph_communities_parts,
    "stupid_backoff_en": stupid_backoff_en,
    "nb_en_classifier": nb_en_classifier,
    "dsir_select_docs": dsir_select_docs,
    "retrieval_mmr_topk": retrieval_mmr_topk,
    "streaming_wasserstein": streaming_wasserstein,
    "similarity_pq_recall": similarity_pq_recall,
    "zipf_fit_docs": zipf_fit_docs,
    "heaps_fit_docs": heaps_fit_docs,
    "coreset_kcenter_embeddings": coreset_kcenter_embeddings,
    "graph_kcore_parts": graph_kcore_parts,
    "cms_join_size_orders_events": cms_join_size_orders_events,
    "text_c4_rules": text_c4_rules,
    "vocab_coverage_docs": vocab_coverage_docs,
    "user_sequence_likelihood": user_sequence_likelihood,
    "source_drift_ranking": source_drift_ranking,
    "fd_check_orders": fd_check_orders,
    "lsh_tuning_16": lsh_tuning_16,
    "similarity_ivfpq_recall": similarity_ivfpq_recall,
    "embedding_dim_stats": embedding_dim_stats_table,
    "salt_plan_lineitem": salt_plan_lineitem,
    "cusum_value_by_user": cusum_value_by_user,
    "unigram_lm_vocab_docs": unigram_lm_vocab_docs,
    "langid_accuracy": langid_accuracy,
    "multimodal_phash_recall": multimodal_phash_recall,
    "unigram_fertility_by_source": unigram_fertility_by_source,
    "mixture_plan_sources": mixture_plan_sources,
    "cross_perplexity_en": cross_perplexity_en,
    "similarity_quantize_recall": similarity_quantize_recall,
    "unigram_segment_docs": unigram_segment_docs,
    "bpe_segment_docs": bpe_segment_docs,
    "wordpiece_segment_docs": wordpiece_segment_docs,
    "wordpiece_fertility_by_source": wordpiece_fertility_by_source,
    "streaming_sessionize": streaming_sessionize,
    "streaming_sliding_metrics": streaming_sliding_metrics,
    "streaming_transitions": streaming_transitions,
    "streaming_window_metrics": streaming_window_metrics,
    "text_gopher_rules": text_gopher_rules,
    "text_readability": text_readability,
    "text_token_entropy": text_token_entropy,
    "text_unigram_logprob": text_unigram_logprob,
    "token_histogram": token_histogram,
    "train_split_assign": train_split_assign,
    "trend_value_by_user": trend_value_by_user,
    "view_small_qty_revenue": view_small_qty_revenue,
    "winsorize_totalprice": winsorize_totalprice,
    "anomaly_value_zscore": anomaly_value_zscore,
    "basket_brand_pairs": basket_brand_pairs,
    "cdc_apply_orders": cdc_apply_orders,
    "corr_lineitem_measures": corr_lineitem_measures,
    "decontaminate_embedding": decontaminate_embedding,
    "dedup_clusters": dedup_clusters,
    "dedup_containment": dedup_containment,
    "dedup_duplicate_spans": dedup_duplicate_spans,
    "dedup_spans_rewrite": dedup_spans_rewrite,
    "dedup_keep_best": dedup_keep_best,
    "dedup_lines_footer": dedup_lines_footer,
    "dedup_minhash_recall": dedup_minhash_recall,
    "drift_ks_binned": drift_ks_binned,
    "drift_ks_totalprice": drift_ks_totalprice,
    "embedding_centroids": embedding_centroids,
    "embedding_quantize": embedding_quantize,
    "event_gaps_by_user": event_gaps_by_user,
    "ewma_value_by_user": ewma_value_by_user,
    "fk_integrity": fk_integrity,
    "k_anonymity_customers": k_anonymity_customers,
    "key_skew_orders": key_skew_orders,
    "l_diversity_customers": l_diversity_customers,
    "melt_part_measures": melt_part_measures,
    "mi_priority_status": mi_priority_status,
    "pack_token_shards": pack_token_shards,
    "pack_token_shards_partitioned": pack_token_shards_partitioned,
    "profile_lineitem_approx": profile_lineitem_approx,
    "sample_stratified": sample_stratified,
    "sample_stratified_topn": sample_stratified_topn,
    "similarity_ann_recall": similarity_ann_recall,
    # ---- below: not checked by the r10 driver gate ----
    "spatial_customer_supplier": spatial_customer_supplier,
    "streaming_anomaly": streaming_anomaly,
    "streaming_ewma": streaming_ewma,
    "text_bigram_logprob": text_bigram_logprob,
    "text_chunks": text_chunks,
    "text_normalize": text_normalize,
    "text_pii_scrub": text_pii_scrub,
    "text_quality_filter": text_quality_filter,
    "text_repetition": text_repetition,
    "text_tfidf_keywords": text_tfidf_keywords,
    "text_vocab_topk": text_vocab_topk,
    "token_drift_langs": token_drift_langs,
    "view_big_qty_orders": view_big_qty_orders,
    "view_cust_order_dist": view_cust_order_dist,
    "view_late_orders_exists": view_late_orders_exists,
    "view_nation_volume": view_nation_volume,
    "view_rich_inactive_custs": view_rich_inactive_custs,
    "vocab_overlap_langs": vocab_overlap_langs,
    "weighted_sample_bylength": weighted_sample_bylength,
    "weighted_topn_docs": weighted_topn_docs,
    "zorder_customers": zorder_customers,
    "bpe_merge_sequence_docs": bpe_merge_sequence_docs,
    "bpe_fertility_by_source": bpe_fertility_by_source,
    "event_paths_top": event_paths_top,
    "benford_totalprice": benford_totalprice,
    "cross_source_dups": cross_source_dups,
    "cluster_silhouette_embeddings": cluster_silhouette_embeddings,
    "streaming_event_paths": streaming_event_paths,
    "token_rank_shift_langs": token_rank_shift_langs,
    "collocations_docs": collocations_docs,
    "streaming_benford_value": streaming_benford_value,
    "view_revenue_by_nation": view_revenue_by_nation,
    "view_sessionize_events": view_sessionize_events,
    "view_topk_per_group": view_topk_per_group,
    "view_tpch_q1": view_tpch_q1,
    "asof_error_click": asof_error_click,
    "asof_nearest_click": asof_nearest_click,
    "bloom_membership": bloom_membership,
    "dedup_incremental": dedup_incremental,
    "dedup_index_compaction": dedup_index_compaction,
    "dedup_index_retirement": dedup_index_retirement,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "dedup_minhash_compaction": dedup_minhash_compaction,
    "dedup_incremental_semantic": dedup_incremental_semantic,
    "dedup_semantic_compaction": dedup_semantic_compaction,
    "dedup_rate_by_source": dedup_rate_by_source,
    "dedup_semantic": dedup_semantic,
    "dedup_semantic_trained": dedup_semantic_trained,
    "drift_chi2_priority": drift_chi2_priority,
    "drift_orders_totalprice": drift_orders_totalprice,
    "embedding_norm_outliers": embedding_norm_outliers,
    "embedding_project": embedding_project,
    "event_funnel": event_funnel,
    "event_transitions": event_transitions,
    "events_throttle_dedup": events_throttle_dedup,
    "fuzzy_customer_names": fuzzy_customer_names,
    "histogram_equidepth_totalprice": histogram_equidepth_totalprice,
    "interval_price_band": interval_price_band,
    "multimodal_blob_dedup": multimodal_blob_dedup,
    "multimodal_byte_stats": multimodal_byte_stats,
    "outliers_mad_totalprice": outliers_mad_totalprice,
    "pivot_order_status": pivot_order_status,
    "profile_lineitem": profile_lineitem,
    "quality_bands_by_source": quality_bands_by_source,
    "range_join_events": range_join_events,
    "retention_cohorts_weekly": retention_cohorts_weekly,
    "rolling_value_7d": rolling_value_7d,
    "sample_token_budget": sample_token_budget,
    "scd2_customer_segment": scd2_customer_segment,
    "source_lang_mix": source_lang_mix,
    "source_mix": source_mix,
    "streaming_assertion_metrics": streaming_assertion_metrics,
    "streaming_dedup": streaming_dedup,
    "streaming_incremental_dedup": streaming_incremental_dedup,
    "streaming_drift_monitor": streaming_drift_monitor,
    "streaming_enriched_metrics": streaming_enriched_metrics,
    "streaming_error_click_join": streaming_error_click_join,
    "streaming_funnel": streaming_funnel,
    "streaming_session_window": streaming_session_window,
    "text_classifier_quality": text_classifier_quality,
    "streaming_distinct_users": streaming_distinct_users,
    "graph_pagerank_parts": graph_pagerank_parts,
    "graph_ppr_related_parts": graph_ppr_related_parts,
    "graph_triangle_parts": graph_triangle_parts,
    "retrieval_rrf_fused": retrieval_rrf_fused,
    "cms_heavy_hitters": cms_heavy_hitters,
    "text_novelty": text_novelty,
    "corpus_diversity_by_source": corpus_diversity_by_source,
    "label_noise_knn": label_noise_knn,
    "contrastive_pairs_mined": contrastive_pairs_mined,
    "quantile_sketch_accuracy": quantile_sketch_accuracy,
    "streaming_topk_types": streaming_topk_types,
    "bpe_top_merges_docs": bpe_top_merges_docs,
    "split_cluster_safe": split_cluster_safe,
    "text_bm25_topk": text_bm25_topk,
    "curriculum_decile_sample": curriculum_decile_sample,
    "split_leakage_report": split_leakage_report,
    "drift_weekly_psi": drift_weekly_psi,
    "quality_calibrated_ranks": quality_calibrated_ranks,
    "vocab_oov_by_source": vocab_oov_by_source,
    "multimodal_phash_dedup": multimodal_phash_dedup,
    "dedup_incremental_phash": dedup_incremental_phash,
    "dedup_incremental_audio": dedup_incremental_audio,
    "dedup_incremental_video": dedup_incremental_video,
    "multimodal_audio_dedup": multimodal_audio_dedup,
    "multimodal_video_dedup": multimodal_video_dedup,
    "assertion_invalid_rows": assertion_invalid_rows,
    "assertion_metrics": assertion_metrics,
    "assertion_window_context": assertion_window_context,
    "customers_without_events": customers_without_events,
    "decontaminate_overlap": decontaminate_overlap,
    "dedup_embedding": dedup_embedding,
    "dedup_exact": dedup_exact,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "diff_orders": diff_orders,
    "diff_orders_changed_only": diff_orders_changed_only,
    "events_json_props": events_json_props,
    "latest_event_per_user": latest_event_per_user,
    "outliers_totalprice": outliers_totalprice,
    "salted_join_revenue": salted_join_revenue,
    "similarity_ann": similarity_ann,
    "similarity_ivf": similarity_ivf,
    "similarity_topk": similarity_topk,
    "text_fingerprints": text_fingerprints,
    "text_langid": text_langid,
    "text_quality": text_quality,
    "text_token_stats": text_token_stats,
    "timeseries_resample": timeseries_resample,
    "view_cube_revenue": view_cube_revenue,
}
