"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end plan (assertion command over
sf0.001 lineitem) and returns the invalid-rows DataFrame.

``ORACLES`` is the catalog's one index: it maps each query name, in the
driver's slot order, to a callable returning the DuckDB-equivalent SQL.
``queries()`` resolves each name to the same-named ``catalog`` function
and ``oracle_sql()`` renders each SQL, so both share the table's keys and
order. Column names/aliases match pairwise; doubles from aggregation are
rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from topnotch_spark import catalog, oracles
from topnotch_spark.functions.layout import z_value_sql
from topnotch_spark.operators.assertions import run_assertions
from topnotch_spark.operators.diff import DEFAULT_DIFF_THRESHOLD as EPS
from topnotch_spark.operators.textqc import LANG_MARKERS


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full assertion command on sf0.001 lineitem — fused-count
    rule evaluation + single-pass invalid-row union."""
    sf_dir = "/root/testdata/sf0.001"
    df = catalog.load(spark, sf_dir, "lineitem")
    result = run_assertions(df, "flagship", catalog.LINEITEM_RULES)
    return result.df


# one "CASE WHEN <rule> THEN NULL ELSE '<description>' END" per lineitem
# rule: the assertion's __REASON_INVALID__ parts
RULE_REASON_CASES = ",\n        ".join(
    f"CASE WHEN {r.query} THEN NULL ELSE '{r.description}' END"
    for r in catalog.LINEITEM_RULES
)

# Ordering contract: the driver's CORRECTNESS gate records oracle rows for
# the LEADING 50 entries only. r10 rotation: queries new that round first
# (a new query must earn a driver-side CORRECTNESS row in the round that
# ships it) — the 17 session-2 queries, then the 8 session-1 queries, then
# the 13 queries whose last driver row was r05 (the staleness tail the r9
# verdict flagged), then the oldest of the r07 cohort; slots 51+ start
# with the remaining r07 queries so the next rotation is a shift. Every
# catalog query has at least one driver-side CORRECTNESS row, and entries
# 51+ are covered by scripts/strict_hash_check.py (stricter than the
# driver gate), recorded in the committed CORRECTNESS_FULL_*.json
# artifacts. Each name is also the name of a ``catalog`` function.
ORACLES: dict[str, Callable[[], str]] = {
    "drift_wasserstein_totalprice": lambda: oracles.drift_wasserstein_sql(
        "orders", "o_totalprice", "o_orderstatus = 'F'", bins=32
    ),
    "t_closeness_customers": lambda: oracles.t_closeness_sql(
        "customer",
        {
            "c_nationkey": "c_nationkey",
            "acctbal_band": "CAST(floor(c_acctbal / 1000) AS BIGINT)",
        },
        "c_mktsegment",
        t=0.2,
    ),
    "kmv_source_jaccard": lambda: oracles.kmv_group_jaccard_sql(
        "source", k=128
    ),
    "graph_communities_parts": lambda: oracles.label_propagation_parts_sql(
        iters=4, max_basket=12, min_support=2
    ),
    "stupid_backoff_en": lambda: oracles.stupid_backoff_sql(
        "lang = 'en'", alpha=0.4
    ),
    "nb_en_classifier": lambda: oracles.nb_train_score_sql("lang = 'en'"),
    "dsir_select_docs": lambda: oracles.dsir_weights_sql(
        "lang = 'en'", n_buckets=512, k_select=100
    ),
    "retrieval_mmr_topk": lambda: oracles.mmr_rerank_sql(
        dim=64, k=10, n_candidates=50, n_queries=5, lambda_milli=700
    ),
    "streaming_wasserstein": lambda: oracles.drift_wasserstein_two_sql(
        "events", "value", "event_type = 'click'", "TRUE", bins=32
    ),
    "similarity_pq_recall": lambda: oracles.pq_recall_sql(
        dim=64, m=8, n_codes=16, k=10, n_queries=5
    ),
    "zipf_fit_docs": lambda: oracles.zipf_fit_sql(vocab_k=200),
    "heaps_fit_docs": lambda: oracles.heaps_fit_sql(n_checkpoints=10),
    "coreset_kcenter_embeddings": lambda: oracles.kcenter_select_sql(
        dim=64, k=12
    ),
    "graph_kcore_parts": lambda: oracles.k_core_parts_sql(
        k=4, max_rounds=8, max_basket=12, min_support=2
    ),
    "cms_join_size_orders_events": lambda: oracles.cms_join_size_sql(
        "orders", "o_custkey", "events", "user_id",
        width=1024, depth=4,
    ),
    "text_c4_rules": lambda: oracles.c4_rules_sql(),
    "vocab_coverage_docs": lambda: oracles.vocab_coverage_sql(max_log2_k=10),
    "user_sequence_likelihood": lambda: oracles.sequence_likelihood_sql(k=1.0),
    "source_drift_ranking": lambda: oracles.groupwise_ks_sql(
        "documents", "source", "n_chars", bins=32
    ),
    "fd_check_orders": lambda: oracles.fd_check_sql(
        "orders",
        [
            ("o_orderkey", "o_orderpriority"),
            ("o_custkey", "o_orderstatus"),
        ],
    ),
    "lsh_tuning_16": lambda: oracles.lsh_tuning_sql(
        num_hashes=16, threshold=0.5
    ),
    "similarity_ivfpq_recall": lambda: oracles.ivfpq_recall_sql(
        dim=64, m=8, n_codes=16, **catalog.IVF,
        k=10, n_queries=5,
    ),
    "embedding_dim_stats": lambda: oracles.embedding_dim_stats_sql(),
    "salt_plan_lineitem": lambda: oracles.salt_plan_sql(
        "lineitem", "l_suppkey", target=600, max_salt=4
    ),
    "cusum_value_by_user": lambda: oracles.cusum_changepoints_sql(
        drift_k=0.5, threshold_h=3.0, decimals=2
    ),
    "unigram_lm_vocab_docs": lambda: oracles.unigram_lm_vocab_sql(
        **catalog.UNIGRAM_LM,
    ),
    "langid_accuracy": lambda: oracles.langid_accuracy_sql(
        LANG_MARKERS, true_col="lang"
    ),
    "multimodal_phash_recall": lambda: oracles.multimodal_phash_recall_sql(),
    "unigram_fertility_by_source": lambda: oracles.unigram_fertility_sql(
        group_col="source", **catalog.UNIGRAM_LM,
    ),
    "mixture_plan_sources": lambda: oracles.mixture_allocate_sql(
        "source", catalog.MIX_TARGETS_MILLI, catalog.MIX_BUDGET_TOKENS,
        max_repeat_milli=catalog.MIX_MAX_REPEAT_MILLI,
    ),
    "cross_perplexity_en": lambda: oracles.cross_perplexity_sql(
        "lang = 'en'", k=1.0
    ),
    "similarity_quantize_recall": lambda: oracles.quantize_recall_sql(
        dim=64, k=10, n_queries=5
    ),
    "unigram_segment_docs": lambda: oracles.unigram_segment_sql(
        **catalog.UNIGRAM_LM,
    ),
    "bpe_segment_docs": lambda: oracles.bpe_segment_sql(n_merges=8),
    "wordpiece_segment_docs": lambda: oracles.wordpiece_segment_sql(
        **catalog.WORDPIECE
    ),
    "wordpiece_fertility_by_source": lambda: oracles.wordpiece_fertility_sql(
        group_col="source", **catalog.WORDPIECE,
    ),
    "streaming_sessionize": lambda: oracles.streaming_sessionize_sql(30),
    "streaming_sliding_metrics": lambda: oracles.streaming_sliding_metrics_sql(),
    "streaming_transitions": lambda: ORACLES["event_transitions"](),
    "streaming_window_metrics": lambda: oracles.streaming_window_metrics_sql(),
    "text_gopher_rules": lambda: oracles.gopher_rules_sql(
        LANG_MARKERS["en"], min_stop_hits=1
    ),
    "text_readability": lambda: oracles.readability_sql(),
    "text_token_entropy": lambda: oracles.token_entropy_sql(),
    "text_unigram_logprob": lambda: oracles.text_unigram_logprob_sql(),
    "token_histogram": lambda: oracles.token_histogram_sql(),
    "train_split_assign": lambda: oracles.hash_split_sql(
        catalog.SPLIT_FRACTIONS
    ),
    "trend_value_by_user": lambda: oracles.trend_per_key_sql(),
    "view_small_qty_revenue": lambda: """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_small_orders
            FROM lineitem l1
            JOIN part p ON p.p_partkey = l1.l_partkey
            WHERE p.p_brand = 'Brand#2'
              AND p.p_type = 'ECONOMY'
              AND l1.l_quantity < (
                    SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = l1.l_partkey
              )
        """,
    "winsorize_totalprice": lambda: oracles.winsorize_sql(
        "orders",
        "o_totalprice",
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
        ["o_orderstatus"],
        lower_p=0.05,
        upper_p=0.95,
    ),
    "anomaly_value_zscore": lambda: oracles.rolling_zscore_sql(
        window_rows=20, threshold=3.0, min_rows=12, decimals=2
    ),
    "basket_brand_pairs": lambda: """
            WITH items AS (
              SELECT DISTINCT l_orderkey AS b, p_brand AS i
              FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            m AS (SELECT i, count(*) AS cnt FROM items GROUP BY i),
            t AS (SELECT count(DISTINCT b) AS n FROM items),
            p AS (
              SELECT a.i AS item_a, b.i AS item_b, count(*) AS pair_count
              FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2
              HAVING count(*) >= 5
            )
            SELECT item_a, item_b, pair_count,
                   ma.cnt AS count_a, mb.cnt AS count_b,
                   round(CAST(pair_count * t.n AS DOUBLE)
                         / CAST(ma.cnt * mb.cnt AS DOUBLE), 6) AS lift
            FROM p
            JOIN m ma ON ma.i = p.item_a
            JOIN m mb ON mb.i = p.item_b, t
        """,
    "cdc_apply_orders": lambda: """
            SELECT o_orderkey, o_orderstatus,
                   round(o_totalprice, 2) AS o_totalprice, o_orderdate
            FROM orders WHERE o_orderkey % 10 <> 1
            UNION ALL
            SELECT o_orderkey, o_orderstatus,
                   round(round(o_totalprice + 10, 2), 2) AS o_totalprice,
                   o_orderdate
            FROM orders WHERE o_orderkey % 10 = 1 AND o_orderkey % 20 <> 1
        """,
    "corr_lineitem_measures": lambda: oracles.corr_matrix_sql(
        "lineitem",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        decimals=2,
    ),
    "decontaminate_embedding": lambda: oracles.embedding_decontaminate_sql(
        dim=64, threshold=0.25, n_planes=4, bench_mod=41
    ),
    "dedup_clusters": lambda: oracles.dedup_clusters_sql(**catalog.MINHASH),
    "dedup_containment": lambda: oracles.dedup_containment_sql(
        threshold=0.5, **catalog.SHINGLES
    ),
    "dedup_duplicate_spans": lambda: oracles.duplicate_spans_sql(
        **catalog.DUP_SPANS
    ),
    "dedup_spans_rewrite": lambda: oracles.rewrite_duplicate_spans_sql(
        **catalog.DUP_SPANS
    ),
    "dedup_keep_best": lambda: oracles.dedup_keep_best_sql(
        LANG_MARKERS["en"], **catalog.MINHASH
    ),
    "dedup_lines_footer": lambda: oracles.dedup_lines_sql(),
    "dedup_minhash_recall": lambda: oracles.minhash_recall_sql(
        **catalog.MINHASH
    ),
    "drift_ks_binned": lambda: oracles.drift_ks_binned_sql(
        "orders", "o_totalprice", "o_orderstatus = 'F'", bins=32
    ),
    "drift_ks_totalprice": lambda: oracles.drift_ks_sql(
        "orders", "o_totalprice", "o_orderstatus = 'F'"
    ),
    "embedding_centroids": lambda: oracles.embedding_centroids_sql(),
    "embedding_quantize": lambda: oracles.embedding_quantize_sql(),
    "event_gaps_by_user": lambda: oracles.interarrival_stats_sql(),
    "ewma_value_by_user": lambda: oracles.ewma_per_key_sql(
        terms=16, decimals=2
    ),
    "fk_integrity": lambda: oracles.fk_integrity_sql([
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("events->customer", "events", "user_id", "customer", "c_custkey"),
    ]),
    "k_anonymity_customers": lambda: """
            SELECT c_nationkey,
                   CAST(floor(c_acctbal / 100) AS BIGINT) AS acctbal_band,
                   count(*) AS group_size,
                   count(*) >= 5 AS meets_k
            FROM customer
            GROUP BY 1, 2
            HAVING count(*) < 5
        """,
    "key_skew_orders": lambda: oracles.key_skew_topk_sql(
        "orders", "o_custkey", k=10
    ),
    "l_diversity_customers": lambda: """
            SELECT c_nationkey,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
                   count(*) AS group_size,
                   count(DISTINCT coalesce(CAST(c_mktsegment AS VARCHAR),
                                           '__NULL__'))
                     AS distinct_sensitive,
                   count(DISTINCT coalesce(CAST(c_mktsegment AS VARCHAR),
                                           '__NULL__')) >= 3 AS meets_l
            FROM customer
            GROUP BY 1, 2
            HAVING count(DISTINCT coalesce(CAST(c_mktsegment AS VARCHAR),
                                           '__NULL__')) < 3
        """,
    "melt_part_measures": lambda: """
            WITH long AS (
                SELECT p_partkey, 'p_size' AS metric,
                       CAST(p_size AS DOUBLE) AS value FROM part
                UNION ALL
                SELECT p_partkey, 'p_retailprice',
                       CAST(p_retailprice AS DOUBLE) FROM part
            )
            SELECT metric, count(*) AS n,
                   round(sum(value), 2) AS total,
                   round(min(value), 2) AS min_value,
                   round(max(value), 2) AS max_value
            FROM long GROUP BY metric
        """,
    "mi_priority_status": lambda: oracles.mutual_information_sql(
        "orders", "o_orderpriority", "o_orderstatus"
    ),
    "pack_token_shards": lambda: oracles.pack_token_shards_sql(budget=2000),
    "pack_token_shards_partitioned": lambda: oracles.pack_token_shards_partitioned_sql(
            budget=2000, partition_col="source"
        ),
    "profile_lineitem_approx": lambda: oracles.profile_accuracy_sql(
        "lineitem",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    ),
    "sample_stratified": lambda: oracles.sample_stratified_sql(
        catalog.SAMPLE_RATES
    ),
    "sample_stratified_topn": lambda: oracles.sample_stratified_topn_sql(20),
    "similarity_ann_recall": lambda: oracles.similarity_recall_sql(
        dim=64, k=10, n_queries=5, n_planes=8, **catalog.IVF
    ),
    # ---- below: not checked by the r10 driver gate ----
    "spatial_customer_supplier": lambda: """
            WITH c AS (
              SELECT c_custkey,
                     (c_custkey * 7919) % 10000 AS x,
                     (c_custkey * 104729) % 10000 AS y
              FROM customer
            ),
            s AS (
              SELECT s_suppkey,
                     (s_suppkey * 7919) % 10000 AS x,
                     (s_suppkey * 104729) % 10000 AS y
              FROM supplier
            )
            SELECT c_custkey, s_suppkey,
                   (c.x - s.x) * (c.x - s.x)
                   + (c.y - s.y) * (c.y - s.y) AS dist_sq
            FROM c JOIN s
              ON (c.x - s.x) * (c.x - s.x)
                 + (c.y - s.y) * (c.y - s.y) <= 150 * 150
        """,
    "streaming_anomaly": lambda: ORACLES["anomaly_value_zscore"](),
    "streaming_ewma": lambda: ORACLES["ewma_value_by_user"](),
    "text_bigram_logprob": lambda: oracles.text_bigram_logprob_sql(k=1.0),
    "text_chunks": lambda: oracles.text_chunks_sql(size=400, overlap=100),
    "text_normalize": lambda: oracles.text_normalize_sql(),
    "text_pii_scrub": lambda: oracles.text_pii_scrub_sql(),
    "text_quality_filter": lambda: oracles.text_quality_filter_sql(
        LANG_MARKERS["en"]
    ),
    "text_repetition": lambda: oracles.text_repetition_sql(shingle_n=3),
    "text_tfidf_keywords": lambda: oracles.text_tfidf_keywords_sql(k=3),
    "text_vocab_topk": lambda: oracles.text_vocab_topk_sql(k=50),
    "token_drift_langs": lambda: oracles.token_drift_sql(
        "lang = 'en'", "lang = 'es'"
    ),
    "view_big_qty_orders": lambda: """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   CAST(sum(l_quantity) AS BIGINT) AS total_qty
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem
                GROUP BY l_orderkey HAVING sum(l_quantity) > 120
            )
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        """,
    "view_cust_order_dist": lambda: """
            SELECT n_orders, count(*) AS n_custs
            FROM (
                SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
                FROM customer c
                LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey
            )
            GROUP BY n_orders
        """,
    "view_late_orders_exists": lambda: """
            SELECT o_orderpriority, count(*) AS n_late_orders
            FROM orders o
            WHERE EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
            )
            GROUP BY o_orderpriority
        """,
    "view_nation_volume": lambda: catalog._Q7_SQL.format(
        supplier="supplier",
        lineitem="lineitem",
        orders="orders",
        customer="customer",
        nation="nation",
    ),
    "view_rich_inactive_custs": lambda: """
            WITH g AS (
              SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                          AS BIGINT) AS s,
                     count(*) AS n
              FROM customer WHERE c_acctbal > 0.0
            )
            SELECT c_mktsegment, count(*) AS n_custs,
                   round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS total_bal
            FROM customer c, g
            WHERE CAST(round(c_acctbal * 100) AS BIGINT) * g.n > g.s
              AND NOT EXISTS (
                  SELECT 1 FROM events e WHERE e.user_id = c.c_custkey
              )
            GROUP BY c_mktsegment
        """,
    "vocab_overlap_langs": lambda: oracles.vocab_overlap_sql("lang"),
    "weighted_sample_bylength": lambda: oracles.weighted_sample_sql(),
    "weighted_topn_docs": lambda: """
            SELECT doc_id, source, n_chars
            FROM (
                SELECT doc_id, source, n_chars,
                       ln((CAST(('0x' || substr(md5('wres:' || CAST(doc_id
                              AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                          / 4294967296.0)
                       / CAST(n_chars AS DOUBLE) AS wkey
                FROM documents
                WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
                ORDER BY wkey DESC, doc_id
                LIMIT 100
            )
        """,
    "zorder_customers": lambda: f"""
            WITH g AS (
              SELECT c_custkey,
                     (c_custkey * 7919) % 1024 AS x,
                     (c_custkey * 104729) % 1024 AS y
              FROM customer
            )
            SELECT c_custkey, x, y,
                   {z_value_sql('x', 'y', bits=10)} AS zkey,
                   {z_value_sql('x', 'y', bits=10)} >> 14 AS zbucket
            FROM g
        """,
    "bpe_merge_sequence_docs": lambda: oracles.bpe_merge_sequence_sql(
        n_merges=8
    ),
    "bpe_fertility_by_source": lambda: oracles.bpe_fertility_sql(
        n_merges=6, group_col="source"
    ),
    "event_paths_top": lambda: oracles.frequent_paths_sql(
        **catalog.EVENT_PATHS
    ),
    "benford_totalprice": lambda: oracles.benford_sql(
        "orders", "o_totalprice", int_scale=100
    ),
    "cross_source_dups": lambda: oracles.cross_source_dup_sql(
        **catalog.MINHASH
    ),
    "cluster_silhouette_embeddings": lambda: oracles.cluster_silhouette_sql(
        dim=64, n_centroids=16
    ),
    "streaming_event_paths": lambda: ORACLES["event_paths_top"](),
    "token_rank_shift_langs": lambda: oracles.token_rank_shift_sql(
        "lang = 'en'", "lang = 'es'", vocab_k=200, k=20
    ),
    "collocations_docs": lambda: oracles.collocations_sql(min_count=5, k=20),
    "streaming_benford_value": lambda: oracles.streaming_benford_sql(
        window="1 day", int_scale=100
    ),
    "view_revenue_by_nation": lambda: """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
            GROUP BY n_name
        """,
    "view_sessionize_events": lambda: """
            SELECT user_id,
                   session_id,
                   count(*)             AS n_events,
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
                FROM events
              ) flagged
            ) sessions
            GROUP BY user_id, session_id
        """,
    "view_topk_per_group": lambda: """
            SELECT p_brand, p_partkey, p_retailprice
            FROM (
              SELECT p_brand, p_partkey, p_retailprice,
                     row_number() OVER (
                       PARTITION BY p_brand
                       ORDER BY p_retailprice DESC, p_partkey ASC
                     ) AS rk
              FROM part
            ) ranked
            WHERE rk <= 3
        """,
    "view_tpch_q1": lambda: """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2)                                        AS sum_qty,
                   round(sum(l_extendedprice), 2)                                   AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
                   round(avg(l_quantity), 4)                                        AS avg_qty,
                   round(avg(l_extendedprice), 4)                                   AS avg_price,
                   round(avg(l_discount), 6)                                        AS avg_disc,
                   count(*)                                                         AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
    "asof_error_click": lambda: oracles.asof_error_click_sql(),
    "asof_nearest_click": lambda: oracles.asof_nearest_click_sql(),
    "bloom_membership": lambda: oracles.bloom_membership_sql(
        m_bits=2048, k_hashes=3
    ),
    "dedup_incremental": lambda: oracles.dedup_incremental_sql(),
    "dedup_index_compaction": lambda: oracles.dedup_index_compaction_sql(),
    "dedup_index_retirement": lambda: oracles.dedup_index_retirement_sql(),
    "dedup_incremental_minhash": lambda: oracles.dedup_incremental_minhash_sql(
        **catalog.INDEX_MINHASH
    ),
    "dedup_minhash_compaction": lambda: oracles.dedup_minhash_compaction_sql(
        **catalog.INDEX_MINHASH
    ),
    "dedup_incremental_semantic": lambda: oracles.dedup_incremental_semantic_sql(
        dim=64, **catalog.SEMANTIC_KMEANS, threshold=0.35
    ),
    "dedup_semantic_compaction": lambda: oracles.dedup_semantic_compaction_sql(
        dim=64, **catalog.SEMANTIC_KMEANS, threshold=0.35
    ),
    "dedup_rate_by_source": lambda: oracles.dedup_rate_by_source_sql(),
    "dedup_semantic": lambda: oracles.semantic_dedup_sql(
        dim=64, n_clusters=16, threshold=0.35
    ),
    "dedup_semantic_trained": lambda: oracles.semantic_dedup_trained_sql(
        dim=64, **catalog.SEMANTIC_KMEANS, threshold=0.35, gate=0.15
    ),
    "drift_chi2_priority": lambda: oracles.drift_chi2_priority_sql(),
    "drift_orders_totalprice": lambda: oracles.drift_sql(10),
    "embedding_norm_outliers": lambda: oracles.embedding_norm_outliers_sql(
        k=2.0
    ),
    "embedding_project": lambda: oracles.project_embeddings_sql(
        out_dim=8, dim=64
    ),
    "event_funnel": lambda: oracles.event_funnel_sql(catalog.FUNNEL_STAGES),
    "event_transitions": lambda: oracles.event_transitions_sql(),
    "events_throttle_dedup": lambda: oracles.events_throttle_dedup_sql(300),
    "fuzzy_customer_names": lambda: oracles.fuzzy_match_sql(),
    "histogram_equidepth_totalprice": lambda: oracles.equidepth_histogram_sql(),
    "interval_price_band": lambda: oracles.interval_price_band_sql(),
    "multimodal_blob_dedup": lambda: oracles.multimodal_blob_dedup_sql(),
    "multimodal_byte_stats": lambda: oracles.multimodal_byte_stats_sql(),
    "outliers_mad_totalprice": lambda: oracles.mad_outliers_sql(
        "orders",
        "o_totalprice",
        ["o_orderpriority"],
        ["o_orderkey", "o_orderpriority", "o_totalprice"],
        k=3.5,
    ),
    "pivot_order_status": lambda: oracles.pivot_orders_sql(),
    "profile_lineitem": lambda: oracles.profile_sql(
        "lineitem",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        round_digits=4,
    ),
    "quality_bands_by_source": lambda: oracles.quality_bands_sql(n_bands=4),
    "range_join_events": lambda: oracles.range_join_events_sql(3600),
    "retention_cohorts_weekly": lambda: oracles.retention_cohorts_sql(),
    "rolling_value_7d": lambda: oracles.rolling_window_agg_sql(),
    "sample_token_budget": lambda: oracles.sample_token_budget_sql(
        budget_tokens=10_000, alpha=0.5
    ),
    "scd2_customer_segment": lambda: oracles.scd2_customer_segment_sql(),
    "source_lang_mix": lambda: oracles.lang_mix_sql(LANG_MARKERS),
    "source_mix": lambda: oracles.source_mix_sql(alpha=0.5),
    "streaming_assertion_metrics": lambda: oracles.streaming_assertion_metrics_sql(
        catalog.STREAM_RULES
    ),
    "streaming_dedup": lambda: oracles.streaming_dedup_sql(),
    "streaming_incremental_dedup": lambda: oracles.streaming_incremental_dedup_sql(),
    "streaming_drift_monitor": lambda: oracles.streaming_drift_sql(10),
    "streaming_enriched_metrics": lambda: """
            SELECT time_bucket(INTERVAL 1 day, CAST(e.ts AS TIMESTAMP))
                       AS window_start,
                   c.c_nationkey,
                   count(*) AS n_events,
                   round(sum(e.value), 6) AS sum_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2
        """,
    "streaming_error_click_join": lambda: oracles.streaming_error_click_join_sql(
        3600
    ),
    "streaming_funnel": lambda: ORACLES["event_funnel"](),
    "streaming_session_window": lambda: oracles.streaming_session_window_sql(
        30
    ),
    "text_classifier_quality": lambda: oracles.linear_classifier_sql(
        catalog.CLASSIFIER_WEIGHTS,
        bias_milli=catalog.CLASSIFIER_BIAS_MILLI,
    ),
    "streaming_distinct_users": lambda: oracles.streaming_distinct_users_sql(
        "1 hour"
    ),
    "graph_pagerank_parts": lambda: oracles.pagerank_parts_sql(
        iters=8, max_basket=12, min_support=2
    ),
    "graph_ppr_related_parts": lambda: oracles.ppr_related_parts_sql(
        iters=8, k_seeds=5, max_basket=12, min_support=2
    ),
    "graph_triangle_parts": lambda: oracles.triangle_parts_sql(
        min_support=2, max_basket=12
    ),
    "retrieval_rrf_fused": lambda: oracles.retrieval_rrf_sql(
        catalog.BM25_QUERIES
    ),
    "cms_heavy_hitters": lambda: oracles.cms_heavy_hitters_sql(),
    "text_novelty": lambda: oracles.text_novelty_sql(shingle_n=3),
    "corpus_diversity_by_source": lambda: oracles.corpus_diversity_sql(),
    "label_noise_knn": lambda: oracles.label_knn_agreement_sql(
        dim=64, k=5, n_planes=8, min_agree=0.5
    ),
    "contrastive_pairs_mined": lambda: oracles.contrastive_pairs_sql(
        dim=64, k=5, n_queries=8
    ),
    "quantile_sketch_accuracy": lambda: oracles.kmv_accuracy_sql(
        qs=(0.25, 0.5, 0.75, 0.9, 0.99), k=256
    ),
    "streaming_topk_types": lambda: oracles.streaming_topk_types_sql(k=3),
    "bpe_top_merges_docs": lambda: oracles.bpe_top_merges_sql(k=50),
    "split_cluster_safe": lambda: oracles.cluster_safe_split_sql(
        {"train": 0.9, "val": 0.1},
        **catalog.MINHASH,
    ),
    "text_bm25_topk": lambda: oracles.bm25_topk_sql(
        catalog.BM25_QUERIES, k=10
    ),
    "curriculum_decile_sample": lambda: oracles.curriculum_sample_sql(
        n_bands=4
    ),
    "split_leakage_report": lambda: oracles.split_leakage_sql(
        **catalog.SHINGLES
    ),
    "drift_weekly_psi": lambda: oracles.psi_trend_sql(
        period="week", n_buckets=10
    ),
    "quality_calibrated_ranks": lambda: oracles.quality_rank_calibrate_sql(),
    "vocab_oov_by_source": lambda: oracles.vocab_oov_rate_sql(vocab_k=40),
    "multimodal_phash_dedup": lambda: oracles.multimodal_phash_dedup_sql(),
    "dedup_incremental_phash": lambda: oracles.dedup_incremental_phash_sql(),
    "dedup_incremental_audio": lambda: oracles.dedup_incremental_audio_sql(),
    "dedup_incremental_video": lambda: oracles.dedup_incremental_video_sql(),
    "multimodal_audio_dedup": lambda: oracles.multimodal_audio_dedup_sql(),
    "multimodal_video_dedup": lambda: oracles.multimodal_video_dedup_sql(),
    "assertion_invalid_rows": lambda: f"""
            SELECT * FROM (
              SELECT l.*,
                     concat_ws(' &&& ',
        {RULE_REASON_CASES}) AS "__REASON_INVALID__"
              FROM lineitem l
            ) tagged
            WHERE "__REASON_INVALID__" <> ''
        """,
    "assertion_metrics": lambda: f"""
            WITH tot AS (
              SELECT count(*) AS total,
                     CAST(sum(CASE WHEN NOT(l_discount <= 0.06) THEN 1 ELSE 0 END) AS BIGINT) AS i0,
                     CAST(sum(CASE WHEN NOT(l_quantity < 50) THEN 1 ELSE 0 END) AS BIGINT)    AS i1,
                     CAST(sum(CASE WHEN NOT(l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS i2
              FROM lineitem
            )
            SELECT '{catalog.LINEITEM_RULES[0].description}' AS description, i0 AS num_invalid,
                   round(i0 * 1.0 / total, 8) AS fraction_invalid,
                   i0 * 1.0 / total > {catalog.LINEITEM_RULES[0].threshold} AS failed FROM tot
            UNION ALL
            SELECT '{catalog.LINEITEM_RULES[1].description}', i1,
                   round(i1 * 1.0 / total, 8), i1 * 1.0 / total > {catalog.LINEITEM_RULES[1].threshold} FROM tot
            UNION ALL
            SELECT '{catalog.LINEITEM_RULES[2].description}', i2,
                   round(i2 * 1.0 / total, 8), i2 * 1.0 / total > {catalog.LINEITEM_RULES[2].threshold} FROM tot
        """,
    "assertion_window_context": lambda: """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_shipdate
            FROM lineitem
            WHERE l_orderkey IN (
              SELECT DISTINCT l_orderkey FROM lineitem WHERE NOT(l_discount <= 0.06)
            )
        """,
    "customers_without_events": lambda: """
            SELECT c_custkey, c_nationkey FROM customer c
            WHERE NOT EXISTS (
              SELECT 1 FROM events e WHERE e.user_id = c.c_custkey
            )
        """,
    "decontaminate_overlap": lambda: oracles.cross_corpus_overlap_sql(
        catalog.BENCH_SOURCES, shingle_n=5
    ),
    "dedup_embedding": lambda: oracles.dedup_embedding_sql(
        dim=64, threshold=0.25, n_planes=4
    ),
    "dedup_exact": lambda: oracles.dedup_exact_sql(),
    "dedup_fingerprint": lambda: oracles.dedup_fingerprint_sql(),
    "dedup_minhash_lsh": lambda: oracles.dedup_minhash_sql(**catalog.MINHASH),
    "dedup_ngram_jaccard": lambda: oracles.dedup_ngram_jaccard_sql(
        threshold=0.5, **catalog.SHINGLES
    ),
    "dedup_simhash": lambda: oracles.dedup_simhash_sql(
        bits=32, band_bits=8, max_hamming=2, shingle_n=3
    ),
    "diff_orders": lambda: f"""
            WITH first_t AS (
              SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
            ),
            second_t AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 13 = 5 THEN CAST(NULL AS DOUBLE)
                          WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                          ELSE o_totalprice END AS o_totalprice,
                     CASE WHEN o_orderkey % 11 = 0 THEN 'CHANGED'
                          ELSE o_orderpriority END AS o_orderpriority
              FROM orders WHERE o_orderkey % 97 != 3
            )
            SELECT f.o_orderkey      AS first_o_orderkey,
                   s.o_orderkey      AS second_o_orderkey,
                   f.o_totalprice    AS first_o_totalprice,
                   s.o_totalprice    AS second_o_totalprice,
                   CASE WHEN f.o_totalprice IS NOT NULL AND s.o_totalprice IS NOT NULL
                        THEN CASE WHEN abs(f.o_totalprice - s.o_totalprice) >= {EPS}
                                  THEN f.o_totalprice - s.o_totalprice ELSE 0.0 END
                        ELSE NULL END AS first_o_totalprice__minus__second_o_totalprice,
                   CASE WHEN f.o_totalprice IS NULL AND s.o_totalprice IS NULL THEN 'both null'
                        WHEN f.o_totalprice IS NULL THEN 'only first null'
                        WHEN s.o_totalprice IS NULL THEN 'only second null'
                        WHEN abs(f.o_totalprice - s.o_totalprice) <= {EPS} THEN 'equal'
                        ELSE 'both not null, same type, not equal'
                        END AS first_o_totalprice__equals__second_o_totalprice,
                   f.o_orderpriority AS first_o_orderpriority,
                   s.o_orderpriority AS second_o_orderpriority,
                   CASE WHEN f.o_orderpriority IS NULL AND s.o_orderpriority IS NULL THEN 'both null'
                        WHEN f.o_orderpriority IS NULL THEN 'only first null'
                        WHEN s.o_orderpriority IS NULL THEN 'only second null'
                        WHEN f.o_orderpriority = s.o_orderpriority THEN 'equal'
                        ELSE 'both not null, same type, not equal'
                        END AS first_o_orderpriority__equals__second_o_orderpriority
            FROM first_t f FULL OUTER JOIN second_t s ON f.o_orderkey = s.o_orderkey
        """,
    "diff_orders_changed_only": lambda: f"""
            WITH first_t AS (
              SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
            ),
            second_t AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 13 = 5 THEN CAST(NULL AS DOUBLE)
                          WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                          ELSE o_totalprice END AS o_totalprice,
                     CASE WHEN o_orderkey % 11 = 0 THEN 'CHANGED'
                          ELSE o_orderpriority END AS o_orderpriority
              FROM orders WHERE o_orderkey % 97 != 3
            )
            SELECT f.o_orderkey      AS first_o_orderkey,
                   s.o_orderkey      AS second_o_orderkey,
                   f.o_totalprice    AS first_o_totalprice,
                   s.o_totalprice    AS second_o_totalprice,
                   CASE WHEN f.o_totalprice IS NOT NULL AND s.o_totalprice IS NOT NULL
                        THEN CASE WHEN abs(f.o_totalprice - s.o_totalprice) >= {EPS}
                                  THEN f.o_totalprice - s.o_totalprice ELSE 0.0 END
                        ELSE NULL END AS first_o_totalprice__minus__second_o_totalprice,
                   CASE WHEN f.o_totalprice IS NULL AND s.o_totalprice IS NULL THEN 'both null'
                        WHEN f.o_totalprice IS NULL THEN 'only first null'
                        WHEN s.o_totalprice IS NULL THEN 'only second null'
                        WHEN abs(f.o_totalprice - s.o_totalprice) <= {EPS} THEN 'equal'
                        ELSE 'both not null, same type, not equal'
                        END AS first_o_totalprice__equals__second_o_totalprice,
                   f.o_orderpriority AS first_o_orderpriority,
                   s.o_orderpriority AS second_o_orderpriority,
                   CASE WHEN f.o_orderpriority IS NULL AND s.o_orderpriority IS NULL THEN 'both null'
                        WHEN f.o_orderpriority IS NULL THEN 'only first null'
                        WHEN s.o_orderpriority IS NULL THEN 'only second null'
                        WHEN f.o_orderpriority = s.o_orderpriority THEN 'equal'
                        ELSE 'both not null, same type, not equal'
                        END AS first_o_orderpriority__equals__second_o_orderpriority
            FROM first_t f FULL OUTER JOIN second_t s ON f.o_orderkey = s.o_orderkey
            WHERE (NOT (f.o_totalprice IS NOT DISTINCT FROM s.o_totalprice)
                   OR (f.o_totalprice IS NOT NULL AND s.o_totalprice IS NOT NULL
                       AND abs(f.o_totalprice - s.o_totalprice) >= {EPS})
                   OR NOT (f.o_orderpriority IS NOT DISTINCT FROM s.o_orderpriority))
        """,
    "events_json_props": lambda: oracles.events_json_props_sql(),
    "latest_event_per_user": lambda: oracles.latest_event_per_user_sql(),
    "outliers_totalprice": lambda: oracles.outliers_zscore_sql(
        "orders", "o_totalprice", ["o_orderstatus"],
        ["o_orderkey", "o_orderstatus", "o_totalprice"], k=3.0,
    ),
    "salted_join_revenue": lambda: """
            SELECT c_nationkey,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey
        """,
    "similarity_ann": lambda: oracles.similarity_ann_sql(
        dim=64, k=10, n_queries=5, n_planes=8
    ),
    "similarity_ivf": lambda: oracles.similarity_ivf_sql(
        dim=64, k=10, n_queries=5, **catalog.IVF
    ),
    "similarity_topk": lambda: oracles.similarity_topk_sql(
        dim=64, k=10, n_queries=5
    ),
    "text_fingerprints": lambda: oracles.text_fingerprints_sql(),
    "text_langid": lambda: oracles.text_langid_sql(LANG_MARKERS),
    "text_quality": lambda: oracles.text_quality_sql(LANG_MARKERS["en"]),
    "text_token_stats": lambda: oracles.text_token_stats_sql(),
    "timeseries_resample": lambda: oracles.timeseries_resample_sql(1),
    "view_cube_revenue": lambda: """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: getattr(catalog, name) for name in ORACLES}


def oracle_sql() -> dict[str, str]:
    return {name: sql() for name, sql in ORACLES.items()}
