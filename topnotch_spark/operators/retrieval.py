"""Lexical retrieval: BM25 scoring/top-k over a document corpus.

Extends the reference's analytics surface (SURVEY.md §2.3 LLM-pipeline
ops) with the standard sparse-retrieval scorer used to mine training
data and build RAG indexes. No counterpart in the batch-only reference —
cited scope boundary: tnengine/TnCmd.scala (view/assertion/diff only).

Determinism contract (shared with the DuckDB oracle in oracles.py):
tokens = whitespace split of lower(trim(text)); corpus stats (N, df,
doclen, avgdl = sum_len/N) are exact integer ratios; the only
transcendental is ln() on identical IEEE doubles; per-term scores are
rounded to micro-units and summed as INTEGERS so the cross-term sum
cannot drift with partial-aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from topnotch_spark.functions.text import tokens
from topnotch_spark.runtime import persist_if_large


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_token_df: int | None = None,
    persist_tf: bool | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25 (Robertson/Lucene idf:
    ln(1 + (N - df + 0.5)/(df + 0.5))). Query term frequency is binary
    (distinct query terms), the standard simplification for short
    queries.

    Returns (query_id, doc_id, score, rank), rank 1 = best; total order
    (score desc, doc_id asc) so ties are deterministic.

    ``max_token_df`` is the viral-term valve (same contract as the dedup
    family's ``max_shingle_df``): query terms whose document frequency
    exceeds the cap are dropped BEFORE the postings join. A stopword in
    the query would otherwise pull that term's full postings list —
    ~|corpus| rows — through the join for a near-zero idf contribution.
    Default None keeps exact BM25 (idf already down-weights hot terms).

    Execution shape (the 100 TB path): one explode + groupBy(doc, token)
    for tf — PERSISTED when the corpus is big, because it feeds four
    branches (doclen, df, corpus stats, postings); without the persist
    Spark re-tokenizes the corpus once per branch. ``persist_tf``
    (plan option ``persistTf``) controls it: True forces the persist,
    False skips it, None (default) auto-gates on the estimated input
    size of ``docs`` — a source below
    ``runtime.PERSIST_INPUT_THRESHOLD_BYTES`` (64 MiB) recomputes its
    cheap tokenize lineage per branch instead of paying a
    materialization that costs more than it saves (the r8 verdict's
    measured finding: sf0.1's 584 KB corpus ran 1.6x slower WITH the
    persist; unknown sizes persist, the 100 TB-safe default).
    Doc lengths ride the tf aggregation; the
    vocab-sized df table joins the tiny query-term frame FIRST, so only
    the query's terms survive into the doc join; the query-terms x
    matching-postings join broadcasts the query side; one
    groupBy(query, doc) integer sum; per-query top-k via window over the
    scored survivors (rows bounded by |postings of query terms|, not the
    corpus). N and avgdl are a 1-row broadcast bounds frame. Call inside
    ``dedup_scope()`` (or call ``unpersist_intermediates()``) to release
    the tf table after the result is consumed. Note: when a checkpoint
    dir is set (``dedup_scope(checkpoint_dir=...)`` / plan
    ``checkpointDir``) the persist spills to parquet EAGERLY at
    construction time — this builder then triggers a Spark job on call,
    like the dedup family.
    """
    if not queries:
        raise ValueError("bm25_topk: queries must be non-empty")
    qdf = spark.createDataFrame(queries, "query_id long, qtext string")
    qterms = qdf.select(
        "query_id", F.explode(F.array_distinct(tokens("qtext"))).alias("token")
    )

    tok = docs.select(
        F.col(id_col).alias("__id__"), F.explode(tokens(text_col)).alias("token")
    )
    # one tokenize/explode/agg pass, reused by all four downstream branches
    tf = persist_if_large(
        tok.groupBy("__id__", "token").agg(F.count(F.lit(1)).alias("tf")),
        docs,
        force=persist_tf,
    )
    doclen = tf.groupBy("__id__").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    if max_token_df is not None:
        dfreq = dfreq.filter(F.col("df_t") <= max_token_df)

    # corpus stats: docs with >= 1 token (empty docs carry no postings)
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_corpus"), F.sum("dl").alias("sum_dl")
    )

    # restrict the vocab-sized df table to the query's terms before ever
    # touching the postings: |query terms| rows after this join
    q_with_df = qterms.join(dfreq, "token").crossJoin(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_corpus") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
    )
    q_scored = q_with_df.select(
        "query_id",
        "token",
        idf.alias("idf"),
        (F.col("sum_dl").cast("double") / F.col("n_corpus")).alias("avgdl"),
    )

    postings = tf.join(doclen, "__id__")
    term_score = (
        F.col("idf")
        * (F.col("tf") * (F.lit(k1) + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    # micro-unit integers: the per-(query, doc) sum is exact and
    # partial-aggregation-order-independent on every engine
    scored = postings.join(F.broadcast(q_scored), "token").select(
        "query_id",
        "__id__",
        F.round(term_score * 1_000_000, 0).cast("long").alias("s_micro"),
    )
    per_doc = scored.groupBy("query_id", "__id__").agg(
        F.sum("s_micro").alias("s_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s_micro").desc(), F.col("__id__").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("__id__").alias(id_col),
            (F.col("s_micro").cast("double") / 1_000_000).alias("score"),
            "rank",
        )
    )


def rrf_fuse(
    runs: list[DataFrame],
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    topk: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Reciprocal Rank Fusion of retrieval runs (Cormack, Clarke &
    Büttcher, SIGIR 2009): fused score(q, d) = Σ over runs of
    1 / (k + rank_run(q, d)), the standard hybrid-retrieval combiner —
    it needs only RANKS, so sparse (BM25) and dense (embedding) runs
    fuse without score calibration, and a document found by several
    runs beats one found by a single run. k = 60 is the published
    default that damps rank-1 dominance.

    Each run is a DataFrame carrying ``query_col``/``doc_col``/
    ``rank_col`` (extra columns ignored, e.g. bm25_topk / ANN top-k
    outputs). Returns (query_id, doc_id, rrf_score, n_runs, rank):
    n_runs = how many runs retrieved the pair, rank = fused rank per
    query (score desc, doc asc), kept to ``topk``.

    Determinism contract: per-run contributions are rounded to
    NANO-UNIT INTEGERS (round(1e9/(k+rank))) and summed as longs, so
    the fused score is independent of partial-aggregation order on any
    engine; the fused rank orders by the exact integer, not the
    rounded double.

    Execution shape (100 TB): a union of top-k run outputs is
    |queries|·k·|runs| rows — tiny relative to any corpus — followed by
    ONE groupBy(query, doc) and one per-query window over ≤ k·|runs|
    rows per query. The expensive part of hybrid retrieval is the runs
    themselves; fusion adds no corpus-sized work."""
    if not runs:
        raise ValueError("rrf_fuse: runs must be non-empty")
    micro = F.round(F.lit(1_000_000_000.0) / (F.lit(k) + F.col("__rank__")), 0)
    tagged = None
    for r in runs:
        one = r.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.col(rank_col).alias("__rank__"),
        )
        tagged = one if tagged is None else tagged.unionByName(one)
    scored = (
        tagged.select(
            "query_id", "doc_id", micro.cast("long").alias("__m__")
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("__m__").alias("__micro__"),
            F.count(F.lit(1)).alias("n_runs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__micro__").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("__micro__") / 1_000_000_000.0, round_digits).alias(
                "rrf_score"
            ),
            "n_runs",
            "rank",
        )
    )
