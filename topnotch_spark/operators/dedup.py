"""Deduplication operators for large-scale text/embedding corpora.

Five strategies, all shuffle-aware (SURVEY.md §7 phase E; these are
extensions beyond the reference surface):

- exact:        hash-groupBy on md5(text) — one shuffle on the hash key.
- fingerprint:  hash-groupBy on the sorted-distinct-token fingerprint —
                catches word-order-shuffled duplicates.
- minhash LSH:  shingle → k minhashes → b bands; candidate pairs share a
                band bucket (equi-join on the bucket key — blocking keeps
                the join linear-ish instead of O(n²)); candidates verified
                with exact shingle Jaccard.
- simhash:      32-bit simhash, banded into chunks for candidate
                generation; Hamming-distance verification.
- embedding:    sign-random-projection bucket blocking + cosine
                verification on ``array<float>`` embedding columns.

Scale notes: every strategy is expressed as project → (explode) →
shuffle-on-key join → filter. No driver-side collection, no UDFs; AQE
handles skewed buckets (a hot shingle/bucket is split by skew-join).
For 100 TB corpora the band/bucket keys are the partitioning keys; tune
``num_minhashes``/``bands``/``n_planes`` to trade candidate recall vs
join fan-out.

Cache lifecycle: the intermediates these operators persist are owned by
``topnotch_spark.runtime`` (release them with ``dedup_scope()``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from topnotch_spark.functions.text import sorted_token_fingerprint, tokens
from topnotch_spark.functions.vectors import srp_bucket
# dedup_scope, snapshot_intermediates and release_new_intermediates keep
# their historical home here: callers and perfbench's probes use them
from topnotch_spark.runtime import (  # noqa: F401
    dedup_scope,
    delete_path,
    persist,
    pinned_conf,
    release_new_intermediates,
    snapshot_intermediates,
)
from topnotch_spark.sources.inputs import (
    nullable,
    read_parquet,
    record_schema,
    write_read_back,
)

def lsh_tuning(
    spark,
    num_hashes: int = 16,
    threshold: float = 0.5,
    probe_delta: float = 0.1,
    round_digits: int = 6,
) -> DataFrame:
    """Banding-parameter planning table for MinHash-LSH: for every
    (bands b, rows-per-band r) factorization of ``num_hashes``, the
    candidate-collision probability ``P(s) = 1 − (1 − s^r)^b`` evaluated
    at the target Jaccard ``threshold`` and at ±``probe_delta`` around
    it — the S-curve table you read before picking bands/rows
    (Leskovec–Rajaraman–Ullman, MMDS ch.3): ``p_below`` is the
    false-candidate rate on just-below-threshold pairs, ``1 − p_above``
    the miss rate on just-above ones, and ``s_half`` = (1/b)^(1/r) the
    curve's 50% point. Pure closed-form math over literals — no corpus
    scan at all; the one catalog operator whose cost is zero at ANY
    scale (it PLANS the expensive dedup, pairing with
    dedup_minhash_recall which MEASURES the choice afterwards).

    Emits one row per factorization: (bands, rows_per_band, p_at_t,
    p_below, p_above, s_half)."""
    if num_hashes < 1:
        raise ValueError(f"lsh_tuning: num_hashes must be >= 1")
    if not 0.0 < threshold < 1.0:
        raise ValueError(
            f"lsh_tuning: threshold must be in (0, 1), got {threshold}"
        )
    facts = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    lo = max(threshold - probe_delta, 0.0)
    hi = min(threshold + probe_delta, 1.0)
    base = spark.createDataFrame(facts, "bands int, rows_per_band int")

    def p_at(s: float):
        return F.lit(1.0) - F.pow(
            F.lit(1.0) - F.pow(F.lit(s), F.col("rows_per_band")),
            F.col("bands"),
        )

    s_half = F.pow(
        F.lit(1.0) / F.col("bands"), F.lit(1.0) / F.col("rows_per_band")
    )
    return base.select(
        "bands",
        "rows_per_band",
        F.round(p_at(threshold), round_digits).alias("p_at_t"),
        F.round(p_at(lo), round_digits).alias("p_below"),
        F.round(p_at(hi), round_digits).alias("p_above"),
        F.round(s_half, round_digits).alias("s_half"),
    )


def spread_cpu(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive parallelism spread for CPU-heavy narrow work
    (guide §2/§6): the bench tables are single-row-group parquet files,
    and a row group is the parquet reader's atomic split unit — so any
    expensive per-row stage FUSED with the scan (shingling, tokenize +
    explode, vector math, sketch updates) runs at row-group
    parallelism: 1-3 tasks on a 32-core executor (measured: the minhash
    signature map stage 0.8s on ONE task). When the input's partition
    count is far below the executor cores, hash-repartition on the
    given key columns so the heavy stage runs cores-wide.

    Hash partitioning (not round-robin): deterministic row→partition
    placement independent of input order — no sort-before-repartition
    pass, no retry hazards, and downstream per-key aggregations reuse
    the partitioning. At real scale the condition never fires (any
    multi-TB table has orders of magnitude more row groups than cores),
    so no shuffle is added — parallelism is derived from the input
    layout, not tuned for local mode. Apply ONLY where per-row work
    dominates: for cheap scans the added exchange is a pure loss
    (measured: a blanket version in catalog.load cost +0.4s on
    sub-second queries and was reverted)."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n * 4 > cores:
        return df
    return df.repartition(cores, *[F.col(c) for c in key_cols])


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shs): distinct word n-gram shingles as an array per document.

    Zero-shuffle AND zero-HOF formulation: whitespace is normalized to
    single spaces, then ONE regex pass extracts every overlapping n-gram
    with a token-start-anchored lookahead capture
    (``(?<=^|\\s)(?=((?:\\S+ ){n-1}\\S+))``) — the lookahead is
    zero-width, so the scan advances one position per token and captures
    overlapping windows, which a plain match cannot do. Equivalent to
    tokenize + slice/join (verified identical at sf0.1) but ~7x faster:
    interpreted higher-order-function evaluation (transform/slice/
    array_join per shingle) was the hot spot; a single compiled Java
    regex per document replaces it. Earlier rejected formulations, slowest
    first: per-position element_at chains (~40x), posexplode+lead window
    (adds a shuffle+sort), slice+array_join transform (~7x).
    Docs with fewer than ``n`` tokens are dropped (no shingles).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    pat = r"(?<=^|\s)(?=((?:\S+ ){" + str(n - 1) + r"}\S+))"
    # NOT spread_cpu-wrapped (r13 A/B): the minhash family is
    # shuffle/groupBy-bound — spreading the shingle map stage won ~0.3s
    # on the full-corpus rows but cost ~1s on the 3-round compaction
    # loop (extra exchange per round on 1/3-sized batches); net wash.
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1)).alias("shs"),
    ).filter(F.size("shs") > 0)


def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles, exploded: one row per (id, sh)."""
    return shingle_arrays(df, id_col, text_col, n).select(
        "id", F.explode("shs").alias("sh")
    )


# MinHash hashing scheme, shared with the DuckDB oracle generator:
# each shingle is md5-hashed ONCE into a 60-bit int (15 hex chars), then
# num_hashes affine re-hashes (a_h * H + b_h) mod P give the per-function
# values — 16x less hashing than md5-per-hash-function, identical
# collision statistics. P = 2^31 - 1 keeps a_h * H within int64.
MINHASH_P = 2**31 - 1


def minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic affine coefficients (a_h, b_h), identical on every
    engine/driver — derived from fixed odd multipliers, no RNG."""
    a = [((2 * h + 1) * 2654435761) % MINHASH_P or 1 for h in range(num_hashes)]
    b = [(h * 40503 * 65537) % MINHASH_P for h in range(num_hashes)]
    return a, b


def hash60(sh: Column) -> Column:
    """First 60 bits of md5 as bigint, reduced mod MINHASH_P."""
    return (
        F.conv(F.substring(F.md5(sh), 1, 15), 16, 10).cast("bigint") % MINHASH_P
    )


def keyed_dedup(
    df: DataFrame, id_col: str, key: Column, key_name: str = "dup_key"
) -> DataFrame:
    """Generic hash-dedup: key each row, keep the min-id row per key.

    Returns id, key, group_size and keep flag — callers either filter
    ``keep`` (dedup) or ``group_size > 1`` (duplicate report). One shuffle
    on the key (window partitioning). Window form rather than
    groupBy+self-join: joins drop NULL keys (NULL never equi-joins), so
    a NULL text row would silently vanish; window partitioning groups
    NULL keys together, matching SQL window semantics exactly.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_name)
    keyed = df.select(F.col(id_col), key.alias(key_name))
    return keyed.select(
        id_col,
        key_name,
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("keep"),
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return keyed_dedup(df, id_col, F.md5(F.col(text_col)), "dup_key")


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return keyed_dedup(df, id_col, sorted_token_fingerprint(text_col), "dup_key")


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: banding for candidates, exact Jaccard
    for verification. Returns (id_1, id_2, jaccard) with id_1 < id_2.

    Execution shape (the 100 TB path): the per-doc shingle array is built
    shuffle-free and persisted (it feeds both the signature branch and the
    verification joins). Each shingle is md5-hashed once; ``num_hashes``
    affine re-hashes are min-aggregated in a single groupBy(id) (map-side
    partial agg → one shuffle on id). Candidates come from an equi-join on
    (band, bucket) — the banding bound, not O(n²) — and are verified with
    exact Jaccard via array_intersect on the persisted arrays, so the
    verification cost is |candidates|, not |corpus|."""
    rows_per_band = num_hashes // bands
    # spread_cpu at the FULL-CORPUS entry only (guide §2/§6): the fused
    # scan→shingle→signature map stage otherwise runs at row-group
    # parallelism (1 task at bench layout). The incremental/compaction
    # loops go through build_minhash_index, which stays unspread — the
    # r13 A/B showed spreading their 1/3-sized batches costs more in
    # added exchanges than the map stage gains.
    arr = persist(shingle_arrays(spread_cpu(df, id_col), id_col, text_col, shingle_n))
    a_co, b_co = minhash_coeffs(num_hashes)

    exploded = arr.select("id", F.explode("shs").alias("sh")).select(
        "id", hash60(F.col("sh")).alias("hp")
    )
    # parsed-expression forms (r13) — see build_minhash_index: the
    # L-suffixed long literals parse to the same LongType arithmetic
    sigs = exploded.groupBy("id").agg(
        *[
            F.expr(
                f"min(({a_co[h]}L * hp + {b_co[h]}L) % {MINHASH_P}L)"
            ).alias(f"sig_{h}")
            for h in range(num_hashes)
        ]
    )
    band_cols = [
        F.expr(
            "md5(concat_ws('|', "
            + ", ".join(
                f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            + "))"
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sigs.select("id", *band_cols)
    stack_expr = ", ".join(f"{b}, band_{b}" for b in range(bands))
    # persist the bucket table: the self-join below references it on BOTH
    # sides, and Spark computes each side's subtree independently (no
    # ReusedExchange once one side sits under a BroadcastExchange) — so
    # without this the whole explode→md5→16-way min-agg signature
    # pipeline runs twice over the corpus. The bucket table itself is
    # tiny (bands rows of (id, band_idx, md5) per doc).
    buckets = persist(
        banded.selectExpr(
            "id", f"stack({bands}, {stack_expr}) as (band_idx, bucket)"
        )
    )
    left = buckets.select(F.col("id").alias("id_1"), "band_idx", "bucket")
    right = buckets.select(F.col("id").alias("id_2"), "band_idx", "bucket")
    candidates = (
        left.join(right, ["band_idx", "bucket"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    # exact-Jaccard verify: join the (tiny) candidate set back to the
    # persisted shingle arrays; |intersect| / |union| per pair
    s1 = arr.select(F.col("id").alias("id_1"), F.col("shs").alias("__sh1__"))
    s2 = arr.select(F.col("id").alias("id_2"), F.col("shs").alias("__sh2__"))
    inter = F.size(F.array_intersect("__sh1__", "__sh2__"))
    union = F.size(F.array_union("__sh1__", "__sh2__"))
    return (
        candidates.join(s1, "id_1")
        .join(s2, "id_2")
        .select("id_1", "id_2", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    shingle_n: int = 3,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs, blocked on shared shingles:
    explode → self-equi-join on shingle → count common → Jaccard.
    Returns (id_1, id_2, jaccard) with id_1 < id_2.

    The shingle is the blocking key — pairs sharing no shingle are never
    materialized, so the join is |pairs sharing ≥1 shingle|, not O(n²).

    Scale valve: a shingle occurring in k documents contributes k² rows to
    the self-join, so one viral phrase can dominate the whole job at
    corpus scale. ``max_shingle_df`` drops shingles whose document
    frequency exceeds the cap from the JOIN ONLY (sizes keep counting
    them): common boilerplate shingles carry almost no Jaccard signal, so
    the measured similarity only drops slightly (strictly conservative —
    never creates false positives). Default 1000 — the safe-at-scale
    setting; pass ``max_shingle_df=None`` to explicitly opt in to exact
    all-pairs-sharing-a-shingle semantics (quadratic in the hottest
    shingle's document frequency)."""
    # feeds explode + both size joins; spread: full-corpus entry whose
    # shingle map stage is otherwise fused onto the row-group-limited scan
    arr = persist(shingle_arrays(spread_cpu(df, id_col), id_col, text_col, shingle_n))
    exploded = arr.select("id", F.explode("shs").alias("shingle"))
    sizes = arr.select("id", F.size("shs").alias("n_sh"))
    if max_shingle_df is not None:
        # persisted: the anti-join below sits on BOTH sides of the
        # self-join, so an unpersisted hot table would re-aggregate the
        # whole exploded corpus twice
        hot = persist(
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        exploded = exploded.join(F.broadcast(hot), "shingle", "left_anti")
    common = (
        exploded.alias("a")
        .join(exploded.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_1"), F.col("b.id").alias("id_2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_1", "n_sh": "n_1"}), "id_1")
        .join(sizes.withColumnsRenamed({"id": "id_2", "n_sh": "n_2"}), "id_2")
        .select(
            "id_1",
            "id_2",
            (
                F.col("n_common")
                / (F.col("n_1") + F.col("n_2") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """DIRECTED near-dup containment pairs: |A∩B| / |A| ≥ threshold over
    distinct word n-gram shingles. Returns (id_1, id_2, n_common,
    size_1, containment) where id_1 is the CONTAINED side — the measure
    that catches quotes, boilerplate wrappers, and subset documents that
    Jaccard misses (a small doc fully embedded in a large one has high
    containment but low Jaccard, because the union is dominated by the
    large doc). Pairs are directed: both (a,b) and (b,a) can appear,
    each judged against its own left-side size.

    Execution shape is ngram_jaccard_pairs' blocked self-join (shingle =
    blocking key; never O(n²)), with the same default-on
    ``max_shingle_df`` valve: shingles above the document-frequency cap
    leave the JOIN only, sizes still count them — strictly conservative
    for the containment score."""
    # spread: same full-corpus-entry rationale as ngram_jaccard_pairs
    arr = persist(shingle_arrays(spread_cpu(df, id_col), id_col, text_col, shingle_n))
    exploded = arr.select("id", F.explode("shs").alias("shingle"))
    sizes = arr.select("id", F.size("shs").alias("n_sh"))
    if max_shingle_df is not None:
        # persisted for the same both-sides-of-the-self-join reason as
        # ngram_jaccard_pairs
        hot = persist(
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        exploded = exploded.join(F.broadcast(hot), "shingle", "left_anti")
    common = (
        exploded.alias("a")
        .join(exploded.alias("b"), "shingle")
        .filter(F.col("a.id") != F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_1"), F.col("b.id").alias("id_2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            sizes.withColumnsRenamed({"id": "id_1", "n_sh": "size_1"}), "id_1"
        )
        .select(
            "id_1",
            "id_2",
            "n_common",
            "size_1",
            F.round(F.col("n_common") / F.col("size_1"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
    shingle_n: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs over word-shingle features (Charikar-style
    web dedup): band the bit-string for candidates (pigeonhole: hamming ≤
    bands-1 guarantees a shared band), verify by exact Hamming distance.
    Returns (id_1, id_2, hamming).

    Shingle features (not single tokens) keep unrelated documents'
    simhashes near-random even over a small vocabulary, so band buckets
    stay selective and the candidate join stays small.

    Execution shape: shingles are exploded once, each shingle's md5 is
    hashed ONCE into a bigint, and all ``bits`` per-bit ±1 votes are
    summed in a single groupBy(id) with shiftright/AND bit extraction —
    map-side combine, one shuffle. Measured faster than both array-fold
    formulations (array-accumulator and per-bit folds) at sf0.1, which
    pay per-element interpreted-HOF overhead. The (id, simhash) table is
    persisted because it feeds both sides of the candidate self-join."""
    from topnotch_spark.functions.text import hash_bits_int

    # spread: same full-corpus-entry rationale as minhash_lsh_dedup
    ex = shingle_rows(spread_cpu(df, id_col), id_col, text_col, shingle_n).select(
        "id", hash_bits_int(F.md5("sh"), bits).alias("h")
    )
    # one parsed expression per aggregate / per concat (r13): the
    # per-bit Column compositions were ~2,700 py4j round trips of pure
    # driver-side construction per query (the JVM sat idle); the SQL
    # forms parse to the identical expressions (& == bitwiseAND,
    # if() == CASE WHEN)
    votes = ex.groupBy("id").agg(
        *[
            F.expr(
                f"sum((shiftright(h, {bits - 1 - b}) & 1) * 2 - 1)"
            ).alias(f"v_{b}")
            for b in range(bits)
        ]
    )
    sh_col = F.expr(
        "concat("
        + ", ".join(f"if(v_{b} > 0, '1', '0')" for b in range(bits))
        + ")"
    )
    base = persist(votes.select("id", sh_col.alias("sh")))
    return bitstring_band_pairs(base, bits, band_bits, max_hamming)


def _bitstring_hamming(col1: str, col2: str, bits: int):
    """Codegen'd Hamming distance between two ``bits``-char '0'/'1'
    string columns: fold 32 bits at a time into bigints (conv base-2;
    32-bit chunks stay under 2^32 so the unsigned conv always casts)
    and sum bit_count(a XOR b) per chunk — one expression, any width."""

    def chunk_int(col: str, start: int, width: int):
        return F.conv(F.substring(F.col(col), start, width), 2, 10).cast(
            "bigint"
        )

    terms = []
    for start in range(1, bits + 1, 32):
        width = min(32, bits - start + 1)
        terms.append(
            F.bit_count(
                chunk_int(col1, start, width).bitwiseXOR(
                    chunk_int(col2, start, width)
                )
            )
        )
    hamming = terms[0]
    for term in terms[1:]:
        hamming = hamming + term
    return hamming


def bitstring_recall(
    base: DataFrame,
    bits: int,
    band_bits: int,
    max_hamming: int,
    round_digits: int = 6,
) -> DataFrame:
    """Recall of banded-LSH bit-signature dedup against the EXACT
    Hamming ≤ max_hamming pair set — the media-family counterpart of
    :func:`minhash_recall` (phash/audio/video signatures all share the
    :func:`bitstring_band_pairs` tail). Returns ONE row:
    (n_exact_pairs, n_found_pairs, recall).

    Pigeonhole says recall is exactly 1.0 whenever ``max_hamming ≤
    bands - 1`` — this query PROVES the configuration with data (and
    quantifies the loss when a config violates the bound). The exact
    side is a broadcast-NLJ all-pairs over the tiny (id, sh) signature
    table — the documented exact baseline (the similarity_ann_recall
    convention), priced |ids|²; run it on a sample at 100 TB, exactly
    like minhash_recall's exact side. ``base`` should be persisted by
    the caller — it feeds the banding join twice plus both exact
    sides."""
    # Project each signature's 32-bit chunk INTEGERS once per row before
    # the all-pairs join: conv(substring(...)) inside the NLJ condition
    # would re-parse both bit-strings PER PAIR (measured 54 s at sf0.1 —
    # ~200M string parses); per-row projection leaves only XOR +
    # bit_count per pair (2.4 s). The streamed side is repartitioned to
    # the default parallelism — a persisted 1-2-partition signature
    # table would otherwise run the NLJ nearly single-threaded.
    n_chunks = (bits + 31) // 32
    chunk_cols = [
        F.conv(
            F.substring("sh", start, min(32, bits - start + 1)), 2, 10
        )
        .cast("bigint")
        .alias(f"__c{i}__")
        for i, start in enumerate(range(1, bits + 1, 32))
    ]
    pre = base.select("id", *chunk_cols)
    spark_par = base.sparkSession.sparkContext.defaultParallelism
    ham = None
    for i in range(n_chunks):
        term = F.bit_count(
            F.col(f"a.__c{i}__").bitwiseXOR(F.col(f"b.__c{i}__"))
        )
        ham = term if ham is None else ham + term
    exact = (
        pre.repartition(spark_par).alias("a")
        .join(F.broadcast(pre.alias("b")), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_1"),
            F.col("b.id").alias("id_2"),
            ham.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    exact = persist(exact.select("id_1", "id_2"))
    found = persist(
        bitstring_band_pairs(base, bits, band_bits, max_hamming).select(
            "id_1", "id_2"
        )
    )
    tot = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    hit = exact.join(found, ["id_1", "id_2"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found_pairs")
    )
    return tot.crossJoin(hit).select(
        "n_exact_pairs",
        "n_found_pairs",
        F.round(
            F.try_divide(
                F.col("n_found_pairs").cast("double"),
                F.col("n_exact_pairs").cast("double"),
            ),
            round_digits,
        ).alias("recall"),
    )


def bitstring_band_pairs(
    base: DataFrame, bits: int, band_bits: int, max_hamming: int
) -> DataFrame:
    """LSH banding + exact-Hamming verify over an (id, sh) frame, where
    ``sh`` is a ``bits``-char '0'/'1' string: band the bit-string into
    ``bits // band_bits`` equal substrings, candidates = pairs sharing a
    (band_idx, band_value) bucket (pigeonhole: hamming ≤ bands-1
    GUARANTEES a shared band), verify by exact Hamming distance. Returns
    (id_1, id_2, hamming), id_1 < id_2, hamming ≤ max_hamming.

    Shared tail of every bit-signature near-dup family (simhash over
    text shingles, aHash/dHash over media blobs, audio envelopes).
    ``base`` should be persisted by the caller — it feeds both sides of
    the self-join.

    Verify cost (r8 measurement, audio family at sf0.1): the original
    per-bit higher-order-function Hamming fold is interpreted per pair
    (the same HOF tax the shingle pipeline measured at ~7×), and the
    pair `.distinct()` shuffled two full bit-strings per row BEFORE any
    filtering. Now: the bit-string is folded 32 bits at a time into
    bigints (conv base-2; 32-bit chunks stay under 2^32, so the
    unsigned decimal string conv emits always casts — a single 64-bit
    conv would overflow bigint) and hamming = Σ bit_count(a XOR b) per
    chunk — one codegen'd expression, any width. Computing hamming
    BEFORE the distinct also lets the ≤ max_hamming filter shrink the
    dedup shuffle to the surviving pairs (duplicate (id_1, id_2) rows
    from multi-band collisions carry identical hamming, so
    distinct-after-filter is equivalent)."""
    n_bands = bits // band_bits
    band_cols = [
        F.substring("sh", b * band_bits + 1, band_bits).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    banded = base.select("id", "sh", *band_cols)
    stack_expr = ", ".join(f"{b}, band_{b}" for b in range(n_bands))
    buckets = banded.selectExpr(
        "id", "sh", f"stack({n_bands}, {stack_expr}) as (band_idx, bucket)"
    )
    left = buckets.select(F.col("id").alias("id_1"), F.col("sh").alias("sh_1"), "band_idx", "bucket")
    right = buckets.select(F.col("id").alias("id_2"), F.col("sh").alias("sh_2"), "band_idx", "bucket")
    hamming = _bitstring_hamming("sh_1", "sh_2", bits)
    return (
        left.join(right, ["band_idx", "bucket"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def build_bitsig_index(
    sig: DataFrame,
    bits: int,
    band_bits: int,
) -> DataFrame:
    """Generic banded BIT-SIGNATURE index from an (id, sh) signature
    frame, where ``sh`` is a ``bits``-char '0'/'1' string — the shared
    index layout of every bit-signature family (perceptual image hash,
    audio energy envelope, simhash): one row per (band_idx, bucket)
    membership, (index_id, band_idx, bucket, sh) with bucket = the
    band's bit substring. Persist between runs (partitionable by a
    bucket prefix — :func:`upsert_minhash_index`'s pfx layout applies
    unchanged since buckets are plain strings); incremental ingestion
    then probes the bucket table and never re-derives the old corpus's
    signatures. Pigeonhole: hamming ≤ bands-1 guarantees a shared
    band, so a probe's recall bound is the same as the self-join
    pipeline's (:func:`bitstring_band_pairs`)."""
    if bits % band_bits:
        raise ValueError(
            f"build_bitsig_index: band_bits={band_bits} must divide "
            f"bits={bits}"
        )
    n_bands = bits // band_bits
    band_cols = [
        F.substring("sh", b * band_bits + 1, band_bits).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    banded = sig.select(
        F.col("id").alias("index_id"), "sh", *band_cols
    )
    stack_expr = ", ".join(f"{b}, band_{b}" for b in range(n_bands))
    return banded.selectExpr(
        "index_id",
        "sh",
        f"stack({n_bands}, {stack_expr}) as (band_idx, bucket)",
    ).select("index_id", "band_idx", "bucket", "sh")


def upsert_bitsig_index(
    spark,
    index_path: str,
    new_entries: DataFrame,
    pfx_chars: int = 2,
) -> DataFrame:
    """Partition-pruned UPSERT of accepted bit-signature rows into an
    ON-DISK banded index — the persisted-growth step for every
    :func:`build_bitsig_index` family (perceptual image hash, audio
    energy envelope, simhash): each ingestion round's accepted items
    append their (index_id, band_idx, bucket, sh) rows, so the next
    round's :func:`dedup_batch_against_bitsig_index` probe sees them
    WITHOUT re-decoding any old blob. Partition key ``pfx`` = the
    first ``pfx_chars`` chars of the band bucket; buckets here are
    '0'/'1' strings, so the alphabet is binary — 2^pfx_chars
    partitions (pass ~8 for 256 dirs at the multi-TB grain; the
    default 2 → 4 dirs suits test-scale corpora). Merge rule:
    row-level DISTINCT (replays re-derive byte-identical rows —
    idempotent). First call records pfx_chars + signature width in the
    ``_tn_meta.json`` sidecar; mismatched re-upserts raise. Returns
    one row: (n_partitions_touched, n_entries_written). Mechanics:
    :func:`_staged_partition_upsert`."""
    entries = new_entries.select(
        "index_id",
        "band_idx",
        "bucket",
        "sh",
        F.substring("bucket", 1, int(pfx_chars)).alias("pfx"),
    )

    def meta_fn(probe):
        meta = {
            "family": "bitsig",
            "part_col": "pfx",
            "pfx_chars": int(pfx_chars),
            "version": 1,
        }
        if probe["bits"] is not None:
            meta["bits"] = int(probe["bits"])
        return meta

    return _staged_partition_upsert(
        spark,
        index_path,
        entries,
        "pfx",
        lambda df: df.distinct(),
        "n_partitions_touched",
        meta_fn=meta_fn,
        probe_aggs={"bits": F.max(F.length("sh"))},
    )


def read_bitsig_index(spark, index_path: str) -> DataFrame:
    """Read an :func:`upsert_bitsig_index` layout back as the probe
    frame :func:`dedup_batch_against_bitsig_index` consumes:
    (index_id, band_idx, bucket, sh). Partition-value inference stays
    off (the shared index-read discipline — an all-digit binary bucket
    prefix must come back as the string it was written as)."""
    return _read_partitioned_index(spark, index_path).select(
        "index_id", "band_idx", "bucket", "sh"
    )


def upsert_video_index(
    spark,
    index_path: str,
    new_entries: DataFrame,
    pfx_chars: int = 2,
) -> DataFrame:
    """Partition-pruned UPSERT of accepted per-frame video signatures
    into an ON-DISK frame index — the persisted-growth step for
    :func:`topnotch_spark.operators.multimodal.build_video_index`
    entries (index_id, frame_idx, sh, n_hashed): each ingestion
    round's accepted videos append their frame rows, so the next
    round's ``dedup_batch_against_video_index`` probe sees them
    WITHOUT re-decoding any old video. Partition key ``pfx`` = the
    first ``pfx_chars`` chars of the frame signature ('0'/'1'
    alphabet — 2^pfx_chars partitions; pass ~8 for 256 dirs at the
    multi-TB grain). Merge: row-level DISTINCT (replays re-derive
    byte-identical frame rows — idempotent). First call records
    pfx_chars + signature width in the ``_tn_meta.json`` sidecar;
    mismatched re-upserts raise. Returns one row:
    (n_partitions_touched, n_entries_written). Mechanics:
    :func:`_staged_partition_upsert`."""
    entries = new_entries.select(
        "index_id",
        "frame_idx",
        "sh",
        "n_hashed",
        F.substring("sh", 1, int(pfx_chars)).alias("pfx"),
    )

    def meta_fn(probe):
        meta = {
            "family": "video",
            "part_col": "pfx",
            "pfx_chars": int(pfx_chars),
            "version": 1,
        }
        if probe["bits"] is not None:
            meta["bits"] = int(probe["bits"])
        return meta

    return _staged_partition_upsert(
        spark,
        index_path,
        entries,
        "pfx",
        lambda df: df.distinct(),
        "n_partitions_touched",
        meta_fn=meta_fn,
        probe_aggs={"bits": F.max(F.length("sh"))},
    )


def read_video_index(spark, index_path: str) -> DataFrame:
    """Read an :func:`upsert_video_index` layout back as the probe
    frame ``dedup_batch_against_video_index`` consumes: (index_id,
    frame_idx, sh, n_hashed); partition-value inference off (the
    shared index-read discipline)."""
    return _read_partitioned_index(spark, index_path).select(
        "index_id", "frame_idx", "sh", "n_hashed"
    )


def dedup_batch_against_bitsig_index(
    batch_sig: DataFrame,
    index: DataFrame,
    bits: int,
    band_bits: int,
    max_hamming: int,
) -> DataFrame:
    """Incremental bit-signature screen of a new batch's (id, sh)
    signature frame against a persisted :func:`build_bitsig_index` —
    the generic core behind the phash/audio incremental paths:
    candidates from the (band_idx, bucket) equi-join, exact codegen'd
    Hamming verify per candidate, one row per batch id:
    (id, n_candidates, best_match_id, best_hamming, keep) with best =
    (hamming asc, index_id asc) and keep iff nothing within
    ``max_hamming``. An index stored with a different signature width
    raises instead of silently comparing misaligned bit-strings (the
    minhash sigs-width convention). ``batch_sig`` must carry EVERY
    batch id (one signature per item); the caller persists it when its
    lineage is expensive (it feeds the banding probe and the final
    left join)."""
    from pyspark.sql import Window

    bidx = build_bitsig_index(batch_sig, bits, band_bits)
    cand = (
        bidx.select(
            F.col("index_id").alias("__bid__"),
            "band_idx",
            "bucket",
            F.col("sh").alias("__bh__"),
        )
        .join(
            index.select(
                "index_id",
                "band_idx",
                "bucket",
                F.when(
                    F.length("sh") == bits, F.col("sh")
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("bitsig index width "),
                            F.length("sh").cast("string"),
                            F.lit(f" != bits {bits}; rebuild the index"),
                        )
                    )
                ).alias("__ih__"),
            ),
            ["band_idx", "bucket"],
        )
        .select("__bid__", "index_id", "__bh__", "__ih__")
        .distinct()
    )
    scored = cand.select(
        "__bid__",
        "index_id",
        _bitstring_hamming("__bh__", "__ih__", bits)
        .cast("bigint")
        .alias("__hd__"),
    )
    w = Window.partitionBy("__bid__").orderBy(
        F.col("__hd__").asc(), F.col("index_id").asc()
    )
    per = (
        scored.withColumn("__rn__", F.row_number().over(w))
        .groupBy("__bid__")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max(
                F.when(F.col("__rn__") == 1, F.col("index_id"))
            ).alias("best_match_id"),
            F.max(
                F.when(F.col("__rn__") == 1, F.col("__hd__"))
            ).alias("best_hamming"),
        )
    )
    return (
        batch_sig.select(F.col("id").alias("__bid__"))
        .join(per, "__bid__", "left")
        .select(
            F.col("__bid__").alias("id"),
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            "best_match_id",
            "best_hamming",
            (
                F.col("best_hamming").isNull()
                | (F.col("best_hamming") > F.lit(int(max_hamming)))
            ).alias("keep"),
        )
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with SRP-bucket blocking.
    Returns (id_1, id_2, cos_sim) with id_1 < id_2. Bucketing bounds the
    candidate join (same-bucket only); cosine verifies. Pass ``dim`` when
    the embedding width is known — the SRP planes become driver-computed
    literals (see srp_bucket). Norms are projected per row before the
    join so per-pair work is one dot-product fold, not three."""
    from topnotch_spark.functions.vectors import dot, norm

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(vec_col).alias("nrm"),
        srp_bucket(vec_col, n_planes, dim).alias("bucket"),
    )
    left = base.select(
        F.col("id").alias("id_1"),
        F.col("vec").alias("__v1__"),
        F.col("nrm").alias("__n1__"),
        "bucket",
    )
    right = base.select(
        F.col("id").alias("id_2"),
        F.col("vec").alias("__v2__"),
        F.col("nrm").alias("__n2__"),
        "bucket",
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("id_1") < F.col("id_2"))
        .select(
            "id_1",
            "id_2",
            F.round(
                dot("__v1__", "__v2__")
                / (F.col("__n1__") * F.col("__n2__")),
                round_digits,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def dedup_rate_by_group(
    df: DataFrame, id_col: str, text_col: str, group_col: str
) -> DataFrame:
    """Duplication accounting per corpus slice: corpus-wide exact dedup
    (md5 content groups, min-id keeper), rolled up by ``group_col`` —
    which sources are copy-heavy, and how many docs a dedup pass would
    drop from each. Composes keyed_dedup's keep flags with one bounded
    groupBy; the rollup shuffle carries |groups| partial rows per task.
    Output: (group, n_docs, n_keepers, dup_rate)."""
    flags = keyed_dedup(
        df.select(F.col(id_col), F.col(text_col), F.col(group_col)),
        id_col,
        F.md5(F.col(text_col)),
        "dup_key",
    )
    joined = flags.join(
        df.select(F.col(id_col), F.col(group_col)), id_col
    )
    return joined.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keepers"),
        F.round(
            1.0 - F.sum(F.col("keep").cast("long")) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-SPAN detection: every ``span_tokens``-token
    window that occurs ``min_occurrences``+ times corpus-wide, reported
    as (id, pos, span_key, n_occurrences, n_docs) per occurrence — the
    span-granular exact dedup of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL 2022), which catches the
    copied paragraph inside otherwise-distinct documents that doc-level
    dedup (exact/minhash) misses entirely. ``pos`` is the 0-based token
    offset, so a downstream rewriter can cut or keep-first the exact
    window; ``n_docs`` distinguishes cross-document boilerplate from
    within-document repetition.

    Execution shape (100 TB): spans come from the same one-regex-pass
    lookahead extraction as ``shingle_arrays`` (no distinct — positions
    matter), posexploded and md5-keyed: ~n_tokens rows of (id, pos,
    16-byte key) per document — the standard Spark-shaped alternative to
    the paper's suffix array, trading its memory locality for two plain
    shuffles. groupBy(span_key) counts occurrences + distinct docs
    (map-side partial agg), and the occurrence table joins back on the
    key (second shuffle on the same key — same partitioning, AQE reuses
    it). Viral spans skew the key shuffle — AQE skew split applies; no
    driver data, no UDFs."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    pat = r"(?<=^|\s)(?=((?:\S+ ){" + str(span_tokens - 1) + r"}\S+))"
    # spread_cpu at the FULL-CORPUS entry (guide §2/§6): the regex span
    # extraction + posexplode + md5 is fused onto the single-row-group
    # scan and otherwise runs at row-group parallelism
    df = spread_cpu(df, id_col)
    spans = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.regexp_extract_all(norm, F.lit(pat), 1)).alias(
            "pos", "span"
        ),
    ).select("id", "pos", F.md5("span").alias("span_key"))
    spans = persist(spans)  # feeds both the count and the join-back
    counts = (
        spans.groupBy("span_key")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
    )
    return spans.join(counts, "span_key").select(
        "id", "pos", "span_key", "n_occurrences", "n_docs"
    )


def rewrite_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
    min_occurrences: int = 2,
    emit_cut_ranges: bool = False,
) -> DataFrame:
    """The CUT/KEEP-FIRST rewriter that makes :func:`duplicate_spans`'
    finding actionable — the dedup step of Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (ACL 2022, §4.1
    ExactSubstr): for every ``span_tokens``-token window occurring
    ``min_occurrences``+ times corpus-wide, the GLOBALLY-FIRST
    occurrence (lowest (id, pos)) keeps its text and every other
    occurrence's token range is cut; overlapping cut ranges within a
    document union. Emits one row per document:
    (id, n_tokens_in, n_tokens_cut, n_tokens_out, text_rewritten) —
    the rewritten text is the surviving tokens of the NORMALIZED stream
    (lowercased, single-spaced: the token space the spans are defined
    over, which is what the paper rewrites too), '' when everything was
    cut, and conservation n_tokens_out = n_tokens_in − n_tokens_cut
    holds by construction (property-tested).

    ``emit_cut_ranges=True`` adds a ``cut_ranges``
    array<struct<s, e>> column: the cut token ranges mapped back to
    CHARACTER offsets in the ORIGINAL, un-normalized text (s inclusive,
    e exclusive, sorted, non-overlapping — consecutive cut tokens
    merge), so a caller can rewrite the raw bytes exactly as Lee 2022
    does instead of adopting the normalized stream. Deleting the
    ranges from the original text yields a string whose token stream
    equals ``text_rewritten``'s (property-tested; tokens() boundaries
    are \\s+ on the raw text, so offsets align index-for-index via
    functions.text.token_char_offsets — one extra JVM aggregate per
    doc, no Python).

    Execution shape (100 TB): the corpus tokenizes ONCE into a
    persisted (id, token array) frame feeding the span windows, the
    position explode, and the per-doc totals; duplicate detection is
    the duplicate_spans shape (groupBy(span_key) + join-back, AQE skew
    split on viral spans); the keep-first rank is one window over the
    DUPLICATED subset only; cut positions explode ×span_tokens over
    that same small subset; the final cut is one corpus-tokens →
    cut-positions anti join on (id, pos) and one per-doc
    sort-and-rejoin (bounded by document length, the same bound as the
    input text column). No driver data, no Python in the loop."""
    if span_tokens < 1:
        raise ValueError(
            f"rewrite_duplicate_spans: span_tokens must be >= 1"
        )
    from pyspark.sql import Window

    raw_cols = (
        [F.col(text_col).alias("__raw__")] if emit_cut_ranges else []
    )
    # spread_cpu before the persisted token-array base: the persist
    # inherits the scan's row-group partitioning, so EVERY downstream
    # narrow stage (span windows, posexplode, per-doc totals) would
    # otherwise run at 1-3 tasks (guide §2/§6)
    df = spread_cpu(df, id_col)
    ta = persist(
        df.select(
            F.col(id_col).alias("id"),
            tokens(text_col).alias("__t__"),
            *raw_cols,
        )
    )
    spans = persist(
        ta.select(
            "id",
            F.posexplode(
                # CASE guard because Spark's sequence(1, 0) DESCENDS
                # ([1, 0]) instead of being empty like DuckDB's
                # generate_series — a short doc must yield no windows
                F.expr(
                    f"CASE WHEN size(__t__) >= {span_tokens} THEN "
                    f"transform(sequence(1, size(__t__) - "
                    f"{span_tokens} + 1), "
                    f"i -> array_join(slice(__t__, i, {span_tokens}), ' ')) "
                    f"ELSE array() END"
                )
            ).alias("pos", "span"),
        ).select("id", "pos", F.md5("span").alias("span_key"))
    )
    dup_occ = spans.join(
        spans.groupBy("span_key")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") >= min_occurrences)
        .select("span_key"),
        "span_key",
    )
    wk = Window.partitionBy("span_key").orderBy(
        F.col("id").asc(), F.col("pos").asc()
    )
    cuts = (
        dup_occ.withColumn("__rn__", F.row_number().over(wk))
        .filter(F.col("__rn__") > 1)
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("pos"), F.col("pos") + F.lit(span_tokens - 1)
                )
            ).alias("tpos"),
        )
        .distinct()
    )
    if emit_cut_ranges:
        # the cut-position set feeds both the anti join and the
        # gaps-and-islands rollup below
        cuts = persist(cuts)
    kept = (
        ta.select("id", F.posexplode("__t__").alias("tpos", "tok"))
        .join(cuts, ["id", "tpos"], "left_anti")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("__nout__"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tpos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("__text__"),
        )
    )
    out = (
        ta.select("id", F.size("__t__").cast("long").alias("n_tokens_in"))
        .join(kept, "id", "left")
        .select(
            "id",
            "n_tokens_in",
            (
                F.col("n_tokens_in")
                - F.coalesce("__nout__", F.lit(0).cast("long"))
            ).alias("n_tokens_cut"),
            F.coalesce("__nout__", F.lit(0).cast("long")).alias(
                "n_tokens_out"
            ),
            F.coalesce("__text__", F.lit("")).alias("text_rewritten"),
        )
    )
    if not emit_cut_ranges:
        return out
    from topnotch_spark.functions.text import token_char_offsets

    # gaps-and-islands: consecutive cut token positions collapse into
    # one (token_start, token_end) range per run — tpos minus its
    # per-doc rank is constant within a run
    wg = Window.partitionBy("id").orderBy("tpos")
    tok_ranges = (
        cuts.withColumn(
            "__grp__", F.col("tpos") - F.row_number().over(wg)
        )
        .groupBy("id", "__grp__")
        .agg(F.min("tpos").alias("__ts__"), F.max("tpos").alias("__te__"))
    )
    offs = ta.select(
        "id", token_char_offsets(F.col("__raw__")).alias("__offs__")
    )
    ranges = (
        tok_ranges.join(offs, "id")
        .select(
            "id",
            "__ts__",
            F.struct(
                F.element_at(
                    "__offs__", F.col("__ts__").cast("int") + 1
                )["s"].alias("s"),
                F.element_at(
                    "__offs__", F.col("__te__").cast("int") + 1
                )["e"].alias("e"),
            ).alias("__rng__"),
        )
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__ts__", "__rng__"))),
                lambda x: x["__rng__"],
            ).alias("cut_ranges")
        )
    )
    empty = F.expr("CAST(array() AS array<struct<s: int, e: int>>)")
    return (
        out.join(ranges, "id", "left")
        .select(
            "id", "n_tokens_in", "n_tokens_cut", "n_tokens_out",
            "text_rewritten",
            F.coalesce("cut_ranges", empty).alias("cut_ranges"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    threshold: float = 0.9,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): cluster the embedding space, then prune
    near-duplicate pairs WITHIN each cluster only — the cluster bound is
    what makes cosine dedup tractable at corpus scale (per-cluster
    pairwise, never all-pairs). Returns one row per vector:
    (id, centroid_id, keep) where keep=false iff a lower-id member of
    the SAME cluster has rounded cosine >= ``threshold``.

    Default centroids are the ``n_clusters`` lowest-id vectors —
    deterministic, no RNG, reproducible by any engine (same scheme as
    similarity.ivf_topk's seeded index). Pass ``centroids`` (any frame
    with centroid_id, centroid columns — e.g.
    similarity.kmeans_centroids_exact output) for a TRAINED clustering
    with the identical downstream path (the cluster_silhouette
    convention).

    Execution shape (100 TB): assignment is a broadcast cross join
    against ``n_clusters`` rows + one per-id window (exactly
    ivf_topk.assign); the member table is persisted because it feeds
    both sides of the per-cluster self-join; the prune join is an
    equi-join on centroid_id, so its cost is sum of squared cluster
    sizes — size ``n_clusters`` to the corpus (SemDeDup uses ~100k
    clusters at web scale) and AQE skew-split handles a hot cluster.
    Norms are projected once per row before any join."""
    from pyspark.sql import Window

    from topnotch_spark.functions.vectors import cosine, dot, norm

    if centroids is None:
        cents = (
            df.orderBy(id_col)
            .limit(n_clusters)
            .select(
                # the seed vector's own id IS the cluster id (same scheme
                # as similarity.ivf_topk) — no global row_number window
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("__cvec__"),
            )
        )
    else:
        cents = centroids.select(
            "centroid_id", F.col("centroid").alias("__cvec__")
        )
    scored = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            norm(vec_col).alias("nrm"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn("__cc__", cosine("vec", "__cvec__"))
    )
    w = Window.partitionBy("id").orderBy(
        F.col("__cc__").desc(), F.col("centroid_id").asc()
    )
    members = persist(
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("id", "vec", "nrm", "centroid_id")
    )
    left = members.select(
        F.col("id").alias("id_1"),
        F.col("vec").alias("__v1__"),
        F.col("nrm").alias("__n1__"),
        "centroid_id",
    )
    right = members.select(
        F.col("id").alias("id_2"),
        F.col("vec").alias("__v2__"),
        F.col("nrm").alias("__n2__"),
        "centroid_id",
    )
    dominated = (
        left.join(right, "centroid_id")
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(
            F.round(
                dot("__v1__", "__v2__")
                / (F.col("__n1__") * F.col("__n2__")),
                round_digits,
            )
            >= threshold
        )
        .select(F.col("id_2").alias("__dom__"))
        .distinct()
    )
    return (
        members.join(
            dominated, members["id"] == dominated["__dom__"], "left"
        )
        .select(
            "id",
            "centroid_id",
            F.col("__dom__").isNull().alias("keep"),
        )
    )


def build_dedup_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash index of an already-accepted corpus snapshot:
    (dup_key, index_id) with index_id = the lowest owning id per key.
    Persist this table (parquet) between pipeline runs — incremental
    ingestion then never re-reads the old corpus text, only its keys.
    One groupBy on the 16-byte key; NULL text indexes as empty (repo
    convention)."""
    return (
        df.select(
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("dup_key"),
            F.col(id_col).alias("index_id"),
        )
        .groupBy("dup_key")
        .agg(F.min("index_id").alias("index_id"))
    )


# Partition-value type inference DISABLED while an index is read or its
# schema recorded: all-digit hex partition values like "00" must come
# back as the 2-char strings they were written as, not integer 0. An
# inferred-int partition column silently SPLITS the layout on the next
# upsert — the merged rows coerce back to string "0" and rewrite under
# bucket=0 while the stale bucket=00 directory survives the dynamic
# overwrite, duplicating every key in it.
_STRING_PARTITIONS = (
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "false",
)


def _read_partitioned_index(spark, index_path: str) -> DataFrame:
    """Read a bucket/pfx-partitioned on-disk index with string partition
    values (``_STRING_PARTITIONS``), the schema served by the
    parquet schema registry when the index is unchanged since it was
    last read or written. Schema and partition discovery happen eagerly
    at read time, so restoring the conf afterwards cannot re-infer."""
    with pinned_conf(spark, *_STRING_PARTITIONS):
        return read_parquet(spark, index_path)


def _index_schema(schema, part_col: str):
    """What :func:`_read_partitioned_index` returns for an index written
    partitioned by ``part_col`` from a frame of ``schema``: the data
    columns nullable and in order, then the string partition column."""
    from pyspark.sql.types import StringType, StructField, StructType

    data = [f for f in nullable(schema).fields if f.name != part_col]
    return StructType(data + [StructField(part_col, StringType(), True)])


def _record_index_schema(spark, index_path: str, schema) -> None:
    """Register the schema an index writer committed, for the reads of
    :func:`_read_partitioned_index`; ``None`` drops the entry instead.

    Spark infers a directory's schema from its path-first data file
    alone, so a rewrite of some partitions may record only what every
    candidate first file agrees on: writers pass the committed schema
    only when it equals the schema read before the rewrite and no
    partition directory disappeared."""
    with pinned_conf(spark, *_STRING_PARTITIONS):
        record_schema(spark, index_path, schema)


INDEX_META_FILE = "_tn_meta.json"


def write_index_meta(spark, index_path: str, meta: dict) -> None:
    """Persist the index-layout sidecar ``_tn_meta.json`` inside the
    index directory (the ``_`` prefix hides it from Spark's partition
    discovery, so readers never see it as data). The sidecar records
    the layout parameters the index was CREATED with — partition
    column, prefix width, signature width, centroid matrix — so later
    upserts/probes validate against the on-disk truth instead of
    trusting caller kwargs (an index created with pfx_chars=1 upserted
    with the default 2 would silently fragment its layout: old entries
    filtered on 2-char prefixes match no 1-char partition, and new
    rows land under a second partition grain). Written through the
    Hadoop FileSystem API, so it works on any scheme the index does."""
    import json

    jpath = spark._jvm.org.apache.hadoop.fs.Path(
        index_path.rstrip("/") + "/" + INDEX_META_FILE
    )
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(meta, sort_keys=True).encode()))
    finally:
        out.close()


def read_index_meta(spark, index_path: str) -> dict | None:
    """Read an index's ``_tn_meta.json`` sidecar; None when absent (an
    index created before the sidecar existed — callers stay lenient on
    missing meta so old layouts keep working, and strict on present
    meta so new layouts can't fragment)."""
    import json

    jpath = spark._jvm.org.apache.hadoop.fs.Path(
        index_path.rstrip("/") + "/" + INDEX_META_FILE
    )
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        # JVM-side drain: py4j passes arrays by value, so a Python-side
        # stream.read(buf) loop never sees the bytes — commons-io (on
        # Spark's classpath via hadoop-client) drains in-JVM and hands
        # back one byte[].
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode())


def _check_index_meta(spark, index_path: str, expected: dict, caller: str):
    """Validate caller layout kwargs against the on-disk sidecar. Keys
    present in BOTH must agree; missing sidecar (pre-meta index) or
    keys only on one side pass. Raises with the full mismatch list."""
    meta = read_index_meta(spark, index_path)
    if meta is None:
        return None
    diffs = {
        k: (meta[k], v)
        for k, v in expected.items()
        if k in meta and meta[k] != v
    }
    if diffs:
        detail = "; ".join(
            f"{k}: index has {idx!r}, caller passed {got!r}"
            for k, (idx, got) in sorted(diffs.items())
        )
        raise ValueError(
            f"{caller}: layout mismatch with the on-disk index at "
            f"{index_path} ({detail}). Re-upserting under a different "
            "layout silently fragments the index; pass the index's own "
            "parameters (read_index_meta) or rebuild it."
        )
    return meta


def _commit_staged(
    spark, index_path: str, rows: DataFrame, part_col: str
) -> DataFrame:
    """Commit ``rows`` into the partitions of the index they hold: stage
    them next to the index, then overwrite exactly those partition
    directories (a per-write dynamic partition overwrite; the session
    conf is left alone). Returns the staged frame, whose schema is the
    one committed.

    Staged UNPARTITIONED: the partition key stays a real string column
    — a partitioned staging dir would round-trip "00" through
    partition-value type inference as integer 0. Callers pass ``rows``
    PRE-HASH-PARTITIONED on ``part_col``: the final partitionBy write
    then needs no exchange of its own (each staged file holds whole
    partition-value groups, so every write task still emits one file
    per value it owns — same file count, one less shuffle)."""
    staging = index_path.rstrip("/") + "__staging__"
    try:
        staged = write_read_back(rows, staging)
        staged.write.partitionBy(part_col).mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(index_path)
    finally:
        delete_path(spark, staging)
    return staged


def _staged_partition_upsert(
    spark,
    index_path: str,
    entries: DataFrame,
    part_col: str,
    merge,
    part_stat_name: str,
    meta_fn=None,
    probe_aggs=None,
) -> DataFrame:
    """Shared core of every on-disk index upsert (exact keys, MinHash
    signatures, semantic members, bit-signature media, video frames):
    partition-pruned read of only the partitions the new entries touch,
    ``merge`` collapse of old ∪ new (distinct or groupBy-min — the
    family's idempotency rule), staged write to a sibling temp path
    (HARD lineage break: the dynamic-partition overwrite reads only
    immutable staged files, never the partitions it replaces — the
    ADVICE-r11 discipline), then dynamic partition overwrite; untouched
    partition directories are never read or rewritten (mtime-tested).

    ``entries`` must already carry the string partition column
    ``part_col``. First call creates the index AND persists the
    ``meta_fn(probe)`` layout sidecar (:func:`write_index_meta`);
    later calls validate it (:func:`_check_index_meta`) so a caller
    passing a different prefix width / signature width / centroid
    matrix raises instead of silently fragmenting the layout.
    ``probe_aggs`` is a dict of named aggregate Columns over the
    entries (e.g. ``{"bits": F.max(F.length("sh"))}``) whose values are
    handed to ``meta_fn`` as a dict — they ride the SAME single
    aggregation job that collects the touched-partition list, so a
    layout probe never schedules its own job (the r13 finding: a
    separate ``first()`` against the cold cache ran executeTake's
    incremental partition ramp — ~11 scheduled jobs per upsert).
    A probe value is None when the entries are empty; meta_fn should
    then omit the key. Returns one literal row: (``part_stat_name``,
    n_entries_written) — literal because a frame whose lineage reads
    the index path would silently re-count a LATER, grown index when
    evaluated after more upserts.

    Bounded driver data: the touched-partition value list (≤ 256
    strings for the hex layouts, k for the semantic one). Writes commit
    through Spark's FileOutputCommitter, so a failed upsert leaves the
    previous index intact."""
    # function-local persist: the upsert issues several actions over
    # the entries (partition list, staging write) and the caller's
    # lineage is typically a whole screen-batch pipeline — without this
    # it re-executes per action (measured 26.5 s → 9 s warm on the
    # 3-round minhash compaction row at sf0.1)
    entries = entries.persist(StorageLevel.MEMORY_AND_DISK)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(index_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())

    def _stats_row(parts, n):
        return spark.range(1).select(
            F.lit(parts).cast("long").alias(part_stat_name),
            F.lit(n).cast("long").alias("n_entries_written"),
        )

    # the rows written are counted by the write itself, not by a job of
    # their own: observed after the exchange, i.e. in the write's result
    # stage, where Spark applies each partition's count once even when a
    # task is retried or speculated
    written = Observation()

    def _counted(merged: DataFrame) -> DataFrame:
        return merged.repartition(part_col).observe(
            written, F.count(F.lit(1)).alias("n")
        )

    try:
        # ONE aggregation job computes the touched-partition list AND
        # every layout-probe value, fully materializing the entries
        # cache as a side effect (each later action then reads the
        # cache instead of re-running the caller's screen pipeline)
        aggs = [F.collect_set(F.col(part_col)).alias("__parts__")]
        probe_names = list(probe_aggs or {})
        for name in probe_names:
            aggs.append(probe_aggs[name].alias(name))
        prow = entries.agg(*aggs).collect()[0]
        parts = list(prow["__parts__"])
        probe = {n: prow[n] for n in probe_names}
        meta = meta_fn(probe) if meta_fn is not None else None
        if not fs.exists(jpath):
            merged = merge(entries)
            # repartition by the partition column first: each partition
            # dir then receives ONE file instead of one per shuffle
            # task (32 tasks x 256 dirs = 8k tiny files otherwise —
            # commit overhead dominates the write)
            _counted(merged).write.partitionBy(
                part_col
            ).mode("overwrite").parquet(index_path)
            if meta is not None:
                write_index_meta(spark, index_path, meta)
            if parts:  # an index with no data file has no schema
                _record_index_schema(
                    spark, index_path, _index_schema(merged.schema, part_col)
                )
            # the merged rows span exactly the touched partitions
            return _stats_row(len(parts), written.get["n"])
        if meta is not None:
            _check_index_meta(spark, index_path, meta, "upsert")
        if not parts:
            return _stats_row(0, 0)
        index = _read_partitioned_index(spark, index_path)
        merged = merge(
            index.filter(F.col(part_col).isin(parts))
            .select(*entries.columns)
            .unionByName(entries)
        )
        staged = _commit_staged(spark, index_path, _counted(merged), part_col)
        committed = _index_schema(staged.schema, part_col)
        _record_index_schema(
            spark, index_path, committed if committed == index.schema else None
        )
        # old ∪ new rows span exactly the touched partitions
        return _stats_row(len(parts), written.get["n"])
    finally:
        entries.unpersist()


def upsert_dedup_index(
    spark,
    index_path: str,
    new_entries: DataFrame,
    bucket_chars: int = 2,
) -> DataFrame:
    """Partition-pruned UPSERT of accepted batch entries into an
    ON-DISK dedup index — the compaction step that keeps repeated
    ingestion rounds from re-scanning (or rewriting) the whole index.
    ``new_entries`` is a (dup_key, index_id) frame — typically
    ``dedup_against_index(...).filter("keep")`` renamed — and the index
    at ``index_path`` is parquet partitioned by ``bucket`` = the first
    ``bucket_chars`` hex chars of dup_key (16^bucket_chars md5-uniform
    buckets — 256 at the default 2, the multi-TB grain; pass 1 for
    small corpora where 256 directories' metadata dominates). The merge
    rule is min index_id per key — idempotent, so replaying a batch is
    safe. First call records ``bucket_chars`` in the ``_tn_meta.json``
    sidecar; a later upsert passing a different width raises instead of
    silently fragmenting the layout. Returns one row:
    (n_buckets_touched, n_entries_written). Mechanics (pruned read,
    staging, dynamic overwrite, bounded driver data):
    :func:`_staged_partition_upsert`."""
    entries = new_entries.select(
        "dup_key",
        "index_id",
        F.substring("dup_key", 1, int(bucket_chars)).alias("bucket"),
    )
    return _staged_partition_upsert(
        spark,
        index_path,
        entries,
        "bucket",
        lambda df: df.groupBy("bucket", "dup_key").agg(
            F.min("index_id").alias("index_id")
        ),
        "n_buckets_touched",
        meta_fn=lambda probe: {
            "family": "exact",
            "part_col": "bucket",
            "bucket_chars": int(bucket_chars),
            "version": 1,
        },
    )


def dedup_against_index(
    batch: DataFrame, index: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against an existing corpus
    index (build_dedup_index) plus within the batch itself. Returns one
    row per batch document: (id, dup_key, in_index, dup_of, keep) —
    keep iff the content is absent from the index AND this is the
    lowest-id holder within the batch; ``dup_of`` is the index owner when
    the index already has the content, else NULL.

    The snapshot-N / snapshot-N+1 shape of a continuously-ingesting
    pipeline: the old corpus is never rescanned — only its (16-byte key,
    id) index streams into one equi-join. Execution: within-batch window
    and index join share the same dup_key shuffle key (AQE reuses the
    partitioning); membership decisions never leave the executors."""
    flags = keyed_dedup(
        batch.select(F.col(id_col), F.col(text_col)),
        id_col,
        F.md5(F.coalesce(F.col(text_col), F.lit(""))),
        "dup_key",
    )
    return (
        flags.join(index, "dup_key", "left")
        .select(
            id_col,
            "dup_key",
            F.col("index_id").isNotNull().alias("in_index"),
            F.col("index_id").alias("dup_of"),
            (F.col("keep") & F.col("index_id").isNull()).alias("keep"),
        )
    )


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """NEAR-dup signature index of an accepted corpus snapshot — the
    MinHash sibling of :func:`build_dedup_index` (exact content hash):
    one row per (band_idx, bucket) membership of every document,
    carrying the full signature vector: (index_id, band_idx, bucket,
    sigs array<bigint>). Persist this table (parquet, partitionable by
    band_idx/bucket prefix exactly like upsert_dedup_index's layout)
    between pipeline runs — incremental ingestion then probes the
    bucket table and never re-shingles the old corpus. Signatures are
    the minhash_lsh_dedup affine family (same coeffs, same 60-bit md5
    reduction), so index and batch signatures are interchangeable
    across runs.

    Execution shape (100 TB): one shingle explode + one
    map-side-combined groupBy(id) for the signature vector; the bands
    explode is ×bands of the doc count. No text is stored — the index
    is (16 longs + bands md5s) per doc regardless of document size."""
    rows_per_band = num_hashes // bands
    arr = shingle_arrays(df, id_col, text_col, shingle_n)
    a_co, b_co = minhash_coeffs(num_hashes)
    exploded = arr.select("id", F.explode("shs").alias("sh")).select(
        "id", hash60(F.col("sh")).alias("hp")
    )
    # one parsed expression per aggregate/band/array (r13): the
    # composed per-hash Column chains were ~2,400 py4j construction
    # round trips per call site; the L-suffixed long literals parse to
    # the same LongType arithmetic, so signatures are bit-identical
    sigs = exploded.groupBy("id").agg(
        *[
            F.expr(
                f"min(({a_co[h]}L * hp + {b_co[h]}L) % {MINHASH_P}L)"
            ).alias(f"sig_{h}")
            for h in range(num_hashes)
        ]
    )
    band_cols = [
        F.expr(
            "md5(concat_ws('|', "
            + ", ".join(
                f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            + "))"
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    sig_arr = F.expr(
        "array(" + ", ".join(f"sig_{h}" for h in range(num_hashes)) + ")"
    ).alias("sigs")
    banded = sigs.select("id", sig_arr, *band_cols)
    stack_expr = ", ".join(f"{b}, band_{b}" for b in range(bands))
    return banded.selectExpr(
        "id as index_id",
        "sigs",
        f"stack({bands}, {stack_expr}) as (band_idx, bucket)",
    ).select("index_id", "band_idx", "bucket", "sigs")


def upsert_minhash_index(
    spark,
    index_path: str,
    new_entries: DataFrame,
    pfx_chars: int = 2,
) -> DataFrame:
    """Partition-pruned UPSERT of accepted batch signatures into an
    ON-DISK MinHash index — the near-dup sibling of
    :func:`upsert_dedup_index`, completing the incremental-ingestion
    trio (exact-key upsert ✓, near-dup probe ✓, near-dup index GROWTH —
    this): each ingestion round's accepted documents get their
    (index_id, band_idx, bucket, sigs) rows from
    :func:`build_minhash_index` appended into the persisted index, so
    the next round's :func:`dedup_batch_against_minhash_index` probe
    sees them WITHOUT anything ever re-shingling the old corpus.

    The index at ``index_path`` is parquet partitioned by ``pfx`` = the
    first ``pfx_chars`` hex chars of the md5 band bucket (16^pfx_chars
    uniform partitions — 256 at the default 2, the right grain for a
    multi-TB index at 100 TB; pass 1 for small corpora where 256
    directories' filesystem metadata would dominate the write). Per
    upsert, ONLY the partitions the new entries touch are read
    (partition pruning on the pfx filter — at 100 TB a small batch
    touches a few hundred MB of a multi-TB index, not all of it),
    merged (row-level DISTINCT — a replayed batch re-derives
    byte-identical signature rows, so replays are idempotent), staged
    to a sibling temp path (HARD lineage break: the dynamic-partition
    overwrite reads only immutable staged files, never the partitions
    it replaces — the upsert_dedup_index staging discipline), and
    rewritten via dynamic partition overwrite; untouched partition
    directories are never read and never rewritten (tested by file
    mtime). First call creates the index. Returns one row:
    (n_partitions_touched, n_entries_written).

    First call records ``pfx_chars`` AND the signature width
    (num_hashes, read from the entries themselves) in the
    ``_tn_meta.json`` sidecar; a later upsert passing a different
    prefix width — or signatures of a different width — raises instead
    of silently fragmenting the partition grain / mixing signature
    widths (the r12-verdict hazard: a pfx_chars=1 index upserted at
    the default 2 filters old entries on 2-char prefixes that match no
    1-char partition, then writes under a second grain — per-partition
    DISTINCT, pruning, and replay idempotency all degrade).

    Bounded driver data: the touched-pfx list (≤ 256 strings). Writes
    commit through Spark's FileOutputCommitter, so a failed upsert
    leaves the previous index intact. Mechanics:
    :func:`_staged_partition_upsert`."""
    entries = new_entries.select(
        "index_id",
        "band_idx",
        "bucket",
        "sigs",
        F.substring("bucket", 1, int(pfx_chars)).alias("pfx"),
    )

    def meta_fn(probe):
        meta = {
            "family": "minhash",
            "part_col": "pfx",
            "pfx_chars": int(pfx_chars),
            "version": 1,
        }
        # signature width rides the shared probe aggregation; empty
        # batches skip the key (nothing to validate against)
        if probe["num_hashes"] is not None:
            meta["num_hashes"] = int(probe["num_hashes"])
        return meta

    return _staged_partition_upsert(
        spark,
        index_path,
        entries,
        "pfx",
        lambda df: df.distinct(),
        "n_partitions_touched",
        meta_fn=meta_fn,
        probe_aggs={"num_hashes": F.max(F.size("sigs"))},
    )


def dedup_batch_against_minhash_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    batch_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup screen of a new batch against a persisted
    :func:`build_minhash_index` — the fuzzy sibling of
    :func:`dedup_against_index`: the old corpus is never re-read (not
    even its text; only its bucket/signature table joins in).
    Candidates come from the (band_idx, bucket) equi-join; each
    candidate pair is scored with the SIGNATURE-ESTIMATED Jaccard —
    the classic MinHash estimator, the fraction of agreeing signature
    components (exact integer equality, so the estimate is
    engine-exact) — because the index stores no shingles to verify
    against. Returns one row per batch document:
    (id, n_candidates, best_match_id, best_est_jaccard, keep) with
    best = (estimate desc, index_id asc) and keep iff no candidate
    estimates ≥ ``threshold``. Within-batch near-dups are out of
    scope (run minhash_lsh_dedup on the batch for those).

    Execution shape (100 TB): batch-sized signature build; the
    candidate join hits only the index buckets the batch collides with
    (partition-prunable under the upsert_dedup_index bucket layout);
    the estimator is ``num_hashes`` integer comparisons per candidate
    — no shingle materialization for the index side, ever.

    ``batch_index`` (r13): a precomputed (ideally persisted)
    :func:`build_minhash_index` of THIS batch. Ingestion loops that
    both screen a batch and upsert its accepted rows need the same
    signature rows twice — passing them here means the batch is
    shingled and minhashed exactly once per round instead of twice
    (the accepted-subset rows are a semi-join of these)."""
    from pyspark.sql import Window

    bidx = (
        batch_index
        if batch_index is not None
        else persist(
            build_minhash_index(
                batch, id_col, text_col, num_hashes, bands, shingle_n
            )
        )
    )
    cand = (
        bidx.select(
            F.col("index_id").alias("__bid__"),
            "band_idx",
            "bucket",
            F.col("sigs").alias("__bs__"),
        )
        .join(
            index.select(
                "index_id", "band_idx", "bucket",
                # guard: an index built with a DIFFERENT num_hashes must
                # fail loudly, not silently null-pad through zip_with and
                # deflate the Jaccard estimate (ADVICE r11). when() keeps
                # the check row-local — no extra job for valid indexes.
                F.when(
                    F.size("sigs") == num_hashes, F.col("sigs")
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("minhash index sigs length "),
                            F.size("sigs").cast("string"),
                            F.lit(
                                f" != num_hashes {num_hashes}; rebuild "
                                "the index or pass its num_hashes"
                            ),
                        )
                    )
                ).alias("__is__"),
            ),
            ["band_idx", "bucket"],
        )
        .select("__bid__", "index_id", "__bs__", "__is__")
        .distinct()
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("__bs__", "__is__", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(float(num_hashes))
    )
    scored = cand.select(
        "__bid__",
        "index_id",
        F.round(est, 6).alias("__est__"),
    )
    w = Window.partitionBy("__bid__").orderBy(
        F.col("__est__").desc(), F.col("index_id").asc()
    )
    per_doc = (
        scored.withColumn("__rn__", F.row_number().over(w))
        .groupBy("__bid__")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max(
                F.when(F.col("__rn__") == 1, F.col("index_id"))
            ).alias("best_match_id"),
            F.max(
                F.when(F.col("__rn__") == 1, F.col("__est__"))
            ).alias("best_est_jaccard"),
        )
    )
    return (
        batch.select(F.col(id_col).alias("__bid__"))
        .join(per_doc, "__bid__", "left")
        .select(
            F.col("__bid__").alias(id_col),
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            "best_match_id",
            "best_est_jaccard",
            (
                F.coalesce("best_est_jaccard", F.lit(0.0))
                < F.lit(float(threshold))
            ).alias("keep"),
        )
    )


def build_semantic_index(
    corpus: DataFrame,
    assignments: DataFrame | None,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SEMANTIC member index of an accepted corpus snapshot — the
    SemDeDup sibling of :func:`build_dedup_index` (exact) and
    :func:`build_minhash_index` (near-dup text): one row per corpus
    vector, (index_id, centroid_id, vec, nrm), under a TRAINED
    clustering (``assignments`` = the (id, centroid_id) frame of
    similarity.kmeans_centroids_exact, so the layout is engine-exact
    and replayable). Persist this table (parquet, partitionable by
    centroid_id — the partition-pruning key a batch probe filters on)
    between pipeline runs together with the centroid matrix; repeated
    ingestion then screens new batches against ONLY their assigned
    cluster's members and never re-reads (or re-clusters) the rest of
    the corpus. Norms are projected once here so probes never
    recompute them.

    Pass ``assignments=None`` with a ``centroids`` frame (centroid_id,
    centroid) to derive the routing here instead — the same
    engine-exact micro-int cosine rank the kmeans trainer and the batch
    screen use, so all three agree on cluster membership."""
    from pyspark.sql import Window

    from topnotch_spark.functions.vectors import cosine, norm

    base = corpus.select(
        F.col(id_col).alias("index_id"),
        F.col(vec_col).alias("vec"),
        norm(vec_col).alias("nrm"),
    )
    if assignments is None:
        if centroids is None:
            raise ValueError(
                "build_semantic_index: pass assignments or centroids"
            )
        cents = centroids.select(
            "centroid_id", F.col("centroid").alias("__cvec__")
        )
        w = Window.partitionBy("index_id").orderBy(
            F.col("__ccm__").desc(), F.col("centroid_id").asc()
        )
        return (
            base.crossJoin(F.broadcast(cents))
            .withColumn(
                "__ccm__",
                F.round(
                    cosine("vec", "__cvec__") * F.lit(1e6),
                    0,
                ).cast("long"),
            )
            .withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select("index_id", "vec", "nrm", "centroid_id")
        )
    return base.join(
        assignments.select(
            F.col("id").alias("index_id"), "centroid_id"
        ),
        "index_id",
    )


def _centroid_matrix(centroids: DataFrame) -> list:
    """Serialize a (centroid_id, centroid) frame to a deterministic
    [[cid, [floats...]], ...] list, ordered by centroid_id — k×dim
    doubles, tiny driver data (k clusters). JSON round-trips doubles
    exactly (repr-based), so equality on re-load is exact equality on
    the training output: the engine-exact k-means is deterministic, so
    only a genuine RE-TRAIN produces a different matrix."""
    # sort DRIVER-SIDE over the k collected rows: an orderBy on the
    # (k-row, 32-partition) frame schedules a range-partitioning sample
    # job plus shuffle per call (measured: 3 jobs × 32 tasks per round)
    rows = centroids.select("centroid_id", "centroid").collect()
    rows.sort(key=lambda r: int(r["centroid_id"]))
    return [
        [int(r["centroid_id"]), [float(x) for x in r["centroid"]]]
        for r in rows
    ]


def upsert_semantic_index(
    spark,
    index_path: str,
    new_entries: DataFrame,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Partition-pruned UPSERT of accepted batch members into an
    ON-DISK semantic index — the third on-disk growth path next to
    :func:`upsert_dedup_index` (exact keys) and
    :func:`upsert_minhash_index` (near-dup signatures), so ALL three
    incremental-ingestion families persist and grow their index without
    ever re-reading the old corpus. ``new_entries`` is a
    :func:`build_semantic_index` frame (index_id, vec, nrm,
    centroid_id) — typically built from the accepted rows of
    :func:`dedup_batch_against_semantic_index` with the SAME centroids.

    The index at ``index_path`` is parquet partitioned by ``cid`` (the
    centroid id as a string partition value — k directories, which is
    exactly the partition-pruning key the batch screen filters on: a
    probe reads ONLY the clusters its batch routes to). Per upsert,
    only the touched clusters are read, merged (row-level DISTINCT —
    replays are idempotent), staged to a sibling temp path (the hard
    lineage break of the sibling upserts), and rewritten via dynamic
    partition overwrite; untouched cluster directories are never read
    or rewritten. First call creates the index. Returns one row:
    (n_partitions_touched, n_entries_written). Bounded driver data:
    the touched-cid list (≤ k strings).

    Pass ``centroids`` (the trained (centroid_id, centroid) frame the
    entries were routed with) to pin the ROUTING in the
    ``_tn_meta.json`` sidecar: the k×dim matrix is tiny and rides with
    the index, so (a) a later upsert whose caller re-trained between
    rounds raises on the matrix mismatch instead of silently writing
    members routed under a DIFFERENT clustering (probe recall then
    silently degrades — the r12-verdict drift hazard), and (b)
    :func:`screen_batch_against_semantic_index` can route probes from
    the index alone, no centroid frame needed. Mechanics:
    :func:`_staged_partition_upsert`."""
    entries = new_entries.select(
        "index_id",
        "vec",
        "nrm",
        "centroid_id",
        F.col("centroid_id").cast("string").alias("cid"),
    )

    def meta_fn(probe):
        meta = {
            "family": "semantic",
            "part_col": "cid",
            "version": 1,
        }
        if probe["dim"] is not None:
            meta["dim"] = int(probe["dim"])
        if centroids is not None:
            meta["centroids"] = _centroid_matrix(centroids)
        return meta

    return _staged_partition_upsert(
        spark,
        index_path,
        entries,
        "cid",
        lambda df: df.distinct(),
        "n_partitions_touched",
        meta_fn=meta_fn,
        probe_aggs={"dim": F.max(F.size("vec"))},
    )


def read_semantic_centroids(spark, index_path: str) -> DataFrame:
    """Re-hydrate the trained (centroid_id, centroid) frame from a
    semantic index's ``_tn_meta.json`` sidecar — the matrix the index's
    members were routed with, so probes and later routing use the
    on-disk truth rather than a caller-supplied (possibly re-trained)
    frame. Raises when the index has no pinned matrix (created without
    ``centroids=``)."""
    meta = read_index_meta(spark, index_path)
    if meta is None or "centroids" not in meta:
        raise ValueError(
            f"read_semantic_centroids: no centroid matrix pinned at "
            f"{index_path}; recreate the index with "
            "upsert_semantic_index(..., centroids=...)"
        )
    return spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]],
        "centroid_id int, centroid array<double>",
    )


def screen_batch_against_semantic_index(
    spark,
    index_path: str,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    round_digits: int = 6,
) -> DataFrame:
    """Path-based semantic batch screen: loads BOTH the member table
    (:func:`read_semantic_index`) and the trained centroid matrix
    (:func:`read_semantic_centroids`, from the ``_tn_meta.json``
    sidecar) from the index itself, then runs
    :func:`dedup_batch_against_semantic_index`. The caller supplies no
    centroid frame at all — the routing-drift hazard (screening with a
    matrix different from the one the members were routed under) is
    structurally impossible through this entry point."""
    return dedup_batch_against_semantic_index(
        batch,
        read_semantic_index(spark, index_path),
        read_semantic_centroids(spark, index_path),
        id_col,
        vec_col,
        threshold=threshold,
        round_digits=round_digits,
    )


def delete_from_index(
    spark,
    index_path: str,
    ids: DataFrame,
    id_col: str = "index_id",
) -> DataFrame:
    """Partition-pruned DELETE of retired ids from any on-disk index
    this module writes (exact ``bucket``, minhash/bitsig/video ``pfx``,
    semantic ``cid`` layouts) — the retirement path the growth-only
    upserts lacked (right-to-be-forgotten, corrected-batch
    re-ingestion): EVERY row owned by a retired id is removed (a
    minhash doc's bands rows, a video's frame rows), so content whose
    owner retired becomes re-acceptable to the next batch screen.

    ``ids`` is a one-column frame of ids to retire (column ``id_col``).
    Execution: one scan of the SIGNATURE index (never the corpus — at
    100 TB the index is the small table) left-joined with the broadcast
    retired ids and grouped by partition yields, in one job, the touched
    partitions, the rows deleted and which touched partitions keep rows
    (bounded driver data: one row per touched partition). Only the
    partitions that keep rows are then re-read, anti-joined, staged to
    a sibling temp path (the upsert lineage-break discipline), and
    rewritten via dynamic partition overwrite. A partition whose rows
    ALL retire gets its directory deleted explicitly — dynamic
    overwrite only replaces partitions present in the written data, so
    without the explicit delete the stale rows would silently survive.
    Untouched partitions are never read or rewritten (mtime-tested).
    Deleting ids not in the index is a no-op (idempotent replays).
    Returns one row: (n_partitions_touched, n_entries_deleted)."""
    meta = read_index_meta(spark, index_path)
    df = _read_partitioned_index(spark, index_path)
    part_col = (meta or {}).get("part_col") or next(
        (c for c in ("bucket", "pfx", "cid") if c in df.columns), None
    )
    if part_col is None:
        raise ValueError(
            f"delete_from_index: no known partition column in "
            f"{index_path} (expected one of bucket/pfx/cid; got "
            f"{df.columns})"
        )
    rid = ids.select(F.col(id_col).alias("index_id")).distinct()
    # rid is distinct, so the left join neither drops nor repeats rows
    per_part = (
        df.join(
            F.broadcast(rid.withColumn("__del__", F.lit(True))),
            "index_id",
            "left",
        )
        .groupBy(part_col)
        .agg(
            F.count("__del__").alias("n_del"),
            F.count(F.when(F.col("__del__").isNull(), 1)).alias("n_keep"),
        )
        .filter(F.col("n_del") > 0)
        .collect()
    )
    touched = [r[part_col] for r in per_part]
    kept_parts = [r[part_col] for r in per_part if r["n_keep"] > 0]
    n_deleted = sum(r["n_del"] for r in per_part)

    def _stats_row(parts, n):
        return spark.range(1).select(
            F.lit(parts).cast("long").alias("n_partitions_touched"),
            F.lit(n).cast("long").alias("n_entries_deleted"),
        )

    if not touched:
        return _stats_row(0, 0)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(index_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    committed = None
    if kept_parts:
        remaining = df.filter(F.col(part_col).isin(kept_parts)).join(
            F.broadcast(rid), "index_id", "left_anti"
        )
        staged = _commit_staged(
            spark, index_path, remaining.repartition(part_col), part_col
        )
        committed = _index_schema(staged.schema, part_col)
    # fully-retired partitions: no rows remained, so the dynamic
    # overwrite never touched their directories — remove them
    for part in set(touched) - set(kept_parts):
        fs.delete(
            spark._jvm.org.apache.hadoop.fs.Path(
                f"{index_path.rstrip('/')}/{part_col}={part}"
            ),
            True,
        )
    _record_index_schema(
        spark,
        index_path,
        committed
        if committed == df.schema and len(kept_parts) == len(touched)
        else None,
    )
    return _stats_row(len(touched), n_deleted)


def compact_index(
    spark,
    index_path: str,
    max_files_per_partition: int = 1,
) -> DataFrame:
    """Partition-pruned FILE COMPACTION of an on-disk index — the
    maintenance step for the tiny-file buildup :func:`index_stats`
    flags (every upsert rewrites a touched partition as one file, but
    interrupted jobs, historic layouts, or external writers can leave
    partitions with many small files, and at 100 TB open/commit
    overhead on thousands of tiny files dominates probe latency).
    ONLY partitions holding more than ``max_files_per_partition``
    data files are rewritten (listing-driven pruning — no data read
    decides the candidate set); each is re-read, staged to the sibling
    temp path (the upsert lineage-break discipline), and rewritten as
    one file per partition via dynamic partition overwrite. Rows are
    untouched — byte-stable contentwise; compliant partitions are
    never read or rewritten (mtime-tested). Returns one row:
    (n_partitions_compacted, n_files_before, n_files_after)."""
    meta = read_index_meta(spark, index_path)
    df = _read_partitioned_index(spark, index_path)
    part_col = (meta or {}).get("part_col") or next(
        (c for c in ("bucket", "pfx", "cid") if c in df.columns), None
    )
    if part_col is None:
        raise ValueError(
            f"compact_index: no known partition column in {index_path} "
            f"(expected one of bucket/pfx/cid; got {df.columns})"
        )
    jpath = spark._jvm.org.apache.hadoop.fs.Path(index_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fat = []
    n_before = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not st.isDirectory() or "=" not in name:
            continue
        n_files = sum(
            1
            for f in fs.listStatus(st.getPath())
            if f.isFile() and not f.getPath().getName().startswith("_")
        )
        if n_files > int(max_files_per_partition):
            fat.append(name.split("=", 1)[1])
            n_before += n_files

    def _stats_row(parts, before, after):
        return spark.range(1).select(
            F.lit(parts).cast("long").alias("n_partitions_compacted"),
            F.lit(before).cast("long").alias("n_files_before"),
            F.lit(after).cast("long").alias("n_files_after"),
        )

    if not fat:
        return _stats_row(0, 0, 0)
    old = df.filter(F.col(part_col).isin(fat))
    _commit_staged(spark, index_path, old.repartition(part_col), part_col)
    # rows and column order unchanged, every compacted partition kept
    _record_index_schema(spark, index_path, df.schema)
    n_after = 0
    for part in fat:
        pdir = spark._jvm.org.apache.hadoop.fs.Path(
            f"{index_path.rstrip('/')}/{part_col}={part}"
        )
        n_after += sum(
            1
            for f in fs.listStatus(pdir)
            if f.isFile() and not f.getPath().getName().startswith("_")
        )
    return _stats_row(len(fat), n_before, n_after)


def index_stats(spark, index_path: str) -> DataFrame:
    """Health audit of any on-disk index layout this module writes
    (exact-key ``bucket``, minhash ``pfx``, semantic ``cid``): one row
    per partition directory with (partition, n_rows, n_files, bytes,
    rows_skew) where rows_skew = n_rows / (total / n_partitions) — the
    observability step a maintenance plan runs between ingestion rounds
    to spot hot buckets (salting candidates), tiny-file buildup
    (compaction candidates), or a layout drifting from md5-uniform.

    Driver data is bounded by the partition count (≤ 256 for the hex
    layouts, k for the semantic one): row counts come from ONE
    map-side-combined groupBy on the partition column; file/byte counts
    from a filesystem listing of the partition directories — no data
    files are read for them."""
    df = _read_partitioned_index(spark, index_path)
    part_col = next(
        (c for c in ("bucket", "pfx", "cid") if c in df.columns), None
    )
    if part_col is None:
        raise ValueError(
            f"index_stats: no known partition column in {index_path} "
            f"(expected one of bucket/pfx/cid; got {df.columns})"
        )
    counts = {
        r[part_col]: r["n"]
        for r in df.groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    jpath = spark._jvm.org.apache.hadoop.fs.Path(index_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    rows = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not st.isDirectory() or "=" not in name:
            continue
        part = name.split("=", 1)[1]
        n_files = 0
        n_bytes = 0
        for f in fs.listStatus(st.getPath()):
            if f.isFile() and not f.getPath().getName().startswith("_"):
                n_files += 1
                n_bytes += f.getLen()
        rows.append((part, int(counts.get(part, 0)), n_files, n_bytes))
    total = sum(r[1] for r in rows)
    mean = total / len(rows) if rows else 0.0
    out = [
        (
            p,
            n,
            nf,
            nb,
            round(n / mean, 6) if mean else None,
        )
        for p, n, nf, nb in sorted(rows)
    ]
    return spark.createDataFrame(
        out,
        "partition string, n_rows long, n_files long, bytes long, "
        "rows_skew double",
    )


def read_semantic_index(spark, index_path: str) -> DataFrame:
    """Read an :func:`upsert_semantic_index` layout back as the member
    frame the batch screen consumes: (index_id, vec, nrm, centroid_id).
    Partition-value inference stays off (the shared index-read
    discipline); centroid_id rides as a data column, the ``cid``
    partition key is only the pruning handle."""
    return _read_partitioned_index(spark, index_path).select(
        "index_id", "vec", "nrm", "centroid_id"
    )


def route_batch_to_centroids(
    batch: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Persisted routing frame ``(__bid__, __bv__, __bn__,
    centroid_id)`` of a batch under a trained centroid matrix — the
    engine-exact micro-int cosine argmax every semantic consumer
    (k-means assignment, batch screen, index build) uses. Exposed (r13)
    so an ingestion loop that both screens a batch and upserts its
    accepted rows routes the batch ONCE: pass it to
    :func:`dedup_batch_against_semantic_index` via ``assigned`` and
    semi-join the accepted ids for the upsert entries (rename
    ``__bid__/__bv__/__bn__`` to ``index_id/vec/nrm``) — value-identical
    to re-routing the accepted subset, which is per-row independent."""
    from pyspark.sql import Window

    from topnotch_spark.functions.vectors import cosine, norm

    cents = centroids.select(
        "centroid_id", F.col("centroid").alias("__cvec__")
    )
    w = Window.partitionBy("__bid__").orderBy(
        F.col("__ccm__").desc(), F.col("centroid_id").asc()
    )
    return persist(
        batch.select(
            F.col(id_col).alias("__bid__"),
            F.col(vec_col).alias("__bv__"),
            norm(vec_col).alias("__bn__"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "__ccm__",
            F.round(cosine("__bv__", "__cvec__") * F.lit(1e6), 0)
            .cast("long"),
        )
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("__bid__", "__bv__", "__bn__", "centroid_id")
    )


def dedup_batch_against_semantic_index(
    batch: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    round_digits: int = 6,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Incremental SEMANTIC screen of a new batch against a persisted
    :func:`build_semantic_index` — the SemDeDup (Abbas et al. 2023)
    analogue of :func:`dedup_batch_against_minhash_index`, completing
    the incremental-ingestion trio's third leg: the old corpus is never
    re-embedded, re-clustered, or re-scanned; only the centroid matrix
    (k rows, broadcast) and the batch's assigned clusters' member rows
    join in. Each batch vector is assigned to its nearest trained
    centroid with the ENGINE-EXACT micro-int cosine rank
    (kmeans_centroids_exact's assignment rule, so an oracle replays the
    routing bit-for-bit), then compared against that cluster's members
    only. Returns one row per batch vector: (id, centroid_id,
    n_candidates, best_match_id, best_cosine, keep) with best =
    (rounded cosine desc, index_id asc) and keep iff no member's
    rounded cosine reaches ``threshold`` (an empty cluster keeps).

    Execution shape (100 TB): batch × k broadcast cross join for the
    routing; the member join is an equi-join on centroid_id hitting
    only the clusters the batch routes to (partition-prunable under the
    build_semantic_index layout); per-candidate cost is one
    codegen'd dot product — no pairwise over the corpus, ever.

    ``assigned`` (r13): a precomputed :func:`route_batch_to_centroids`
    frame of THIS batch under THESE centroids, so ingestion loops
    that also upsert accepted rows pay the batch × k routing once."""
    from pyspark.sql import Window

    from topnotch_spark.functions.vectors import dot

    if assigned is None:
        assigned = route_batch_to_centroids(batch, centroids, id_col, vec_col)
    scored = (
        assigned.join(index, "centroid_id")
        .select(
            "__bid__",
            "index_id",
            F.round(
                dot(
                    F.col("__bv__"),
                    # guard: an index stored with a DIFFERENT embedding
                    # dimension must fail loudly — zip_with would
                    # silently null-pad the dot product and skew every
                    # cosine (the minhash sigs-width lesson, ADVICE
                    # r11). when() keeps the check row-local.
                    F.when(
                        F.size("vec") == F.size("__bv__"), F.col("vec")
                    ).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit("semantic index vec dim "),
                                F.size("vec").cast("string"),
                                F.lit(" != batch dim "),
                                F.size("__bv__").cast("string"),
                                F.lit("; rebuild the index"),
                            )
                        )
                    ),
                )
                / (F.col("__bn__") * F.col("nrm")),
                round_digits,
            ).alias("__cos__"),
        )
    )
    w2 = Window.partitionBy("__bid__").orderBy(
        F.col("__cos__").desc(), F.col("index_id").asc()
    )
    per = (
        scored.withColumn("__rn__", F.row_number().over(w2))
        .groupBy("__bid__")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max(
                F.when(F.col("__rn__") == 1, F.col("index_id"))
            ).alias("best_match_id"),
            F.max(
                F.when(F.col("__rn__") == 1, F.col("__cos__"))
            ).alias("best_cosine"),
        )
    )
    return (
        assigned.select("__bid__", "centroid_id")
        .join(per, "__bid__", "left")
        .select(
            F.col("__bid__").alias(id_col),
            "centroid_id",
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            "best_match_id",
            "best_cosine",
            (
                F.col("best_cosine").isNull()
                | (F.col("best_cosine") < F.lit(float(threshold)))
            ).alias("keep"),
        )
    )


def minhash_recall(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Recall of MinHash-LSH banding against EXACT Jaccard ≥ threshold —
    the quality metric that justifies a banding configuration before a
    100 TB run: "16 hashes × 4 bands finds X% of the true near-dup
    pairs". Precision is 1.0 by construction (the LSH pipeline verifies
    every candidate with exact Jaccard); what banding can lose is
    RECALL — a true pair whose signatures disagree in every band is
    never a candidate. Returns ONE row: n_exact_pairs, n_found_pairs,
    recall.

    Run it on a SAMPLE at scale: the exact side is the uncapped
    shingle-blocked self-join, priced like ngram_jaccard_pairs without
    the hot-shingle valve — exactly the cost LSH exists to avoid.

    Execution shape: both pair sets persisted (each feeds a count and
    the semi-join), one (id_1, id_2) semi-join, two 1-row aggregates
    cross-joined. Nothing here is corpus-sized beyond the pair
    generators themselves."""
    exact = persist(
        ngram_jaccard_pairs(
            df, id_col, text_col, threshold, shingle_n, max_shingle_df=None
        ).select("id_1", "id_2")
    )
    found = persist(
        minhash_lsh_dedup(
            df, id_col, text_col, num_hashes, bands, threshold, shingle_n
        ).select("id_1", "id_2")
    )
    tot = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    hit = (
        exact.join(found, ["id_1", "id_2"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_found_pairs"))
    )
    return tot.crossJoin(hit).select(
        "n_exact_pairs",
        "n_found_pairs",
        F.round(
            F.try_divide(
                F.col("n_found_pairs").cast("double"),
                F.col("n_exact_pairs").cast("double"),
            ),
            round_digits,
        ).alias("recall"),
    )


def cross_source_dup_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """WHO duplicates WHOM: the near-dup pair set of
    :func:`minhash_lsh_dedup` rolled up to a symmetric source×source
    matrix — the corpus-curation view that tells you whether source A
    is largely a mirror of source B (drop one), whether a source mostly
    repeats itself (dedup it harder), or whether contamination crosses
    collection boundaries. ``dedup_rate_by_group`` answers "how
    duplicated is each source"; this answers "against which other
    source".

    Output: (source_x ≤ source_y lexicographically, n_pairs,
    within_source), one row per source pair with at least one near-dup
    pair, ordered by (n_pairs desc, source_x, source_y).

    Execution shape (100 TB): everything corpus-sized rides the
    minhash pipeline's bounds (banding equi-join, never all-pairs); the
    rollup adds two id-equi-joins of the TINY pair set against the
    (id, source) projection and one groupBy over the |sources|²-bounded
    key space."""
    pairs = minhash_lsh_dedup(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands,
        threshold=threshold, shingle_n=shingle_n,
    )
    src = df.select(
        F.col(id_col).alias("__sid__"), F.col(source_col).alias("__src__")
    )
    joined = (
        pairs.join(
            src.select(
                F.col("__sid__").alias("id_1"),
                F.col("__src__").alias("__src1__"),
            ),
            "id_1",
        )
        .join(
            src.select(
                F.col("__sid__").alias("id_2"),
                F.col("__src__").alias("__src2__"),
            ),
            "id_2",
        )
    )
    return (
        joined.select(
            F.least("__src1__", "__src2__").alias("source_x"),
            F.greatest("__src1__", "__src2__").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn(
            "within_source", F.col("source_x") == F.col("source_y")
        )
        .orderBy(
            F.col("n_pairs").desc(), F.col("source_x"), F.col("source_y")
        )
    )
