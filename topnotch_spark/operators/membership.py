"""Distributed Bloom-filter membership (LLM-pipeline extension).

The seen-set problem at corpus scale: "have we already ingested this
URL / content hash?" answered without joining against the full key set.
A Bloom filter compresses n keys into m bits with a bounded
false-positive rate ((1 - e^(-kn/m))^k); the filter table is tiny
(m/32 rows of (word_idx, int32-in-int64)), so the probe side BROADCASTS
it instead of shuffling the corpus against the key set — the classic
Spark pattern for a many-to-huge membership check.

Determinism contract: positions come from double hashing
(Kirsch-Mitzenmacher 2006) over the md5 hex of the key — h1 = first 15
hex chars, h2 = next 15 (forced odd via 2*h2+1), pos_j = (h1 + j*h2)
mod m — all integer ops identical in any ANSI engine, so the DuckDB
oracle reproduces the exact filter words and probe verdicts.

Spark has a driver-side ``DataFrame.stat.bloomFilter``; this one stays
fully distributed (build = one groupBy over m/32 words, probe = a
broadcast join), returns the filter AS a DataFrame that can be written
to parquet and reloaded next run, and is engine-portable for the
correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BITS_PER_WORD = 32  # int32 payload in an int64 column: no sign traps in
                    # any engine's  <<  /  &  on the probe side


def _h1h2(key: Column, prehashed: bool = False) -> tuple[Column, Column]:
    """Double-hashing bases from the md5 hex of the key: h1 = bits of
    hex[0:15], h2 = bits of hex[15:30] forced odd (2*h2+1) so probe
    strides cycle through the bit space. With ``prehashed`` the key
    column already IS the md5 hex (hash-once pipelines that persist the
    hashed projection and feed build + probe + exact checks from it)."""
    hexs = key if prehashed else F.md5(key)
    h1 = F.conv(F.substring(hexs, 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(hexs, 16, 15), 16, 10).cast("bigint") * 2 + 1
    return h1, h2


def _positions(
    key: Column, m_bits: int, k_hashes: int, prehashed: bool = False
) -> Column:
    h1, h2 = _h1h2(key, prehashed)
    return F.array(
        *[(h1 + F.lit(j) * h2) % F.lit(m_bits) for j in range(k_hashes)]
    )


def bloom_build(
    df: DataFrame,
    key: Column | str,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
    *,
    prehashed: bool = False,
) -> DataFrame:
    """Build the filter: (word_idx, word) rows, 32 bits per word, only
    non-zero words present. Size ``m_bits`` to ~10 bits/key for ~1% FP
    (k=3 optimal near that load). One explode (k rows per key) + one
    groupBy(word_idx) with map-side partial bit_or — a single bounded
    shuffle of at most m/32 result rows regardless of corpus size.
    Persist the result as parquet and reload it next pipeline run.
    With ``prehashed`` the key column is an md5 hex string computed
    upstream (hash once, feed build/probe/exact from one persisted
    projection)."""
    keyc = F.col(key) if isinstance(key, str) else key
    pos = df.select(
        F.explode(_positions(keyc, m_bits, k_hashes, prehashed)).alias("p")
    )
    return (
        pos.select(
            F.expr(f"p div {BITS_PER_WORD}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BITS_PER_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    id_col: str,
    key: Column | str,
    bloom: DataFrame,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
    *,
    prehashed: bool = False,
) -> DataFrame:
    """Probe: (id, bloom_hit) per row — bloom_hit iff ALL k bits are set
    (maybe-seen; false positives possible at the configured rate, false
    negatives never). ``m_bits``/``k_hashes`` MUST match the build.

    Execution shape: k probe rows per input row, broadcast join against
    the (≤ m/32)-row filter, groupBy(id) min-hit — the corpus streams
    once, the seen-set never reshuffles."""
    keyc = F.col(key) if isinstance(key, str) else key
    pos = df.select(
        F.col(id_col),
        F.explode(_positions(keyc, m_bits, k_hashes, prehashed)).alias("p"),
    ).select(
        id_col,
        F.expr(f"p div {BITS_PER_WORD}").alias("word_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BITS_PER_WORD} AS INT))"
        ).alias("mask"),
    )
    hits = pos.join(F.broadcast(bloom), "word_idx", "left").select(
        id_col,
        F.when(
            F.col("word").isNotNull()
            & (F.col("word").bitwiseAND(F.col("mask")) != 0),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("hit"),
    )
    return hits.groupBy(id_col).agg(
        (F.min("hit") == 1).alias("bloom_hit")
    )
