"""Text-analysis column builders (Spark side).

All builders are pure `pyspark.sql.functions` compositions — JVM-side,
whole-stage-codegen'd, no Python UDFs — so they run at full speed on a
cluster and scale linearly with data size.

Determinism contract: every derived value is computed from md5 hex strings
and integer/string operations that behave identically in ANSI SQL engines,
so the DuckDB oracles in __spark_entry__ can reproduce results bit-for-bit.

Token model (shared by dedup/text/similarity operators):
    tokens(text) = non-empty pieces of lower(trim(text)) split on \\s+
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != F.lit("")
    )


def token_char_offsets(col: Column | str) -> Column:
    """Per-token (s, e) CHARACTER offsets of every whitespace-delimited
    token in the RAW, un-normalized string — index-aligned with
    :func:`tokens` (identical ``\\s+`` boundaries; lowercasing never
    moves them), so token position i of the normalized stream maps to
    ``offsets[i]`` of the original text. ``e`` is exclusive
    (``substr(text, s+1, e-s)`` is the token).

    Pure JVM: one zero-width split (each segment = one token plus its
    trailing whitespace, with at most one leading all-whitespace
    segment) folded by ``aggregate`` into running offsets — no Python,
    no second regex pass per token."""
    c = F.col(col) if isinstance(col, str) else col
    seg = F.split(c, r"(?<=\s)(?=\S)")
    return F.aggregate(
        seg,
        F.struct(
            F.lit(0).cast("int").alias("off"),
            F.expr(
                "CAST(array() AS array<struct<s: int, e: int>>)"
            ).alias("acc"),
        ),
        lambda st, s: F.struct(
            (st["off"] + F.length(s)).cast("int").alias("off"),
            F.when(
                s.rlike(r"^\S"),
                F.array_append(
                    st["acc"],
                    F.struct(
                        st["off"].cast("int").alias("s"),
                        (
                            st["off"]
                            + F.length(
                                F.regexp_replace(s, r"\s+$", "")
                            )
                        ).cast("int").alias("e"),
                    ),
                ),
            ).otherwise(st["acc"]).alias("acc"),
        ),
        lambda st: st["acc"],
    )


# GPT-2-flavored pre-tokenizer regex, restricted to constructs RE2 also
# supports (no lookarounds, explicit ASCII classes) so the DuckDB oracle
# runs the IDENTICAL pattern: contractions, space-prefixed letter runs,
# digit runs, punctuation runs.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Subword-style token count (BPE-ish pre-tokenization): the cheap
    JVM-side proxy for LLM token budgeting — counts pre-merge pieces, so
    it upper-bounds and tracks real BPE token counts without a vocab."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def sorted_token_fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token list. Catches word-order-shuffled duplicates that exact-hash
    dedup misses."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col))))
    )


def hash_bits_int(hexstr: Column, bits: int = 32) -> Column:
    """First ``bits`` bits of an md5 hex string as a bigint (MSB-first).
    One string→int conversion replaces per-bit nibble arithmetic.
    ``bits`` must be a multiple of 4 (whole hex digits — otherwise the
    low bits of the value would not be the documented MSB-first prefix)
    and <= 52 so downstream double-arithmetic bit extraction
    (simhash_from_array) stays exact."""
    if bits % 4 != 0 or not (0 < bits <= 52):
        raise ValueError(
            f"hash_bits_int: bits must be a multiple of 4 in (0, 52], got {bits}"
        )
    n_hex = bits // 4
    return F.conv(F.substring(hexstr, 1, n_hex), 16, 10).cast("bigint")


def simhash_from_array(features: Column, bits: int = 32) -> Column:
    """SimHash over an array of feature strings: for each bit, sum +1/-1
    votes from each feature's md5, take the sign. Returned as a
    ``bits``-length '0'/'1' string (MSB first) — string form is
    engine-portable and directly usable for banding/hamming comparisons.

    Scalar-expression formulation (aggregate over the array), so it runs
    inside a single projection — one pass, no explode/shuffle. Each
    feature is hashed ONCE into a bigint (inner transform), then all bit
    votes fold over the hash array with an array accumulator — a per-bit
    formulation would re-evaluate md5 per feature per bit (measured ~5x
    slower at 5k docs). Bit b of hash h is extracted with exact double
    arithmetic (h < 2^32 <= 2^53) so any SQL engine reproduces it.
    """
    hashes = F.transform(
        features, lambda t: hash_bits_int(F.md5(t), bits).cast("double")
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0.0), bits),
        lambda acc, h: F.transform(
            acc,
            lambda v, i: v
            + (
                F.floor(h / F.pow(F.lit(2.0), (F.lit(bits - 1) - i).cast("double")))
                .cast("bigint") % 2
            ).cast("double")
            * 2
            - 1,
        ),
    )
    return F.array_join(
        F.transform(
            votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )


def simhash(col: Column | str, bits: int = 32) -> Column:
    """SimHash over the distinct-token set of a text column."""
    return simhash_from_array(F.array_distinct(tokens(col)), bits)


def stopword_ratio(col: Column | str, stopwords: list[str]) -> Column:
    toks = tokens(col)
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(stopwords)))
    return F.when(n > 0, sw / n).otherwise(F.lit(0.0))


def alpha_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII letters."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", ""))
    return F.when(total > 0, alpha / total).otherwise(F.lit(0.0))
