"""Hashing / fingerprinting column functions.

Used by dedup (exact + MinHash + SimHash) and document fingerprinting.
Everything is JVM-side; MinHash permutations are the classic
``(a*x + b) mod p`` family over ``md5_u32`` shingle hashes, SimHash is
``simhash_bits`` over md5 token bits — deterministic across runs and
cluster sizes (no Python, no RNG at execution time), and mirrored
expression for expression by the DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from drune_spark.functions.text import let

# Mersenne prime 2^61 - 1: keeps (a*x+b) mod p within long range when the
# multiplication is done in the modular ring below.
MERSENNE_P = (1 << 61) - 1


def fingerprint_md5(col: Column) -> Column:
    """Canonical content fingerprint: md5 of normalized text.
    Portable (same value in any engine that has md5)."""
    from drune_spark.functions.text import normalize_text
    return F.md5(normalize_text(col))


def char_shingles(col: Column, k: int = 5) -> Column:
    """All character k-grams of a string as array<string>.

    Built with sequence+transform (JVM, no explode): a doc of length L
    yields L-k+1 shingles. Used for rolling-hash fingerprints and MinHash.
    Docs shorter than k yield a single truncated shingle.
    """
    n = F.length(col) - F.lit(k - 1)
    idx = F.sequence(F.lit(1), F.greatest(n, F.lit(1)))
    return F.transform(idx, lambda i: col.substr(i, F.lit(k)))


def word_shingles(tokens_col: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles from a token array. Docs with fewer
    than k tokens yield an empty array (guarded: Spark's ``sequence``
    would otherwise count *down* for a negative span). The token array
    is let-bound, so the per-shingle lambda reads a variable instead of
    re-running the tokenizer k times per shingle."""

    def shingles(toks: Column) -> Column:
        n = F.size(toks) - F.lit(k - 1)
        idx = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
            F.expr("cast(array() as array<int>)")
        )
        # element_at concat beats slice+concat_ws ~4× (no sub-array
        # allocation).
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
                ),
            )
        )

    return let(tokens_col, shingles)


def rolling_min_fingerprint(col: Column, k: int = 8) -> Column:
    """Winnowing-style fingerprint: the lexicographic minimum of the md5
    hashes of all character k-grams (a 1-permutation MinHash). Identical
    in any engine with md5 + substring — used as an oracle-checkable
    near-dup fingerprint."""
    hashes = F.transform(char_shingles(col, k), F.md5)
    return F.array_min(hashes)


def md5_u32(col: Column) -> Column:
    """Portable 32-bit content hash: the first 8 hex chars of md5 parsed
    as an unsigned int. Identical in any engine with md5 + base
    conversion (DuckDB: ``('0x' || substr(md5(s), 1, 8))::BIGINT``), so
    MinHash built on it is hash-checkable end-to-end by the oracle gate.
    Value < 2^32 keeps the (a*x+b) permutation inside long range."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_bits64(col: Column) -> Column:
    """Portable 64-bit hash as array<int>[64] of 0/1 bits (LSB-first:
    element j is bit j of the value whose low 32 bits come from md5 hex
    chars 9-16 and high 32 bits from chars 1-8). Two 32-bit halves keep
    every intermediate in signed-long range in both Spark and DuckDB."""
    h = F.md5(col)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    bits = [
        F.shiftrightunsigned(lo, j).bitwiseAND(F.lit(1)).cast("int")
        for j in range(32)
    ] + [
        F.shiftrightunsigned(hi, j - 32).bitwiseAND(F.lit(1)).cast("int")
        for j in range(32, 64)
    ]
    return F.array(*bits)


def simhash_bits(tokens_col: Column) -> Column:
    """Portable SimHash as array<int>[64] of 0/1 bits: md5-derived token
    bit arrays, one ``aggregate`` fold summing +1/-1 votes per bit, sign
    of the vote gives the bit (votes > 0 → 1). Oracle-mirrorable (md5 +
    integer arithmetic only)."""
    token_bits = F.transform(tokens_col, md5_bits64)
    votes = F.aggregate(
        token_bits,
        F.array_repeat(F.lit(0), 64),
        lambda acc, tb: F.zip_with(acc, tb, lambda a, b: a + 2 * b - 1),
    )
    return F.transform(votes, lambda v: F.when(v > 0, 1).otherwise(0))


def make_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a,b) pairs generated driver-side from a fixed seed
    (execution stays RNG-free; same signature on any cluster)."""
    import random
    rng = random.Random(seed)
    return [(rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
            for _ in range(num_perm)]
