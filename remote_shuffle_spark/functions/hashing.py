"""Text-hashing column expressions: normalization, shingles, MinHash,
SimHash, rolling fingerprints.

Everything here is a pure Spark SQL expression tree (JVM-side, codegen'd,
zero Python in the hot path) — each helper returns a Column, so the
operators built on top stay narrow until their one intentional shuffle.
All hashing uses xxhash64 (a Spark built-in) with integer salt columns as
seeds, so results are deterministic across runs and partitionings.

ANSI-mode note (Spark 4 default): arithmetic avoids 64-bit overflow by
masking hashes to 31 bits before polynomial combination.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 31-bit mask keeps polynomial rolling-hash arithmetic overflow-free
# under ANSI mode: acc < P (~2^30), acc*31 + x < 2^35+2^31 << 2^63.
_MASK31 = (1 << 31) - 1
_FP_PRIME = 1_073_741_789  # largest prime < 2^30


def normalized_text(col) -> Column:
    """Dedup-canonical text: lowercase, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col) -> Column:
    """Whitespace tokenization of normalized text (array<string>)."""
    return F.split(normalized_text(col), " ")


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Sliding word n-grams as array<string> over an already-MATERIALIZED
    token-array column; short docs yield one whole-text shingle.

    ``toks`` must be a plain column reference (project ``tokens(col)``
    into its own column first).  Referencing the tokenization expression
    inline instead re-runs normalize+regexp+split once per shingle
    position: codegen subexpression elimination does not hoist
    lambda-invariant subtrees out of higher-order functions (measured 10x
    on the sf0.1 corpus — 2.3 s vs 0.23 s).
    """
    shingle_starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(shingle_starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))


def word_shingles(col, n: int = 3) -> Column:
    """Sliding word n-grams straight from a text column.

    Convenience form for small frames ONLY — it inlines the tokenization
    under the transform lambda, which re-evaluates it per position (see
    :func:`word_shingles_from_tokens`, the hot-path form).
    """
    return word_shingles_from_tokens(tokens(col), n)


def shingle_structs(toks: Column, n: int = 3) -> Column:
    """Shingles as array<struct<t0..t{n-1}>> over a materialized token
    column — the hash-only shingle representation.

    Identity is the token TUPLE (no separator string is ever built), so
    ``xxhash64(sh.t0, …, seed)`` hashes a shingle directly; tokens carry
    no spaces (split on ' '), so tuple identity ≡ the concat_ws(' ')
    string identity.  Docs shorter than ``n`` yield one struct padded
    with trailing nulls (xxhash64 skips null inputs → the whole-text
    shingle).  Measured 5x faster than string shingles for the MinHash
    signature stage (no per-shingle string allocation).
    """
    npos = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    # try_element_at: the trailing-null padding of short docs relies on
    # out-of-bounds -> NULL, which plain element_at turns into
    # ARRAY_INDEX_OUT_OF_BOUNDS under spark.sql.ansi.enabled=true
    return F.transform(
        F.sequence(F.lit(1), npos),
        lambda i: F.struct(*[F.try_element_at(toks, i + j).alias(f"t{j}") for j in range(n)]),
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``).

    sig[i] = min over shingles of xxhash64(shingle, seed=i).  Each seeded
    hash family member is one transform+array_min over the in-row shingle
    array — O(k * |shingles|) per row, embarrassingly parallel, no state.
    """
    # NB: the lambda must take exactly one parameter — a second parameter
    # (even a default) makes pyspark bind the array-index column to it.
    def seeded(i: int):
        return lambda s: F.xxhash64(s, F.lit(i))

    sig = [F.array_min(F.transform(shingles, seeded(i))) for i in range(num_hashes)]
    return F.array(*sig)


def band_hashes(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """LSH band buckets: array<struct<band:int, bucket:bigint>>.

    Docs agreeing on ALL rows of any band land in the same bucket —
    the classic banding construction (Broder; MMDS ch.3).  Bucket ids are
    xxhash64 over the band's signature slice plus the band index, so
    buckets from different bands never collide.
    """
    out = []
    for b in range(num_bands):
        parts = [
            F.element_at(signature, b * rows_per_band + r + 1) for r in range(rows_per_band)
        ]
        out.append(
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.lit(b), *parts).alias("bucket"),
            )
        )
    return F.array(*out)


def simhash64(toks: Column) -> Column:
    """64-bit SimHash of a token array, as bigint.

    Classic Charikar construction: each token votes ±1 on each of 64 bit
    positions of its hash; the sign of each position's total is the
    fingerprint bit.  Computed as a per-row expression over the token
    array (bit votes via aggregate over the token-hash array), so it
    needs no shuffle at all.
    """
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_vote(i: int) -> Column:
        # sum over tokens of (bit_i ? 1 : -1)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    result = F.lit(0).cast("long")
    for i in range(64):
        bit = F.shiftleft(F.lit(1).cast("long"), i)  # wraps bitwise at i=63
        result = result.bitwiseOR(F.when(bit_vote(i) > 0, bit).otherwise(F.lit(0).cast("long")))
    return result


def rolling_fingerprint(toks: Column) -> Column:
    """Order-sensitive polynomial rolling hash of a token stream (bigint).

    fp = fold(tokens, acc -> (acc*31 + (xxhash64(tok) & MASK31)) % P).
    Distinguishes documents with the same token multiset but different
    order (which any bag-of-words hash cannot).
    """
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + F.xxhash64(t).bitwiseAND(F.lit(_MASK31))) % _FP_PRIME,
    )
