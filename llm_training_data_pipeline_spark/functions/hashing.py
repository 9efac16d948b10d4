"""Hash-family Column helpers: MinHash permutation parameters, signature
Jaccard, LSH band keys, Hamming distance.

All native ``pyspark.sql.functions`` expressions, computed in the JVM with
no Python. The MinHash permutation family is the classic ``(a*h + b) mod p``
universal hashing scheme (``dedup.minhash_signatures`` evaluates it as one
``min`` aggregate per permutation). ANSI-overflow-safe: the family works mod
Mersenne-31 (see below), keeping every product under 2^62.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

# Universal-hash permutation family (a*h + b) mod M31 over h in [0, M31).
# M31 (Mersenne 2^31-1) is chosen so a*h wraps the modulus ~2^31 times —
# a genuinely scrambling permutation — while a*h+b < 2^62 stays far from
# int64 overflow (Spark 4 runs ANSI mode: overflow would throw). A larger
# modulus with small multipliers (to dodge overflow) barely wraps, leaving
# the map order-preserving and every permutation picking the same argmin:
# signatures collide and estimated Jaccard biases toward 1.
MERSENNE_31 = (1 << 31) - 1
_HASH_FOLD = MERSENNE_31


def _perm_params(num_perm: int, seed: int) -> tuple[list[int], list[int]]:
    rng = random.Random(seed)
    a = [rng.randrange(1, MERSENNE_31) for _ in range(num_perm)]
    b = [rng.randrange(0, MERSENNE_31) for _ in range(num_perm)]
    return a, b


def md5_fold31(s: Column) -> Column:
    """Shingle hash in [0, M31) derived from md5 instead of xxhash64, for
    oracle parity: equals ``md5_number_lower(s) % 2147483647`` in DuckDB
    bit-for-bit (md5_number_lower = little-endian digest bytes 8..15;
    verified empirically against hashlib).

    Folded byte-by-byte with precomputed ``256^k mod M31`` multipliers so
    every intermediate stays ≤ 8*255*M31 ≈ 2^42 — ANSI-overflow-safe.
    Slower than xxhash64 (md5 + 8 conv calls per shingle); use only where
    cross-engine reproducibility is worth it.
    """
    hx = F.md5(F.encode(s, "UTF-8"))
    expr = None
    for k in range(8):
        byte_k = F.conv(F.substring(hx, 17 + 2 * k, 2), 16, 10).cast("long")
        term = byte_k * F.lit(pow(256, k, MERSENNE_31))
        expr = term if expr is None else expr + term
    return F.pmod(expr, F.lit(MERSENNE_31))


def signature_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of equal MinHash positions, as DOUBLE."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.size(sig_a).cast(
        "double"
    )


def lsh_bands(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """ARRAY<STRUCT<band_id INT, band_sig ARRAY<BIGINT>>> — explode + hash to
    get LSH bucket keys; docs sharing any band bucket are candidates."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda j: F.struct(
            j.cast("int").alias("band_id"),
            F.slice(sig, j * rows_per_band + 1, rows_per_band).alias("band_sig"),
        ),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two BIGINT bit-patterns."""
    return F.bit_count(a.bitwiseXOR(b))
