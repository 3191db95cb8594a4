"""Deterministic, cross-engine hashing primitives (JVM-side Columns).

The dedup family (MinHash-LSH, SimHash, shingle fingerprints) needs hash
functions that are (a) stable across runs and executors, (b) reproducible
in the DuckDB oracle for the correctness gate. ``md5`` is identical in
Spark and DuckDB, so the canonical 60-bit integer hash is::

    h(s) = int(md5(s)[0:15], 16)        # 15 hex chars = 60 bits, fits BIGINT

Spark:  ``conv(substr(md5(s), 1, 15), 16, 10) :: bigint``
DuckDB: ``CAST(concat('0x', substr(md5(s), 1, 15)) AS UBIGINT)``

K independent hash families are derived by seeding: ``h_k(s) = h(k || ':' || s)``.
All of this is built-in-function composition — no Python in the hot path,
so a 100 TB dedup scan stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_CHARS = 15  # 60 bits < 2^63, safe for BIGINT in both engines


def md5_int(col: Column, seed: int | None = None) -> Column:
    """60-bit integer hash of a string column, optionally seeded."""
    if seed is not None:
        col = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(col), 1, HEX_CHARS), 16, 10).cast("long")


def md5_int_sql(expr: str, seed: int | None = None) -> str:
    """The same hash as :func:`md5_int`, as a DuckDB SQL fragment."""
    if seed is not None:
        expr = f"concat('{seed}:', {expr})"
    return f"CAST(concat('0x', substr(md5({expr}), 1, {HEX_CHARS})) AS UBIGINT)"


def shingles(tokens: Column, n: int) -> Column:
    """Word n-gram shingles of a token array (space-joined strings).

    Built as n-1 ``zip_with`` concats against shifted slices of the
    array — no explode, no shuffle. (A ``transform(sequence(...))`` +
    ``slice`` formulation is ~5x slower: per-position slice allocation
    inside an interpreted lambda dominated the profile at 10^6 rows.)
    ``zip_with`` pads the shorter side with NULL and ``concat`` nulls
    out, so trailing partial windows drop in the final filter.
    """
    if n == 1:
        return tokens
    out = tokens
    for j in range(1, n):
        shifted = F.slice(tokens, j + 1, F.greatest(F.size(tokens) - j, F.lit(0)))
        out = F.zip_with(out, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.filter(out, lambda x: x.isNotNull())


MINHASH_PRIME = 1_073_741_789  # largest prime < 2^30
MINHASH_MASK30 = (1 << 30) - 1


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic Carter–Wegman universal-hash parameters
    ``(a_k, b_k)`` — the same permutation scheme as Spark MLlib's
    ``MinHashLSH`` (``h_k(x) = (a_k·x + b_k) mod p``). One base md5 per
    shingle replaces the old one-md5-PER-FAMILY formulation (16× less
    hash work); keeping ``x < 2^30`` and ``a_k < p < 2^30`` bounds every
    product below 2^60, so the arithmetic is overflow-exact in both
    engines' signed 64-bit integers."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_permute(h30: Column, a: int, b: int) -> Column:
    """One permutation family applied to the 30-bit base hash column."""
    return F.pmod(h30 * F.lit(a) + F.lit(b), F.lit(MINHASH_PRIME))


def minhash_permute_sql(h30_expr: str, a: int, b: int) -> str:
    return f"(({a} * {h30_expr} + {b}) % {MINHASH_PRIME})"


def band_key(signature_cols: list[Column], band: int, rows_per_band: int) -> Column:
    """LSH band key: hash of the band's signature slice. Documents
    agreeing on any full band land in the same candidate bucket."""
    start = band * rows_per_band
    parts = [c.cast("string") for c in signature_cols[start : start + rows_per_band]]
    return md5_int(F.concat_ws("|", *parts), seed=10_000 + band)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two long columns (popcount of XOR)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def rolling_fingerprint(tokens: Column, n: int = 3) -> Column:
    """Document fingerprint: minimum shingle hash (1-permutation MinHash,
    a.k.a. a winnowing-style content fingerprint). Identical docs — and
    docs sharing their rarest shingle — collide; cheap near-dup prefilter."""
    return F.array_min(F.transform(shingles(tokens, n), lambda s: md5_int(s, seed=777)))
