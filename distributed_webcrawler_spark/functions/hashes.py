"""Portable hashing primitives for dedup / fingerprinting.

Design constraint: the driver's correctness gate re-runs every query in
DuckDB from ANSI SQL, so hash values must be REPRODUCIBLE across engines.
md5 is identical everywhere, so the portable 60-bit integer hash is:

    Spark : cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)
    DuckDB: cast('0x' || substr(md5(x), 1, 15) as bigint)

(15 hex chars = 60 bits -> always positive, no signed-overflow divergence.)
xxhash64 stays the hot-path hash inside the crawl engine (JVM codegen);
md5-derived h64 is only used where a cross-engine oracle must agree.
``xxhash64_long`` is the numpy twin of Spark's ``xxhash64`` over ONE
bigint column (XXH64.hashLong, seed 42): the seen-set filters derive their
positions with it, so a native probe and the numpy insert agree bit for bit.

Scale note: md5 here is fine — it is evaluated JVM-side by codegen, one
pass, no shuffle; at 100 TB the dominant costs are the explode + the
shingle-join shuffles, which the operators in operators/dedup.py control.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def h64(col: Column | str) -> Column:
    """Portable 60-bit integer hash (see module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def h64_sql(expr: str) -> str:
    """DuckDB twin of :func:`h64`."""
    return f"cast(concat('0x', substr(md5({expr}), 1, 15)) as bigint)"


def shingles(text_col: str, k: int, max_chars: int) -> Column:
    """Character k-shingles of the first ``max_chars`` chars, as an
    array<string>. Pure Column expression (codegen; no Python)."""
    t = f"substring({text_col}, 1, {max_chars})"
    return F.expr(
        f"transform(sequence(1, greatest(length({t}) - {k} + 1, 0)),"
        f" i -> substring({t}, i, {k}))"
    )


def minhash_min_expr(shingle_col: str, seed: int) -> Column:
    """One MinHash component: the lexicographic MIN of md5('<seed>:'||shingle)
    over the doc's shingle set. A string-min over an (approx) random
    permutation of the shingle universe — the classic MinHash estimator —
    chosen over integer mins because md5 strings compare identically in
    Spark and DuckDB with zero numeric-overflow risk."""
    return F.min(F.md5(F.concat(F.lit(f"{seed}:"), F.col(shingle_col))))


def tokens(text_col: str) -> Column:
    """Lowercased alphanumeric tokens, array<string>. Both engines implement
    regexp_extract_all with RE2-compatible semantics for this pattern."""
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0))


TOKENS_SQL = "regexp_extract_all(lower({t}), '[a-z0-9]+')"


# XXH64 primes and Spark's default seed (Murmur3/XxHash64 expressions use 42)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_SEED_TERM = np.uint64((42 + 0x27D4EB2F165667C5 + 8) % (1 << 64))  # seed + P5 + 8


def _rotl_inplace(x: np.ndarray, r: int, t: np.ndarray) -> None:
    np.right_shift(x, np.uint64(64 - r), out=t)
    np.left_shift(x, np.uint64(r), out=x)
    x |= t


def xxhash64_long_inplace(x: np.ndarray, t: np.ndarray) -> None:
    """x <- xxhash64(x) for a uint64 array, in place; ``t`` is scratch of
    the same shape. Bit-identical to Spark's ``xxhash64(<bigint col>)``."""
    with np.errstate(over="ignore"):
        x *= _P2
        _rotl_inplace(x, 31, t)
        x *= _P1
        x ^= _SEED_TERM
        _rotl_inplace(x, 27, t)
        x *= _P1
        x += _P4
        for shift, prime in ((33, _P2), (29, _P3)):
            np.right_shift(x, np.uint64(shift), out=t)
            x ^= t
            x *= prime
        np.right_shift(x, np.uint64(32), out=t)
        x ^= t


def xxhash64_long(values) -> np.ndarray:
    """Spark ``xxhash64(<bigint>)`` of every value, as uint64 (a copy).
    An int column must be cast to bigint first: Spark hashes an int with
    hashInt, which gives different values."""
    x = np.array(values, dtype=np.int64).view(np.uint64)
    xxhash64_long_inplace(x, np.empty_like(x))
    return x
