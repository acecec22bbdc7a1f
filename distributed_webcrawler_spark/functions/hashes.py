"""Portable hashing primitives for dedup / fingerprinting.

Design constraint: the driver's correctness gate re-runs every query in
DuckDB from ANSI SQL, so hash values must be REPRODUCIBLE across engines.
md5 is identical everywhere, so the portable 60-bit integer hash is:

    Spark : cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)
    DuckDB: cast('0x' || substr(md5(x), 1, 15) as bigint)

(15 hex chars = 60 bits -> always positive, no signed-overflow divergence.)
xxhash64 stays the hot-path hash inside the crawl engine (JVM codegen);
md5-derived h64 is only used where a cross-engine oracle must agree.

Scale note: md5 here is fine — it is evaluated JVM-side by codegen, one
pass, no shuffle; at 100 TB the dominant costs are the explode + the
shingle-join shuffles, which the operators in operators/dedup.py control.
"""

from __future__ import annotations

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
