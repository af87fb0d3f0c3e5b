"""Cross-engine deterministic hashing for dedup/fingerprint operators.

All content hashing is md5-based: both Spark and DuckDB expose md5 as a
hex string, so ``bigint(substr(md5(x), 1, d))`` is bit-identical across
engines -- unlike Spark's ``hash()``/``xxhash64`` (Spark-private seeds) or
DuckDB's ``hash()``.  28-bit hashes are used where values feed modular
arithmetic (so a*h+b never overflows int64); 60-bit where the hash IS the
fingerprint.

MinHash permutations are the classic universal family
``h_k(x) = (a_k * x + b_k) mod P`` with fixed odd multipliers -- fixed
constants, not a seeded RNG, so signatures are reproducible everywhere
(and in the SQL oracle twins).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne-ish prime for the permutation family (fits comfortably in
# int64 alongside 28-bit hashes and the multipliers below).
MINHASH_PRIME = 2_147_483_647

def perm_params(k: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation k -- shared with SQL twins."""
    return 1_000_003 * k + 17, 998_244_353 * (k + 1) % MINHASH_PRIME

def md5_long(col: Column, hexdigits: int = 15) -> Column:
    """First ``hexdigits`` hex chars of md5 as a bigint (60 bits max)."""
    return F.conv(F.substring(F.md5(col), 1, hexdigits), 16, 10).cast("long")

def md5_long_sql(expr: str, hexdigits: int = 15) -> str:
    """DuckDB twin of md5_long (identical values)."""
    return f"(('0x' || substr(md5({expr}), 1, {hexdigits}))::BIGINT)"

def normalize_text(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, trimmed,
    whitespace collapsed."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")

NORMALIZE_TEXT_SQL = "regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g')"

def shingles_expr(text_col: str, n: int = 3) -> str:
    """Spark SQL expression: word n-gram shingles of a text column.
    (Spark arrays are 0-based; the DuckDB twin below is 1-based.)"""
    w = f"split({text_col}, ' ')"
    parts = ", ".join(f"{w}[i+{j}]" for j in range(n))
    # CASE guard: Spark's sequence(0, -1) would generate a DESCENDING
    # sequence for docs shorter than n words; DuckDB's generate_series is
    # ascending-only and yields [] -- make the empty case explicit.
    return (
        f"CASE WHEN size({w}) >= {n} "
        f"THEN transform(sequence(0, size({w})-{n}), i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )

def shingles_sql(text_col: str, n: int = 3) -> str:
    """DuckDB twin of shingles_expr (1-based list indexing)."""
    w = f"string_split({text_col}, ' ')"
    parts = ", ".join(f"{w}[i+{j}]" for j in range(n))
    return (
        f"list_transform(generate_series(1, greatest(len({w})-{n - 1}, 0)),"
        f" i -> concat_ws(' ', {parts}))"
    )

def minhash_sql(shingles: str, k: int) -> str:
    """DuckDB twin of ``operators.dedup._minhash_min_expr`` (the Spark
    side that runs): k-th MinHash over a shingle-list expression."""
    a, b = perm_params(k)
    h = "(('0x' || substr(md5(s),1,7))::BIGINT)"
    return f"list_min(list_transform({shingles}, s -> ({a} * {h} + {b}) % {MINHASH_PRIME}))"
