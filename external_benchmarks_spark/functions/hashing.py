"""Cross-engine-stable hashing primitives.

Spark's ``hash()`` (Murmur3) and DuckDB's ``hash()`` disagree, so every
operator whose output must hash-match a DuckDB oracle (MinHash, SimHash,
fingerprinting) is built on an md5-prefix hash that both engines compute
identically:

  Spark : CAST(conv(substr(md5(s), 1, k), 16, 10) AS BIGINT)
  DuckDB: CAST(('0x' || substr(md5(s), 1, k)) AS BIGINT)

k=8 hex chars -> unsigned 32-bit value in [0, 2^32), exactly representable
as BIGINT, so downstream modular arithmetic (MinHash permutations) is
integer-exact on both engines.

md5 is ~3x slower than Murmur3 but still JVM-side and codegen-friendly;
operators that do NOT need oracle parity (e.g. production LSH at 100 TB)
can pass ``F.hash`` instead — the operator APIs take the hash fn as a
parameter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^61-1: modulus for MinHash universal hashing. Products
# a*h with a < 2^30 and h < 2^32 stay < 2^62 — no BIGINT overflow.
MERSENNE_61 = (1 << 61) - 1


def md5_hash32(col: Column | str) -> Column:
    """Unsigned 32-bit integer hash of a string, identical in DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def md5_hash64(col: Column | str) -> Column:
    """Unsigned 63-bit integer hash (15 hex chars < 2^60, sign-safe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_hash32_sql(expr: str) -> str:
    """DuckDB SQL text computing the same value as ``md5_hash32``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k universal hash fns a*x+b mod p.

    Uses a fixed LCG so Spark and the DuckDB oracle can be handed the
    SAME literal coefficients (no engine RNG in compared output,
    SURVEY.md §5.3).
    """
    params = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % ((1 << 30) - 2)) + 1  # 1 <= a < 2^30
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_61
        params.append((a, b))
    return params
