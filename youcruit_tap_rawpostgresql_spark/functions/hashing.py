"""Portable deterministic hashing for dedup sketches (MinHash / SimHash).

Engine-portable 60-bit hash: the first 15 hex chars of md5, parsed as an
integer. Identical in Spark (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``) — md5 is standardized,
unlike Spark's xxhash64 / DuckDB's hash(). Used so the driver's oracle can
recompute sketches exactly.

MinHash universal-hash family: h_i(x) = (a_i * (x mod P) + b_i) mod P with
P = 2^31 - 1 (Mersenne prime). Keeping operands under 2^31 keeps every
product under 2^62 — no int64 overflow in either engine.

Scale: sketch computation is a per-row columnar expression (no shuffle);
the LSH band join shuffles only (band_id, bucket_hash) pairs — the classic
O(n·bands) candidate generation instead of O(n²) comparison.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1  # 2147483647

# Deterministic (a, b) parameters: small fixed LCG, hardcoded seed — the
# oracle SQL regenerates the same table. a in [1, P), b in [0, P).
def minhash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    params = []
    state = seed
    for _ in range(n):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = state % (MERSENNE_P - 1) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def hash64(col) -> Column:
    """Portable 60-bit hash of a string column (md5-prefix based)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def simhash_bits(token_hashes: Column, n_bits: int = 16) -> Column:
    """SimHash: per bit j, sign of sum over tokens of (bit_j*2-1), packed to
    an integer. Pure array expressions — evaluated per row."""
    # bitwiseAND instead of shiftright (shiftright can't take lambda vars);
    # bind j through a factory — a `j=j` default would change the lambda's
    # arity and PySpark would pass it a third lambda variable
    def _bit_sum(j: int):
        mask = 1 << j
        return F.aggregate(
            token_hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1),
        )

    bit_sums = [_bit_sum(j) for j in range(n_bits)]
    out = F.lit(0).cast("bigint")
    for j, s in enumerate(bit_sums):
        out = out + F.when(s > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out
