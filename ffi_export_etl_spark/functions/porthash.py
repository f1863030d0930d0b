"""Engine-portable deterministic hashing.

Sketch operators (MinHash, SimHash, sign-LSH, k-means seeding) need a hash
function that Spark, DuckDB, and plain Python all compute bit-identically,
so the driver's DuckDB oracle can replay the exact same sketch instead of
falling back to a weaker rows-only check. xxhash64 exists only in Spark;
md5 exists everywhere with an identical definition, so every portable hash
here is "md5 of a UTF-8 string, take a hex prefix, parse as an integer":

    Spark   conv(substring(md5(s), 1, k), 16, 10)  -> BIGINT
    DuckDB  CAST('0x' || substr(md5(s), 1, k) AS BIGINT)
    Python  int(hashlib.md5(s.encode()).hexdigest()[:k], 16)

k=8  -> 32-bit non-negative int (feeds modular permutations safely)
k=15 -> 60-bit non-negative int (SimHash fingerprints, orderings)

Derived pseudo-randomness (permutation coefficients, hyperplane
components) is generated in *Python* at plan-build time from the same md5
construction and embedded as literals on both sides — constants cost
nothing per row and remove any per-row portability risk.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: (a*x + b) % P stays under 2^62 for a,x < P,
# so the product never overflows signed 64-bit in either engine (DuckDB
# raises on BIGINT overflow rather than wrapping — staying in range is
# not optional).
MERSENNE31 = 2_147_483_647

# Every score that feeds a ranking or a sign test is rounded to this many
# digits before it is compared, in the Spark plan and in the oracle SQL
# (which writes the literal ``round(..., 6)``), so both engines rank alike.
ROUND_DIGITS = 6


def md5_long(col: Column, nchars: int = 15) -> Column:
    """Spark: md5-prefix hash of a string column as a non-negative BIGINT."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, nchars), 16, 10).cast(
        "bigint"
    )


def duck_md5_long(expr: str, nchars: int = 15) -> str:
    """DuckDB SQL fragment computing the same value as :func:`md5_long`."""
    return f"CAST(CONCAT('0x', substr(md5({expr}), 1, {nchars})) AS BIGINT)"


def py_md5_long(s: str, nchars: int = 15) -> int:
    """Python equivalent (for plan-build-time constants and tests)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:nchars], 16)


def perm_coefficients(num_perm: int) -> list[tuple[int, int]]:
    """(a_i, b_i) for the universal-hash family h_i(x) = (a_i*x + b_i) % P.

    Derived from md5 of a fixed label so they are stable constants — the
    same numbers are embedded in the Spark plan and the oracle SQL.
    a_i is guaranteed nonzero mod P (md5 output % (P-1) + 1).
    """
    out = []
    for i in range(num_perm):
        a = py_md5_long(f"minhash_a_{i}", 15) % (MERSENNE31 - 1) + 1
        b = py_md5_long(f"minhash_b_{i}", 15) % MERSENNE31
        out.append((a, b))
    return out


def spark_perm(x: Column, a: int, b: int) -> Column:
    """Spark: (a*x + b) % P over a 31-bit-reduced input column."""
    return (F.lit(a).cast("bigint") * x + F.lit(b)) % F.lit(MERSENNE31)


def duck_sign_bucket(dim: int, plane_offset: int, planes: int) -> str:
    """DuckDB SQL fragment: sign-LSH bucket id of the list column ``vv``
    over literal hyperplanes ``plane_offset .. plane_offset+planes-1`` —
    matches the Spark operators' rounded-dot sign convention bit for
    bit."""
    coefs = hyperplane_coefficients(dim, plane_offset + planes)
    terms = []
    for p in range(planes):
        lits = ", ".join(repr(c) for c in coefs[plane_offset + p])
        terms.append(
            f"(CASE WHEN round(list_dot_product(vv, [{lits}]), "
            f"{ROUND_DIGITS}) >= 0 THEN CAST({1 << p} AS BIGINT) "
            f"ELSE 0 END)"
        )
    return "(" + "\n                 + ".join(terms) + ")"


def hyperplane_coefficients(dim: int, planes: int) -> list[list[float]]:
    """Sign-LSH hyperplane components in [-1, 1], step 1/1000.

    Plan-build-time constants from the md5 family — identical literals are
    embedded in the Spark plan and the oracle SQL, so bucket assignment is
    engine-portable (modulo the shared double dot-product convention that
    every cosine query in this package already relies on).
    """
    return [
        [
            (py_md5_long(f"hp_{p}_{d}", 8) % 2001 - 1000) / 1000.0
            for d in range(dim)
        ]
        for p in range(planes)
    ]
