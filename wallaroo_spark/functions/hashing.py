"""Deterministic, engine-portable hashing primitives.

Dedup operators (minhash, simhash, fingerprints) need hash functions that
produce IDENTICAL values in Spark (JVM) and DuckDB (oracle) — so we build
them from md5, the one hash both engines share, instead of engine-native
hash() (Spark=murmur3, DuckDB=its own).

    md5int(s)  = int(md5(s)[:15], 16)            # 60-bit, exact in BIGINT
    hmod(s)    = md5int(s) % MERSENNE31          # 31-bit universe
    perm_i(h)  = (A[i]*h + B[i]) % MERSENNE31    # k permutations, no overflow
                                                  # (31-bit * 31-bit < 2^63)

A/B are fixed odd constants (seeded once, hard-coded) — NOT runtime random:
reproducibility across engines, sessions and cluster restarts is the point.
Each builder returns both a Spark Column and the equivalent DuckDB SQL
expression string, guaranteeing the pair stays in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2_147_483_647  # 2^31 - 1

# 16 fixed (a, b) pairs, generated once from random.Random(42), a odd, 1<=a,b<M.
PERM_A = [
    1288037154, 1828552847, 261705087, 495512105,
    465580443, 1091308319, 1871627125, 260292309,
    1986996126, 1438303143, 1134007167, 1030862653,
    1304752497, 407964379, 715711525, 1510766079,
]
PERM_B = [
    1655679808, 1993819399, 1229934883, 960747059,
    297290371, 1496368016, 1482396501, 1261788016,
    1147803924, 477243700, 1903995082, 25417352,
    1477329071, 1867687379, 1945467405, 340559595,
]
N_PERM = 16
LSH_BANDS = 4
LSH_ROWS = 4  # N_PERM = LSH_BANDS * LSH_ROWS


def md5int_col(c: Column) -> Column:
    """60-bit integer from md5 hex prefix — matches md5int_sql exactly."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5int_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def hmod_col(c: Column) -> Column:
    return md5int_col(c) % F.lit(MERSENNE31)


def hmod_sql(expr: str) -> str:
    return f"({md5int_sql(expr)} % {MERSENNE31})"


def perm_col(h: Column, i: int) -> Column:
    return (F.lit(PERM_A[i]) * h + F.lit(PERM_B[i])) % F.lit(MERSENNE31)


def perm_sql(hexpr: str, i: int) -> str:
    return f"(({PERM_A[i]} * {hexpr} + {PERM_B[i]}) % {MERSENNE31})"


def det_round_col(c: Column, d: int = 2) -> Column:
    """Engine-deterministic rounding for emitted doubles (r16, VERDICT r15
    #2/#3): quantize through DECIMAL(38,12) before rounding, so a value at
    (or within float error of) a half boundary rounds HALF_UP on the exact
    decimal in every engine and every DuckDB build — ``round`` applied to
    the raw double flips between decimal-exact and multiply-based libm
    implementations precisely there. Pair with ``det_round_sql`` in the
    oracle; the pane queries (`sliding_window_sum_panes`) proved the
    pattern driver-green in r15.

    Spark casts a double to DECIMAL through its shortest decimal string,
    which can cross a half boundary the exact binary value does not
    (``268435456.6352215`` casts to ``...635221500000``, exactly
    ``...6352214813``). So the whole part and the fraction are cast apart:
    ``c % 1`` is exact and keeps ``c``'s sign (half-up stays symmetric),
    and a fraction's shortest string carries ~17 significant digits, far
    past scale 12. The whole part keeps DECIMAL(38,12)'s 26 digits."""
    frac = c % 1
    whole = (c - frac).cast("decimal(26,0)")
    return (whole + F.round(frac.cast("decimal(38,12)"), d)).cast("double")


def det_round_sql(expr: str, d: int = 2) -> str:
    return f"CAST(round(CAST(({expr}) AS DECIMAL(38,12)), {d}) AS DOUBLE)"


def det_round_ratio_col(num: Column, den: Column, d: int = 2) -> Column:
    """Exact half-away-from-zero rounding of the INTEGER ratio num/den at
    d decimals, computed entirely on exact integers (r17, VERDICT r16 #1).

    ``det_round`` still routes a raw double through a DECIMAL cast, and
    that cast is build-sensitive exactly when the true value sits ON a
    half boundary — which integer ratios (averages, percent ranks,
    interpolated quantiles of cent-grid money) do routinely. Here
    ``floor((2*10^d*|num| + den) / (2*den))`` is the half-up round of
    ``10^d*|num|/den``: both engines run ONE identical IEEE division of
    exactly-represented integers, and its floor is exact because the
    quotient is a rational with denominator 2*den, never within double
    noise of an integer without being one. No double ever crosses a
    decimal cast. Caller contract: num/den are integer-typed (cast to
    long — engine int multiplication overflows differently), den > 0,
    and 2*10^d*|num| stays below 2^53.
    """
    scale = 10 ** d
    num = num.cast("long")
    den = den.cast("long")
    mag = F.floor(
        (F.lit(2 * scale).cast("long") * F.abs(num) + den) / (F.lit(2) * den)
    )
    return (
        F.when(num < 0, -mag).otherwise(mag) / F.lit(float(scale))
    )


def det_round_ratio_sql(num: str, den: str, d: int = 2) -> str:
    scale = 10 ** d
    n = f"CAST(({num}) AS BIGINT)"
    dd = f"CAST(({den}) AS BIGINT)"
    mag = f"floor(({2 * scale} * abs({n}) + {dd}) / (2 * {dd}))"
    return f"((CASE WHEN {n} < 0 THEN -{mag} ELSE {mag} END) / {float(scale)!r})"
