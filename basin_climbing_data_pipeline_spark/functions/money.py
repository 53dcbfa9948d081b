"""Money math column builders — cross-engine deterministic.

The reference keeps money as float dollars (cents/100 at ingest,
reference fetch_stripe_data.py:182; tax back-out x/1.0825,
pipeline_handler.py:87-89).  We keep DoubleType for oracle parity
(SURVEY.md §1.2) but with a strict rounding discipline, because Spark's
``round()`` (HALF_UP over the double's shortest decimal repr) and DuckDB's
``round()`` (binary-value based) disagree at half-cent ties:

- Per-row rounding is ``floor(x*100 + 0.5) / 100`` — pure IEEE double ops,
  bit-identical in any engine.
- Aggregation sums integer **cents** (BIGINT) — exact integer arithmetic,
  insensitive to partition/order, then divides by 100.0 once.

This is also the right thing at 100 TB: long-sum aggregation is cheaper than
decimal and immune to float summation-order drift across 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exactness domains of the fixed-point quantizers, pinned by
# tests/test_property_money.py (Spark vs pure-python vs DuckDB):
#
# - Spark's ``floor(double)`` returns LONG and SATURATES: |x| past 2^63
#   clamps to ±int64-max and **NaN maps to 0** — both silent — while
#   DuckDB's ``floor`` stays in double (NaN→NaN, 1e19→1e19).  Any
#   quantizer applied to an UNBOUNDED or NaN-able quantity must therefore
#   use the guarded ``micro()`` below, never a bare floor.
# - ``to_cents`` is exact and cross-engine-identical for |dollars| ≤
#   TO_CENTS_EXACT_ABS (x*100+0.5 stays inside int64).  Money amounts are
#   parse-bounded far below this; the bound exists so the property test
#   can prove the whole domain rather than sampled points.
TO_CENTS_EXACT_ABS = 9.0e16
# Guard bound for micro(): below it, x*1e6+0.5 is far inside int64 (and
# DuckDB's double floor is integer-exact, < 2^53), so floor-quantization
# is bit-identical across engines; at or above it the raw double passes
# through unquantized (already cross-engine-identical by construction).
MICRO_GUARD_ABS = 1.0e12


def to_cents(col: Column) -> Column:
    """Deterministic round-to-cents as BIGINT: floor(x*100 + 0.5).

    Exact for |x| ≤ TO_CENTS_EXACT_ABS dollars; see the domain note above.
    """
    return F.floor(col * 100.0 + 0.5).cast("long")


def to_cents_sql(expr: str) -> str:
    return f"CAST(floor(({expr}) * 100.0 + 0.5) AS BIGINT)"


def money(col: Column) -> Column:
    """Round a raw double to exact cents (dollars double, e.g. 12.34)."""
    return to_cents(col) / 100.0


def money_sql(expr: str) -> str:
    return f"({to_cents_sql(expr)} / 100.0)"


def sum_money(col: Column) -> Column:
    """Exact order-insensitive money sum: sum of cents / 100."""
    return F.sum(to_cents(col)) / 100.0


def sum_money_sql(expr: str) -> str:
    return f"(sum({to_cents_sql(expr)}) / 100.0)"


def ratio(num: Column, den: Column, digits: int = 4) -> Column:
    """Deterministic fixed-point ratio: floor(n/d * 10^digits + 0.5)/10^digits."""
    scale = float(10**digits)
    return F.floor(num / den * scale + 0.5) / scale


def ratio_sql(num: str, den: str, digits: int = 4) -> str:
    scale = float(10**digits)
    return f"(floor(({num}) / ({den}) * {scale} + 0.5) / {scale})"


# Exact-integer accumulator type for statistical moments.  int64 sums of
# squared cents overflow past ~9.2e18 (ANSI Spark THROWS where DuckDB
# silently promotes to HUGEINT — found by random-corpus fuzzing, round 9);
# decimal(38,0) gives 38 digits of order-insensitive exact headroom.
DEC38 = "decimal(38,0)"


def dec38(col: Column) -> Column:
    """THE shared overflow-discipline cast: exact decimal(38,0) integer.

    Use on any int64-range count/sum factor entering a product or squared
    moment so the arithmetic stays exact past int64 (Σy², n·Σxy, S²…).
    Consolidates the ~36 inline ``dec = lambda c: c.cast("decimal(38,0)")``
    copies (round-10 verdict order #2 for round 11) — one definition, so
    the cast literal can never drift per-site."""
    return col.cast(DEC38)


def dec38_prod(a: Column, b: Column) -> Column:
    """Exact product of two int64-range integer columns as decimal(38,0).

    Per-factor casts to decimal(19,0) keep each int64 factor exact and give
    Spark's decimal multiply its full 38-digit result headroom (19+19+1 →
    capped at 38, scale 0); the outer cast pins the accumulator type.  This
    is the ``F.sum((xd * yd).cast("decimal(38,0)"))`` squared-moment idiom
    shared by the correlation/OLS/ANOVA/Welch/… family — exact while
    |a·b| < 1e38, which every call site bounds by construction (cents and
    ranks are ≪ 1e19)."""
    return (a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast(DEC38)


def micro(col: Column) -> Column:
    """Overflow-guarded micro (1e-6) quantizer — THE shared primitive for
    rounding unbounded doubles (variances, slopes, z-scores at adversarial
    magnitudes).  Inside |x| < MICRO_GUARD_ABS it floor-quantizes exactly
    like every engine's double floor; outside (including ±inf) and on NaN
    the raw double passes through, which is already cross-engine-identical
    — a bare ``floor(x*1e6+0.5)/1e6`` would instead clamp to int64 max on
    Spark (and send NaN to 0) while DuckDB stays in double.  Promoted from
    CUPED's local fix (round 8) after three instances of this bug class in
    two rounds."""
    return F.when(
        F.abs(col) < MICRO_GUARD_ABS, F.floor(col * 1000000.0 + 0.5) / 1000000.0
    ).otherwise(col)


def micro_sql(expr: str) -> str:
    """Oracle mirror of :func:`micro` (DuckDB evaluates floor in double,
    which is integer-exact inside the guard bound)."""
    return (
        f"CASE WHEN abs({expr}) < {MICRO_GUARD_ABS} "
        f"THEN floor(({expr}) * 1000000.0 + 0.5) / 1000000.0 "
        f"ELSE ({expr}) END"
    )


# Clamp bound for fixed-point quantizers that feed int64: exactly
# representable as a double (10^18 = 2^18·5^18, 42 mantissa bits), an order
# of magnitude inside int64, and far past any in-domain quantity.
GUARDED_LONG_ABS = 1.0e18


def guarded_long(col: Column) -> Column:
    """Overflow-guarded fixed-point quantizer to BIGINT: floor(clamp(x)+0.5).

    THE shared primitive for quantizing an UNBOUNDED double into an int64
    fixed-point key or bucket input (value·1e6 micro units, ln(u)/w·1e9
    sampling keys).  A bare ``floor(x).cast("long")`` silently SATURATES
    on Spark past ±2^63 (and the saturated value then overflows ANSI
    arithmetic downstream — the +1 inside ``log_bucket`` was the round-11
    catch, found by the seeded random-events corpus) while DuckDB's BIGINT
    cast ERRORS — so both engines get the clamp, in double space, where
    IEEE semantics are identical.  Inside ±GUARDED_LONG_ABS this is
    bit-for-bit the old bare quantizer; past it, magnitudes collapse onto
    the guard (extreme bucket / extreme key) on BOTH engines.  Same bug
    class as :func:`micro` (the round-8/9 guarded-micro family) — this is
    the int64-output sibling.

    Corner semantics, pinned three-way (Spark == DuckDB == pure python) in
    tests/test_property_guarded_long.py: NaN lands on +GUARDED_LONG_ABS
    (both engines' least/greatest order NaN greatest) and NULL lands on
    -GUARDED_LONG_ABS rather than propagating (both engines' greatest/
    least SKIP nulls) — consumers that want NULL-in → NULL-out must
    pre-filter or wrap in F.when(col.isNotNull(), ...)."""
    clamped = F.least(
        F.greatest(col, F.lit(-GUARDED_LONG_ABS)), F.lit(GUARDED_LONG_ABS)
    )
    return F.floor(clamped + 0.5).cast("long")


def guarded_long_sql(expr: str) -> str:
    """Oracle mirror of :func:`guarded_long` (same double-space clamp, so
    DuckDB's out-of-range BIGINT cast can never fire)."""
    return (
        f"CAST(floor(least(greatest(({expr}), -{GUARDED_LONG_ABS}), "
        f"{GUARDED_LONG_ABS}) + 0.5) AS BIGINT)"
    )
