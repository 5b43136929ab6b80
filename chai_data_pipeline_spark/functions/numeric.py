"""Cross-engine-deterministic numeric helpers.

The driver's correctness gate hashes values produced by Spark and by a
DuckDB oracle. Two systematic divergences must be engineered away:

1. **Rounding path.** Spark ``round`` converts the double to its
   shortest decimal representation and applies HALF_UP; DuckDB rounds
   by scaling the double. On boundary values (exactly ``x.xxxx5`` —
   common when inputs carry 2-decimal money values) the two disagree.
   :func:`dround` / :func:`sql_dround` implement the SAME formula on
   both sides — ``floor(x * 10^k + 0.5) / 10^k`` — which is a fixed
   sequence of IEEE-754 ops and therefore bit-identical across engines.

2. **Summation order.** A parallel engine's partial-aggregate combine
   order differs from a single-threaded engine's sequential fold, so
   ``SUM(double)`` can differ by ulps — and any ulp can flip a
   subsequent rounding on a boundary value. :func:`dsum` /
   :func:`sql_dsum` cast to DECIMAL before summing: decimal addition is
   exact and associative, so the result is order-independent, then cast
   back to double (a single correctly-rounded conversion in both
   engines).

This is not just test plumbing: order-independent aggregation is what
makes results reproducible run-to-run on a real cluster too (AQE can
change partitioning between runs, and a 1000-executor sum would
otherwise never reproduce byte-identical outputs).

Residual risk class #2 — CLOSED in r14 (was: accepted,
magnitude-gated). The decimal→double cast is correctly rounded in
Spark (Java BigDecimal) at every magnitude, but DuckDB's native
``CAST(DECIMAL AS DOUBLE)`` converts the unscaled integer and then
divides by 10^scale — TWO roundings — so past 2^53 unscaled
(|sum| > ~9e13 at scale 2) the two engines drift by one conversion
ulp (measured r12 at 2e17; re-measured r14 at the 4e15 gate plant:
exact decimal 4000000105232161.64 → Spark …161.5, DuckDB native cast
…162.0). Since r14 :func:`sql_dsum` routes the oracle's conversion
through VARCHAR — ``CAST(CAST(dec AS VARCHAR) AS DOUBLE)`` — which
DuckDB parses correctly-rounded (verified equal to Python/Spark at
the failing point), so dsum/sql_dsum now match over the FULL double
range; values whose unscaled decimals fit 2^53 are bit-unchanged by
the reroute (both paths exact there), which keeps every existing
oracle hash on real data identical.
Saturation-class divergence (Spark FLOOR(double)→LONG silently pinning
to 2^63 — wrong by ORDERS OF MAGNITUDE, not ulps) is never accepted.

Grid rule: every half-up grid ``floor(x*10^k + 0.5)`` rides this module,
never a hand-written FLOOR (tests/test_oracle_types.py lints the idiom
out of the package). A grid that divides back to a double uses
:func:`dround` / :func:`sql_dround`, whose 2^53 guard keeps it total
(r12 fixed six queries caught by the 2e17 probe). An integer grid
uses :func:`qround` / :func:`sql_qround`, which emit the bare
``CAST(FLOOR(x*10^k + 0.5) AS BIGINT)``; pass ``cap`` when the data
can leave the BIGINT range (clamp rule below).

Clamp rule: bound a value with :func:`clamp` / :func:`sql_clamp`, never
a hand-written ``LEAST(GREATEST(x, lo), hi)``. ``LEAST``/``GREATEST``
skip NULL arguments on both engines, so a NULL input silently becomes
``lo`` (a NULL per-user sum turned into a -1e11 outlier in
cuped_ab_analysis); the CASE form keeps NULL as NULL. Clamp BEFORE any
integer cast: DuckDB's cast raises Out of Range and Spark's saturates,
so only an in-range double reaches the cast identically; qround's
``cap`` does exactly that, clamping the scaled value (in grid units)
before the floor. Per-event money rides ``qround(x, 2, CENTS_CAP)`` —
cents winsorized at ±:data:`CENTS_CAP`, the shared cap that keeps
integer power sums and ×1e3..1e6 quantization grids in exact range
under adversarial values.

Known residual risk class (accepted, low probability): a few queries
(bayes_beta_binomial_ab, kn_bigram_perplexity, naive_bayes_langid_eval)
quantize ENGINE-computed transcendentals — ``ln()``/``exp()`` evaluated
by the JVM on the Spark side and by libm on the DuckDB side — at fixed
grids like ``FLOOR(x*1e12 + 0.5)``. A ulp difference between the two
math libraries landing EXACTLY on a grid boundary could flip one
quantized term. The final coarser rounding (1e-6) absorbs single-term
flips, so no failure has ever been observed, but if one of those
queries ever hash-mismatches with no code/data change, triage to libm
divergence FIRST. The fully-safe pattern (used by the RBO/periodogram
oracles) is to precompute transcendental constants in Python and ship
the bit-identical double literal to both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# DECIMAL(27, s): 27 integral+fractional digits keeps Spark's sum result
# type within DECIMAL(37, s) (cap 38) while holding sums of ~1e13 values.
#
# SCALE RULE: the scale passed to dsum/sql_dsum must be >= the TRUE
# decimal precision of the summed expression, so the double→decimal cast
# never rounds. A cast that rounds hits engine-divergent paths (Spark
# rounds the shortest decimal repr HALF_UP; DuckDB scales the binary
# value) exactly on the money-data boundary cases (x.xxx5). E.g. a
# product of three 2-decimal values is a 6-decimal quantity → scale >= 6.
# Division results are NOT finite decimals — never dsum a quotient;
# divide after summing (davg does).
_PREC = 27


# Magnitude guard for dround (r11): past 2^53 the scaled value has no
# representable fractional part, so "round to k decimals" is beyond
# double resolution — and the two engines' floors DIVERGE there (Spark
# FLOOR(double) returns LONG and silently SATURATES at 2^63; DuckDB's
# stays double). Both sides therefore take an identical no-floor branch
# (x*m/m — the same pair of IEEE ops, bit-identical) when |x*m| >= 2^53.
# Unreachable on sane data; the adversarial-values sweep (planted 1e12
# event values → ~1e23 SSEs) is what hits it. NaN/Inf compare >= the
# threshold in BOTH engines (each treats NaN as greater-than-everything)
# and flow through the no-floor branch identically.
_DR_MAX = 9007199254740992.0  # 2^53


def dround(col: Column | str, k: int = 4) -> Column:
    """Deterministic cross-engine round-half-up: floor(x*10^k + 0.5)/10^k,
    total over the double range (see the magnitude-guard note above)."""
    c = F.col(col) if isinstance(col, str) else col
    m = 10**k
    xm = c * F.lit(m)
    return (
        F.when(F.abs(xm) >= F.lit(_DR_MAX), xm).otherwise(
            F.floor(xm + F.lit(0.5))
        )
        / F.lit(float(m))
    )


def sql_dround(expr: str, k: int = 4) -> str:
    """SQL twin of :func:`dround`.

    CALLER CONSTRAINT: ``expr`` is inlined THREE times (ABS guard, THEN,
    ELSE). For a scalar or column reference that's free; for a large
    generated subexpression it triples the SQL text and leans on the
    engine's common-subexpression elimination — the same plan-cost class
    as the duplicated-expression-tree pitfalls in CLAUDE.md. Bind an
    expensive expression to a named column in a CTE/SELECT first, then
    pass the bare column name here.
    """
    m = 10**k
    return (
        f"(CASE WHEN ABS(({expr}) * {m}) >= CAST({_DR_MAX!r} AS DOUBLE)"
        f" THEN ({expr}) * {m}"
        f" ELSE FLOOR(({expr}) * {m} + 0.5) END / {float(m)})"
    )


def clamp(col: Column | str, lo, hi) -> Column:
    """NULL-safe clamp of ``col`` to ``[lo, hi]`` (numbers or Columns).

    CASE shape, not ``least(greatest(..))``: a NULL input stays NULL, a
    NULL bound leaves that side unclamped, and NaN (greater than every
    value on both engines) lands on ``hi`` — the same answer on Spark
    and DuckDB for every input (module docstring, clamp rule)."""
    c = F.col(col) if isinstance(col, str) else col
    lo, hi = (b if isinstance(b, Column) else F.lit(b) for b in (lo, hi))
    return F.when(c < lo, lo).when(c > hi, hi).otherwise(c)


def sql_clamp(expr: str, lo, hi) -> str:
    """SQL twin of :func:`clamp`; ``lo``/``hi`` are numbers or SQL.

    CALLER CONSTRAINT (as :func:`sql_dround`): ``expr`` is inlined
    three times — bind an expensive expression (an aggregate, a wide
    generated term) to a named column first and pass the name.
    """
    lo, hi = (
        f"CAST({b!r} AS DOUBLE)" if isinstance(b, float) else f"({b})"
        for b in (lo, hi)
    )
    return (
        f"(CASE WHEN ({expr}) < {lo} THEN {lo}"
        f" WHEN ({expr}) > {hi} THEN {hi} ELSE ({expr}) END)"
    )


# Winsor cap for per-event cents: above the corpus max (|cents| ~56k,
# pinned by tests/test_moments_headroom.py) so real rows are never
# clamped, low enough that 4th-power sums stay inside DECIMAL(38,0).
CENTS_CAP = 60_000


def qround(col: Column | str, k: int = 0, cap=None) -> Column:
    """Integer half-up grid ``floor(x*10^k + 0.5)`` as BIGINT.

    With ``cap`` the scaled value is clamped to ``[-cap, cap]`` (in
    grid units) BEFORE the floor, so the floor never saturates and
    NaN/±inf land on the cap like any other out-of-range value (module
    docstring, clamp rule). Without it, the caller's data must keep
    ``|x*10^k|`` below 2^63."""
    c = F.col(col) if isinstance(col, str) else col
    scaled = (c * 10**k if k else c) + 0.5
    if cap is not None:
        scaled = clamp(scaled, -cap, cap)
    return F.floor(scaled).cast("bigint")


def sql_qround(expr: str, k: int = 0, cap=None) -> str:
    """SQL twin of :func:`qround` (with ``cap``, the same caller
    constraint as :func:`sql_clamp`)."""
    scaled = f"({expr}) * {10**k} + 0.5" if k else f"({expr}) + 0.5"
    if cap is not None:
        scaled = sql_clamp(scaled, -cap, cap)
    return f"CAST(FLOOR({scaled}) AS BIGINT)"


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent (exact) sum of a double column, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({_PREC},{scale})")).cast("double")


def sql_dsum(expr: str, scale: int = 4) -> str:
    # VARCHAR reroute (r14): DuckDB's native DECIMAL→DOUBLE cast is
    # double-rounded past 2^53 unscaled; the string round-trip is
    # correctly rounded and bit-matches Spark's BigDecimal conversion
    # at every magnitude (module docstring, risk class #2).
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL({_PREC},{scale})))"
        f" AS VARCHAR) AS DOUBLE)"
    )


def davg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent average of a double column, as double.

    Exact decimal sum divided by the non-null count — one IEEE division,
    identical on both engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


def sql_davg(expr: str, scale: int = 4) -> str:
    return f"({sql_dsum(expr, scale)} / COUNT({expr}))"


def epoch_seconds(col: Column | str) -> Column:
    """Epoch seconds (with fractional part) of a timestamp/ntz column.

    Parquet timestamps without UTC-adjust read as TIMESTAMP_NTZ in
    Spark 4, which cannot cast to double directly; route via timestamp
    (identity under the engine's pinned UTC session zone).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


def sql_epoch(expr: str) -> str:
    return f"epoch({expr})"
