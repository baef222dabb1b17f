"""Cross-engine determinism helpers.

Spark's ``round()`` converts the double through Java BigDecimal (HALF_UP on
the shortest decimal string); DuckDB rounds the scaled double. They disagree
on values like 2.675. ``hround`` instead uses only IEEE-754 double ops
(multiply, add, floor, divide), which are bit-identical across engines:

    Spark : _floor_double(col * 10^n + 0.5) / 10^n
    SQL   : sql_floor_double('(expr * 10^n + 0.5)') / 10^n   (via sql_round —
            one string, valid and bit-identical in BOTH dialects)

Use ``hround`` + the matching ``sql_round`` snippet in every oracle-checked
query that emits a floating aggregate. (Half-up-toward-+inf for negatives —
consistent on both sides, which is all the hash needs.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _floor_double(col: Column) -> Column:
    """floor() in the DOUBLE domain. Spark's F.floor(double) returns
    BIGINT, which silently saturates past ±2^63 (found by the EXTREMES
    fixture: agg_stats' 9e16 variance rounded at 4dp became long_max/1e4 while
    DuckDB's double-domain floor sailed through). trunc = x - x % 1.0 is
    EXACT IEEE at any magnitude (fmod is exact; the subtraction is exact
    for |x| < 2^53 and fmod is 0 above, where x is already integral);
    floor = trunc - 1 for negative non-integers. Identical results to
    the old long-domain floor everywhere it didn't overflow."""
    t = col - col % 1.0
    return F.when((col < 0) & (col % 1.0 != 0.0), t - 1.0).otherwise(t)


def hround(col: Column, n: int = 2) -> Column:
    """Hash-stable round to n decimals (see module docstring).

    PRECONDITION inherited by the comparison contract: past |x| ≈ 2^52 /
    10^n the double grid is coarser than 10^-n, so 'rounding' is the
    identity — still bit-identical cross-engine (both engines run the
    same float ops; the double-domain floor keeps Spark off its BIGINT
    floor, whose saturation diverged from DuckDB at those magnitudes)."""
    scale = float(10**n)
    return _floor_double(col * scale + 0.5) / scale


def sql_floor_double(y: str) -> str:
    """SQL-text ``_floor_double``: floor in the DOUBLE domain, valid in
    BOTH dialects. ``%`` on doubles is fmod in Spark
    SQL and DuckDB alike (exact IEEE), so ``t = y - y % 1.0`` is the
    truncation and the CASE subtracts 1 for negative non-integers —
    the exact SQL mirror of :func:`_floor_double`. Measured bit-equal
    to DuckDB's native ``floor(double)`` at every magnitude (incl.
    ±1.2e30) and to Spark/Python on the same palette; unlike Spark
    SQL's ``floor()`` it never routes through BIGINT, so nothing
    saturates past 2^63. ``y`` is interpolated six times (twice
    directly in the CASE, plus ``t`` — which embeds it twice — used
    twice) — both engines CSE the repeated pure subexpression.

    Non-finite inputs: ``fmod(±inf, 1.0)`` is NaN in IEEE 754, so an
    infinite ``y`` yields NaN rather than floor's ±inf — identically on
    both engines (harmless at every registered magnitude)."""
    t = f"(({y}) - (({y}) % 1.0))"
    return (
        f"(CASE WHEN ({y}) < 0 AND (({y}) % 1.0) <> 0.0"
        f" THEN ({t}) - 1.0 ELSE {t} END)"
    )


def sql_round(expr: str, n: int = 2) -> str:
    """The SQL-text spelling of ``hround`` for oracle SQL strings.

    Also valid Spark SQL: the CAST keeps the result DOUBLE in both parsers
    (a bare ``/ 100.0`` literal would be DECIMAL division in Spark SQL).

    Floors via :func:`sql_floor_double`, not the dialect ``floor()`` —
    Spark SQL's ``floor(double)`` returns BIGINT and silently SATURATES
    past ±2^63 (found by the EXTREMES fixture), and this string DOES
    execute in Spark SQL (the sql_* family). The double-domain spelling
    equals ``floor()`` everywhere that does not overflow, so it needs no
    magnitude precondition; pinned cross-engine at 1e30 by
    tests/test_properties.py."""
    scale = float(10**n)
    y = f"(({expr}) * {scale} + 0.5)"
    return f"CAST({sql_floor_double(y)} / {scale} AS DOUBLE)"


# --- exact decimal accumulators ---------------------------------------------
#
# ``hround(sum(double))`` is a comparison contract that TIGHTENS with corpus
# size: the sum's magnitude grows linearly while the fixed-decimal rounding
# granularity doesn't, so a one-ulp merge-order difference eventually lands
# on a round-half boundary (the sf1 strict sweep caught exactly this in
# agg_product and analytics_pareto). For columns on a fixed-point grid
# (FIXTURES.md: every money-like column is a 2-decimal grid), the
# scale-stable contract is an EXACT decimal accumulator: decimal partials
# merge exactly in any order at any corpus size, and casting the exact
# decimal to DOUBLE at the end gives the bit-identical value on both
# engines — no tolerance at all. Use ``dec_sum``/``sql_dec_sum`` (and the
# avg pair) for every corpus-group sum of a grid column.
#
# The decimal→double conversion goes VIA STRING on both engines: a direct
# cast is engine-specific once the scaled integer exceeds 2^53 (DuckDB
# computes (double)int128 / (double)10^scale — two roundings; Java's
# BigDecimal.doubleValue is correctly rounded — the sf10x sweep caught
# them disagreeing by one ulp on pricing_summary's 6-decimal charge sum).
# Decimal→string is exact on both engines and string→double is correctly
# rounded on both (strtod / Double.parseDouble), so the via-string double
# is bit-identical at ANY magnitude.


def dec_to_double(col: Column) -> Column:
    """Exact-decimal → DOUBLE via string (correctly rounded, any magnitude)."""
    return col.cast("string").cast("double")


def sql_dec_to_double(expr: str) -> str:
    """Oracle-side ``dec_to_double`` (STRING is valid in both dialects)."""
    return f"CAST(CAST(({expr}) AS STRING) AS DOUBLE)"


# --- grid accumulation: exactness at (near) double-sum speed ----------------
#
# The first exact-decimal spelling cast the DOUBLE column to decimal and
# summed wide decimals. Correct, but 2.6× slower on aggregate-dense queries:
# Spark's double→decimal cast routes through BigDecimal.valueOf (a
# Double.toString parse per row) and the wide-precision products leave the
# long-compact Decimal fast path. The grid spelling recovers the column's
# fixed-point integer with PURE DOUBLE arithmetic, casts long (cheap), and
# sums decimal(18,0) (long-compact adds; 28-digit exact merge). Measured on
# pricing_summary's three money sums at sf0.1: double 0.21 s / grid-decimal
# 0.34 s / cast-decimal 0.62 s — exactness at ~1.5× instead of ~3×.
#
# Exactness precondition (every call site's column satisfies it, FIXTURES.md):
# the value is on the 10^-k grid and |value|·10^k < 2^52. Then
# fl(fl(x)·10^k + 0.5) sits within ~n·2^-51 ≪ 0.5 of the true integer n and
# FLOOR recovers n exactly — for either sign (floor is monotone; the error
# band never crosses the half-way line). Products of grid columns stay on
# the product grid (2-grid × 2-grid = 4-grid) and the same bound applies to
# the computed double product (k accumulates; rel-err stays a few ulp).
#
# Cross-engine: Spark sums decimal(18,0) (exact 28-digit result); DuckDB
# sums BIGINT into HUGEINT (exact int128). Identical integers → identical
# strings → identical correctly-rounded doubles → identical final division
# by 10^k on both engines (one IEEE op on identical inputs). This holds at
# ANY magnitude — above 2^53 the via-string double is still bit-identical
# on both sides (both compute fl(fl(S)/10^k)), which is all the comparison
# contract needs. DuckDB-side FLOOR output is integral, so its
# round-to-nearest double→BIGINT cast agrees with Spark's truncating cast.


def grid_sum(expr: Column, k: int = 2) -> Column:
    """Exact sum of a 10^-k-grid double (see grid-accumulation notes) → DOUBLE."""
    cents = F.floor(expr * float(10**k) + 0.5).cast("long").cast("decimal(18,0)")
    return dec_to_double(F.sum(cents)) / float(10**k)


def _sql_grid_sum_expr(expr: str, s: float, over: str = "") -> str:
    """The ONE grid-sum spelling both the aggregate and window forms derive
    from (``over`` is an optional ``" OVER (…)"`` suffix) — a hand-copied
    sibling would silently drift if the grid spelling ever changed.
    tests/test_properties.py pins the derived strings byte-for-byte."""
    inner = f"sum(CAST(floor(({expr}) * {s} + 0.5) AS DECIMAL(18,0))){over}"
    return f"{sql_dec_to_double(inner)} / {s}"


def sql_grid_sum(expr: str, k: int = 2) -> str:
    """The SQL spelling of ``grid_sum``. Valid AND exact in both dialects —
    some query texts execute in Spark SQL too (sql_parameterized /
    sql_pipe_syntax), where sum(BIGINT) would wrap on overflow at scale;
    summing DECIMAL(18,0) is exact in Spark (→ decimal(28,0)) and DuckDB
    (→ wider decimal), and the cast of the integral floor() output is
    exact in both."""
    return _sql_grid_sum_expr(expr, float(10**k))


def grid_wsum(expr: Column, weight: Column, k: int = 2) -> Column:
    """Exact Σ value·weight for a 10^-k-grid double times an INTEGER
    weight column → DOUBLE. The product is formed in DECIMAL(19,0) —
    never as a double multiply (value·weight at 1e9 money × 3.6e9 µs ≈
    3.6e18 is beyond 2^53, so the grid recovery of the double product is
    inexact) and never in long (cents·weight ≈ 3.6e20 wraps; found by
    the EXTREMES fixture in ts_twap). Same bit-identity contract as grid_sum:
    both engines sum the identical exact decimals and convert once."""
    cents = _grid_long(expr, k).cast("decimal(19,0)")
    return (
        dec_to_double(F.sum(cents * weight.cast("decimal(19,0)")))
        / float(10**k)
    )


def sql_grid_wsum(expr: str, weight: str, k: int = 2) -> str:
    """The oracle-side spelling of ``grid_wsum`` (valid in both dialects)."""
    c = _sql_grid_long(expr, k)
    inner = (
        f"sum(CAST(({c}) AS DECIMAL(19,0)) * CAST(({weight}) AS DECIMAL(19,0)))"
    )
    return f"{sql_dec_to_double(inner)} / {float(10 ** k)}"


def dec_sum(col: Column, prec: int = 18, scale: int = 2) -> Column:
    """Exact sum of a fixed-point-grid double → DOUBLE (grid accumulator).

    ``prec`` is kept for API stability; the grid spelling only needs the
    scale. Callers' oracles use ``sql_dec_sum`` so both sides move in
    lockstep."""
    del prec
    return grid_sum(col, scale)


def sql_dec_sum(expr: str, prec: int = 18, scale: int = 2) -> str:
    """The oracle-side spelling of ``dec_sum`` (valid in both SQL dialects)."""
    del prec
    return sql_grid_sum(expr, scale)


def dec_avg(col: Column, prec: int = 18, scale: int = 2) -> Column:
    """Mean from the exact grid sum: identical doubles divided by identical
    counts on both engines (null-aware via count(col))."""
    del prec
    return grid_sum(col, scale) / F.count(col).cast("double")


def sql_dec_avg(expr: str, prec: int = 18, scale: int = 2) -> str:
    """The oracle-side spelling of ``dec_avg``."""
    del prec
    return f"({sql_grid_sum(expr, scale)}) / CAST(count({expr}) AS DOUBLE)"


def sql_dec_avg_over(expr: str, partition: str, scale: int = 2) -> str:
    """Window-form ``sql_dec_avg``: the identical exact grid average as a
    window aggregate (``OVER (PARTITION BY …)``). Lives here, next to the
    aggregate spelling, so the two move in lockstep — a hand-copied window
    literal at a call site would silently drift (and break the bit-identity
    QUALIFY membership depends on) if the grid spelling ever changed.
    Derived from the same ``_sql_grid_sum_expr`` builder as
    ``sql_grid_sum`` — not a copy."""
    s = float(10**scale)
    win = f"OVER (PARTITION BY {partition})"
    return (
        f"{_sql_grid_sum_expr(expr, s, ' ' + win)}"
        f" / CAST(count({expr}) {win} AS DOUBLE)"
    )


# --- grid second moments: exact-input stddev / variance / correlation ------
#
# The sf1 × AQE-off invariance cell showed the same contract instability applies to corpus-group AVG/STDDEV
# of grid columns: ts_calendar_profile's 6-dec rounded avg(value) flipped a
# round-half boundary when AQE-off changed the double-sum merge order. The
# fix family: recover the scaled integer per row (same precondition as
# grid_sum), accumulate Σc and Σc² (and cross-sums for corr) EXACTLY in
# decimal, convert via-string to bit-identical doubles, and evaluate ONE
# agreed IEEE formula on both engines. The final double math is not exact —
# it does not need to be: both engines compute the identical operations on
# identical inputs, so the results are bit-identical at any corpus size and
# under any physical layout.
#
# Per-row bounds: the harness domain keeps c = value·10² ≤ 4.9e4, but the
# EXTREMES fixture (±1e9 money → c ≈ 1e11) showed the SQUARED
# terms must not be formed in BIGINT — c² ≈ 1e22 > 2^63 wraps in Spark
# (ANSI: ARITHMETIC_OVERFLOW) and overflows DuckDB's BIGINT multiply too.
# All second-moment products are therefore computed in DECIMAL(19,0) ×
# DECIMAL(19,0) → DECIMAL(38,0): exact to 38 digits (c² ≤ 1e26 at the
# fixture's grid edge), summed exactly, then via-string to bit-identical
# doubles. Non-null inputs assumed (the harness columns verify none);
# callers coalesce/filter first otherwise — count(*) is the n on both sides.


def _grid_long(expr: Column, k: int) -> Column:
    """Exact scaled-integer recovery (the grid_sum precondition)."""
    return F.floor(expr * float(10**k) + 0.5).cast("long")


def _sql_grid_long(expr: str, k: int) -> str:
    return f"CAST(floor(({expr}) * {float(10 ** k)} + 0.5) AS BIGINT)"


def _dsum_prod(a: Column, b: Column) -> Column:
    """Exact decimal sum of a product of two LONG columns — the product
    is formed in DECIMAL(19,0), never in long (long·long wraps beyond
    2^63; found by the EXTREMES fixture: money cents² at ±1e9 ≈ 1e22).
    DECIMAL(19,0)·DECIMAL(19,0) → DECIMAL(38,0) in both engines — exact
    for every product of two ≤19-digit integers."""
    return dec_to_double(F.sum(a.cast("decimal(19,0)") * b.cast("decimal(19,0)")))


def _sql_dsum_prod(ea: str, eb: str) -> str:
    return sql_dec_to_double(
        f"sum(CAST(({ea}) AS DECIMAL(19,0)) * CAST(({eb}) AS DECIMAL(19,0)))"
    )


def _dsum(col: Column) -> Column:
    """Exact decimal sum of a long column → bit-identical double."""
    return dec_to_double(F.sum(col.cast("decimal(18,0)")))


def _sql_dsum(expr: str) -> str:
    return sql_dec_to_double(f"sum(CAST(({expr}) AS DECIMAL(18,0)))")


def grid_var_samp(expr: Column, k: int = 2) -> Column:
    """Sample variance of a 10^-k-grid double from exact integer sums:
    ((Σc² − (Σc)²/n) / (n−1)) / 10^2k — bit-identical cross-engine.

    The Σc² − (Σc)²/n form is cancellation-prone: a near-constant group
    (50M rows of 490.02 plus one 490.03) can produce a tiny NEGATIVE
    variance, which grid_stddev_samp would feed to sqrt — NaN in Spark
    but an OutOfRangeException (oracle crash) in DuckDB. Both spellings
    clamp with the same greatest(·, 0.0) — one identical extra IEEE op
    on identical inputs, so bit-identity is preserved."""
    c = _grid_long(expr, k)
    n = F.count(F.lit(1)).cast("double")
    s1, s2 = _dsum(c), _dsum_prod(c, c)
    return F.when(
        F.count(F.lit(1)) > 1,
        F.greatest(
            (s2 - s1 * s1 / n) / (n - F.lit(1.0)) / F.lit(float(10 ** (2 * k))),
            F.lit(0.0),
        ),
    )


def sql_grid_var_samp(expr: str, k: int = 2) -> str:
    c = _sql_grid_long(expr, k)
    s1, s2 = _sql_dsum(c), _sql_dsum_prod(c, c)
    n = "CAST(count(*) AS DOUBLE)"
    return (
        f"CASE WHEN count(*) > 1 THEN greatest("
        f"(({s2}) - ({s1}) * ({s1}) / ({n})) / (({n}) - 1.0) / {float(10 ** (2 * k))}"
        f", 0.0) END"
    )


def grid_stddev_samp(expr: Column, k: int = 2) -> Column:
    """Sample stddev via :func:`grid_var_samp` (sqrt is correctly rounded
    IEEE — identical input → identical output)."""
    return F.sqrt(grid_var_samp(expr, k))


def sql_grid_stddev_samp(expr: str, k: int = 2) -> str:
    return f"sqrt({sql_grid_var_samp(expr, k)})"


def grid_corr(expr: Column, other: Column, k: int = 2) -> Column:
    """Pearson correlation of a 10^-k-grid double against a NUMERIC
    column, from exact cross-sums. Correlation is scale-invariant, so it
    is computed directly on the cents — no rescaling divisions at all.

    ``other`` goes through the same half-up grid recovery at k=0. WARNING
    — this ROUNDS ``other`` to the nearest integer: on non-integral input
    the result is the correlation of the ROUNDED values, NOT of the input
    (cross-engine identity is preserved, the values themselves change).
    Integral ``other`` (the only current call-site shape) is exact. The
    k=0 recovery exists because a bare Spark cast("long") TRUNCATES
    toward zero while DuckDB CAST(.. AS BIGINT) ROUNDS to nearest — a
    latent silent cross-engine mismatch otherwise. For a genuine double
    ``other``, grid-scale it first (pass it through its own 10^k grid)
    instead of reusing this helper as-is. Both sqrt
    arguments are clamped to ≥ 0 (same cancellation hazard as
    grid_var_samp) and zero denominators return NULL on both engines —
    the clamp and the > 0 guard are identical IEEE ops on bit-identical
    inputs, so membership flips identically."""
    c = _grid_long(expr, k)
    u = _grid_long(other, 0)
    n = F.count(F.lit(1)).cast("double")
    sv, su = _dsum(c), _dsum(u)
    svv, suu, svu = _dsum_prod(c, c), _dsum_prod(u, u), _dsum_prod(c, u)
    dv = F.greatest(svv - sv * sv / n, F.lit(0.0))
    du = F.greatest(suu - su * su / n, F.lit(0.0))
    return F.when(
        (F.count(F.lit(1)) > 1) & (dv > 0) & (du > 0),
        (svu - sv * su / n) / F.sqrt(dv) / F.sqrt(du),
    )


def sql_grid_corr(expr: str, other: str, k: int = 2) -> str:
    c = _sql_grid_long(expr, k)
    u = _sql_grid_long(other, 0)
    n = "CAST(count(*) AS DOUBLE)"
    sv, su = _sql_dsum(c), _sql_dsum(u)
    svv = _sql_dsum_prod(c, c)
    suu = _sql_dsum_prod(u, u)
    svu = _sql_dsum_prod(c, u)
    dv = f"greatest(({svv}) - ({sv}) * ({sv}) / ({n}), 0.0)"
    du = f"greatest(({suu}) - ({su}) * ({su}) / ({n}), 0.0)"
    return (
        f"CASE WHEN count(*) > 1 AND ({dv}) > 0 AND ({du}) > 0 THEN "
        f"(({svu}) - ({sv}) * ({su}) / ({n}))"
        f" / sqrt({dv})"
        f" / sqrt({du}) END"
    )


# TPC-H discounted revenue Σ extprice·(1−disc): both factors live on
# 2-decimal grids, so the product is an exact 4-decimal grid value and the
# grid accumulator sums it exactly. ``{p}`` is the table alias prefix in SQL.
DISC_REV_SQL = (
    "CAST(CAST(sum(CAST(floor(({p}l_extendedprice * (1 - {p}l_discount))"
    " * 10000.0 + 0.5) AS DECIMAL(18,0))) AS STRING) AS DOUBLE) / 10000.0"
)


def disc_rev_dec() -> Column:
    """Spark-side exact Σ l_extendedprice·(1−l_discount) → DOUBLE."""
    return grid_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
