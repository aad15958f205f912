"""Cross-engine deterministic aggregation helpers.

The correctness harness hash-compares Spark results against a DuckDB
oracle (order-insensitive value hash).  Floating-point SUM/AVG are
order-dependent, and Spark's partial aggregation order differs from
DuckDB's — so a naive ``sum(double)`` can differ in the last ulps and
fail an exact hash even when both engines are "right".

The fix used throughout the query inventory: round each input to a
fixed decimal scale (deterministic per engine), sum EXACTLY in decimal
arithmetic, then cast the exact decimal back to double (deterministic:
correctly-rounded nearest double).  Result: order- and parallelism-
independent sums in each engine — which also means results are
reproducible run-to-run on a 1000-executor cluster.

CROSS-ENGINE CAVEAT (r10 review, verified empirically): the two
engines do NOT round the same view of a double.  Spark's double →
decimal cast goes through the SHORTEST decimal representation
(``Double.toString`` → ``BigDecimal`` → ``setScale(s, HALF_UP)``),
while DuckDB rounds the EXACT binary value.  For an adversarial double
such as 0.1937825 (binary 0.19378249999…), Spark yields 0.193783 and
DuckDB 0.193782 — so the bit-identical-cross-engine guarantee holds
only for doubles where both views round alike.  The agreeing region
is also magnitude-bounded (r11): DuckDB's cast multiplies by 10^s in
double, so above |v| ≈ 2^53·10^-s (~9.0e9 at scale 6) even exact
integers diverge from the shortest-repr path.  Both bounds cover every
value in the current corpus: price-like fixture columns are decimals
of scale ≤ 2 well under 1e6 in magnitude, and the derived expressions
are products of at most three of them (scale ≤ 6 exact — no rounding
happens at all).  The
guarantee is ENFORCED, not assumed: ``rounding_agreement_failures``
below is the executable check, ``tests/test_compat_guard.py`` scans
every fixture double column plus the derived price expressions with
it, and the sf0.1 soak bit-compares all end-to-end results.  A global
alignment (routing BOTH engines through a string cast —
``CAST(CAST(x AS VARCHAR) AS DECIMAL)`` matches Spark's path, verified
r10) exists but would rewrite every oracle's content hash and
invalidate all recorded correctness stamps (~4 rounds of re-record
window debt), which is disproportionate to a risk the guard already
pins to zero occurrences; revisit only if the guard ever fires.

The same class exists for ``F.round(x, 6)`` vs DuckDB ``round(x, 6)``
(measured r10: 2/806 adversarial 7-digit values diverge, e.g.
33.2585625 → Spark 33.258563 / DuckDB 33.258562; random
full-precision doubles essentially never diverge — they are never
within an ulp of a 6-decimal boundary).  The inventory's round-6
sites feed on transcendental outputs (ln ratios, BM25 saturation), so
their realized risk is ~0; the one UNROUNDED short-decimal division
that reaches a decimal cast (the attribution share, price ÷ touch
count) has its own derived-value guard in
``tests/test_compat_guard.py``.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# decimal(30, s) leaves 30-s integer digits: at scale 6 that is 10^24 —
# ample headroom for 100 TB-scale sums of price-like values.
_PRECISION = 30


def dec_sql(expr: str, scale: int = 6) -> str:
    return f"CAST(({expr}) AS DECIMAL({_PRECISION},{scale}))"


def dsum_sql(expr: str, scale: int = 6) -> str:
    """Order-independent double sum (exact decimal accumulation)."""
    return f"CAST(SUM({dec_sql(expr, scale)}) AS DOUBLE)"


def davg_sql(expr: str, scale: int = 6) -> str:
    """Order-independent double mean: exact decimal sum / count, divided
    in double (both engines perform the identical IEEE division)."""
    return f"({dsum_sql(expr, scale)} / COUNT({expr}))"


def fp6_sql(expr: str) -> str:
    """Fixed-point scale-6 value as an exact integer decimal:
    ``sign(x) * floor(|x| * 1e6 + 0.5)`` cast to ``decimal(30,0)``.

    Pure floating-point per-row work (multiply + floor + sign), no
    ``Double.toString``/BigDecimal allocation — the per-row cost that
    dominates ``dec``'s double→decimal cast (r13 profiling: ~60% of
    q_agg_group's runtime was the five cast columns)."""
    x = f"CAST(({expr}) AS DOUBLE)"
    n = (
        f"CASE WHEN {x} >= 0 THEN FLOOR({x} * CAST(1000000 AS DOUBLE) + 0.5D)"
        f" ELSE - FLOOR(- {x} * CAST(1000000 AS DOUBLE) + 0.5D) END"
    )
    return f"CAST({n} AS DECIMAL({_PRECISION},0))"


def dsum_fp_sql(expr: str) -> str:
    """Order-independent double sum over CERTIFIED money-like columns —
    bit-identical to ``dsum_sql`` but ~25-30% faster end-to-end on
    aggregation-bound queries (r13 A/B on q_agg_group at sf0.1:
    1.68 s → 1.19 s median, identical bytes).

    How it stays exact: each value becomes the integer ``n`` =
    HALF-UP(x·10⁶) via pure FP arithmetic (``fp6_sql``), the ``n`` are
    summed EXACTLY in integer decimal (no overflow until 10³⁰ — a long
    sum would wrap at ~9.2·10¹⁸, i.e. at 100 TB scale), and the final
    exact rational Σn/10⁶ is divided at scale 8 (exact: at most 6
    fractional digits exist) before one correctly-rounded cast to
    double — the same exact rational, hence the same double, as
    ``dsum_sql``'s decimal(30,6) accumulation.

    CONTRACT: per-value agreement between ``floor(|x|·1e6 + 0.5)`` and
    Spark's shortest-repr double→decimal(30,6) cast is DATA-DEPENDENT
    (an adversarial double within an ulp of a half-point can round
    differently).  Use only on expressions certified by
    ``tests/test_compat_guard.py::test_fixed_point_money_agreement``,
    which sweeps every such column and derived expression at every SF
    and fails on the first divergent value (``grep -rn 'd[a-z]*_fp'``
    lists every site it must cover).  Everything else — transcendental
    outputs, embedding folds, uncertified columns — stays on
    ``dsum``/``davg``."""
    return f"CAST(SUM({fp6_sql(expr)}) / 1000000 AS DOUBLE)"


def davg_fp_sql(expr: str) -> str:
    """``dsum_fp_sql`` / COUNT — the certified-column form of ``davg_sql``."""
    return f"({dsum_fp_sql(expr)} / COUNT({expr}))"


# Column forms for DataFrame builders: each is the SQL text above,
# parsed by F.expr — one definition per expression, so a Column site
# and a spark.sql site analyze to the same operators by construction.


def dec(expr: str, scale: int = 6) -> Column:
    return F.expr(dec_sql(expr, scale))


def dsum(expr: str, scale: int = 6) -> Column:
    return F.expr(dsum_sql(expr, scale))


def davg(expr: str, scale: int = 6) -> Column:
    return F.expr(davg_sql(expr, scale))


def fp6(expr: str) -> Column:
    return F.expr(fp6_sql(expr))


def dsum_fp(expr: str) -> Column:
    return F.expr(dsum_fp_sql(expr))


def davg_fp(expr: str) -> Column:
    return F.expr(davg_fp_sql(expr))


def rounding_agreement_failures(values, scale: int = 6) -> list[float]:
    """Doubles in ``values`` whose double→decimal(30,``scale``) cast
    differs between Spark and DuckDB — i.e. the inputs that would break
    ``dec``/``dsum_sql`` cross-engine equality (see module docstring).

    A disagreement at moderate magnitude needs a scale-``s`` half-point
    within ~an ulp of the value (both engines round any clearly-interior
    value to the same nearest cell), so a cheap vectorized prefilter
    keeps the per-value arbitration off the hot path: candidates are
    values within a generous 1e-3·10^-s of an odd multiple of
    0.5·10^-s (true divergences sit within ~1e-6·10^-s of one).  The
    prefilter is only trustworthy where the double grid at v·2·10^s is
    finer than that tolerance — above |v| ≈ 4.4·10^(6-s)·10^s the ulp
    of the scaled product exceeds 1e-3 and a genuine half-point can
    land anywhere in the cell (and an int64 cast of the scaled value
    eventually overflows), so every value whose scaled ulp is not
    comfortably under the tolerance is routed STRAIGHT to the
    empirical arbitration instead (r10 ADVICE).  That large-magnitude
    route is load-bearing, not paranoia: DuckDB's double→decimal cast
    multiplies by 10^s in DOUBLE, so above |v| ≈ 2^53·10^-s even exact
    INTEGER doubles diverge from Spark's shortest-repr model (probed
    r11: 1137692863589.0 → DuckDB 1137692863588.999936, Spark
    ...589.000000).  Values that overflow decimal(30,``s``) entirely
    are reported as failures without arbitration — Spark's non-ANSI
    cast yields NULL where DuckDB raises, a divergence by construction.
    Each candidate is arbitrated EMPIRICALLY against DuckDB itself
    (one batched query — DuckDB's tie behavior matches no clean
    decimal model: r10 probes saw binary-above-half round down and
    binary-below-half round up), with Spark's side computed from its
    documented cast semantics:
    ``BigDecimal(Double.toString(v)).setScale(s, HALF_UP)``, i.e. the
    shortest decimal repr rounded half-away-from-zero
    (``test_compat_guard.py`` pins the model against a live session).
    """
    import numpy as np

    arr = np.asarray(list(values), dtype="float64")
    arr = arr[np.isfinite(arr)]
    if arr.size == 0:
        return []
    limit = 10.0 ** (_PRECISION - scale)
    overflow = arr[np.abs(arr) >= limit].tolist()
    arr = arr[np.abs(arr) < limit]
    scaled2 = arr * (2.0 * 10.0**scale)
    # grid fine enough that a true half-point provably lands inside the
    # `near` tolerance AND rounds to its exact (odd) integer
    reliable = np.spacing(np.abs(scaled2)) < 5e-4
    near = np.abs(scaled2 - np.round(scaled2)) < 1e-3
    odd = np.fmod(np.round(scaled2), 2.0) != 0.0  # no int64 cast: exact for
    # all reliable magnitudes (round(scaled2) < 2^53 there)
    candidates = arr[(~reliable) | (reliable & near & odd)].tolist()
    if not candidates:
        return overflow

    import decimal

    import duckdb
    import pandas as pd

    q = Decimal(1).scaleb(-scale)
    con = duckdb.connect()
    try:
        # registered frame, not an interpolated VALUES list (r11
        # review): the large-magnitude route can make the candidate
        # set input-sized, and a per-value repr() in one SQL string is
        # an unbounded statement; a registered pandas frame arbitrates
        # any candidate count through DuckDB's vectorized cast.  The
        # explicit index pins row order across the scan.
        con.register(
            "__cand", pd.DataFrame({"i": range(len(candidates)), "x": candidates})
        )
        # TRY_CAST, not CAST (r11 ADVICE): a candidate just below the
        # overflow cut can still overflow DuckDB's cast, which scales
        # by 10^s in DOUBLE — under adverse binade alignment (input
        # just above a power of two, product just below one) the
        # multiply can round UP across 10^30 and a plain CAST raises,
        # crashing the guard on the very value it should report.  No
        # scale exhibits the alignment in this DuckDB build (probed
        # r12: nextafter(10^(30-s), 0) casts cleanly for s=0..28), but
        # the geometry permits it and engine rounding drifts across
        # versions; a NULL from TRY_CAST is reported as a divergence —
        # correct either way, since Spark's non-ANSI cast never raises
        # there (it produces a value or NULL, neither equal to an
        # unrepresentable DuckDB decimal).
        rows = con.execute(
            f"SELECT TRY_CAST(x AS DECIMAL(30, {scale})) FROM __cand ORDER BY i"
        ).fetchall()
    finally:
        con.close()
    bad: list[float] = list(overflow)
    # widened decimal context (r11 review): the default 28-digit
    # context cannot quantize values with int-digits + scale > 28, so
    # |v| in [10^(28-s), 10^(30-s)) — inside decimal(30,s)'s domain —
    # raised InvalidOperation instead of arbitrating.  30 integer
    # digits + scale is the cast's own bound; 40 gives headroom.
    with decimal.localcontext() as ctx:
        ctx.prec = 40
        for v, (duck,) in zip(candidates, rows):
            spark_model = Decimal(repr(v)).quantize(q, ROUND_HALF_UP)
            if duck is None or spark_model != duck:
                bad.append(v)
    return bad
