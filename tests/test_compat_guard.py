"""Executable guard for compat.py's cross-engine rounding caveat.

Spark casts double→decimal via the SHORTEST decimal repr (HALF_UP);
DuckDB rounds the exact BINARY value.  The two disagree only for
doubles adjacent to a scale-6 half-point (verified r10:
0.1937825 → Spark 0.193783, DuckDB 0.193782).  The query inventory's
``dec``/``dsum`` discipline is cross-engine-exact only while no such
double feeds a decimal cast, so this guard scans every fixture double
column — plus the derived price expressions the TPC-H queries actually
sum — and fails loudly the moment a driver-regenerated fixture enters
the risk region.  Derived full-precision expressions (KL terms,
embedding dots) are covered end-to-end by the sf0.1 soak instead.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_template_spark.compat import rounding_agreement_failures

# absolute, so a relative env value sweeps ITS parent dir (ADVICE r14)
SF_DIR = os.path.abspath(
    os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
)

# r14 (ADVICE): the fixture-scanning guards sweep EVERY fixture SF dir
# in one run, not just the session's SF_DIR — dsum_fp's bit-identity
# contract is data-dependent, so certification must cover every scale
# the driver benches or verifies against, in the same required suite.
# (The env-pinned SF_DIR is kept in the list so an explicitly pointed
# run still covers whatever the driver pointed at.)
_FIXTURE_ROOT = os.path.dirname(SF_DIR)
SF_DIRS = sorted(
    {
        p
        for p in glob.glob(os.path.join(_FIXTURE_ROOT, "sf*"))
        if os.path.isdir(p) and glob.glob(os.path.join(p, "*.parquet"))
    }
    | {SF_DIR}
)


def test_detector_catches_known_divergence():
    """A known diverging double must be flagged — proves the guard can
    actually see the failure mode it exists for (no vacuous pass).
    947.7089425 was measured against both live engines in r10:
    Spark 947.708943 (shortest-repr tie, HALF_UP), DuckDB 947.708942."""
    bad = rounding_agreement_failures([0.1937825, 947.7089425, 1.5, 123.45])
    assert 947.7089425 in bad
    # clearly-interior values never flag
    assert 1.5 not in bad and 123.45 not in bad


def test_spark_model_matches_live_session(spark):
    """Pins the detector's Spark-side model (shortest repr, HALF_UP)
    against a real session, on ties above and below the binary value."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    vals = [0.1937825, 947.7089425, 2.0000005, 2.9999995, -0.1937825]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["d"]
        for r in df.select("x", F.col("x").cast("decimal(30,6)").alias("d"))
        .orderBy("x")
        .collect()
    ]
    q = Decimal("0.000001")
    want = [Decimal(repr(v)).quantize(q, ROUND_HALF_UP) for v in sorted(vals)]
    assert got == want


def test_detector_passes_safe_values():
    # scale-2 decimals and 3-factor products thereof: exact at scale 6
    vals = [1.50, 123.45, 123.45 * 0.95, 123.45 * 0.95 * 1.08, 0.0, -7.25]
    assert rounding_agreement_failures(vals) == []


@settings(max_examples=200, deadline=None)
@given(
    units=st.integers(min_value=-(4 * 10**9), max_value=4 * 10**9),
    frac_digits=st.integers(min_value=0, max_value=6),
)
def test_safe_region_never_diverges(units, frac_digits):
    """The compat docstring's load-bearing claim, as a property: a
    double whose exact decimal expansion terminates within 6 fractional
    digits (every price-like fixture column and every ≤3-factor product
    of scale-2 decimals) casts to decimal(30,6) identically in both
    engines — the cast never needs to round, so the divergence class is
    unreachable.  Pins the 'corpus sits in the agreeing region by
    construction' argument.

    The domain is bounded at |v| ≤ 4e9 (r11, half the true edge):
    above |v| ≈ 2^53·10^-6 ≈ 9.0e9 DuckDB's double→decimal cast — a
    double multiply by 10^6 — rounds, so even exact integers diverge
    from Spark's shortest-repr path (probed: divergences appear from
    the 1e10 decade up, zero in 4000 samples below).  The guard now
    ROUTES those magnitudes to empirical arbitration rather than
    silently passing them; the corpus never leaves the bounded
    region (price-scale values, ≤3-factor products)."""
    v = units / (10.0**frac_digits)
    assert rounding_agreement_failures([v]) == []


def test_detector_large_magnitude_routes_to_arbitration():
    """r10 ADVICE: the vectorized prefilter's tolerance (1e-3 on
    v·2e6) is coarser than the float grid above |v| ≈ 4.4e6, and its
    int64 cast overflowed beyond |v| ≈ 4.6e12.  Large magnitudes must
    now bypass the prefilter and be arbitrated empirically.  Each
    planted value below was verified divergent against live DuckDB."""
    bad = rounding_agreement_failures(
        [
            4400000.0000005,  # half-point just past the prefilter-reliable edge
            1137692863589.0,  # exact INTEGER: DuckDB's ·1e6 product rounds
            12887219074599.0,  # old int64-scaled path was near overflow UB
            5.0e9,  # exact integer inside DuckDB's exact-product range
            4400000.25,  # large but clearly interior
        ]
    )
    assert 4400000.0000005 in bad
    assert 1137692863589.0 in bad
    assert 12887219074599.0 in bad
    assert 5.0e9 not in bad
    assert 4400000.25 not in bad


def test_detector_wide_decimal_window_arbitrates():
    """r11 review: |v| in [10^(28-s), 10^(30-s)) fits decimal(30,s)
    but its quantized form has int-digits + scale > 28, so the
    default decimal context raised InvalidOperation instead of
    arbitrating — a crash window two decades wide directly below the
    overflow cut (nothing probed between ~1.3e13 and 3e24).  The
    widened localcontext must arbitrate the whole window, and every
    value in it is a TRUE divergence (probed r11: Spark's
    shortest-repr model reads e.g. 1e23 as exactly 1E+23, while
    DuckDB's double·10^s product needs ~10^29 exact — beyond any
    double — so it always rounds at these magnitudes)."""
    bad = rounding_agreement_failures([1.0e23, 3.7e22, 1.0e22, 2.5])
    assert 1.0e23 in bad and 3.7e22 in bad and 1.0e22 in bad
    assert 2.5 not in bad


def test_detector_decimal_overflow_is_a_failure():
    """|v| ≥ 10^24 cannot fit decimal(30,6): Spark's non-ANSI cast
    yields NULL where DuckDB raises — a cross-engine divergence by
    construction, reported without (crashing) arbitration."""
    bad = rounding_agreement_failures([1.0e25, 2.5, -3.0e24])
    assert 1.0e25 in bad and -3.0e24 in bad and 2.5 not in bad
    # overflow values must survive the arbitration path too (not just
    # the no-candidates early return): pair one with a live candidate
    bad = rounding_agreement_failures([1.0e25, 947.7089425])
    assert 1.0e25 in bad and 947.7089425 in bad


def test_detector_overflow_cut_edge_never_crashes():
    """r11 ADVICE (low): the largest double strictly below the overflow
    cut stays a candidate, but DuckDB's cast scales by 10^s in DOUBLE —
    under adverse binade alignment the product can round up across
    10^30 and a plain CAST raised, crashing the guard on the value it
    should report.  TRY_CAST + NULL-as-divergence closes it.  No scale
    exhibits the adverse alignment in this DuckDB build, so the edge
    values arbitrate as ordinary (true) divergences; the invariant
    under test is NO exception at the cut for every scale, whichever
    way the engine's edge rounding goes."""
    import math

    for s in range(0, 29):
        v = math.nextafter(10.0 ** (30 - s), 0)
        bad = rounding_agreement_failures([v, 2.5], scale=s)
        # 2.5 is clean only at moderate scales: exactly representable
        # and a half-point only at s=0 (where DuckDB's tie direction is
        # legitimately arbitrable), while at s ≳ 13 the 2.5·10^s DOUBLE
        # product itself inexactly rounds — a TRUE divergence the guard
        # should keep reporting, not a crash-regression signal.
        if 1 <= s <= 12:
            assert 2.5 not in bad, f"scale {s} flagged an exact value"
        assert all(math.isfinite(x) for x in bad)


@pytest.mark.parametrize(
    "sf_dir,table",
    [
        (d, os.path.basename(p).removesuffix(".parquet"))
        for d in SF_DIRS
        for p in sorted(glob.glob(os.path.join(d, "*.parquet")))
    ],
)
def test_fixture_double_columns_round_identically(sf_dir, table):
    con = duckdb.connect()
    path = os.path.join(sf_dir, f"{table}.parquet")
    cols = [
        r[0]
        for r in con.execute(
            "SELECT column_name FROM (DESCRIBE SELECT * FROM read_parquet(?)) "
            "WHERE column_type IN ('DOUBLE', 'FLOAT')",
            [path],
        ).fetchall()
    ]
    for col in cols:
        vals = [
            r[0]
            for r in con.execute(
                f'SELECT DISTINCT "{col}" FROM read_parquet(?) '
                f'WHERE "{col}" IS NOT NULL',
                [path],
            ).fetchall()
        ]
        bad = rounding_agreement_failures(vals)
        assert not bad, (
            f"{table}.{col}: {len(bad)} double(s) round differently in "
            f"Spark vs DuckDB at scale 6, e.g. {bad[:3]} — the dec()/dsum "
            f"cross-engine guarantee no longer covers this fixture"
        )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_attribution_shares_round_identically(sf_dir):
    """q_attribution_linear's ``share = value / touches`` is the one
    UNROUNDED division that feeds a decimal cast (dsum): a 2-decimal
    price divided by a small count can terminate exactly on a scale-6
    half-point (e.g. 1.13/32 = 0.0353125), which is the diverging
    class.  Mirrors the registered oracle's pairs/share CTE verbatim
    so the guard sees the very values the recording hashes."""
    con = duckdb.connect()
    path = os.path.join(sf_dir, "events.parquet")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')"
    )
    rows = con.execute(
        """
        WITH purchases AS (
          SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
        touches AS (
          SELECT user_id, ts, event_type FROM events
          WHERE event_type IN ('click', 'view', 'signup')),
        pairs AS (
          SELECT p.event_id, p.value, t.event_type AS channel
          FROM purchases p
          LEFT JOIN touches t
            ON t.user_id = p.user_id
           AND t.ts <= p.ts
           AND t.ts >= p.ts - INTERVAL 7 DAY)
        SELECT DISTINCT value / COUNT(*) OVER (PARTITION BY event_id)
        FROM pairs
        """
    ).fetchall()
    vals = [r[0] for r in rows if r[0] is not None]
    bad = rounding_agreement_failures(vals)
    assert not bad, (
        f"{len(bad)} attribution share(s) in the diverging class, "
        f"e.g. {bad[:3]} — dsum('share') would hash-mismatch vs DuckDB"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_derived_price_expressions_round_identically(sf_dir):
    """The expressions the TPC-H family feeds to dsum: products of the
    scale-2 price/discount/tax columns (exact at scale ≤ 6 — the reason
    the corpus sits in the agreeing region by construction)."""
    con = duckdb.connect()
    path = os.path.join(sf_dir, "lineitem.parquet")
    rows = con.execute(
        "SELECT DISTINCT l_extendedprice * (1 - l_discount), "
        "l_extendedprice * (1 - l_discount) * (1 + l_tax) "
        "FROM read_parquet(?)",
        [path],
    ).fetchall()
    vals = [v for row in rows for v in row if v is not None]
    bad = rounding_agreement_failures(vals)
    assert not bad, f"derived price expressions in the risk region: {bad[:3]}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_fixed_point_money_agreement(spark, sf_dir):
    """CONTRACT GATE for ``compat.dsum_fp``/``davg_fp``/``fp6`` (r13):
    for every money column and derived expression routed through
    ``dsum_fp``/``davg_fp`` (``grep -rn 'd[a-z]*_fp'`` lists the sites),
    the shipped ``compat.fp6`` rounding ``sign(x)·floor(|x|·1e6 + 0.5)``
    must equal the unscaled value of Spark's shortest-repr
    double→decimal(30,6) cast on EVERY value in the fixtures — swept
    over EVERY fixture SF dir (r14 ADVICE), so a driver-regenerated
    fixture at any scale trips the gate.  A single divergent value here
    means the fixed-point sums would no longer be bit-identical to
    dsum/davg — move the affected call sites back to the decimal path
    before shipping."""
    from pyspark.sql import functions as F

    from etl_template_spark.compat import fp6
    from etl_template_spark.io import load_table

    def exact(c):
        return (c.cast("decimal(30,6)") * 1000000).cast("long")

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    lp = li.join(p, li.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cases = [
        (li, [F.col(c) for c in
              ("l_quantity", "l_extendedprice", "l_discount", "l_tax")]
         + [rev, rev * (1 + F.col("l_tax")),
            F.col("l_extendedprice") * F.col("l_discount"),      # Q6
            F.col("l_extendedprice") * F.col("l_quantity")]),    # Q11
        (lp, [rev - F.col("p_retailprice") * 0.1 * F.col("l_quantity")]),  # Q9
        (load_table(spark, sf_dir, "orders"), [F.col("o_totalprice")]),
        (load_table(spark, sf_dir, "customer"), [F.col("c_acctbal")]),
        (load_table(spark, sf_dir, "events"), [F.col("value")]),
    ]
    for df, exprs in cases:
        for i, e in enumerate(exprs):
            x = e.cast("double")
            bad = (
                df.select(x.alias("__x"))
                .where(F.col("__x").isNotNull())
                .where(fp6("__x").cast("long") != exact(F.col("__x")))
                .limit(3)
                .collect()
            )
            assert not bad, (
                f"fixed-point divergence on expr #{i} of {df.columns[:3]}: "
                f"{[r['__x'] for r in bad]}"
            )
