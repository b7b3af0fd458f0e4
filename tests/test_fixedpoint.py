"""Exact int64 fixed-point aggregation (plans/fixedpoint.py, round 11).

The rewritten headline queries (q1, q3, q3_bucketed, q5, q9, q18,
q18_bucketed) already prove DuckDB value parity through the oracle
suite; these tests pin the properties the oracle can't see:
bit-identity with the previous SUM(DECIMAL) formulation on data whose
double*100 products are non-integral FP (sf0.01 has ~18k such
lineitem rows — still 2-dp grid VALUES, but the product needs a
round), the per-row rounding/NULL/negative semantics of the building
blocks, and the plan shape (long partial sums, pruning intact).

Round 16: ``ulong`` is the pure-FP fast form contracted to
scale-decimal-grid inputs (every schema money column);
``ulong_decimal`` below is the general HALF_UP reference it is checked
against. Both contracts are pinned here.
"""

import os

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from mallard_spark.plans.fixedpoint import (
    fx_double,
    fx_two_phase,
    ulong,
    urev,
)

SF001 = "/root/testdata/sf0.01"

D = "decimal(12,2)"
P = "decimal(4,2)"

# every money column of the schema: (table, column, precision, scale)
MONEY_COLS = [
    ("lineitem", "l_quantity", 12, 2),
    ("lineitem", "l_extendedprice", 12, 2),
    ("lineitem", "l_discount", 4, 2),
    ("lineitem", "l_tax", 4, 2),
    ("orders", "o_totalprice", 12, 2),
    ("events", "value", 12, 2),
]


def ulong_decimal(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    """Exact unscaled int64 of ``CAST(col AS DECIMAL(prec, scale))``
    via the decimal cast itself — the semantic spec of ``ulong`` (and
    the form the DuckDB oracles still run).

    The decimal cast is the same cast (same HALF_UP rounding) the
    plain decimal-sum formulation applies per row; the ``* 10^scale``
    is exact decimal arithmetic; the final cast to long is exact
    because the value is integral and |unscaled| < 10^prec.
    """
    c = col if isinstance(col, Column) else F.col(col)
    return (c.cast(f"decimal({prec},{scale})") * (10 ** scale)).cast(
        "long"
    )


def test_ulong_decimal_matches_decimal_cast_rounding(spark):
    """ulong_decimal (the general reference form) must reproduce the
    decimal cast's HALF_UP rounding exactly — including 3-dp values on
    the .005 boundary and negatives, where a float-side round()
    diverges (Spark's cast rounds the double's SHORTEST decimal
    representation: 1.005 → 1.01)."""
    vals = [0.125, 0.135, -0.125, 1.005, 2.675, -2.675, 0.0, 12.34,
            99999999.99, -99999999.99]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = df.select(
        (F.col("x").cast(D) * 100).alias("dec_u"),
        ulong_decimal("x").alias("u"),
    ).collect()
    for r in rows:
        assert int(r.dec_u) == r.u


def test_ulong_fp_matches_decimal_on_money_grid(spark):
    """ulong (round 16: the pure-FP fast form, contract = scale-decimal
    grid inputs, i.e. every schema money column) must equal
    ulong_decimal on grid values — including negatives, zero, values
    whose double*100 product is non-integral FP (0.07, 1.1), and the
    10^prec boundary. Its divergence OFF the grid (e.g. 1.005, where
    the decimal cast's shortest-repr rounding gives 101 but the
    product rounding gives 100) is documented contract, pinned here so
    a silent semantic drift in either form fails loudly."""
    grid = [0.0, 0.01, -0.01, 0.07, 1.1, 12.34, 0.5, -0.5, 123.45,
            -123.45, 99999999.99, -99999999.99, 1e9 + 0.13]
    df = spark.createDataFrame([(v,) for v in grid], "x double")
    rows = df.select(
        ulong_decimal("x").alias("ref"), ulong("x").alias("fast")
    ).collect()
    for r in rows:
        assert r.ref == r.fast, r
    off = spark.createDataFrame([(1.005,)], "x double").select(
        ulong_decimal("x").alias("ref"), ulong("x").alias("fast")
    ).collect()[0]
    assert (off.ref, off.fast) == (101, 100)


@pytest.mark.skipif(not os.path.exists(SF001), reason="sf0.01 testdata missing")
def test_ulong_matches_decimal_cast_on_every_money_column(spark):
    """``ulong``'s exactness rests on every stored money double lying
    on the scale-decimal grid, a property of the data, not of the
    code: every row of every money column at sf0.01 must convert to
    the same integer both ways (null-safe)."""
    for table, col, prec, scale in MONEY_COLS:
        df = spark.read.parquet(os.path.join(SF001, f"{table}.parquet"))
        got = df.agg(
            F.count("*").alias("rows"),
            F.sum((~ulong(col, prec, scale).eqNullSafe(
                ulong_decimal(col, prec, scale))).cast("int")).alias("bad"),
        ).collect()[0]
        assert got.rows > 0, f"{table} is empty"
        assert got.bad == 0, f"{table}.{col}: {got.bad} of {got.rows} rows differ"


def test_ulong_null_passthrough(spark):
    df = spark.createDataFrame([(None,), (1.5,)], "x double")
    rows = df.select(ulong("x").alias("u")).collect()
    assert sorted([r.u for r in rows], key=lambda v: (v is None, v)) == [
        150, None,
    ]


def test_fx_double_reconstruction_exact(spark):
    """sum_u / 10^s through DECIMAL(38) must equal the decimal-sum
    double for every scale used by the rewritten queries."""
    df = spark.createDataFrame(
        [(1.01,), (2.02,), (-0.5,), (12345678.99,)], "x double"
    )
    got = df.agg(
        fx_double(F.sum(ulong("x")), 2).alias("fx"),
        F.sum(F.col("x").cast(D)).cast("double").alias("dec"),
    ).collect()[0]
    assert got.fx == got.dec


@pytest.mark.skipif(
    not os.path.exists(SF001), reason="driver testdata missing"
)
def test_q1_bit_identical_to_decimal_formulation(spark):
    """The fixed-point q1 must be bit-identical to the plain
    SUM(DECIMAL) formulation over sf0.01 — the SF with non-integral
    double*100 products (the driver's correctness scale)."""
    from mallard_spark.registry import load_all

    li = spark.read.parquet(os.path.join(SF001, "lineitem.parquet"))
    flt = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast(D) * (
        F.lit(1).cast(P) - F.col("l_discount").cast(P)
    )
    ref = {
        tuple(r[:2]): tuple(r[2:])
        for r in flt.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(D)).cast("double").alias("sum_qty"),
            F.sum(rev).cast("double").alias("sum_disc_price"),
            F.sum(
                rev * (F.lit(1).cast(P) + F.col("l_tax").cast(P))
            ).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .collect()
    }
    fx = {
        tuple(r[:2]): tuple(r[2:])
        for r in load_all()["q1_pricing_summary"]
        .fn(spark, SF001)
        .select(
            "l_returnflag", "l_linestatus", "sum_qty",
            "sum_disc_price", "sum_charge", "count_order",
        )
        .collect()
    }
    assert ref == fx


def test_fx_two_phase_matches_single_phase(spark):
    """Two-phase partials must reduce to the same values as a direct
    decimal sum, for any grouping — including groups whose rows span
    partitions."""
    # grid values (ulong's round-16 contract); the off-grid rounding
    # contract is pinned by test_ulong_fp_matches_decimal_on_money_grid
    data = [(i % 3, float(i) + 0.01 * (i % 7) + 0.07 * (i % 2)) for i in range(1000)]
    df = spark.createDataFrame(data, "k int, x double").repartition(7)
    got = {
        r.k: (r.s, r.n)
        for r in fx_two_phase(
            df, ["k"], {"s": (ulong("x"), 2)}, count_name="n"
        ).collect()
    }
    want = {
        r.k: (r.s, r.n)
        for r in df.groupBy("k")
        .agg(
            F.sum(F.col("x").cast(D)).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert got == want


def test_q1_plan_long_partials_and_pruning(spark, sf_dir):
    """The q1 partial aggregate must sum LONGS (the fixed-point
    phase-1 groups carry __fx_pid), keep parquet pushdown, and still
    prune untouched columns."""
    from mallard_spark.registry import load_all

    df = load_all()["q1_pricing_summary"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__fx" in plan  # fixed-point partials present
    assert "PushedFilters: [" in plan
    read_schema = plan.split("ReadSchema")[1][:500]
    assert "l_orderkey" not in read_schema


def test_urev_is_exact_unscaled_revenue(spark):
    df = spark.createDataFrame(
        [(100.0, 0.05), (99.99, 0.1), (0.01, 0.0)],
        "l_extendedprice double, l_discount double",
    )
    rev = F.col("l_extendedprice").cast(D) * (
        F.lit(1).cast(P) - F.col("l_discount").cast(P)
    )
    rows = df.select(
        (rev * 10000).cast("long").alias("dec_u"),
        urev().alias("u"),
    ).collect()
    for r in rows:
        assert r.dec_u == r.u


def test_ev_hourly_agg_overflow_guard_raises_by_name(spark, tmp_path):
    """Round 12 (ADVICE r11 #5): a (hour, type, user) group at the
    int64-wrap row count must raise the NAMED error pointing at the
    fx_two_phase re-keying — never silently wrap. 9.1M max-magnitude
    rows in one user-hour crosses the 9e6 guard threshold."""
    import os

    from pyspark.sql import functions as F

    (
        spark.range(9_100_000)
        .select(
            F.lit("2024-01-01 05:00:00").cast("timestamp").alias("ts"),
            F.lit("click").alias("event_type"),
            F.lit(1).cast("long").alias("user_id"),
            F.lit(9999999999.99).alias("value"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(str(tmp_path), "events.parquet"))
    )
    from mallard_spark.plans.events import ev_hourly_agg

    with pytest.raises(Exception, match="fx_two_phase"):
        ev_hourly_agg(spark, str(tmp_path)).collect()
