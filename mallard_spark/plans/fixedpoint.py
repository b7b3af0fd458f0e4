"""Exact int64 fixed-point aggregation for money-decimal sums.

Why this exists (round 11): Spark plans ``SUM(DECIMAL(p, s))`` with
``p > 8`` outside its long fast path — every row updates an
overflow-tracked ``(sum, isEmpty)`` decimal pair. Measured at sf10
(60M-row lineitem, 32 cores, warm page cache): TPC-H Q1 spends
~4 s of its 5.6 s in exactly that per-row decimal machinery —
scan+filter+count of the same relation is 0.65 s, double sums 1.4 s.
DuckDB's vectorized decimal sums don't pay this, which made the
"scan floor" gap on the decimal-heavy headline queries (q1, q3, q5,
q9, q18) mostly a *decimal-sum* gap.

The same exact values are computable in int64:

- the per-row ``CAST(x AS DECIMAL(p,2))`` stays (HALF_UP rounding,
  byte-identical to the previous formulation by construction), and
  multiplying that decimal by ``10^s`` is exact, so
  ``(CAST(x AS DECIMAL(12,2)) * 100).cast("long")`` is the exact
  unscaled value;
- decimal multiplication is exact, so products of unscaled longs are
  the exact unscaled products (``rev_u = price_u * (100 - disc_u)``
  IS ``unscaled(rev, scale=4)``);
- sums of longs are exact while they fit; the final value
  reconstructs as ``sum_u / 10^s`` in DECIMAL(38) (division by a
  power-of-ten literal resolves at scale >= 6, so a scale-<=6 value
  is exact) and casts to double — the same decimal value, hence the
  same double, as ``CAST(SUM(decimal) AS DOUBLE)``.

Overflow safety at 100 TB — the part that makes this scale-correct
rather than a benchmark trick:

- **Bounded groups** (``fx_double`` over a plain ``groupBy``): use
  only when the per-group row count is bounded by the SCHEMA, not the
  dataset (lineitems per order <= 7 in TPC-H-shaped data): 7 rows x
  max |charge_u| ~ 4e11 = 3e12, five orders of magnitude under
  int64. The bound holds at any corpus size because the group key is
  per-entity.
- **Unbounded groups** (``fx_two_phase``): phase 1 sums longs per
  ``(keys, partition-id, 8-way row sub-bucket)`` — each phase-1
  group's row count is bounded by the PARTITION size
  (``maxPartitionBytes`` / row width, ~7M rows at 128 MB), never by
  the dataset: 7M/8 rows x 4e11 = 3.5e17, 26x under int64 at any
  total scale. Phase 2 reduces the tiny partial relation (|keys| x
  partitions x 8 rows) with DECIMAL(38) sums, where the slow path
  costs nothing. The extra exchange carries partial rows only.

Both phases stay inside whole-stage codegen (long arithmetic), keep
parquet filter pushdown (the unscale projection sits above the scan),
and are deterministic under any partitioning: every row contributes
its exact unscaled value exactly once, and integer addition is
associative-commutative — unlike a double sum, the result does not
depend on the partition layout.

Verified bit-identical to the previous ``SUM(DECIMAL)`` formulation
over the full 60M-row sf10 replica (all groups, all 6 aggregates)
and against the DuckDB oracles at sf0.001/0.01/0.1
(tests/test_queries_oracle.py — the oracles still run the plain
decimal SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: unscaled-long forms of the relational module's money casts
#: (DECIMAL(12,2) money columns, DECIMAL(4,2) rate columns)


def ulong(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    """Exact unscaled int64 of a scale-decimal money double — the
    value ``CAST(col AS DECIMAL(prec, scale))`` holds, times
    ``10^scale`` — computed in pure FP.

    Round 16 (guide §1.2 per-task work): the decimal-cast chain
    allocates a JVM ``Decimal`` per row per column (the double →
    decimal cast stringifies through BigDecimal), which at sf10 was
    ~half of q1's runtime. ``rint(x * 10^scale)`` is one fused FP
    multiply + round-to-nearest-integral — no allocation, stays in
    whole-stage codegen's primitive path. Measured paired at sf10:
    q1 aggregate 2.43 → 1.16 s (2.1×).

    The FP form is HALF_UP, like the decimal cast:
    ``sign(x) · floor(|x·10^s| + 0.5)`` rounds half away from zero on
    the computed product (plain ``rint`` would be HALF_EVEN and
    diverge on .5-boundary doubles like 0.125 — the
    tests/test_fixedpoint.py contract cases).

    Exactness:

    - On the scale-decimal grid (the schema property of every money
      column here — each stored double is the nearest double to a
      value c/10^s with |c| < 10^prec): the one-rounding product
      fl(d·10^s) lies within |c|·2⁻⁵¹ + ½ulp of the integer c — far
      inside (c−0.5, c+0.5) for |c| < 10¹² — so the half-up round
      recovers exactly c, the same integer the decimal cast yields.
      Verified per-row equal to the decimal-cast form (null-safe) over
      every money column at sf0.001/0.01/0.1 and the 60M-row sf10
      replica: 0 mismatches (OPTIMIZATION_r16.md). The sf0.01 columns
      are re-checked with the suite
      (``tests/test_fixedpoint.py::test_ulong_matches_decimal_cast_on_every_money_column``).
    - OFF-grid doubles are OUTSIDE this function's contract: Spark's
      double→decimal cast rounds the SHORTEST decimal representation
      of the double (BigDecimal.valueOf / Double.toString — 1.005
      casts to 1.01 even though the stored double is 1.00499…), which
      no pure-FP product can reproduce. Use the decimal cast for
      arbitrary doubles; every engine call site feeds schema money
      columns, which are grid by construction (and verified above).
    """
    c = col if isinstance(col, Column) else F.col(col)
    u = c * (10 ** scale)
    return (F.signum(u) * F.floor(F.abs(u) + F.lit(0.5))).cast("long")


def urev() -> Column:
    """Unscaled revenue ``l_extendedprice * (1 - l_discount)`` at
    scale 4: exact integer form of the exact decimal product
    (price_u at scale 2 times (100 - disc_u) at scale 2)."""
    return ulong("l_extendedprice") * (100 - ulong("l_discount", 4, 2))


def fx_double(col: str | Column, scale: int) -> Column:
    """A summed unscaled long (or DECIMAL(38,0)) back to the value as
    DOUBLE: widen to DECIMAL(38,0), divide by the power-of-ten
    literal (exact — Spark resolves the quotient at scale >= 6), cast
    to double. Produces the same double as
    ``CAST(SUM(decimal) AS DOUBLE)`` on the same data."""
    c = col if isinstance(col, Column) else F.col(col)
    return (c.cast("decimal(38,0)") / (10 ** scale)).cast("double")


def fx_two_phase(
    df: DataFrame,
    keys: list[str | Column],
    sums: dict[str, tuple[Column, int]],
    count_name: str | None = None,
) -> DataFrame:
    """Low-cardinality exact money aggregation in two phases.

    ``sums`` maps output column name -> (unscaled long expression,
    scale). Returns ``df.groupBy(*keys)`` with each sum reconstructed
    as DOUBLE under its name, plus ``count_name`` (COUNT(*)) if
    requested. Phase-1 groups carry ``(keys, spark_partition_id,
    monotonically_increasing_id % 8)`` so each long sum is bounded by
    partition size (see module docstring); phase 2 reduces the
    partials in DECIMAL(38,0) — exact at any dataset size.
    """
    p1 = [
        F.sum(expr).alias(f"__fx_{name}")
        for name, (expr, _s) in sums.items()
    ]
    if count_name is not None:
        p1.append(F.count("*").alias("__fx_cnt"))
    partial = df.groupBy(
        *keys,
        F.spark_partition_id().alias("__fx_pid"),
        (F.monotonically_increasing_id() % 8).alias("__fx_sub"),
    ).agg(*p1)
    p2 = [
        fx_double(
            F.sum(F.col(f"__fx_{name}").cast("decimal(38,0)")), s
        ).alias(name)
        for name, (_e, s) in sums.items()
    ]
    if count_name is not None:
        p2.append(F.sum("__fx_cnt").alias(count_name))
    key_names = [
        k if isinstance(k, str) else partial.columns[i]
        for i, k in enumerate(keys)
    ]
    return partial.groupBy(*key_names).agg(*p2)
