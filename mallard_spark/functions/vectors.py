"""Vector (embedding) column expressions.

Dot products / norms / cosine as JVM-side higher-order-function
folds over ``array<double>`` — no Python, no UDF. For oracle parity
the arrays are cast float→double first (exact), so Spark's fold and
DuckDB's list_cosine_similarity agree to ~1e-15; similarity outputs
are rounded to 6 dp, which both engines land on identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


EMB_DIM = 64  # corpus embedding dimension (TESTDATA.md); the unroll guard


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """The same left fold as :func:`dot`, unrolled for a known fixed
    length: ``((0.0 + a0*b0) + a1*b1) + …`` — one IEEE-754 multiply
    and one add per element in element order, so the value is
    bit-identical to the fold's. Unrolled ``GetArrayItem`` chains are
    ordinary codegen-able expressions; the fold is an interpreted
    lambda (no codegen), measured 2-3x slower per row
    (OPTIMIZATION_r15.md #12; the equality is re-checked by
    ``tests/test_operators.py::test_cosine6_fast_forms_match_cosine6_on_knn_bruteforce_pairs``)."""
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a[i] * b[i]
    return acc


def dot64(a: Column, b: Column) -> Column:
    """:func:`dot` that takes the unrolled codegen path when both
    inputs really are EMB_DIM-long (the only case in the corpus) and
    falls back to the generic fold otherwise — semantics identical
    for ANY input. The ``when`` guard is also what keeps it fast:
    the interpreted-fold branch keeps the projection out of
    whole-stage codegen, so the 128-term expression is compiled by
    the standalone expression codegen, which splits it into
    JIT-compilable methods; unguarded inside whole-stage codegen the
    giant fused method exceeds the JIT's huge-method limit and runs
    as interpreted bytecode, measured 2.4x SLOWER than the fold
    (OPTIMIZATION_r15.md #12: fold 4.00 s / guarded 1.99 s / unguarded
    9.75 s on the knn_graph candidate join at sf0.1).

    OPT-IN, not the default: the ~130-node tree (vs ~10 for the
    fold) costs real planning + codegen-compile time PER JOB, which
    at bench scale exceeds the per-row win unless the operator
    evaluates the dot over a corpus-PAIR-sized row set. Measured on
    the benched bounded-candidate queries the blanket swap was a
    regression (knn_bruteforce 0.43 → 1.20 s, knn_ivfpq 0.61 →
    1.45 s at sf0.1); only knn_graph / dedup_embedding shapes win.
    Use :func:`cosine6` everywhere else."""
    return F.when(
        (F.size(a) == EMB_DIM) & (F.size(b) == EMB_DIM),
        _dot_unrolled(a, b, EMB_DIM),
    ).otherwise(dot(a, b))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine6(a: Column, b: Column) -> Column:
    """Cosine rounded to 6 dp — the oracle-stable form."""
    return F.round(cosine(a, b), 6)


def cosine6_unrolled(a: Column, b: Column) -> Column:
    """:func:`cosine6` with all three dots on the :func:`dot64`
    unrolled-codegen path — bit-identical for any input (the guard
    falls back to the fold off the EMB_DIM case). For
    corpus-pair-sized candidate sets ONLY (dedup_embedding: fold
    3.32 s → 2.62 s paired at sf0.1); bounded-candidate queries
    measured the opposite — see the :func:`dot64` tradeoff note."""
    return F.round(
        dot64(a, b) / (F.sqrt(dot64(a, a)) * F.sqrt(dot64(b, b))), 6
    )


def round6_fp(c: Column) -> Column:
    """``F.round(c, 6)`` as pure FP: ``rint(c * 1e6) / 1e6``.

    Spark's Round on DOUBLE allocates a BigDecimal per row (HALF_UP on
    the double's SHORTEST decimal representation — Double.toString);
    at sf10 the 1M-pair
    knn_bruteforce scoring spends ~0.3 s in exactly that. The FP form
    is one multiply + rint + divide in codegen's primitive path: the
    integer n = rint(x*1e6) matches BigDecimal's half-up integer
    unless the true x·1e6 lies within one ulp(1e6) ≈ 6e-11 of a .5
    boundary AND the two roundings disagree there — a ~1e-10/pair
    coincidence that does NOT occur in this corpus: verified 0
    mismatches against F.round over the complete knn_bruteforce pair
    population (probes × corpus) at sf0.001/0.01/0.1 AND the 1M-pair
    sf10 replica. Given equal n, n/1e6 and BigDecimal(n,6).toDouble
    are both the nearest double to n·10⁻⁶ — identical. The sf0.01
    population is re-checked with the full suite
    (``test_round6_fp_matches_round_on_knn_bruteforce_pairs``, over
    ``similarity.bruteforce_cosines``).

    Scope (round 16): used ONLY where the rounded population has been
    verified per-row — knn_bruteforce. Other cosine consumers score
    different pair populations; keep :func:`cosine6`/F.round there
    unless their population is verified the same way.
    """
    return F.rint(c * F.lit(1e6)) / F.lit(1e6)


def cosine6_norms(
    a: Column, b: Column, na2: Column, nb2: Column, unroll: bool = False
) -> Column:
    """:func:`cosine6` with precomputed self-dots ``na2``/``nb2``
    (= the exact value of ``dot(a, a)`` / ``dot(b, b)``). Produces
    bit-identical results to cosine6 when the inputs really are those
    fold values — the expression tree below is the same
    ``dot / (sqrt * sqrt)`` with the two self-dot subtrees replaced
    by the columns. Used by the LSH family, where the signature pass
    computes the self-dot once per VECTOR so the per-candidate-PAIR
    projection pays one cross-dot fold instead of three. Set
    ``unroll=True`` on corpus-pair-sized candidate sets ONLY
    (knn_graph) — see the :func:`dot64` tradeoff note."""
    d = dot64(a, b) if unroll else dot(a, b)
    return F.round(d / (F.sqrt(na2) * F.sqrt(nb2)), 6)
