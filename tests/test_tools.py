"""Smoke test of the measurement tooling (``bench.py``, ``tools/ab.py``),
which nothing else runs: the query lists bench.py times are the
benchmark's own, and the shared timer and interleave run end to end."""


def test_bench_times_the_benchmark_query_lists():
    import bench
    from perfbench import batch

    assert bench.HEADLINE is batch.HEADLINE
    assert bench.STREAMING is batch.STREAMING
    assert bench.ITERATIVE is batch.ITERATIVE


def test_ab_timer_and_interleave_on_a_registry_query(spark, sf_dir):
    from mallard_spark.registry import load_all
    from tools import ab

    fn = load_all()["q1_pricing_summary"].fn
    assert ab.time_query(spark, fn, sf_dir, 1) > 0

    entered = []
    best = ab.interleave(
        {"a": lambda n: ab.noop(fn(spark, sf_dir)), "b": lambda n: fn(spark, sf_dir).count()},
        ["q1_pricing_summary"],
        1,
        entered.append,
    )
    assert entered == ["a", "b"] * 2  # the warmup pass, then one round
    assert set(best) == {"a", "b"}
    assert all(t["q1_pricing_summary"] > 0 for t in best.values())


def test_every_python_file_compiles_with_warnings_as_errors():
    """A deprecated source form, such as the invalid escape ``'\\d'`` in
    a plain string, is a warning on every import today and a syntax
    error in a later Python."""
    import warnings
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    files = [*root.glob("*.py")] + [
        p for d in ("mallard_spark", "perfbench", "tests", "tools")
        for p in (root / d).rglob("*.py")
    ]
    assert len(files) > 70
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for path in files:
            compile(path.read_text(), str(path), "exec")
