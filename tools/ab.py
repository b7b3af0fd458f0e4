#!/usr/bin/env python
"""Paired timings outside the standing benchmark (``perfbench/``).

This module holds the one copy of each measurement mechanism that
``bench.py`` and ad-hoc A/B questions share:

- :func:`time_query`: the best-of-N noop-sink query timer;
- :func:`probe`: the q1@sf0.1 best-of-3 calm probe. This VM has slow
  phases where identical plans run 2-10x slower, so every artifact
  records the probe beside its numbers;
- :func:`interleave`: ABAB interleaving of arms in one session, the
  only comparison that survives those phases;
- :func:`build_scaled`: the salted xN replica of sf0.1.

The CLI runs two arms over registry queries (default: the benched
headline set), interleaved, each query's best time per arm, and prints
one JSON line per factor:

    # Spark (noop sink) against DuckDB 1.0 running each query's oracle SQL
    python tools/ab.py --factor 10 [--queries q1_pricing_summary,knn_ivfpq]
    # two values of one Spark conf
    python tools/ab.py --conf spark.sql.files.maxPartitionBytes=33554432,134217728
    # a factor sweep
    python tools/ab.py --factor 1,10,100 --queries knn_graph

``--factor 1`` is sf0.1 itself; larger factors build (once) a replica
under ``--workdir``. ``--scan-cache`` is the serving-model protocol:
Spark pins its decoded scans and DuckDB loads native tables instead of
parquet views; in ``--conf`` runs each arm re-decodes and re-pins the
scans under its own value. Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections.abc import Callable, Iterable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
KEY_OFFSET = 100_000_000  # per-replica key shift, beyond any sf key
CALM_SEC = 1.5  # the probe's calm/degraded threshold


def spark_session(app_name: str):
    from mallard_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32))
    return get_spark(app_name=app_name, master=f"local[{cpus}]",
                     shuffle_partitions=int(cpus))


def best_of(run: Callable[[], object], n: int) -> float:
    """The best wall time of ``n`` calls of ``run``, in seconds."""
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def noop(df) -> None:
    """Run ``df`` to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, fn, sf_dir: str, n: int) -> float:
    """Best of ``n`` runs of a registry query builder ``fn`` through the
    noop sink. Each run rebuilds the DataFrame: builders with an eager
    barrier do real work, so building stays inside the clock."""
    return best_of(lambda: noop(fn(spark, sf_dir)), n)


def probe(spark) -> dict:
    """The phase control: q1 at sf0.1, best of 3 (about 0.7 s calm)."""
    from mallard_spark.registry import load_all

    sec = time_query(spark, load_all()["q1_pricing_summary"].fn, SRC, 3)
    return {
        "control": "q1_pricing_summary@sf0.1 best-of-3",
        "sec": sec,
        "calm_threshold_sec": CALM_SEC,
        "phase": "calm" if sec < CALM_SEC else "degraded",
    }


def interleave(
    arms: dict[str, Callable[[str], object]],
    names: list[str],
    rounds: int,
    enter: Callable[[str], object] | None = None,
) -> dict[str, dict[str, float]]:
    """Time every arm on every name, ABAB: each of ``rounds`` rounds
    runs each arm's pass over ``names`` once, in arm order, after
    ``enter(label)``. One untimed run of the first name per arm comes
    first (the symmetric warmup). Returns each arm's best time per
    name."""
    best: dict[str, dict[str, float]] = {label: {} for label in arms}
    for label, run in arms.items():
        if enter:
            enter(label)
        run(names[0])
    for rnd in range(rounds):
        for label, run in arms.items():
            if enter:
                enter(label)
            for name in names:
                t = best_of(lambda: run(name), 1)
                best[label][name] = min(t, best[label].get(name, t))
            print(f"# round {rnd} {label}: {sum(best[label].values()):.3f}s",
                  file=sys.stderr)
    return best


def _replicate(df, factor: int, keys: Iterable[str], salt_text: bool = False):
    from pyspark.sql import functions as F

    reps = []
    for r in range(factor):
        rep = df
        for k in keys:
            rep = rep.withColumn(k, F.col(k) + F.lit(r * KEY_OFFSET))
        if salt_text and r > 0:  # replica 0 stays the original
            rep = rep.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1x{r}")
            )
        reps.append(rep)
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    return out


def build_scaled(spark, dst: str, factor: int) -> None:
    """Write a ``factor``-times replica of sf0.1 to ``dst``: the corpus
    grows, the derived structures keep their identity.

    - dimensions (region, nation, customer, supplier, part) are copied;
    - lineitem/orders get offset order keys: new orders over the same
      parts, customers and suppliers;
    - embeddings get offset ids;
    - events get offset event and user ids: new users with the same
      temporal profile, so sessions and as-of structure replicate
      instead of densifying;
    - documents get offset ids and every token of replica r > 0 a
      replica tag, so each replica keeps the original's near-duplicate
      structure while replicas share no shingles (duplicate density
      stays fixed as the corpus grows).
    """
    os.makedirs(dst, exist_ok=True)
    for name in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(os.path.join(SRC, f"{name}.parquet"),
                    os.path.join(dst, f"{name}.parquet"))
    for name, keys in (
        ("lineitem", ["l_orderkey"]), ("orders", ["o_orderkey"]),
        ("embeddings", ["vec_id"]), ("events", ["event_id", "user_id"]),
        ("documents", ["doc_id"]),
    ):
        df = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        _replicate(df, factor, keys, salt_text=name == "documents").write.mode(
            "overwrite"
        ).parquet(os.path.join(dst, f"{name}.parquet"))


def _pin_tables(spark, sf_dir: str) -> None:
    """Drop every pinned scan and decode the tables again under the
    session's current confs."""
    from mallard_spark.sources import readers

    for df in readers._TABLE_CACHE.pop(spark, {}).values():
        df.unpersist(blocking=True)
    for name in readers.TABLES:
        readers.load_table(spark, sf_dir, name).count()


def _duckdb_arm(sf_dir: str, specs, native: bool):
    import duckdb

    from mallard_spark.sources.readers import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark writes a directory of part files
            p = os.path.join(p, "*.parquet")
        kind = "TABLE" if native else "VIEW"
        con.execute(f"CREATE OR REPLACE {kind} {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    return lambda name: con.execute(specs[name].oracle).fetchall()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--factor", default="1",
                    help="comma-separated replication factors over sf0.1")
    ap.add_argument("--queries", default=None,
                    help="comma-separated registry names (default: headline)")
    ap.add_argument("--runs", type=int, default=2,
                    help="interleaved rounds; each query's best is kept")
    ap.add_argument("--conf", default=None,
                    help="KEY=A,B: compare two values of one Spark conf "
                    "instead of Spark against DuckDB")
    ap.add_argument("--scan-cache", action="store_true",
                    help="pinned Spark scans and native DuckDB tables")
    ap.add_argument("--workdir", default="/tmp",
                    help="parent directory of the scaled replicas")
    args = ap.parse_args()

    from mallard_spark.registry import load_all
    from perfbench.batch import HEADLINE

    specs = load_all()
    names = args.queries.split(",") if args.queries else list(HEADLINE)
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = spark_session("mallard_ab")
    if args.scan_cache:
        spark.conf.set("spark.mallard.scanCache", "memory")
    phase_probe = probe(spark)

    for factor in (int(f) for f in args.factor.split(",")):
        sf = round(0.1 * factor, 3)
        sf_dir = SRC
        if factor > 1:
            sf_dir = os.path.join(args.workdir,
                                  f"mallard_sf{sf:g}".replace(".", "_"))
            if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
                print(f"# building {factor}x replica at {sf_dir}", file=sys.stderr)
                build_scaled(spark, sf_dir, factor)

        def spark_run(name, sf_dir=sf_dir):
            noop(specs[name].fn(spark, sf_dir))

        if args.conf:
            key, values = args.conf.split("=", 1)
            a, b = values.split(",")
            setting = {"a": a, "b": b}

            def enter(label, sf_dir=sf_dir):
                spark.conf.set(key, setting[label])
                if args.scan_cache:
                    _pin_tables(spark, sf_dir)

            arms = {"a": spark_run, "b": spark_run}
            head = {"metric": f"ab_{key}_sf{sf:g}", "conf": {"key": key, **setting},
                    "protocol": "each arm re-pins the Spark scans under its value"
                    if args.scan_cache else "parquet-scan (re-read per run)"}
        else:
            names = [n for n in names if specs[n].oracle]
            arms = {"spark": spark_run,
                    "duckdb": _duckdb_arm(sf_dir, specs, args.scan_cache)}
            enter = None
            head = {"metric": f"headline_queries_total_runtime_sf{sf:g}",
                    "protocol": "native-cached (Spark pinned scans vs DuckDB "
                    "native tables — the reference's serving model)"
                    if args.scan_cache else
                    "parquet-scan (both engines re-read parquet per run)"}
        best = interleave(arms, names, args.runs, enter)
        first, second = best.values()
        out = {
            **head, "sf": sf, "factor": factor, "src": SRC,
            "rounds": args.runs, "phase_probe": phase_probe,
            **{f"{label}_total": round(sum(t.values()), 3)
               for label, t in best.items()},
            "ratio_total": round(sum(first.values()) / sum(second.values()), 3),
            **best,
            "ratio": {n: round(first[n] / second[n], 2)
                      for n in names if second[n] > 0},
        }
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
