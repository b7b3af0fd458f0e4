"""batch_sf01: the 31 benched registry queries at sf0.1 through the noop sink."""

from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench.common import DATA, NPROC, Run
from perfbench.data import ensure_tables

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q3_bucketed",
    "q5_local_supplier_volume", "q9_product_profit", "q18_large_volume_customer",
    "running_totals", "ev_hourly_agg", "ev_sessionize", "ev_asof_join",
    "ev_zscore_anomalies", "quantiles_by_flag", "text_token_stats", "text_chunking",
    "decontaminate_overlap", "decontaminate_bloom", "mix_sources", "dedup_minhash_lsh",
    "dedup_substring_windows", "url_canonicalize_dedup", "quality_perplexity_proxy",
    "knn_bruteforce", "knn_lsh_multiprobe", "knn_ivfpq", "exchange_add_processed",
]
STREAMING = ["stream_windowed_agg", "stream_dedup_minhash", "stream_interval_join"]
ITERATIVE = ["bpe_train_merges", "knn_pq_trained", "mm_phash_dedup"]
GROUPS = {"headline": HEADLINE, "streaming": STREAMING, "iterative": ITERATIVE}
# queries whose builders run eager barrier jobs; traced one by one
BARRIER_QUERIES = ["dedup_minhash_lsh", "dedup_substring_windows", "decontaminate_bloom",
                   "quality_perplexity_proxy", "quantiles_by_flag"]
CHECKS_PER_RUN = 2  # a check costs a second execution: rotate them by seed


def run(r: Run, tiny: bool = False) -> None:
    import pandas as pd

    from mallard_spark.registry import load_all
    from mallard_spark.sources.readers import TABLES, load_table
    from mallard_spark.testing import compare_frames

    specs = load_all()
    names = HEADLINE + STREAMING + ITERATIVE
    sf_dir = r.data(ensure_tables, DATA, 0.001 if tiny else 0.1)
    warm_dir = r.data(ensure_tables, DATA, 0.001)
    oracles = r.data(ensure_oracles, sf_dir, {n: specs[n].oracle for n in names})
    r.mark("data")
    spark = r.start_spark()
    spark.conf.set("spark.mallard.scanCache", "memory")
    with ThreadPoolExecutor(NPROC) as pool:  # decode and pin every table once
        list(pool.map(lambda name: load_table(spark, sf_dir, name).count(), TABLES))
    r.mark("pinned")
    # Python workers (the probe below warms the scan path)
    specs["exchange_add_processed"].fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
    r.mark("warm")
    r.probe("before")
    r.end_setup()

    rng = np.random.default_rng(r.seed)
    order = [names[i] for i in rng.permutation(len(names))]
    tr = r.tracer
    built: dict[str, float] = {}
    for name in order:
        spec = specs[name]

        def one(spec=spec):
            if tr is None:
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                return True
            r.job_group(f"q.{spec.name}.builder")
            with tr.span("streaming.fn" if spec.name in STREAMING else "builder.fn"):
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                built[spec.name] = time.perf_counter() - t0
            r.job_group(f"q.{spec.name}.exec")
            with tr.span("catalyst.plan"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            _phases(tr, qe)
            with tr.span("exec.noop"):
                df.write.format("noop").mode("overwrite").save()
            return True

        r.op("query", one, query=name)
    # the 31 queries are one request: single-query times swing by half
    # between runs (some plans are bimodal), their sum by a few percent
    r.requests = [sum(s["sec"] for s in r.samples)]
    r.end_measure()
    r.probe("after")

    # untimed output checks: a seed-rotated slice of the queries (all of
    # them at the smoke-test size)
    start = (r.seed * CHECKS_PER_RUN) % len(names)
    checked = names if tiny else [names[(start + i) % len(names)] for i in range(CHECKS_PER_RUN)]
    r.record["checked"] = checked
    for name in checked:
        sample = next(s for s in r.samples if s["query"] == name)
        try:
            got = specs[name].fn(spark, sf_dir).toPandas()
            compare_frames(got, pd.read_pickle(os.path.join(oracles, f"{name}.pkl")), name=name)
        except Exception as e:
            sample["ok"] = False
            r.fail(f"check {name}: {str(e)[:300]}")
    r.mark("checks")

    r.finish(lambda: _traced(r, built))


def ensure_oracles(sf_dir: str, oracles: dict[str, str]) -> str:
    """Run each query's DuckDB oracle over the fixed tables once and keep
    the answers (some oracles take half a minute at sf0.1). The
    directory is named after the oracle SQL, so changed SQL is re-run."""
    from mallard_spark.testing import duck_connection

    key = hashlib.sha256(json.dumps(sorted(oracles.items())).encode()).hexdigest()[:12]
    out = os.path.join(sf_dir, f"oracle-{key}")
    if not os.path.exists(os.path.join(out, ".done")):
        os.makedirs(out, exist_ok=True)
        con = duck_connection(sf_dir)
        for name, sql in oracles.items():
            con.execute(sql).df().to_pickle(os.path.join(out, f"{name}.pkl"))
        open(os.path.join(out, ".done"), "w").close()
    return out


def _phases(tr, qe) -> None:
    """Record the QueryPlanningTracker phase durations as counters."""
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            tr.count(f"catalyst.{phase}_ms", opt.get().durationMs())


def _traced(r: Run, built: dict[str, float]) -> dict[str, float]:
    tr = r.tracer
    groups = r.job_groups
    per_query = {s["query"]: s["sec"] for s in r.samples}
    m: dict[str, float] = {
        "catalyst.analysis_s": tr.counts["catalyst.analysis_ms"] / 1e3,
        "catalyst.optimization_s": tr.counts["catalyst.optimization_ms"] / 1e3,
        "catalyst.planning_s": tr.counts["catalyst.planning_ms"] / 1e3,
        "batch.builder_s": sum(built.values()),
        "batch.barrier_jobs": sum(n for g, n in groups.items() if g.endswith(".builder")),
    }
    for g, qs in GROUPS.items():
        m[f"{g}.s"] = sum(per_query[q] for q in qs)
        m[f"{g}.builder_s"] = sum(built.get(q, 0.0) for q in qs)
    for q, sec in per_query.items():
        m[f"q.{q}.s"] = sec
    for q in BARRIER_QUERIES:
        m[f"q.{q}.builder_s"] = built.get(q, 0.0)
        m[f"q.{q}.jobs"] = groups.get(f"q.{q}.builder", 0) + groups.get(f"q.{q}.exec", 0)
    return m
