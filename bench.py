#!/usr/bin/env python
"""Benchmark the benched registry queries at $SPARK_GRAFT_SF_DIR
(default sf0.1).

Prints ONE JSON line:
  {"metric": "headline_queries_total_runtime", "value": <headline total
   sec>, "unit": "sec", "queries": {...}, "streaming": {...},
   "streaming_total": ..., "iterative": {...}, "iterative_total": ...,
   "sf": <sf>, "phase_probe": {...}, "phase_probe_post_headline": {...},
   "phase_probe_post": {...}, "scan_cache": ...}

Each query is its best of 2 runs through the noop sink (full
computation, no result materialization on the driver), after a small
JVM warmup, so the numbers measure the plans, not collection overhead.
Streaming and iterative queries are reported apart from the headline
total: their cost is micro-batch or per-round scheduling machinery,
which has no like-for-like DuckDB batch comparison. The q1 phase probe
runs before the headline group, after it and at the end, so a slow VM
phase during the run is labeled in the artifact instead of reading as
a regression.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.batch import HEADLINE, ITERATIVE, STREAMING  # noqa: E402
from tools.ab import SRC, noop, probe, spark_session, time_query  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mallard_spark.registry import load_all

    spark = spark_session("mallard_bench")
    # the serving model: the reference loads data into DuckDB native
    # tables once and serves every query from its buffer pool, so the
    # first touch decodes and pins and the best-of-2 reads steady state
    scan_cache = os.environ.get("SPARK_GRAFT_SCAN_CACHE", "memory")
    spark.conf.set("spark.mallard.scanCache", scan_cache)
    specs = load_all()

    # JVM / codegen warmup on the smallest SF, plus one tiny
    # mapInPandas so Python workers are spawned before anything is timed
    warm_dir = os.path.join(os.path.dirname(SRC), "sf0.001")
    for name in ("q1_pricing_summary", "exchange_add_processed"):
        noop(specs[name].fn(spark, warm_dir))

    out: dict = {"phase_probe": probe(spark)}
    for key, names, probe_key in (
        ("queries", HEADLINE, "phase_probe_post_headline"),
        ("streaming", STREAMING, None),
        ("iterative", ITERATIVE, "phase_probe_post"),
    ):
        out[key] = {n: time_query(spark, specs[n].fn, sf_dir, 2) for n in names}
        if probe_key:
            out[probe_key] = probe(spark)

    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": round(sum(out["queries"].values()), 3),
        "unit": "sec",
        **out,
        "streaming_total": round(sum(out["streaming"].values()), 3),
        "iterative_total": round(sum(out["iterative"].values()), 3),
        "sf": sf_val,
        "scan_cache": scan_cache,
    }))


if __name__ == "__main__":
    main()
