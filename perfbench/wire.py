"""wire_bulk: PUT, GET, TRANSFER and EXCHANGE of flights-shaped payloads
between two in-process Flight servers, driven through the client API."""

from __future__ import annotations

import time

import numpy as np
import pyarrow.compute as pc

from perfbench.common import Run
from perfbench.data import flights

# (payload rows, spill threshold of both servers): the package
# default threshold is 256 MB; at 128 MB the 1M-row payload (43 MB) is
# ingested in memory and the 4M-row one (175 MB) spills to a parquet stage
FULL = ((1_000_000, 4_000_000), 128 << 20)
TINY = ((10_000, 40_000), 1 << 20)
VERBS = ("put", "get", "transfer", "exchange")


def run(r: Run, tiny: bool = False) -> None:
    from mallard_spark.client import ClientConfig, DataOperations, FlightClientManager
    from mallard_spark.engine import MallardEngine
    from mallard_spark.exchange import AddProcessedExchanger
    from mallard_spark.flight import SparkFlightServer, serve_in_background

    sizes, threshold = TINY if tiny else FULL
    spark = r.start_spark()
    server_cls = SparkFlightServer
    if r.tracer is not None:
        from perfbench.trace import traced_server_class

        server_cls = traced_server_class(r.tracer, spark)
    servers = []
    for name in ("s1", "s2"):
        s = server_cls("grpc://localhost:0", MallardEngine(spark, name))
        s.ingest_memory_bytes = threshold
        serve_in_background(s)
        servers.append(s)
    mgr = FlightClientManager(
        [ClientConfig(f"grpc://localhost:{s.port}", f"s{i + 1}") for i, s in enumerate(servers)]
    )
    ops = DataOperations(mgr)
    ops.register_exchanger("s1", AddProcessedExchanger)

    rng = np.random.default_rng(r.seed)
    payloads = []
    for n in sizes:
        first = int(rng.integers(1, 1 << 36))
        payloads.append((flights(rng, n, first), n * first + n * (n - 1) // 2))
    r.record["payloads"] = [{"rows": t.num_rows, "bytes": t.nbytes} for t, _ in payloads]
    warm = flights(np.random.default_rng(r.seed + 1), 10_000, 1)
    _cycle(r, ops, warm, 10_000 * 10_001 // 2, timed=False)
    r.probe("before")
    r.end_setup()

    t_end = time.perf_counter() + r.seconds
    i = 0
    while i < len(payloads) or time.perf_counter() < t_end:
        table, id_sum = payloads[i % len(payloads)]
        _cycle(r, ops, table, id_sum)
        i += 1
    r.end_measure()
    r.probe("after")
    r.record["rows_per_s"] = rows_per_s(r.samples)
    mgr.close_all()
    for s in servers:
        s.shutdown()
    r.finish()


def rows_per_s(samples: list[dict]) -> dict[str, float]:
    """Σrows ÷ Σseconds per verb over every payload size."""
    out = {}
    for verb in VERBS:
        s = [x for x in samples if x["kind"] == verb]
        out[verb] = sum(x["rows"] for x in s) / sum(x["sec"] for x in s)
    return out


def _cycle(r: Run, ops, table, id_sum: int, timed: bool = True) -> None:
    n = table.num_rows
    if not timed:  # warm-up: same calls, no samples
        ops.create_table("s1", "flights", table)
        ops.execute_query("s1", "SELECT * FROM flights")
        ops.transfer_table("s1", "s2", "flights")
        ops.exchange_data("s1", "my_streaming_exchanger", table)
        return

    def counted(got) -> bool:
        return got.num_rows == n and pc.sum(got["flight_id"]).as_py() == id_sum

    # GET right after PUT reads back what PUT stored: it checks both
    if r.op("put", lambda: ops.create_table("s1", "flights", table) or True, rows=n):
        got = r.op("get", lambda: ops.execute_query("s1", "SELECT * FROM flights"), rows=n)
        if got is not None:
            r.check(lambda: counted(got), f"GET of {n} rows: rows/sum(flight_id)")
        del got
    moved = r.op("transfer", lambda: ops.transfer_table("s1", "s2", "flights"), rows=n)
    if moved is not None:
        r.check(lambda: moved[0] == n and ops.execute_query(
            "s2", "SELECT count(*) AS n, sum(flight_id) AS s FROM flights"
        ).to_pylist() == [{"n": n, "s": id_sum}], f"TRANSFER of {n} rows: count/sum on s2")
    out = r.op("exchange", lambda: ops.exchange_data("s1", "my_streaming_exchanger", table),
               rows=n)
    if out is not None:
        r.check(lambda: counted(out) and pc.all(out["processed"]).as_py() is True,
                f"EXCHANGE of {n} rows: rows/sum/processed")
