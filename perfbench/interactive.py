"""sql_interactive: one closed-loop client sending short DuckDB-dialect
statements as Flight tickets, each checked against DuckDB, plus a small
PUT and EXCHANGE per cycle."""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from perfbench.common import DATA, Run, percentile
from perfbench.data import ensure_tables

TABLES = ("lineitem", "orders", "customer", "part")
# statements from the dialect probe corpus that pass today (fixture t)
CORPUS_PICKS = [
    "SELECT v // 3 AS d FROM t ORDER BY id",
    "SELECT * EXCLUDE (v) REPLACE (id * 10 AS id) FROM t ORDER BY g, id",
    "SELECT kurtosis(v) AS k, skewness(v) AS s, count(*) // 1 AS n FROM t",
    "SELECT v * 3 / 2 AS r, 1 // 1 AS m FROM t ORDER BY id",
]
SCRATCH_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"


def cycle_statements(rng: np.random.Generator) -> list[tuple[str, str, str | None]]:
    """(kind, statement, DuckDB form if it differs) for one cycle."""
    k0 = int(rng.integers(0, 400))
    day = f"199{int(rng.integers(5, 10))}-0{int(rng.integers(1, 10))}-15"
    price, acct = int(rng.integers(1_000, 400_000)), int(rng.integers(0, 9_000))
    nation, size = int(rng.integers(0, 25)), int(rng.integers(1, 51))
    part, order = int(rng.integers(200, 2_000)), int(rng.integers(100, 400))
    cust = int(rng.integers(20, 200))
    a = order - int(rng.integers(10, 60))
    src = f"SELECT {SCRATCH_COLS} FROM orders WHERE o_orderkey BETWEEN {a} AND {a + 80}"
    merge_duck = (
        f"UPDATE scratch SET o_totalprice = src.o_totalprice FROM ({src}) src "
        f"WHERE scratch.o_orderkey = src.o_orderkey; "
        f"INSERT INTO scratch SELECT * FROM ({src}) src "
        f"WHERE src.o_orderkey NOT IN (SELECT o_orderkey FROM scratch)"
    )
    return [
        ("vanilla", f"SELECT g, count(*) AS n, sum(k) AS s FROM kv WHERE k >= {k0} "
                    "GROUP BY g ORDER BY g", None),
        ("vanilla", "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
                    f"FROM lineitem WHERE l_shipdate < DATE '{day}' "
                    "GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2", None),
        ("vanilla", "SELECT o_orderpriority, count(*) AS n FROM orders "
                    f"WHERE o_totalprice > {price} GROUP BY o_orderpriority ORDER BY 1", None),
        ("vanilla", "SELECT c_mktsegment, count(*) AS n, max(c_acctbal) AS m FROM customer "
                    f"WHERE c_nationkey = {nation} GROUP BY c_mktsegment ORDER BY 1", None),
        ("vanilla", "SELECT p_type, count(*) AS n FROM part JOIN lineitem ON p_partkey = l_partkey "
                    f"WHERE p_size = {size} GROUP BY p_type ORDER BY 1", None),
        ("dialect", "SELECT l_linenumber // 2 AS h, count(*) AS n FROM lineitem "
                    f"WHERE l_partkey < {part} GROUP BY 1 ORDER BY 1", None),
        ("dialect", "SELECT o_orderkey // 1000 AS b, o_custkey // 7 AS c, o_totalprice // 100 AS p "
                    f"FROM orders WHERE o_orderkey < {order} ORDER BY o_orderkey", None),
        ("dialect", "SELECT c_nationkey, c_custkey, c_acctbal FROM customer "
                    f"WHERE c_acctbal > {acct} QUALIFY row_number() OVER "
                    "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) = 1 "
                    "ORDER BY c_nationkey", None),
        ("dialect", f"SELECT * EXCLUDE (p_name, p_brand) FROM part WHERE p_size = {size} "
                    f"AND p_partkey < {part} ORDER BY p_partkey", None),
        ("dialect", "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice "
                    f"FROM orders WHERE o_custkey < {cust} "
                    "ORDER BY o_custkey, o_totalprice DESC, o_orderkey", None),
        ("dialect", CORPUS_PICKS[int(rng.integers(0, len(CORPUS_PICKS)))], None),
        ("dml", f"CREATE TABLE scratch AS SELECT {SCRATCH_COLS} FROM orders "
                f"WHERE o_orderkey < {order}", None),
        ("dml", f"INSERT INTO scratch SELECT {SCRATCH_COLS} FROM orders "
                f"WHERE o_orderkey BETWEEN {order} AND {order + 100}", None),
        ("dml", f"UPDATE scratch SET o_totalprice = o_totalprice + 1 WHERE o_custkey < {cust * 20}",
         None),
        ("dml", f"DELETE FROM scratch WHERE o_orderstatus = '{'FOP'[int(rng.integers(0, 3))]}' "
                "AND o_orderkey % 3 = 0", None),
        ("dml", f"MERGE INTO scratch USING ({src}) AS src ON scratch.o_orderkey = src.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice "
                "WHEN NOT MATCHED THEN INSERT VALUES (src.o_orderkey, src.o_custkey, "
                "src.o_orderstatus, src.o_totalprice)", merge_duck),
        ("ddl", "DROP TABLE scratch", None),
    ]


def run(r: Run, tiny: bool = False) -> None:
    import duckdb
    import pyarrow.parquet as pq

    from mallard_spark.client import ClientConfig, DataOperations, FlightClientManager
    from mallard_spark.engine import MallardEngine
    from mallard_spark.exchange import AddProcessedExchanger
    from mallard_spark.flight import SparkFlightServer, serve_in_background

    sf_dir = r.data(ensure_tables, DATA, 0.001 if tiny else 0.01)
    spark = r.start_spark()
    server_cls = SparkFlightServer
    if r.tracer is not None:
        from perfbench.trace import traced_server_class

        server_cls = traced_server_class(r.tracer, spark)
    server = server_cls("grpc://localhost:0", MallardEngine(spark, "sql"))
    serve_in_background(server)
    mgr = FlightClientManager([ClientConfig(f"grpc://localhost:{server.port}", "sql")])
    ops = DataOperations(mgr)
    ops.register_exchanger("sql", AddProcessedExchanger)
    con = duckdb.connect()
    for name in TABLES:
        table = pq.read_table(f"{sf_dir}/{name}.parquet")
        ops.create_table("sql", name, table)
        _duck_put(con, name, table)
    fixture = pa.table({"id": [1, 2, 3], "g": ["a", "b", "b"], "v": [10.5, 20.0, 30.25],
                        "arr": [[1, 2], [3], [4, 5, 6]], "s": ["x y", "z", "w w w"]})
    ops.create_table("sql", "t", fixture)
    _duck_put(con, "t", fixture)

    _cycle(r, ops, con, np.random.default_rng([r.seed, 1]), timed=False)
    r.probe("before")
    r.end_setup()
    rng = np.random.default_rng(r.seed)
    t_end = time.perf_counter() + r.seconds
    while time.perf_counter() < t_end:
        _cycle(r, ops, con, rng)
    r.end_measure()
    r.probe("after")
    kinds = {k: [s["sec"] for s in r.samples if s["kind"] == k]
             for k in ("put", "exchange", "vanilla", "dialect", "dml", "ddl")}
    r.record["p50_ms"] = {k: percentile(v, 50) * 1e3 for k, v in kinds.items()}
    mgr.close_all()
    server.shutdown()
    r.finish(lambda: {"client.dialect_p50_ms": r.record["p50_ms"]["dialect"],
                      "client.dml_p50_ms": r.record["p50_ms"]["dml"]})


def _duck_put(con, name: str, table: pa.Table) -> None:
    con.register("_incoming", table)
    con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM _incoming")
    con.unregister("_incoming")


def _cycle(r: Run, ops, con, rng, timed: bool = True) -> None:
    from tools.dialect_probe import _norm

    def same(got: pa.Table, want: list[tuple]) -> bool:
        def key(rows):
            return sorted(repr(sorted((_norm(v) for v in row), key=repr)) for row in rows)

        return key(tuple(d.values()) for d in got.to_pylist()) == key(want)

    n = int(rng.integers(200, 600))
    kv = pa.table({"k": np.arange(n, dtype=np.int64),
                   "g": pa.array(["a", "b", "c", "d"]).take(pa.array(rng.integers(0, 4, n))),
                   "v": np.round(rng.uniform(0, 100, n), 2)})
    stmts = cycle_statements(rng)
    if not timed:
        ops.create_table("sql", "kv", kv)
        _duck_put(con, "kv", kv)
        ops.exchange_data("sql", "my_streaming_exchanger", kv)
        for _kind, sql, duck in stmts:
            ops.execute_query("sql", sql)
            con.execute(duck or sql)
        return
    if r.op("put", lambda: ops.create_table("sql", "kv", kv) or True, rows=n):
        _duck_put(con, "kv", kv)
    out = r.op("exchange", lambda: ops.exchange_data("sql", "my_streaming_exchanger", kv), rows=n)
    if out is not None:
        r.check(lambda: out.num_rows == n and pc.all(out["processed"]).as_py() is True,
                "EXCHANGE of the small payload: rows/processed")
    for kind, sql, duck in stmts:
        got = r.op(kind, lambda sql=sql: ops.execute_query("sql", sql), sql=sql[:60])
        if got is None:
            continue
        if kind in ("vanilla", "dialect"):
            r.check(lambda: same(got, con.execute(sql).fetchall()), f"value mismatch: {sql}")
        elif kind == "dml":
            def scratch_same(mirror=duck or sql):
                con.execute(mirror)
                return same(ops.execute_query("sql", "SELECT * FROM scratch"),
                            con.execute("SELECT * FROM scratch").fetchall())

            r.check(scratch_same, f"scratch differs after: {sql}")
        else:
            con.execute(sql)
