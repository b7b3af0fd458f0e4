"""GENERATED (VIRTUAL) column DuckDB parity (round 11, VERDICT r10
item #10).

Semantics verified live against DuckDB 1.0 before implementation:
generated columns are excluded from INSERT arity (positional inserts
skip them), naming one in a column list is a binder error, UPDATE on
one is a binder error while updating a BASE column recomputes it,
chained generation resolves in declaration order, STORED refuses
("Can not create a STORED generated column!"), shorthand ``col AS
(expr)`` infers the type, and EXPORT DATABASE emits
``GENERATED ALWAYS AS((expr))`` with base-only data files. This
engine stores computed values physically and recomputes them on every
write path — evaluate-on-write, read-side-identical to VIRTUAL.
"""

import duckdb
import pytest

from mallard_spark.engine import MallardEngine


def _both_state(eng, con, table):
    got = sorted(tuple(r) for r in eng.sql(f"SELECT * FROM {table}").collect())
    want = sorted(map(tuple, con.execute(f"SELECT * FROM {table}").fetchall()))
    return got, want


def test_generated_insert_update_delete_state_parity(spark):
    eng = MallardEngine(spark, "t_gen")
    con = duckdb.connect()
    script = [
        "CREATE TABLE g (a INTEGER, b INTEGER GENERATED ALWAYS AS (a + 1) "
        "VIRTUAL, c VARCHAR)",
        "INSERT INTO g (a, c) VALUES (1, 'x'), (2, 'y')",
        "INSERT INTO g VALUES (3, 'z')",  # positional skips generated
        "UPDATE g SET a = 10 WHERE c = 'x'",  # base update recomputes
        "DELETE FROM g WHERE b = 4",  # predicate on the generated col
        # shorthand + chained generation
        "CREATE TABLE g4 (a INTEGER, b AS (a + 1), c AS (b + 1))",
        "INSERT INTO g4 (a) VALUES (1), (5)",
    ]
    for stmt in script:
        eng.execute(stmt)
        con.execute(stmt)
    for t in ("g", "g4"):
        got, want = _both_state(eng, con, t)
        assert got == want, t
    assert _both_state(eng, con, "g")[0] == [(2, 3, "y"), (10, 11, "x")]
    assert _both_state(eng, con, "g4")[0] == [(1, 2, 3), (5, 6, 7)]
    # join-update on a base column recomputes too (engine-only check:
    # DuckDB's is the same UPDATE machinery)
    eng.execute("CREATE TABLE src (k INTEGER, w INTEGER)")
    eng.execute("INSERT INTO src VALUES (2, 200)")
    con.execute("CREATE TABLE src (k INTEGER, w INTEGER)")
    con.execute("INSERT INTO src VALUES (2, 200)")
    eng.dml("UPDATE g SET a = src.w FROM src WHERE g.a = src.k")
    con.execute("UPDATE g SET a = src.w FROM src WHERE g.a = src.k")
    got, want = _both_state(eng, con, "g")
    assert got == want == [(10, 11, "x"), (200, 201, "y")]
    # a renamed generated column keeps its rule
    for stmt in (
        "ALTER TABLE g RENAME COLUMN b TO b2",
        "INSERT INTO g (a, c) VALUES (7, 'w')",
    ):
        eng.execute(stmt)
        con.execute(stmt)
    got, want = _both_state(eng, con, "g")
    assert got == want
    for t in eng.list_tables():
        eng.drop(t)


def test_generated_errors_match_duckdb(spark):
    eng = MallardEngine(spark, "t_gerr")
    con = duckdb.connect()
    ddl = "CREATE TABLE g (a INTEGER, b INTEGER GENERATED ALWAYS AS (a + 1))"
    eng.ddl(ddl)
    con.execute(ddl)
    # STORED refuses on both (DuckDB's own message shape)
    bad = "CREATE TABLE gs (a INTEGER, b INTEGER GENERATED ALWAYS AS (a+1) STORED)"
    with pytest.raises(NotImplementedError, match="STORED generated"):
        eng.ddl(bad)
    with pytest.raises(Exception):
        con.execute(bad)
    # inserting into a generated column is an error on both
    for stmt in [
        "INSERT INTO g (a, b) VALUES (1, 2)",
        "INSERT INTO g VALUES (1, 2)",  # arity counts insertable only
    ]:
        with pytest.raises(Exception):
            con.execute(stmt)
    with pytest.raises(ValueError, match="generated column"):
        eng.dml("INSERT INTO g (a, b) VALUES (1, 2)")
    with pytest.raises(ValueError, match="has 1"):
        eng.dml("INSERT INTO g VALUES (1, 2)")
    # updating a generated column is an error on both
    with pytest.raises(ValueError, match="generated column"):
        eng.dml("UPDATE g SET b = 5")
    with pytest.raises(Exception):
        con.execute("UPDATE g SET b = 5")
    # unbindable expression errors at CREATE like DuckDB's binder
    with pytest.raises(ValueError, match="does not bind"):
        eng.ddl("CREATE TABLE gb (a INTEGER, b AS (nope + 1))")
    # MERGE / upserts refuse by name (bounded scope; plain verbs work)
    with pytest.raises(NotImplementedError, match="GENERATED"):
        eng.dml(
            "MERGE INTO g USING (SELECT 1 AS a) s ON g.a = s.a "
            "WHEN MATCHED THEN DELETE"
        )
    eng.drop("g")


def test_generated_export_import_and_duckdb_interop(spark, tmp_path):
    """EXPORT DATABASE renders DuckDB's own generated spelling and
    writes base-only data files; the export re-imports here AND into
    DuckDB itself with the generated values recomputed."""
    eng = MallardEngine(spark, "t_gexp")
    eng.ddl(
        "CREATE TABLE g (a INTEGER, b INTEGER GENERATED ALWAYS AS (a + 1), "
        "c VARCHAR)"
    )
    eng.dml("INSERT INTO g (a, c) VALUES (1, 'x'), (2, 'y')")
    d = str(tmp_path / "exp")
    eng.ddl(f"EXPORT DATABASE '{d}' (FORMAT PARQUET)")
    schema = open(f"{d}/schema.sql").read()
    assert "GENERATED ALWAYS AS((a + 1))" in schema
    eng2 = MallardEngine(spark, "t_gexp2")
    eng2.ddl(f"IMPORT DATABASE '{d}'")
    assert sorted(
        tuple(r) for r in eng2.sql("SELECT * FROM g").collect()
    ) == [(1, 2, "x"), (2, 3, "y")]
    # a post-import INSERT still computes (metadata round-tripped)
    eng2.dml("INSERT INTO g (a, c) VALUES (7, 'z')")
    assert (7, 8, "z") in {
        tuple(r) for r in eng2.sql("SELECT * FROM g").collect()
    }
    con = duckdb.connect()
    con.execute(f"IMPORT DATABASE '{d}'")
    assert sorted(
        map(tuple, con.execute("SELECT * FROM g").fetchall())
    ) == [(1, 2, "x"), (2, 3, "y")]
    for e in (eng, eng2):
        if "g" in e._tables:
            e.drop("g")


def test_generated_warehouse_persistence_roundtrip(spark):
    """The generated metadata survives a session restart via table
    properties — a fresh engine recomputes on INSERT."""
    eng = MallardEngine(spark, "t_gpersist")
    eng.ddl_persist = True
    eng.ddl("CREATE TABLE gp (a INTEGER, b INTEGER GENERATED ALWAYS AS (a * 3))")
    eng.dml("INSERT INTO gp (a) VALUES (2)")
    fresh = MallardEngine(spark, "t_gpersist")
    assert fresh._decls["gp"].generated == [("b", "a * 3")]
    fresh.dml("INSERT INTO gp (a) VALUES (4)")
    assert sorted(
        tuple(r) for r in fresh.sql("SELECT * FROM gp").collect()
    ) == [(2, 6), (4, 12)]
    # rename carries the declaration
    fresh.ddl("ALTER TABLE gp RENAME TO gp2")
    fresh.dml("INSERT INTO gp2 (a) VALUES (5)")
    assert (5, 15) in {
        tuple(r) for r in fresh.sql("SELECT * FROM gp2").collect()
    }
    fresh.drop("gp2")


def test_generated_copy_from_recomputes(spark, tmp_path):
    """COPY FROM a base-columns file into a generated table computes
    the generated values (the load side of the export layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    eng = MallardEngine(spark, "t_gcopy")
    eng.ddl("CREATE TABLE gc (a INTEGER, b INTEGER GENERATED ALWAYS AS (a + 100))")
    p = str(tmp_path / "base.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], type=pa.int32())}), p)
    eng.copy(f"COPY gc FROM '{p}' (FORMAT PARQUET)")
    assert sorted(
        tuple(r) for r in eng.sql("SELECT * FROM gc").collect()
    ) == [(1, 101), (2, 102)]
    eng.drop("gc")
