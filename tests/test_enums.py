"""CREATE TYPE ... AS ENUM / type aliases (round 11).

Every behavior here was verified against a live DuckDB 1.0 first and
most tests cross-check values side-by-side (`_both`): the reference
passes CREATE TYPE / DROP TYPE and enum-typed SQL to DuckDB verbatim
(reference flight_server.py:342-352), so the engine's semantics ARE
DuckDB's. The matrix DuckDB 1.0 actually implements (all verified
live — the positional-vs-varchar split is subtle):

- ORDER BY / min / max on an enum column: DEFINITION-position order
- enum-vs-enum comparisons (two refs, or 'lit'::type casts, SAME
  type): positional
- enum-vs-BARE-varchar-literal comparisons and BETWEEN with bare
  literals: plain VARCHAR comparison
- greatest/least: VARCHAR (left untouched by the rewriter)
- 'x'::type of a non-member: conversion error; inserts of
  non-members: conversion error
- DROP TYPE of an in-use type: dependency error; CASCADE drops the
  dependent TABLES; EXPORT DATABASE emits CREATE TYPE + inline
  ENUM(...) columns and DuckDB imports our export.
"""

import os
import tempfile

import duckdb
import pytest

from mallard_spark.engine import ConstraintViolationError, MallardEngine


@pytest.fixture()
def eng(spark, request):
    return MallardEngine(spark, f"enum_{request.node.name[:24]}")


@pytest.fixture()
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def _setup_both(eng, duck):
    for run in (eng.execute, duck.execute):
        run("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
        run("CREATE TABLE t (id INT, a mood, b mood)")
        run(
            "INSERT INTO t VALUES (1,'happy','ok'),(2,'sad','ok'),"
            "(3,'ok',NULL)"
        )


def _both(eng, duck, sql):
    mine = [tuple(r) for r in eng.sql(sql).collect()]
    theirs = duck.execute(sql).fetchall()
    assert mine == theirs, f"{sql}\n  spark: {mine}\n  duck:  {theirs}"


def test_order_by_is_definition_order(eng, duck):
    _setup_both(eng, duck)
    _both(eng, duck, "SELECT id, a FROM t ORDER BY a NULLS LAST, id")
    _both(eng, duck, "SELECT id FROM t ORDER BY a DESC NULLS LAST, id")


def test_min_max_positional(eng, duck):
    _setup_both(eng, duck)
    _both(eng, duck, "SELECT min(a) AS lo, max(a) AS hi FROM t")


def test_enum_vs_enum_comparisons_positional(eng, duck):
    _setup_both(eng, duck)
    _both(eng, duck, "SELECT id, a < b AS c FROM t ORDER BY id")
    _both(eng, duck, "SELECT id, a >= b AS c FROM t ORDER BY id")
    _both(eng, duck, "SELECT id, a < 'ok'::mood AS c FROM t ORDER BY id")
    _both(eng, duck, "SELECT 'sad'::mood < 'ok'::mood AS x")
    _both(
        eng, duck,
        "SELECT id, a BETWEEN 'ok'::mood AND 'happy'::mood AS c "
        "FROM t ORDER BY id",
    )


def test_enum_vs_bare_literal_is_varchar(eng, duck):
    """The subtle half of DuckDB's matrix: a BARE string literal
    comparand makes the comparison VARCHAR, not positional."""
    _setup_both(eng, duck)
    _both(eng, duck, "SELECT id, a < 'ok' AS c FROM t ORDER BY id")
    _both(
        eng, duck,
        "SELECT count(*) AS n FROM t WHERE a BETWEEN 'sad' AND 'ok'",
    )
    _both(eng, duck, "SELECT greatest(a, b) AS g FROM t ORDER BY id")


def test_group_by_and_distinct(eng, duck):
    _setup_both(eng, duck)
    _both(
        eng, duck,
        "SELECT a, count(*) AS c FROM t GROUP BY a ORDER BY a NULLS LAST",
    )
    _both(eng, duck, "SELECT count(DISTINCT a) AS n FROM t")


def test_enum_functions(eng, duck):
    _setup_both(eng, duck)
    _both(
        eng, duck,
        "SELECT enum_range(NULL::mood) AS r, enum_first(NULL::mood) "
        "AS f, enum_last(NULL::mood) AS l",
    )
    _both(eng, duck, "SELECT enum_code(a) AS c FROM t ORDER BY id")


def test_literal_cast_validates(eng, duck):
    _setup_both(eng, duck)
    _both(eng, duck, "SELECT 'sad'::mood AS v")
    with pytest.raises(Exception, match="Could not convert"):
        eng.sql("SELECT 'zzz'::mood").collect()
    with pytest.raises(Exception):
        duck.execute("SELECT 'zzz'::mood")


def test_insert_non_member_rejected_like_duckdb(eng, duck):
    _setup_both(eng, duck)
    with pytest.raises(
        ConstraintViolationError, match="Could not convert string 'angry'"
    ):
        eng.dml("INSERT INTO t VALUES (4, 'angry', 'ok')")
    with pytest.raises(Exception, match="Could not convert"):
        duck.execute("INSERT INTO t VALUES (4, 'angry', 'ok')")
    # rejected statements leave no rows behind on either engine
    _both(eng, duck, "SELECT count(*) AS n FROM t")


def test_update_non_member_rejected(eng, duck):
    _setup_both(eng, duck)
    with pytest.raises(ConstraintViolationError, match="Could not convert"):
        eng.dml("UPDATE t SET a = 'angry' WHERE id = 1")
    _both(eng, duck, "SELECT count(*) AS n FROM t")


def test_default_member_fills(eng, duck):
    for run in (eng.execute, duck.execute):
        run("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
        run("CREATE TABLE d (id INT, m mood DEFAULT 'ok')")
        run("INSERT INTO d (id) VALUES (1)")
    _both(eng, duck, "SELECT id, m FROM d")


def test_duplicate_type_and_member_errors(eng, duck):
    eng.ddl("CREATE TYPE mood AS ENUM ('a')")
    with pytest.raises(ValueError, match='already exists'):
        eng.ddl("CREATE TYPE mood AS ENUM ('b')")
    with pytest.raises(ValueError, match="duplicate value x"):
        eng.ddl("CREATE TYPE m2 AS ENUM ('x', 'x')")
    with pytest.raises(Exception, match="duplicate value x"):
        duck.execute("CREATE TYPE m2 AS ENUM ('x', 'x')")


def test_drop_type_dependency_and_cascade(eng, duck):
    _setup_both(eng, duck)
    with pytest.raises(ValueError, match="depends on type"):
        eng.ddl("DROP TYPE mood")
    with pytest.raises(Exception, match="depend"):
        duck.execute("DROP TYPE mood")
    eng.ddl("DROP TYPE mood CASCADE")
    duck.execute("DROP TYPE mood CASCADE")
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM t").collect()
    with pytest.raises(Exception):
        duck.execute("SELECT * FROM t")
    # the type itself is gone on both
    eng.ddl("CREATE TYPE mood AS ENUM ('new')")
    duck.execute("CREATE TYPE mood AS ENUM ('new')")


def test_drop_type_missing_and_if_exists(eng):
    eng.ddl("DROP TYPE IF EXISTS nosuch")
    with pytest.raises(ValueError, match="does not exist"):
        eng.ddl("DROP TYPE nosuch")


def test_unsupported_spellings_refuse_by_name(eng):
    with pytest.raises(ValueError, match="cannot parse"):
        eng.ddl("CREATE OR REPLACE TYPE m AS ENUM ('a')")
    with pytest.raises(ValueError, match="cannot parse"):
        eng.ddl("CREATE TYPE IF NOT EXISTS m AS ENUM ('a')")


def test_type_alias(eng, duck):
    for run in (eng.execute, duck.execute):
        run("CREATE TYPE myint AS INTEGER")
        run("CREATE TABLE ta (x myint)")
        run("INSERT INTO ta VALUES (5)")
    _both(eng, duck, "SELECT x + 1 AS y FROM ta")


def test_inline_enum_column(eng, duck):
    for run in (eng.execute, duck.execute):
        run("CREATE TABLE ti (m ENUM('a', 'b'))")
        run("INSERT INTO ti VALUES ('b'), ('a')")
    _both(eng, duck, "SELECT m FROM ti ORDER BY m")
    with pytest.raises(ConstraintViolationError, match="Could not convert"):
        eng.dml("INSERT INTO ti VALUES ('z')")


def test_export_import_roundtrip_and_duckdb_interop(eng, duck):
    """Our EXPORT DATABASE must emit DuckDB's own spelling (CREATE
    TYPE + inline ENUM(...) columns) — proven by DuckDB itself
    importing the export — and IMPORT must read DuckDB's exports."""
    _setup_both(eng, duck)
    d = tempfile.mkdtemp(prefix="enum_exp_")
    eng.ddl(f"EXPORT DATABASE '{d}'")
    schema = open(os.path.join(d, "schema.sql")).read()
    assert "CREATE TYPE mood AS ENUM" in schema
    assert "ENUM('sad', 'ok', 'happy')" in schema
    # DuckDB imports OUR export
    con2 = duckdb.connect()
    con2.execute(f"IMPORT DATABASE '{d}'")
    assert con2.execute(
        "SELECT id, a FROM t ORDER BY a NULLS LAST, id"
    ).fetchall() == duck.execute(
        "SELECT id, a FROM t ORDER BY a NULLS LAST, id"
    ).fetchall()
    con2.close()
    # we import DUCKDB's export (its own spelling)
    d2 = tempfile.mkdtemp(prefix="enum_exp_duck_")
    duck.execute(f"EXPORT DATABASE '{d2}'")
    eng2 = MallardEngine(eng.spark, "enum_imp2")
    eng2.ddl(f"IMPORT DATABASE '{d2}'")
    assert sorted(
        tuple(r) for r in eng2.sql("SELECT id, a FROM t").collect()
    ) == sorted(duck.execute("SELECT id, a FROM t").fetchall())
    # and enum enforcement survived the trip
    with pytest.raises(ConstraintViolationError, match="Could not convert"):
        eng2.dml("INSERT INTO t VALUES (9, 'nope', 'ok')")


def test_transaction_rollback_restores_types(eng):
    eng.ddl("CREATE TYPE keep AS ENUM ('k')")
    eng.execute("BEGIN")
    eng.ddl("CREATE TYPE temp AS ENUM ('x')")
    eng.ddl("DROP TYPE keep")
    eng.execute("ROLLBACK")
    # keep is back, temp is gone
    with pytest.raises(ValueError, match="already exists"):
        eng.ddl("CREATE TYPE keep AS ENUM ('again')")
    eng.ddl("CREATE TYPE temp AS ENUM ('fresh')")


def test_enum_persists_across_engine_restart(spark):
    """Enum COLUMN bindings ride the warehouse table properties —
    a fresh engine on the same namespace still enforces membership
    and orders positionally (the session-level named TYPE is gone,
    like sequences — EXPORT DATABASE carries those)."""
    ns = "enum_persist_rt"
    eng1 = MallardEngine(spark, ns)
    eng1.ddl_persist = True
    try:
        eng1.ddl("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
        eng1.ddl("CREATE TABLE pt (id INT, m mood)")
        eng1.dml("INSERT INTO pt VALUES (1, 'happy'), (2, 'sad')")
        eng2 = MallardEngine(spark, ns)
        assert [
            tuple(r)
            for r in eng2.sql(
                "SELECT id, m FROM pt ORDER BY m, id"
            ).collect()
        ] == [(2, "sad"), (1, "happy")]
        with pytest.raises(
            ConstraintViolationError, match="Could not convert"
        ):
            eng2.dml("INSERT INTO pt VALUES (3, 'angry')")
    finally:
        try:
            eng1.drop("pt")
        except Exception:
            pass


def test_rewriter_leaves_string_literals_alone(eng, duck):
    _setup_both(eng, duck)
    _both(
        eng, duck,
        "SELECT 'ORDER BY a' AS s, 'min(a)' AS m FROM t WHERE id = 1",
    )


def test_copy_from_enforces_enum(eng, tmp_path):
    eng.ddl("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    eng.ddl("CREATE TABLE ct (id INT, m mood)")
    p = tmp_path / "rows.csv"
    p.write_text("id,m\n1,ok\n2,angry\n")
    with pytest.raises(
        ConstraintViolationError, match="Could not convert string 'angry'"
    ):
        eng.execute(f"COPY ct FROM '{p}' (HEADER)")


def test_describe_renders_enum_type(eng):
    eng.ddl("CREATE TYPE mood AS ENUM ('sad', 'ok')")
    eng.ddl("CREATE TABLE dt (id INT, m mood)")
    rows = {r.col_name: r.data_type for r in eng.sql("DESCRIBE dt").collect()}
    assert rows["m"] == "ENUM('sad', 'ok')"  # DuckDB's rendering
    assert rows["id"] == "int"
    rows2 = {
        r.col_name: r.data_type
        for r in eng.sql("PRAGMA table_info('dt')").collect()
    }
    assert rows2["m"] == "ENUM('sad', 'ok')"


def test_comment_on_and_introspection(eng, duck):
    """COMMENT ON TABLE/VIEW/COLUMN stores like DuckDB and reads back
    through duckdb_tables()/duckdb_columns() (round 11); selected
    columns compare side-by-side (oids/sizes are engine-specific)."""
    for run in (eng.execute, duck.execute):
        run("CREATE TABLE ct (id INT PRIMARY KEY, v DOUBLE)")
        run("COMMENT ON TABLE ct IS 'tbl doc'")
        run("COMMENT ON COLUMN ct.id IS 'the key'")
    q = (
        "SELECT table_name, comment, has_primary_key, column_count "
        "FROM duckdb_tables() WHERE table_name = 'ct'"
    )
    assert [tuple(r) for r in eng.sql(q).collect()] == \
        duck.execute(q).fetchall()
    q2 = (
        "SELECT column_name, comment, is_nullable, numeric_precision "
        "FROM duckdb_columns() WHERE table_name = 'ct' "
        "ORDER BY column_index"
    )
    mine = [tuple(r) for r in eng.sql(q2).collect()]
    theirs = duck.execute(q2).fetchall()
    # DuckDB marks PK columns NOT NULL; this engine doesn't enforce
    # nullability — compare name/comment/precision, note is_nullable
    assert [(a, b, d) for a, b, _c, d in mine] == \
        [(a, b, d) for a, b, _c, d in theirs]
    for run in (eng.execute, duck.execute):
        run("COMMENT ON TABLE ct IS NULL")
    assert [tuple(r) for r in eng.sql(q).collect()] == \
        duck.execute(q).fetchall()
    # a column comment drops with its column and follows its rename
    q3 = (
        "SELECT column_name, comment FROM duckdb_columns() "
        "WHERE table_name = 'ct' ORDER BY column_index"
    )
    for steps in (
        [
            "COMMENT ON COLUMN ct.v IS 'cv'",
            "ALTER TABLE ct DROP COLUMN v",
            "ALTER TABLE ct ADD COLUMN v DOUBLE",
        ],
        [
            "COMMENT ON COLUMN ct.v IS 'cv2'",
            "ALTER TABLE ct RENAME COLUMN v TO v2",
        ],
    ):
        for stmt in steps:
            eng.execute(stmt)
            duck.execute(stmt)
        assert [tuple(r) for r in eng.sql(q3).collect()] == \
            duck.execute(q3).fetchall(), steps
    # object-class checks + unknown targets error
    with pytest.raises(ValueError, match="does not exist"):
        eng.ddl("COMMENT ON TABLE nosuch IS 'x'")
    with pytest.raises(ValueError, match="does not exist"):
        eng.ddl("COMMENT ON COLUMN ct.nope IS 'x'")
    eng.ddl("CREATE VIEW cv AS SELECT id FROM ct")
    with pytest.raises(ValueError, match="is a view"):
        eng.ddl("COMMENT ON TABLE cv IS 'x'")
    eng.ddl("COMMENT ON VIEW cv IS 'view doc'")


def test_comments_persist_and_follow_rename(spark):
    eng = MallardEngine(spark, "cmt_persist")
    import pyarrow as pa

    spark.sql(
        "DROP TABLE IF EXISTS cmt_persist__pt2"
    )  # stale location guard
    eng.put("pt", pa.table({"k": [1]}), persist=True)
    eng2 = None
    try:
        eng.ddl("COMMENT ON TABLE pt IS 'durable doc'")
        eng2 = MallardEngine(spark, "cmt_persist")
        got = eng2.sql(
            "SELECT comment FROM duckdb_tables() "
            "WHERE table_name = 'pt'"
        ).collect()
        assert [r.comment for r in got] == ["durable doc"]
        eng2.ddl("ALTER TABLE pt RENAME TO pt2")
        got = eng2.sql(
            "SELECT comment FROM duckdb_tables() "
            "WHERE table_name = 'pt2'"
        ).collect()
        assert [r.comment for r in got] == ["durable doc"]
    finally:
        # the rename happened on eng2's catalog — clean up there
        for e, n in ((eng2 or eng, "pt2"), (eng, "pt")):
            try:
                e.drop(n)
            except Exception:
                pass


def test_duckdb_columns_includes_views(eng, duck):
    """DuckDB 1.0's duckdb_columns() lists VIEW columns (ADVICE r11,
    verified live) — side-by-side parity."""
    for run in (eng.execute, duck.execute):
        run("CREATE TABLE vt (id INT, v DOUBLE)")
        run("CREATE VIEW vv AS SELECT id, v * 2 AS dv FROM vt")
    q = (
        "SELECT table_name, column_name FROM duckdb_columns() "
        "WHERE table_name IN ('vt', 'vv') "
        "ORDER BY table_name, column_index"
    )
    assert [tuple(r) for r in eng.sql(q).collect()] == \
        duck.execute(q).fetchall()
    # ...while duckdb_tables() keeps excluding views (also DuckDB)
    q2 = (
        "SELECT table_name FROM duckdb_tables() "
        "WHERE table_name IN ('vt', 'vv')"
    )
    assert [tuple(r) for r in eng.sql(q2).collect()] == \
        duck.execute(q2).fetchall() == [("vt",)]


def test_enum_table_name_inside_literal_ignored(eng):
    """An enum table's name inside a string literal must not pull its
    enum columns into rewrite scope (ADVICE r11: the raw-regex scan
    rewrote ORDER BY/min/max on unrelated same-named columns)."""
    eng.ddl("CREATE TYPE lvl AS ENUM ('lo', 'hi')")
    eng.ddl("CREATE TABLE et (id INT, sev lvl)")
    eng.execute("INSERT INTO et VALUES (1, 'hi'), (2, 'lo')")
    # 'sev' here is a PLAIN VARCHAR column of a DIFFERENT table; the
    # literal 'et' must not make min(sev) take enum positional order
    eng.execute("CREATE TABLE other (sev VARCHAR)")
    eng.execute("INSERT INTO other VALUES ('alpha'), ('hi')")
    got = eng.sql(
        "SELECT min(sev) AS m, 'et' AS tag FROM other"
    ).collect()
    assert got[0].m == "alpha"  # VARCHAR order, not enum position


def test_extended_introspection_relations(eng, duck):
    """Round 12: duckdb_views/schemas/constraints/settings() and
    information_schema.tables/columns — side-by-side where the
    values are engine-independent."""
    for run in (eng.execute, duck.execute):
        run("CREATE TABLE it (id INT PRIMARY KEY, v DOUBLE CHECK (v > 0))")
        run("CREATE VIEW iv AS SELECT id FROM it")
    for q in (
        "SELECT view_name, column_count FROM duckdb_views() "
        "WHERE NOT internal",
        "SELECT schema_name FROM duckdb_schemas() WHERE NOT internal",
        "SELECT table_name, constraint_type, constraint_column_names "
        "FROM duckdb_constraints() "
        "WHERE constraint_type = 'PRIMARY KEY'",
        "SELECT table_name, table_type FROM information_schema.tables "
        "WHERE table_name IN ('it', 'iv') ORDER BY table_name",
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'iv'",
    ):
        mine = [tuple(r) for r in eng.sql(q).collect()]
        want = duck.execute(q).fetchall()
        assert [tuple(map(repr, r)) for r in mine] == \
            [tuple(map(repr, r)) for r in want], (q, mine, want)
    # settings: non-empty relation with DuckDB's column set
    st = eng.sql("SELECT name, value, scope FROM duckdb_settings()")
    assert st.count() > 5
