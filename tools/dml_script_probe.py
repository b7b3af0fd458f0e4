"""State-comparing DML script probe (round 15, VERDICT r14 next #2).

The SELECT-side probe loop (tools/dialect_probe.py) value-compares
single statements; this tool covers the MUTATION surface the same
way: each corpus entry is a complete multi-statement script
(CREATE/INSERT/UPDATE/DELETE/ALTER/transactions/sequences/enums/
constraints) run through BOTH the engine's script path
(``eng.execute`` with the DuckDB-semantics opt-in — the same mode
every wire ticket runs under) and a live DuckDB 1.0 connection, then
the FINAL DATABASE STATE is diffed:

- the set of base tables must match;
- every table's column-name set must match;
- every table's contents must match as a multiset of
  {column: value} rows (order-insensitive, name-sensitive);
- when the script's last statement is a SELECT, its values are
  compared too (same normalization as dialect_probe).

A script DuckDB itself rejects is a CORPUS BUG (unlike the SELECT
corpus, these are curated end-to-end flows) and reports as a gap, so
the corpus can't silently rot. Named NotImplementedError refusals
count as documented answers, not gaps — but the state diff is then
skipped, so prefer corpus entries the engine supports.

Usage:
    python tools/dml_script_probe.py             # run everything
    python tools/dml_script_probe.py --grep conflict
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Each entry: (name, script). Statements are ;-separated; every
# script is self-contained (fresh engine namespace + fresh DuckDB
# connection per script). Keep every statement DuckDB-1.0-legal.
SCRIPTS: list[tuple[str, str]] = [
    ("basic_crud", """
CREATE TABLE a (id INTEGER, v DOUBLE);
INSERT INTO a VALUES (1, 1.5), (2, 2.5), (3, 3.5);
UPDATE a SET v = v * 2 WHERE id = 1;
DELETE FROM a WHERE id = 2
"""),
    ("ctas_insert_select", """
CREATE TABLE a AS SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(id, g);
INSERT INTO a SELECT id + 10, g || '!' FROM a
"""),
    ("insert_by_name_defaults", """
CREATE TABLE a (id INTEGER, g VARCHAR, v DOUBLE DEFAULT 0.5);
INSERT INTO a BY NAME SELECT 'z' AS g, 7 AS id;
INSERT INTO a BY NAME SELECT 8 AS id, 2.5 AS v
"""),
    ("on_conflict_do_update", """
CREATE TABLE a (id INTEGER PRIMARY KEY, v INTEGER);
INSERT INTO a VALUES (1, 10), (2, 20);
INSERT INTO a VALUES (1, 99), (3, 30) ON CONFLICT (id) DO UPDATE SET v = excluded.v
"""),
    ("on_conflict_do_nothing", """
CREATE TABLE a (id INTEGER PRIMARY KEY, v INTEGER);
INSERT INTO a VALUES (1, 10), (2, 20);
INSERT INTO a VALUES (1, 99), (3, 30) ON CONFLICT DO NOTHING
"""),
    ("on_conflict_update_arith", """
CREATE TABLE a (id INTEGER PRIMARY KEY, n INTEGER);
INSERT INTO a VALUES (1, 1), (2, 5);
INSERT INTO a VALUES (1, 7), (4, 4) ON CONFLICT (id) DO UPDATE SET n = a.n + excluded.n
"""),
    ("insert_or_replace", """
CREATE TABLE a (id INTEGER PRIMARY KEY, g VARCHAR);
INSERT INTO a VALUES (1, 'old'), (2, 'keep');
INSERT OR REPLACE INTO a VALUES (1, 'new'), (3, 'add')
"""),
    ("insert_or_ignore", """
CREATE TABLE a (id INTEGER PRIMARY KEY, g VARCHAR);
INSERT INTO a VALUES (1, 'old');
INSERT OR IGNORE INTO a VALUES (1, 'dupe'), (2, 'add')
"""),
    ("update_from_join", """
CREATE TABLE a (id INTEGER, v DOUBLE);
CREATE TABLE b (id INTEGER, v DOUBLE);
INSERT INTO a VALUES (1, 0.0), (2, 0.0), (3, 0.0);
INSERT INTO b VALUES (1, 11.0), (3, 33.0);
UPDATE a SET v = b.v FROM b WHERE a.id = b.id
"""),
    ("delete_using_join", """
CREATE TABLE a (id INTEGER, g VARCHAR);
CREATE TABLE zap (id INTEGER);
INSERT INTO a VALUES (1, 'x'), (2, 'y'), (3, 'z');
INSERT INTO zap VALUES (2), (3);
DELETE FROM a USING zap WHERE a.id = zap.id AND a.g <> 'z'
"""),
    ("tx_rollback_commit", """
CREATE TABLE a (id INTEGER);
INSERT INTO a VALUES (1), (2);
BEGIN;
INSERT INTO a VALUES (3);
ROLLBACK;
BEGIN;
INSERT INTO a VALUES (4);
COMMIT
"""),
    ("tx_multi_table", """
CREATE TABLE a (id INTEGER);
CREATE TABLE b (id INTEGER);
BEGIN;
INSERT INTO a VALUES (1);
INSERT INTO b VALUES (10);
COMMIT;
BEGIN;
INSERT INTO a VALUES (2);
INSERT INTO b VALUES (20);
ROLLBACK
"""),
    ("alter_add_column_default", """
CREATE TABLE a (id INTEGER);
INSERT INTO a VALUES (1), (2);
ALTER TABLE a ADD COLUMN w INTEGER DEFAULT 7;
INSERT INTO a VALUES (3, 9)
"""),
    ("alter_drop_rename", """
CREATE TABLE a (id INTEGER, junk VARCHAR, v DOUBLE);
INSERT INTO a VALUES (1, 'j', 1.5);
ALTER TABLE a DROP COLUMN junk;
ALTER TABLE a RENAME COLUMN v TO val;
INSERT INTO a VALUES (2, 2.5);
UPDATE a SET val = val + 1 WHERE id = 1
"""),
    ("alter_rename_table", """
CREATE TABLE old_name (id INTEGER);
INSERT INTO old_name VALUES (1);
ALTER TABLE old_name RENAME TO new_name;
INSERT INTO new_name VALUES (2)
"""),
    ("column_defaults", """
CREATE TABLE a (id INTEGER, tag VARCHAR DEFAULT 'x', n INTEGER DEFAULT 3);
INSERT INTO a (id) VALUES (1), (2);
INSERT INTO a (id, tag) VALUES (3, 'y')
"""),
    ("sequence_default", """
CREATE SEQUENCE seq1 START 5;
CREATE TABLE a (id INTEGER DEFAULT nextval('seq1'), g VARCHAR);
INSERT INTO a (g) VALUES ('p'), ('q');
INSERT INTO a VALUES (100, 'explicit');
INSERT INTO a (g) VALUES ('r')
"""),
    ("enum_type", """
CREATE TYPE mood15 AS ENUM ('sad', 'ok', 'happy');
CREATE TABLE a (id INTEGER, m mood15);
INSERT INTO a VALUES (1, 'ok'), (2, 'happy');
UPDATE a SET m = 'sad' WHERE id = 1
"""),
    ("generated_column", """
CREATE TABLE a (x INTEGER, y INTEGER GENERATED ALWAYS AS (x * 2));
INSERT INTO a (x) VALUES (1), (3);
UPDATE a SET x = 10 WHERE x = 1
"""),
    ("truncate_refill", """
CREATE TABLE a (id INTEGER, g VARCHAR);
INSERT INTO a VALUES (1, 'x'), (2, 'y');
TRUNCATE a;
INSERT INTO a VALUES (9, 'fresh')
"""),
    ("create_or_replace", """
CREATE TABLE a (id INTEGER);
INSERT INTO a VALUES (1);
CREATE OR REPLACE TABLE a (g VARCHAR, n INTEGER);
INSERT INTO a VALUES ('x', 1)
"""),
    ("drop_recreate", """
CREATE TABLE a (id INTEGER);
INSERT INTO a VALUES (1), (2);
DROP TABLE a;
CREATE TABLE a (g VARCHAR);
INSERT INTO a VALUES ('fresh')
"""),
    ("delete_in_subquery", """
CREATE TABLE a (id INTEGER, g VARCHAR);
CREATE TABLE b (id INTEGER);
INSERT INTO a VALUES (1, 'x'), (2, 'y'), (3, 'z');
INSERT INTO b VALUES (1), (3);
DELETE FROM a WHERE id IN (SELECT id FROM b)
"""),
    ("update_scalar_subquery", """
CREATE TABLE a (id INTEGER, v DOUBLE);
CREATE TABLE b (id INTEGER, v DOUBLE);
INSERT INTO a VALUES (1, 0.0), (2, 0.0);
INSERT INTO b VALUES (1, 5.0), (2, 9.0);
UPDATE a SET v = (SELECT max(v) FROM b) WHERE id = 1
"""),
    ("update_case_intdiv", """
CREATE TABLE a (id INTEGER, n INTEGER);
INSERT INTO a VALUES (1, 10), (2, 11), (3, 12), (4, 13);
UPDATE a SET n = CASE WHEN id // 2 * 2 = id THEN n + 100 ELSE n END;
DELETE FROM a WHERE n // 10 = 1
"""),
    ("list_column_dml", """
CREATE TABLE a (id INTEGER, arr INTEGER[]);
INSERT INTO a VALUES (1, [1, 2]), (2, [3]), (3, [4, 5, 6]);
UPDATE a SET arr = list_append(arr, 9) WHERE id = 1;
DELETE FROM a WHERE len(arr) = 1
"""),
    ("struct_column_dml", """
CREATE TABLE a (id INTEGER, st STRUCT(x INTEGER, y VARCHAR));
INSERT INTO a VALUES (1, {'x': 1, 'y': 'a'}), (2, {'x': 2, 'y': 'b'});
UPDATE a SET st = {'x': 20, 'y': 'bb'} WHERE id = 2
"""),
    ("date_interval_dml", """
CREATE TABLE a (id INTEGER, d DATE);
INSERT INTO a VALUES (1, DATE '2024-01-01'), (2, DATE '2024-06-15');
UPDATE a SET d = d + INTERVAL 3 DAY WHERE id = 1;
DELETE FROM a WHERE d > DATE '2024-06-01'
"""),
    ("fk_parent_child", """
CREATE TABLE p (id INTEGER PRIMARY KEY);
CREATE TABLE c (id INTEGER, pid INTEGER REFERENCES p(id));
INSERT INTO p VALUES (1), (2);
INSERT INTO c VALUES (10, 1), (11, 2), (12, 1)
"""),
    ("view_over_mutations", """
CREATE TABLE a (id INTEGER, v DOUBLE);
CREATE VIEW av AS SELECT id, v * 10 AS v10 FROM a;
INSERT INTO a VALUES (1, 1.5), (2, 2.5);
UPDATE a SET v = 9.0 WHERE id = 2;
SELECT id, v10 FROM av ORDER BY id
"""),
    ("macro_in_dml", """
CREATE MACRO add2_15(x) AS x + 2;
CREATE TABLE a (id INTEGER, n INTEGER);
INSERT INTO a VALUES (1, 10), (2, 20);
UPDATE a SET n = add2_15(n) WHERE id = 1
"""),
    ("update_swap_columns", """
CREATE TABLE a (x INTEGER, y INTEGER);
INSERT INTO a VALUES (1, 100), (2, 200);
UPDATE a SET x = y, y = x
"""),
    ("update_string_funcs", """
CREATE TABLE a (id INTEGER, g VARCHAR);
INSERT INTO a VALUES (1, 'hello'), (2, 'world');
UPDATE a SET g = upper(substr(g, 0, 4)) WHERE id = 1;
UPDATE a SET g = trim(g, 'd') WHERE id = 2
"""),
    ("insert_select_order_limit", """
CREATE TABLE src (id INTEGER, v DOUBLE);
INSERT INTO src VALUES (1, 9.0), (2, 1.0), (3, 5.0), (4, 7.0);
CREATE TABLE a (id INTEGER, v DOUBLE);
INSERT INTO a SELECT id, v FROM src ORDER BY v DESC LIMIT 2
"""),
    ("delete_all_recount", """
CREATE TABLE a (id INTEGER);
INSERT INTO a VALUES (1), (2), (3);
DELETE FROM a;
INSERT INTO a VALUES (7);
SELECT count(*) AS c FROM a
"""),
    ("insert_unnest_select", """
CREATE TABLE a (n INTEGER);
INSERT INTO a SELECT unnest([1, 2, 3]);
INSERT INTO a SELECT unnest(range(10, 13))
"""),
    ("on_conflict_where", """
CREATE TABLE a (id INTEGER PRIMARY KEY, n INTEGER);
INSERT INTO a VALUES (1, 5), (2, 50);
INSERT INTO a VALUES (1, 7), (2, 7) ON CONFLICT (id) DO UPDATE SET n = excluded.n WHERE a.n < 10
"""),
    ("returning_state", """
CREATE TABLE a (id INTEGER, v DOUBLE);
INSERT INTO a VALUES (1, 1.0), (2, 2.0) RETURNING id, v;
UPDATE a SET v = v + 0.5 RETURNING id;
DELETE FROM a WHERE id = 1 RETURNING *;
SELECT id, v FROM a ORDER BY id
"""),
    ("multi_table_flow", """
CREATE TABLE orders15 (oid INTEGER, cust INTEGER, amt DOUBLE);
CREATE TABLE custs15 (cust INTEGER, name VARCHAR);
INSERT INTO custs15 VALUES (1, 'ann'), (2, 'bob'), (3, 'cy');
INSERT INTO orders15 VALUES (10, 1, 5.0), (11, 2, 7.5), (12, 2, 2.5), (13, 3, 1.0);
DELETE FROM orders15 USING custs15 WHERE orders15.cust = custs15.cust AND custs15.name = 'cy';
UPDATE orders15 SET amt = amt * 2 FROM custs15 WHERE orders15.cust = custs15.cust AND custs15.name = 'bob';
SELECT c.name, sum(o.amt) AS total FROM orders15 o JOIN custs15 c ON o.cust = c.cust GROUP BY c.name ORDER BY c.name
"""),
    ("quoted_identifiers", """
CREATE TABLE "SelTbl" ("GroupCol" VARCHAR, "n" INTEGER);
INSERT INTO "SelTbl" VALUES ('x', 1), ('y', 2);
UPDATE "SelTbl" SET "n" = "n" + 10 WHERE "GroupCol" = 'x';
SELECT "GroupCol", "n" FROM "SelTbl" ORDER BY "n"
"""),
    # non-identifier-shaped names: engine answers a NAMED refusal
    # (documented workaround) — counts OK, state diff skipped
    ("quoted_identifiers_spaces", """
CREATE TABLE "Sel Tbl" ("Group Col" VARCHAR);
INSERT INTO "Sel Tbl" VALUES ('x')
"""),
    ("check_constraint_rows", """
CREATE TABLE a (id INTEGER, n INTEGER CHECK (n > 0));
INSERT INTO a VALUES (1, 5), (2, 10);
UPDATE a SET n = n - 4 WHERE id = 1
"""),
    ("insert_from_union_by_name", """
CREATE TABLE a (id INTEGER, g VARCHAR);
INSERT INTO a SELECT * FROM (SELECT 1 AS id, 'x' AS g UNION ALL BY NAME SELECT 'y' AS g, 2 AS id);
UPDATE a SET g = g || '!' WHERE id = 2
"""),
    ("prepared_dml", """
CREATE TABLE a (id INTEGER, g VARCHAR);
PREPARE ins15 AS INSERT INTO a VALUES ($1, $2);
EXECUTE ins15(1, 'x');
EXECUTE ins15(2, 'y');
DEALLOCATE ins15;
UPDATE a SET g = g || '!' WHERE id = 2
"""),
    ("ctas_dialect_fns", """
CREATE TABLE a AS SELECT range AS id, list_append([range], range + 1) AS arr FROM range(3);
UPDATE a SET arr = array_pop_front(arr) WHERE id = 0
"""),
    ("update_from_self_alias", """
CREATE TABLE a (id INTEGER, v DOUBLE);
INSERT INTO a VALUES (1, 1.0), (2, 2.0);
UPDATE a SET v = b.v * 10 FROM a b WHERE a.id = b.id
"""),
    ("insert_select_join", """
CREATE TABLE a (id INTEGER, v DOUBLE);
CREATE TABLE b (id INTEGER, g VARCHAR);
CREATE TABLE c (id INTEGER, g VARCHAR);
INSERT INTO a VALUES (1, 5.0), (2, 6.0), (3, 7.0);
INSERT INTO b VALUES (1, 'x'), (3, 'z');
INSERT INTO c SELECT a.id, b.g FROM a JOIN b USING (id)
"""),
    ("delete_where_exists", """
CREATE TABLE a (id INTEGER);
CREATE TABLE b (id INTEGER);
INSERT INTO a VALUES (1), (2), (3);
INSERT INTO b VALUES (2);
DELETE FROM a WHERE EXISTS (SELECT 1 FROM b WHERE b.id = a.id)
"""),
    ("tx_ddl_rollback", """
CREATE TABLE a (id INTEGER);
INSERT INTO a VALUES (1);
BEGIN;
CREATE TABLE b (id INTEGER);
INSERT INTO b VALUES (9);
ROLLBACK;
INSERT INTO a VALUES (2)
"""),
    ("wide_types", """
CREATE TABLE a (d DECIMAL(12,3), h HUGEINT, u UUID, bl BLOB, ts TIMESTAMP);
INSERT INTO a VALUES (1.125, 170141183460469231731687303715, '550e8400-e29b-41d4-a716-446655440000', 'ab'::BLOB, TIMESTAMP '2024-01-01 05:06:07');
UPDATE a SET d = d * 2
"""),
    ("insert_default_keyword", """
CREATE TABLE a (id INTEGER, tag VARCHAR DEFAULT 'x', n INTEGER DEFAULT 3);
INSERT INTO a VALUES (1, DEFAULT, 5), (2, 'y', DEFAULT);
UPDATE a SET tag = DEFAULT WHERE id = 2
"""),
    ("on_conflict_excluded_expr", """
CREATE TABLE a (id INTEGER PRIMARY KEY, n INTEGER);
INSERT INTO a VALUES (1, 10), (2, 20);
INSERT INTO a VALUES (1, 5), (3, 30) ON CONFLICT (id) DO UPDATE SET n = excluded.n * 2 + a.n
"""),
    ("ctas_window", """
CREATE TABLE src (id INTEGER, g VARCHAR, v DOUBLE);
INSERT INTO src VALUES (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0);
CREATE TABLE a AS SELECT id, g, sum(v) OVER (PARTITION BY g ORDER BY id) AS rt FROM src
"""),
    ("comments_in_script", """
CREATE TABLE a (id INTEGER); -- trailing comment
/* block
   comment */
INSERT INTO a VALUES (1), (2); -- note: 'quoted ; semicolon'
DELETE FROM a /* inline */ WHERE id = 1
"""),
    ("ctas_pivot", """
CREATE TABLE src (g VARCHAR, k VARCHAR, v INTEGER);
INSERT INTO src VALUES ('r1', 'a', 1), ('r1', 'b', 2), ('r2', 'a', 3);
CREATE TABLE a AS PIVOT src ON k USING sum(v) GROUP BY g
"""),
    ("comment_led_statements", """
-- schema
CREATE TABLE a (id INTEGER, v INTEGER);
/* seed */ INSERT INTO a VALUES (1, 10), (2, 20), (3, 30);
-- one unit of work
BEGIN;
UPDATE a SET v = v + 1 WHERE id = 1;
/* keep it */ COMMIT;
-- undo a delete
BEGIN TRANSACTION;
DELETE FROM a WHERE id = 2;
/* changed our mind */ ROLLBACK;
-- read back
SELECT id, v FROM a ORDER BY id
"""),
]


def _norm2(x, norm):
    """dialect_probe._norm plus the cross-engine TYPE-SHAPE folds the
    state diff needs: DuckDB hands HUGEINT as a python int where the
    engine's decimal(38,0) mapping hands an integral Decimal, and
    DuckDB's UUID type arrives as uuid.UUID where the engine maps
    UUID → string (both documented type mappings — the VALUES are
    what the diff checks)."""
    import decimal
    import uuid

    if isinstance(x, uuid.UUID):
        return str(x)
    if isinstance(x, decimal.Decimal) and x == x.to_integral_value() and (
        x.adjusted() >= 15
    ):
        # large integral decimals (HUGEINT range) compare as ints —
        # small ones keep _norm's float rounding so DECIMAL↔DOUBLE
        # columns still compare
        return int(x)
    if isinstance(x, int) and not isinstance(x, bool) and abs(x) >= 10**15:
        return int(x)
    return norm(x)


def _norm_row(row_dict, norm):
    return repr(
        sorted((k.lower(), repr(_norm2(v, norm))) for k, v in row_dict.items())
    )


def run_scripts(spark, grep: str | None = None, scripts=None):
    """Run every script on BOTH engines; return (gaps, count)."""
    import uuid

    import duckdb

    from dialect_probe import _norm
    from mallard_spark.engine import MallardEngine
    from mallard_spark.sqllex import strip_comments

    gaps = []
    n = 0
    for name, script in scripts or SCRIPTS:
        if grep and grep.lower() not in name.lower():
            continue
        n += 1
        script = script.strip()
        con = duckdb.connect()
        duck_fail = None
        try:
            con.execute(script)
        except Exception as e:
            duck_fail = f"{type(e).__name__}: {str(e)[:90]}"
        if duck_fail:
            # curated corpus: DuckDB rejecting a script is a corpus bug
            gaps.append((name, f"DUCK-REJECT (fix the script): {duck_fail}"))
            con.close()
            continue
        eng = MallardEngine(spark, f"dmlp_{uuid.uuid4().hex[:8]}")
        # same mode every wire ticket runs under — scripts are DuckDB
        # SQL by contract
        eng.duckdb_semantics = True
        final_rows = None
        try:
            r = eng.execute(script)
            if hasattr(r, "collect"):
                final_rows = r.collect()
            status = None
        except NotImplementedError as e:
            status = f"REFUSED (ok): {str(e)[:60]}"
        except Exception as e:
            status = f"RAW {type(e).__name__}: {str(e)[:120]}"
        if status and status.startswith("RAW"):
            gaps.append((name, status))
            con.close()
            continue
        if status:  # named refusal — documented answer, no state diff
            con.close()
            continue
        # --- final-state diff ---
        duck_tables = {
            r[0].lower()
            for r in con.execute(
                "SELECT table_name FROM information_schema.tables "
                "WHERE table_type = 'BASE TABLE'"
            ).fetchall()
        }
        # views are diffed by CONTENT below but excluded from the
        # base-table set (DuckDB's information_schema separates them;
        # engine.list_tables mirrors SHOW TABLES, which includes them)
        eng_views = {v.lower() for v in eng._view_names()}
        eng_tables = {t.lower() for t in eng.list_tables()} - eng_views
        duck_views = {
            r[0].lower()
            for r in con.execute(
                "SELECT table_name FROM information_schema.tables "
                "WHERE table_type = 'VIEW'"
            ).fetchall()
        }
        if duck_views != eng_views:
            gaps.append((
                name,
                f"VIEWSET engine={sorted(eng_views)} "
                f"duckdb={sorted(duck_views)}",
            ))
            con.close()
            continue
        if duck_tables != eng_tables:
            gaps.append((
                name,
                f"TABLESET engine={sorted(eng_tables)} "
                f"duckdb={sorted(duck_tables)}",
            ))
            con.close()
            continue
        for tbl in sorted(duck_tables | duck_views):
            q = tbl if tbl.isidentifier() else f'"{tbl}"'
            dcur = con.execute(f"SELECT * FROM {q}")
            dcols = [d[0] for d in dcur.description]
            drows = dcur.fetchall()
            erows = eng.sql(f"SELECT * FROM {q}").collect()
            ecols = erows[0].__fields__ if erows else [
                f.name for f in eng.table(tbl).schema.fields
            ]
            if sorted(c.lower() for c in ecols) != sorted(
                c.lower() for c in dcols
            ):
                gaps.append((
                    name,
                    f"COLUMNS {tbl}: engine={sorted(ecols)} "
                    f"duckdb={sorted(dcols)}",
                ))
                continue
            got = sorted(
                _norm_row(r.asDict(recursive=True), _norm) for r in erows
            )
            want = sorted(
                _norm_row(dict(zip(dcols, r)), _norm) for r in drows
            )
            if got != want:
                gaps.append((
                    name,
                    f"STATE {tbl}: engine={got[:2]} duckdb={want[:2]}",
                ))
        # --- final SELECT values (same multiset compare as the
        # SELECT corpus) ---
        last = [s for s in eng.split_statements(script) if s.strip()][-1]
        if final_rows is not None and strip_comments(
            last
        ).lstrip().upper().startswith(("SELECT", "WITH")):
            want = con.execute(last).fetchall()
            got_n = sorted(
                repr(sorted((_norm(v) for v in tuple(r)), key=repr))
                for r in final_rows
            )
            want_n = sorted(
                repr(sorted((_norm(v) for v in w), key=repr)) for w in want
            )
            if got_n != want_n:
                gaps.append((
                    name, f"FINAL-SELECT engine={got_n[:3]} duckdb={want_n[:3]}"
                ))
        con.close()
    return gaps, n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--grep", default=None)
    args = ap.parse_args()

    from mallard_spark.session import get_spark

    spark = get_spark(app_name="dml_script_probe", shuffle_partitions=4)
    gaps, n = run_scripts(spark, grep=args.grep)
    for name, status in gaps:
        print(f"GAP [{name}]\n     => {status}")
    print(f"{len(gaps)} gaps / {n} scripts")
    return 1 if gaps else 0


if __name__ == "__main__":
    raise SystemExit(main())
