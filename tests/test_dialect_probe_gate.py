"""The 193-statement DuckDB-dialect probe corpus as a standing
regression gate: every statement runs on BOTH engines and (for
SELECTs) the VALUE MULTISETS must match — the check class that caught
the round-12 mixed `UNION BY NAME` wrong-answer. The corpus lives in
tools/dialect_probe.py (also runnable standalone); a new probe idea
belongs there, and a non-empty gap list here is the next batch of
dialect work."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)


@pytest.fixture(scope="module")
def probe_fixtures(spark):
    import uuid

    from dialect_probe import build_fixtures

    return build_fixtures(spark, f"t_probe_{uuid.uuid4().hex[:8]}")


@pytest.mark.slow
def test_probe_corpus_no_gaps(probe_fixtures):
    from dialect_probe import run_corpus

    eng, con = probe_fixtures
    gaps, n = run_corpus(eng, con)
    assert n >= 190  # the corpus only ever grows
    assert gaps == [], "\n".join(f"{s} => {g}" for s, g in gaps)


def test_wire_probe_corpus_no_gaps(probe_fixtures):
    """Round 14: the WIRE corpus — shared-name statements that are
    also valid Spark SQL — must answer DUCKDB values through
    eng.sql(duckdb_semantics=True), the mode every Flight ticket
    runs under."""
    from dialect_probe import WIRE_CORPUS, run_corpus

    eng, con = probe_fixtures
    gaps, n = run_corpus(eng, con, corpus=WIRE_CORPUS, wire=True)
    assert n >= 20
    assert gaps == [], "\n".join(f"{s} => {g}" for s, g in gaps)


@pytest.mark.slow
def test_dml_script_probe_no_gaps(spark):
    """Round 15 (VERDICT r14 next #2): the STATE-comparing DML script
    corpus — multi-statement CREATE/INSERT/UPDATE/DELETE/ALTER/tx
    flows run through both the engine script path and a live DuckDB,
    final table/view contents diffed. The corpus found five real gaps
    on its first run (len() on lists in DML predicates, macros in DML
    fragments, DuckDB-semantics fragments under the local opt-in,
    late-binding views, case-insensitive name resolution)."""
    from dml_script_probe import run_scripts

    gaps, n = run_scripts(spark)
    assert n >= 40  # the corpus only ever grows
    assert gaps == [], "\n".join(f"{s} => {g}" for s, g in gaps)


def _corpus_lines(corpus: str) -> list[str]:
    """The statements of a probe corpus, parsed like ``run_corpus``."""
    lines = (x.strip() for x in corpus.strip().splitlines())
    return [
        x.removesuffix("-- novalue").strip()
        for x in lines if x and not x.startswith("--")
    ]


def _record_routes(eng) -> list[str]:
    """Wrap ``eng``'s statement handlers and its query path; the list
    returned collects the handler that answered each outermost
    statement (or raised in it). A handler that answers None declined
    the statement's form and is not recorded."""
    from mallard_spark.engine import MallardEngine

    routes: list[str] = []
    depth = [0]

    def wrap(name: str) -> None:
        fn = getattr(eng, name)

        def recorded(*a, **kw):
            depth[0] += 1
            try:
                out = fn(*a, **kw)
            except Exception:
                if depth[0] == 1:
                    routes.append(name)
                raise
            finally:
                depth[0] -= 1
            if depth[0] == 0 and out is not None:
                routes.append(name)
            return out

        setattr(eng, name, recorded)

    for name in {*MallardEngine._HANDLERS.values(), "_query"}:
        wrap(name)
    return routes


def _route(routes: list[str], call) -> tuple[str | None, bool]:
    """The handler ``call`` reached, and whether it raised."""
    routes.clear()
    try:
        call()
    except Exception:
        return (routes[0] if routes else None), True
    return (routes[0] if routes else None), False


def collect_routes(spark) -> dict:
    """The handler every statement of the dialect probe corpus, the
    WIRE corpus and the DML scripts reaches, run in corpus order the
    way the gates run them (no result is collected)."""
    import uuid

    from dialect_probe import CORPUS, WIRE_CORPUS, build_fixtures
    from dml_script_probe import SCRIPTS
    from mallard_spark.engine import MallardEngine

    eng, _con = build_fixtures(spark, f"t_routes_{uuid.uuid4().hex[:8]}")
    routes = _record_routes(eng)
    out = {
        "corpus": [
            (s, _route(routes, lambda: eng.execute(s))[0])
            for s in _corpus_lines(CORPUS)
        ],
        "wire": [
            (s, _route(routes, lambda: eng.sql(s, duckdb_semantics=True))[0])
            for s in _corpus_lines(WIRE_CORPUS)
        ],
        "scripts": {},
    }
    for name, script in SCRIPTS:
        e = MallardEngine(spark, f"t_routes_{uuid.uuid4().hex[:8]}")
        e.duckdb_semantics = True
        routes = _record_routes(e)
        labels = out["scripts"][name] = []
        for stmt in e.split_statements(script.strip()):
            label, failed = _route(routes, lambda: e.execute(stmt))
            labels.append(label)
            if failed:  # the script stops here, as in the gate
                break
    return out


# The handler each probe statement reaches. The table was recorded on
# the commit before the statement classifier, by marking each routing
# branch of its ladders, and then checked against the classifier's
# routes: they agree on every statement except the comment-led ones
# (the "/* ... */" corpus lines and the comment_led_statements
# script), which reached "_query" or stopped at a parse error before.
# Corpus statements not listed reach "_query"; every WIRE statement
# does.
_CORPUS_ROUTES = {
    'PREPARE pq AS SELECT count(*) AS c FROM t WHERE v > $1': '_prepare_execute',
    'EXECUTE pq(15)': '_prepare_execute',
    'DEALLOCATE pq': '_prepare_execute',
    'CREATE TEMP TABLE probe_tt AS SELECT 1 AS one': 'ddl',
    'CREATE TABLE probe_t3 AS SELECT id FROM t WITH NO DATA': 'ddl',
    'DROP TABLE probe_t3': 'ddl',
    'DROP TABLE probe_tt': 'ddl',
    "INSERT INTO dst BY NAME SELECT 'c' AS g, 3 AS id": 'dml',
    'VACUUM': '_tx_statement',
    'ANALYZE': '_tx_statement',
    'CREATE INDEX probe_idx ON dst(id)': 'ddl',
    'DROP INDEX probe_idx': 'ddl',
    'DESCRIBE SELECT id, g FROM t': '_describe_statement',
    'DESCRIBE SELECT 1 AS one': '_describe_statement',
    '/* list */ SHOW TABLES': '_show_tables',
    '/* pragma */ PRAGMA version': '_pragma_statement',
    '/* profile */ SUMMARIZE t': '_summarize_statement',
}
# one label per statement, in script order
_SCRIPT_ROUTES = {
    'basic_crud': 'ddl dml dml dml',
    'ctas_insert_select': 'ddl dml',
    'insert_by_name_defaults': 'ddl dml dml',
    'on_conflict_do_update': 'ddl dml dml',
    'on_conflict_do_nothing': 'ddl dml dml',
    'on_conflict_update_arith': 'ddl dml dml',
    'insert_or_replace': 'ddl dml dml',
    'insert_or_ignore': 'ddl dml dml',
    'update_from_join': 'ddl ddl dml dml dml',
    'delete_using_join': 'ddl ddl dml dml dml',
    'tx_rollback_commit': 'ddl dml _tx_statement dml _tx_statement _tx_statement dml _tx_statement',
    'tx_multi_table': 'ddl ddl _tx_statement dml dml _tx_statement _tx_statement dml dml _tx_statement',
    'alter_add_column_default': 'ddl dml ddl dml',
    'alter_drop_rename': 'ddl dml ddl ddl dml dml',
    'alter_rename_table': 'ddl dml ddl dml',
    'column_defaults': 'ddl dml dml',
    'sequence_default': 'ddl ddl dml dml dml',
    'enum_type': 'ddl ddl dml dml',
    'generated_column': 'ddl dml dml',
    'truncate_refill': 'ddl dml ddl dml',
    'create_or_replace': 'ddl dml ddl dml',
    'drop_recreate': 'ddl dml ddl ddl dml',
    'delete_in_subquery': 'ddl ddl dml dml dml',
    'update_scalar_subquery': 'ddl ddl dml dml dml',
    'update_case_intdiv': 'ddl dml dml dml',
    'list_column_dml': 'ddl dml dml dml',
    'struct_column_dml': 'ddl dml dml',
    'date_interval_dml': 'ddl dml dml dml',
    'fk_parent_child': 'ddl ddl dml dml',
    'view_over_mutations': 'ddl ddl dml dml _query',
    'macro_in_dml': 'ddl ddl dml dml',
    'update_swap_columns': 'ddl dml dml',
    'update_string_funcs': 'ddl dml dml dml',
    'insert_select_order_limit': 'ddl dml ddl dml',
    'delete_all_recount': 'ddl dml dml dml _query',
    'insert_unnest_select': 'ddl dml dml',
    'on_conflict_where': 'ddl dml dml',
    'returning_state': 'ddl dml dml dml _query',
    'multi_table_flow': 'ddl ddl dml dml dml dml _query',
    'quoted_identifiers': 'ddl dml dml _query',
    'quoted_identifiers_spaces': 'ddl',
    'check_constraint_rows': 'ddl dml dml',
    'insert_from_union_by_name': 'ddl dml',
    'prepared_dml': 'ddl _prepare_execute _prepare_execute _prepare_execute _prepare_execute dml',
    'ctas_dialect_fns': 'ddl dml',
    'update_from_self_alias': 'ddl dml dml',
    'insert_select_join': 'ddl ddl ddl dml dml dml',
    'delete_where_exists': 'ddl ddl dml dml dml',
    'tx_ddl_rollback': 'ddl dml _tx_statement ddl dml _tx_statement dml',
    'wide_types': 'ddl dml dml',
    'insert_default_keyword': 'ddl dml',
    'on_conflict_excluded_expr': 'ddl dml dml',
    'ctas_window': 'ddl dml ddl',
    'comments_in_script': 'ddl dml dml',
    'ctas_pivot': 'ddl dml ddl',
    'comment_led_statements': 'ddl dml _tx_statement dml _tx_statement _tx_statement dml _tx_statement _query',
}


@pytest.mark.slow
def test_probe_statements_route_as_recorded(spark):
    """Every statement of the probe corpora and the DML scripts reaches
    the handler recorded above: one classifier routes execute(), sql()
    and scripts, and only comment-led statements changed route."""
    got = collect_routes(spark)
    want = [(s, _CORPUS_ROUTES.get(s, "_query")) for s, _ in got["corpus"]]
    assert got["corpus"] == want
    assert {label for _, label in got["wire"]} == {"_query"}
    assert {
        name: " ".join(labels) for name, labels in got["scripts"].items()
    } == _SCRIPT_ROUTES
