"""Generic ``MERGE INTO`` for the engine's mutation-SQL surface.

The reference passes mutation tickets verbatim to DuckDB
(``flight_server.py:342-352``), so a client's standard-SQL MERGE —
DuckDB's standard upsert verb since 1.3 — must execute here too.
Spark has no MERGE outside Delta; the statement is rewritten into ONE
full-outer-join plan over target and source, generalizing the
anti+semi+union machinery the SCD2 operator (``operators/merge.py``)
proves to arbitrary ``WHEN`` clause lists.

Semantics (SQL:2008 MERGE, DuckDB 1.3 extensions):

- ``WHEN MATCHED [AND g] THEN UPDATE SET ... | UPDATE | DELETE |
  DO NOTHING`` — first clause (statement order) whose guard holds
  applies; a matched target row with no firing clause survives
  unchanged exactly once.
- ``WHEN NOT MATCHED [BY TARGET] [AND g] THEN INSERT [(cols)]
  VALUES (...) | INSERT * | INSERT | DO NOTHING``.
- ``WHEN NOT MATCHED BY SOURCE [AND g] THEN UPDATE SET ... |
  DELETE | DO NOTHING``.
- ``USING (k1, k2)`` key-list join form as well as ``ON cond``.
- The standard's runtime error when two source rows both fire a
  matched action on one target row IS enforced (Delta does the same);
  disable the check with ``spark.mallard.mergeDuplicateCheck=false``.
- ``RETURNING`` gets a named refusal.

Scale design:

- ONE full-outer join on the ON condition — one shuffle; Catalyst
  extracts the equi-keys for a sort-merge plan and AQE broadcasts a
  small source. No triple re-scan of the target (the naive
  inner+anti+anti shape).
- All clause logic (guards, SET expressions, INSERT values) compiles
  to CASE cascades inside the join's projection — whole-stage
  codegen, zero Python in the row path.
- The per-target-row window (needed only when matched clauses are
  guarded or absent, to keep a multi-matched row's single unchanged
  survivor) partitions on a synthetic id projected UNDER the join;
  non-matched rows get unique surrogate ids so the null-key partition
  can never become a skew hotspot.
- The duplicate-fire check is a bounded extra job (groupBy target-id
  → count>1 → limit 1) run only when matched clauses exist.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mallard_spark.sqllex import find_kw, match_bracket, split_top_level

if TYPE_CHECKING:
    from mallard_spark.engine import MallardEngine

_T_PRESENT = "__mallard_merge_t"
_S_PRESENT = "__mallard_merge_s"
_T_ID = "__mallard_merge_tid"

_IDENT = r"[A-Za-z_]\w*"


@dataclass
class _Clause:
    klass: str  # "matched" | "not_matched" | "by_source"
    guard: str | None
    action: str  # "update" | "delete" | "insert" | "nothing"
    sets: str | None = None  # raw SET list; None on abbreviated UPDATE
    ins_cols: list[str] | None = None
    ins_vals: list[str] | None = None  # None → source row by name/position


@dataclass
class _Merge:
    target: str
    target_alias: str
    source_text: str  # table name or subquery text (no parens)
    source_is_query: bool
    source_alias: str | None
    on_cond: str | None
    using_cols: list[str] | None
    clauses: list[_Clause]


def _kw_positions(sql: str, words: tuple[str, ...]) -> list[tuple[int, str]]:
    """All depth-0 code occurrences of ``words``, in order."""
    hits: list[tuple[int, str]] = []
    for w in words:
        p = 0
        while True:
            k = find_kw(sql, w, at_depth=0, start=p)
            if k < 0:
                break
            hits.append((k, w))
            p = k + 1
    hits.sort()
    return hits


def _outside_case(sql: str, word: str) -> list[int]:
    """Positions of the depth-0 ``word``s outside any ``CASE .. END``
    — the WHENs that start MERGE clauses and the THEN that ends a
    clause head, not those of a CASE inside a guard or action."""
    case_depth = 0
    out = []
    for pos, w in _kw_positions(sql, ("CASE", "END", word)):
        if w == "CASE":
            case_depth += 1
        elif w == "END":
            case_depth = max(0, case_depth - 1)
        elif case_depth == 0:
            out.append(pos)
    return out


def _split_guard_then(seg: str) -> tuple[str | None, str]:
    """Split one clause body ``[AND guard] THEN action`` at the
    clause-level THEN (CASE..END-aware on both sides)."""
    then_at = (_outside_case(seg, "THEN") or [-1])[0]
    if then_at < 0:
        raise ValueError(f"MERGE clause missing THEN: {seg[:80]!r}")
    head, action = seg[:then_at].strip(), seg[then_at + 4 :].strip()
    gm = re.match(r"^AND\b(?P<g>.*)$", head, re.IGNORECASE | re.DOTALL)
    if head and not gm:
        raise ValueError(f"malformed MERGE clause head: {head[:80]!r}")
    return (gm.group("g").strip() if gm else None), action


def _parse_action(text: str, klass: str) -> _Clause:
    up = text.upper()
    if re.match(r"^DO\s+NOTHING\s*$", up):
        return _Clause(klass, None, "nothing")
    if klass in ("matched", "by_source"):
        if re.match(r"^DELETE\s*$", up):
            return _Clause(klass, None, "delete")
        um = re.match(r"^UPDATE(?:\s+SET\b(?P<sets>.*))?$", text,
                      re.IGNORECASE | re.DOTALL)
        if um:
            sets = um.group("sets")
            if sets is not None and not sets.strip():
                raise ValueError("MERGE: empty SET list")
            return _Clause(klass, None, "update",
                           sets=sets.strip() if sets else None)
        raise ValueError(
            f"unsupported MERGE {klass.replace('_', ' ')} action "
            f"(UPDATE [SET ...] / DELETE / DO NOTHING): {text[:80]!r}"
        )
    im = re.match(
        rf"^INSERT(?:\s*\(\s*(?P<cols>{_IDENT}(?:\s*,\s*{_IDENT})*)\s*\))?"
        r"(?:\s+VALUES\s*\((?P<vals>.*)\)\s*|\s*\*\s*|\s*)$",
        text, re.IGNORECASE | re.DOTALL,
    )
    if not im:
        raise ValueError(
            f"unsupported MERGE insert action (INSERT [(cols)] "
            f"VALUES (...) / INSERT * / INSERT / DO NOTHING): {text[:80]!r}"
        )
    cols = (
        [c.strip() for c in im.group("cols").split(",")]
        if im.group("cols") else None
    )
    vals = (
        split_top_level(im.group("vals"))
        if im.group("vals") is not None else None
    )
    if cols is not None and vals is None:
        raise ValueError("MERGE: INSERT (cols) requires VALUES (...)")
    if cols is not None and len(cols) != len(vals):
        raise ValueError(
            f"MERGE: INSERT column list has {len(cols)} columns but "
            f"VALUES has {len(vals)}"
        )
    return _Clause(klass, None, "insert", ins_cols=cols, ins_vals=vals)


def parse_merge(sql: str) -> _Merge:
    """Token-level parse of a MERGE statement (quote/comment/paren
    aware via :mod:`mallard_spark.sqllex`; CASE..END-aware WHEN/THEN
    split)."""
    s = sql.rstrip().rstrip(";").rstrip()
    if find_kw(s, "RETURNING", at_depth=0) >= 0:
        raise NotImplementedError(
            "MERGE ... RETURNING is not supported: run the MERGE, then "
            "SELECT the rows you need (the engine executes both in one "
            "script ticket)"
        )
    hm = re.match(
        rf"^\s*MERGE\s+INTO\s+(?P<name>{_IDENT})"
        rf"(?:\s+AS\s+(?P<a1>{_IDENT})|\s+(?!USING\b)(?P<a2>{_IDENT}))?"
        r"\s+USING\s+",
        s, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"malformed MERGE INTO statement: {s[:120]!r}")
    target = hm.group("name")
    target_alias = hm.group("a1") or hm.group("a2") or target
    pos = hm.end()

    if s[pos] == "(":  # subquery source — find its matching paren
        end = match_bracket(s, pos)
        if end < 0:
            raise ValueError("MERGE: unbalanced source subquery")
        source_text, source_is_query = s[pos + 1 : end].strip(), True
        pos = end + 1
    else:
        sm = re.match(rf"\s*(?P<src>{_IDENT})", s[pos:])
        if not sm:
            raise ValueError(f"MERGE: missing USING source: {s[pos:pos+60]!r}")
        source_text, source_is_query = sm.group("src"), False
        pos += sm.end()

    am = re.match(
        rf"\s+(?:AS\s+)?(?!ON\b|USING\b|WHEN\b)(?P<alias>{_IDENT})",
        s[pos:], re.IGNORECASE,
    )
    source_alias = None
    if am:
        source_alias = am.group("alias")
        pos += am.end()

    tail = s[pos:]
    on_cond: str | None = None
    using_cols: list[str] | None = None
    whens = _outside_case(tail, "WHEN")
    first_when = whens[0] if whens else len(tail)
    joiner = tail[:first_when].strip()
    jm = re.match(r"^ON\b(?P<cond>.*)$", joiner, re.IGNORECASE | re.DOTALL)
    if jm:
        on_cond = jm.group("cond").strip()
        if not on_cond:
            raise ValueError("MERGE: empty ON condition")
    else:
        um = re.match(
            rf"^USING\s*\(\s*(?P<cols>{_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)\s*$",
            joiner, re.IGNORECASE,
        )
        if not um:
            raise ValueError(
                f"MERGE: expected ON <cond> or USING (cols) before the "
                f"first WHEN: {joiner[:80]!r}"
            )
        using_cols = [c.strip() for c in um.group("cols").split(",")]
    if not whens:
        raise ValueError("MERGE: no WHEN clauses")

    clauses: list[_Clause] = []
    for i, w in enumerate(whens):
        seg_end = whens[i + 1] if i + 1 < len(whens) else len(tail)
        seg = tail[w + 4 : seg_end].strip()  # after 'WHEN'
        km = re.match(
            r"^(?P<not>NOT\s+)?MATCHED"
            r"(?:\s+BY\s+(?P<by>TARGET|SOURCE)\b)?\s*(?P<rest>.*)$",
            seg, re.IGNORECASE | re.DOTALL,
        )
        if not km:
            raise ValueError(f"malformed MERGE WHEN clause: {seg[:80]!r}")
        is_not = bool(km.group("not"))
        by = (km.group("by") or "").upper()
        if not is_not and by:
            raise ValueError("MERGE: MATCHED takes no BY TARGET/SOURCE")
        klass = (
            "matched" if not is_not
            else "by_source" if by == "SOURCE"
            else "not_matched"  # NOT MATCHED [BY TARGET]
        )
        guard, action_text = _split_guard_then(km.group("rest"))
        clause = _parse_action(action_text, klass)
        clause.guard = guard
        clauses.append(clause)
    return _Merge(target, target_alias, source_text, source_is_query,
                  source_alias, on_cond, using_cols, clauses)


def _strip_qualifier(name: str, aliases: tuple[str, ...]) -> str:
    raw = name.strip().strip("`")
    head, dot, rest = raw.partition(".")
    if dot and head.strip("`").lower() in tuple(a.lower() for a in aliases):
        return rest.strip().strip("`")
    return raw


def execute_merge(engine: "MallardEngine", sql: str) -> str:
    """Run one MERGE statement against the engine's catalog and
    return "OK" (the DML answer shape)."""
    if engine._macros:
        sql = engine._expand_macros(sql)
    p = parse_merge(sql)
    engine._generated_guard(p.target, "MERGE INTO")
    tgt = engine._dml_table(p.target)
    ta = p.target_alias
    if p.source_is_query:
        if p.source_alias is None:
            raise ValueError("MERGE: a subquery source requires an alias")
        src = engine.sql(p.source_text)
        sa = p.source_alias
    else:
        sa = p.source_alias or p.source_text
        if p.source_text in engine._tables:
            src = engine._dml_table(p.source_text)
        else:
            # file refs / table functions route through the reader SQL
            src = engine.sql(f"SELECT * FROM {p.source_text}")
    if ta.lower() == sa.lower():
        raise ValueError(
            f"MERGE: target and source aliases collide ({ta!r})"
        )
    cond = p.on_cond or " AND ".join(
        f"{ta}.{c} = {sa}.{c}" for c in p.using_cols
    )
    rw = engine._rewrite_refs  # namespace-qualify subquery spans only

    fields = tgt.schema.fields
    t_by_lower = {f.name.lower(): f.name for f in fields}
    s_by_lower = {c.lower(): c for c in src.columns}

    t_df = (
        tgt.withColumn(_T_PRESENT, F.lit(True))
        .withColumn(_T_ID, F.monotonically_increasing_id())
        .alias(ta)
    )
    s_df = src.withColumn(_S_PRESENT, F.lit(True)).alias(sa)
    # analysis-probe relation for _duck_expr: both aliases' columns in
    # scope, exactly what every MERGE fragment resolves against (never
    # executed — only analyzed)
    probe = t_df.crossJoin(s_df)

    def ex(fragment: str):
        # ref-rewritten fragment through F.expr with the DuckDB-
        # dialect fallback (same fired-only policy as the query path)
        return engine._duck_expr(rw(fragment), probe=probe)
    joined = t_df.join(s_df, ex(cond), "full_outer")

    matched = (
        F.col(_T_PRESENT).eqNullSafe(F.lit(True))
        & F.col(_S_PRESENT).eqNullSafe(F.lit(True))
    )
    t_only = (
        F.col(_T_PRESENT).eqNullSafe(F.lit(True))
        & ~F.col(_S_PRESENT).eqNullSafe(F.lit(True))
    )
    tcol = {f.name: F.col(f"{ta}.{f.name}") for f in fields}

    def guard_col(c: _Clause):
        return (
            ex(c.guard).eqNullSafe(F.lit(True))
            if c.guard else F.lit(True)
        )

    def update_vals(c: _Clause) -> dict:
        if c.sets is None:  # abbreviated UPDATE: all columns by name
            missing = [f.name for f in fields
                       if f.name.lower() not in s_by_lower]
            if missing:
                raise ValueError(
                    f"MERGE: abbreviated UPDATE needs every target "
                    f"column in the source; missing {missing}"
                )
            return {
                f.name: F.col(f"{sa}.{s_by_lower[f.name.lower()]}")
                for f in fields
            }
        out = dict(tcol)
        seen: set[str] = set()
        for assign in split_top_level(c.sets):
            col, eq, expr = assign.partition("=")
            if not eq:
                raise ValueError(f"malformed MERGE SET: {assign!r}")
            raw = _strip_qualifier(col, (ta, p.target))
            resolved = t_by_lower.get(raw.lower())
            if resolved is None:
                raise ValueError(f"MERGE SET: unknown column {raw!r}")
            if resolved in seen:
                raise ValueError(
                    f"MERGE SET: multiple assignments to {resolved!r}"
                )
            seen.add(resolved)
            out[resolved] = ex(expr.strip())
        return out

    def insert_vals(c: _Clause) -> dict:
        if c.ins_vals is None:  # INSERT * / bare INSERT: source row
            if all(f.name.lower() in s_by_lower for f in fields):
                return {
                    f.name: F.col(f"{sa}.{s_by_lower[f.name.lower()]}")
                    for f in fields
                }
            if len(src.columns) == len(fields):  # positional fallback
                return {
                    f.name: F.col(f"{sa}.{sc}")
                    for f, sc in zip(fields, src.columns)
                }
            raise ValueError(
                f"MERGE: bare INSERT needs source columns matching the "
                f"target by name or count (target {len(fields)}, "
                f"source {len(src.columns)})"
            )
        if c.ins_cols is None:  # INSERT VALUES (...): positional
            if len(c.ins_vals) != len(fields):
                raise ValueError(
                    f"MERGE: INSERT VALUES has {len(c.ins_vals)} "
                    f"expressions; table {p.target!r} has {len(fields)} "
                    f"columns"
                )
            return {
                f.name: ex(v)
                for f, v in zip(fields, c.ins_vals)
            }
        unknown = [c_ for c_ in c.ins_cols
                   if c_.strip("`").lower() not in t_by_lower]
        if unknown:
            raise ValueError(f"MERGE INSERT: unknown columns {unknown}")
        by_name = {
            t_by_lower[c_.strip("`").lower()]: ex(v)
            for c_, v in zip(c.ins_cols, c.ins_vals)
        }
        return {
            f.name: by_name.get(f.name, F.lit(None)) for f in fields
        }

    def cascade(clauses: list[_Clause], default_keep, default_vals):
        keep, vals, fired = default_keep, dict(default_vals), F.lit(False)
        for c in reversed(clauses):
            g = guard_col(c)
            if c.action == "delete":
                k2, v2 = F.lit(False), default_vals
            elif c.action == "nothing":
                k2, v2 = (
                    (F.lit(True), tcol) if c.klass != "not_matched"
                    else (F.lit(False), default_vals)
                )
            elif c.action == "update":
                k2, v2 = F.lit(True), update_vals(c)
            else:  # insert
                k2, v2 = F.lit(True), insert_vals(c)
            keep = F.when(g, k2).otherwise(keep)
            vals = {
                n: F.when(g, v2[n]).otherwise(vals[n]) for n in vals
            }
            fired = F.when(g, F.lit(True)).otherwise(fired)
        return keep, vals, fired

    m_clauses = [c for c in p.clauses if c.klass == "matched"]
    nm_clauses = [c for c in p.clauses if c.klass == "not_matched"]
    bs_clauses = [c for c in p.clauses if c.klass == "by_source"]

    null_vals = {f.name: F.lit(None) for f in fields}
    m_keep, m_vals, m_fired = cascade(m_clauses, F.lit(True), tcol)
    bs_keep, bs_vals, _ = cascade(bs_clauses, F.lit(True), tcol)
    nm_keep, nm_vals, _ = cascade(nm_clauses, F.lit(False), null_vals)

    # SQL-standard runtime error: two source rows firing a matched
    # action on one target row is nondeterministic — refuse like the
    # standard (and Delta) instead of picking one silently. Bounded
    # check: groupBy target-row id, count>1, limit 1.
    if m_clauses and (
        engine.spark.conf.get(
            "spark.mallard.mergeDuplicateCheck", "true"
        ).lower() != "false"
    ):
        dup = (
            joined.where(matched & m_fired)
            .groupBy(_T_ID).count().where(F.col("count") > 1).limit(1)
        )
        if dup.count() > 0:
            raise ValueError(
                f"MERGE INTO {p.target}: a target row matched multiple "
                f"source rows that fire an UPDATE/DELETE — the result "
                f"would be nondeterministic (SQL standard error; set "
                f"spark.mallard.mergeDuplicateCheck=false to skip this "
                f"check)"
            )

    # A matched target row whose pairs fired NO clause must survive
    # unchanged exactly once. With only unguarded matched clauses every
    # pair fires, so the window is skipped (the common fast path).
    need_window = not m_clauses or any(c.guard for c in m_clauses)
    if need_window:
        # surrogate ids keep every non-matched row in its own window
        # partition — the null-TID partition can never skew
        part = F.when(matched, F.col(_T_ID)).otherwise(
            -F.monotonically_increasing_id() - 1
        )
        w = Window.partitionBy(part)
        n_fired = F.sum(
            F.when(matched & m_fired, 1).otherwise(0)
        ).over(w)
        rn = F.row_number().over(w.orderBy(F.lit(1)))
        m_keep_final = F.when(m_fired, m_keep).otherwise(
            (n_fired == 0) & (rn == 1)
        )
        m_vals_final = {
            n: F.when(m_fired, m_vals[n]).otherwise(tcol[n])
            for n in m_vals
        }
    else:
        m_keep_final, m_vals_final = m_keep, m_vals

    keep = (
        F.when(matched, m_keep_final)
        .when(t_only, bs_keep)
        .otherwise(nm_keep)
    )
    result = joined.select(
        *[
            F.when(matched, m_vals_final[f.name])
            .when(t_only, bs_vals[f.name])
            .otherwise(nm_vals[f.name])
            .cast(f.dataType)
            .alias(f.name)
            for f in fields
        ],
        keep.alias("__mallard_merge_keep"),
    ).where("__mallard_merge_keep").drop("__mallard_merge_keep")
    engine._write_back(p.target, result)
    return "OK"
