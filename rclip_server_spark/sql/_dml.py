"""Table DML: INSERT / DELETE / UPDATE and the full MERGE clause
engine. Every statement lands as O(batch)/O(matched) versioned
commits — delete vectors + appends, never table rewrites."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import versioned as V
from ._base import (
    SqlError,
    _find_clause_kw,
    _find_top_level_kw,
    _mask,
    _matching_paren,
    _split_top_level,
)
from ._catalog import Catalog
from ._reads import _read_entry, _run_select

def _writable_table(catalog: Catalog, name: str, verb: str) -> dict:
    """DML targets must be BASE tables: a maintained view's state is
    owned by its refresher — an INSERT/DELETE behind the cursor's back
    would silently diverge the view from its declared SQL forever."""
    e = catalog.get(name)
    if e["kind"] != "table":
        raise SqlError(
            f"{verb} targets a base table; {name} is a materialized "
            f"view ({e['kind']}) — mutate its SOURCES and run REFRESH "
            f"MATERIALIZED VIEW {name}")
    return e


def _insert(spark: SparkSession, catalog: Catalog, name: str,
            body: str, overwrite: bool = False) -> dict:
    """INSERT INTO = O(batch) append commit; INSERT OVERWRITE = one
    full-replace commit (versioned.overwrite — the full-reload path,
    old versions stay readable until VACUUM, RESTORE undoes it)."""
    df = _run_select(spark, body, catalog)
    verb = "INSERT OVERWRITE" if overwrite else "INSERT INTO"
    e = _writable_table(catalog, name, verb)
    target = _read_entry(spark, e).schema
    if len(df.columns) != len(target):
        raise SqlError(
            f"{verb} column count {len(df.columns)} != table "
            f"{name}'s {len(target)}")
    # positional alignment (SQL INSERT semantics): VALUES yields
    # col1/col2/... — rename+cast to the target schema
    df = df.select(*[
        F.col(c).cast(f.dataType).alias(f.name)
        for c, f in zip(df.columns, target.fields)])
    if overwrite:
        ver = V.overwrite(spark, e["path"], df)
        return {"status": "overwritten", "name": name, "version": ver}
    ver = V.append(spark, e["path"], df)
    return {"status": "inserted", "name": name, "version": ver}


def _delete(spark: SparkSession, catalog: Catalog, name: str,
            pred: str) -> dict:
    e = _writable_table(catalog, name, "DELETE FROM")
    key = e["meta"].get("key")
    if not key:
        raise SqlError(
            f"DELETE needs table {name}'s row-identity column — "
            f"recreate it with OPTIONS (key='id')")
    keys = _read_entry(spark, e).where(pred).select(key)
    ver = V.delete_rows(spark, e["path"], keys, key)
    return {"status": "deleted", "name": name, "version": ver}



def _update(spark: SparkSession, catalog: Catalog, name: str,
            set_clause: str, pred: str) -> dict:
    """``UPDATE t SET col = expr [, ...] WHERE pred`` via ONE
    delete-vector + append commit (versioned.delete_and_append): the
    matched rows' keys go into a delete vector scoped to the parent's
    segments and their updated images are appended — zero rewrite of
    untouched data, so cost is O(matched), not O(table). Assignment
    RHSs see the OLD row (single projection), standard SQL UPDATE
    semantics; the row-identity column itself may not be assigned."""
    e = _writable_table(catalog, name, "UPDATE")
    key = e["meta"].get("key")
    if not key:
        raise SqlError(
            f"UPDATE needs table {name}'s row-identity column — "
            f"recreate it with OPTIONS (key='id')")
    ver0 = V.current_version(e["path"])
    df = _read_entry(spark, e, version=ver0)
    by_lower = {c.lower(): c for c in df.columns}
    assigned: dict[str, str] = {}
    for piece in _split_top_level(set_clause, _mask(set_clause), ","):
        m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)\s*$",
                     piece, re.DOTALL)
        if not m:
            raise SqlError(f"bad SET assignment: {piece.strip()!r} "
                           f"(want col = <expr>)")
        col = by_lower.get(m.group(1).lower())
        if col is None:
            raise SqlError(f"UPDATE {name}: no column {m.group(1)!r} "
                           f"(columns: {df.columns})")
        if col.lower() == key.lower():
            raise SqlError(
                f"UPDATE may not assign the row-identity column "
                f"{key!r} — DELETE + INSERT to change identity")
        if col in assigned:
            raise SqlError(f"column {col!r} assigned twice")
        assigned[col] = m.group(2)
    # key-addressed DML never touches NULL-keyed rows: the delete
    # vector anti-joins on key equality (NULL never matches), so an
    # update of a NULL-keyed row would append its new image WITHOUT
    # retracting the old one — a silent duplicate
    updated = _update_plan(df, assigned, pred).where(
        F.col(key).isNotNull())
    ver = V.delete_and_append(spark, e["path"], updated.select(key),
                              key, updated, parent_version=ver0)
    return {"status": "updated", "name": name, "version": ver}


def _update_plan(df: DataFrame, assigned: dict, pred: str) -> DataFrame:
    """The UPDATE statement's row-image plan: filter + one projection
    where every assignment RHS sees the OLD row and is cast back to
    the column's declared type. Shared with tools/explain_audit.py so
    the audited keys-job plan IS the shipped plan, not a replica that
    can drift."""
    types = {f.name: f.dataType for f in df.schema.fields}
    return df.where(pred).select(*[
        (F.expr(assigned[c]).cast(types[c]) if c in assigned
         else F.col(c)).alias(c)
        for c in df.columns])



_MERGE_SYNTAX = (
    "MERGE INTO t [AS a] USING <table | (SELECT ...)> [AS b] "
    "ON t.k = s.k "
    "WHEN MATCHED [AND <cond>] THEN UPDATE SET * | SET col = expr, ... "
    "| WHEN MATCHED [AND <cond>] THEN DELETE "
    "| WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT * "
    "| INSERT (cols) VALUES (exprs) "
    "| WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN "
    "UPDATE SET col = expr, ... | DELETE")

_MERGE_ACT = "__merge_action__"



def _parse_merge_source(src_text: str) -> tuple[str, str | None]:
    """``USING <table | (SELECT ...)> [AS] [alias]`` → (select_sql,
    alias_or_None)."""
    sm = _mask(src_text)
    alias_re = r"(?:\s+(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s*$"
    if src_text.startswith("("):
        close = _matching_paren(sm, 0)
        am = re.match(alias_re, sm[close + 1:], re.IGNORECASE)
        if am is None or sm[close + 1:][am.end():].strip():
            raise SqlError(f"MERGE USING (SELECT ...) takes at most "
                           f"one trailing alias, got: "
                           f"{src_text[close + 1:].strip()!r}")
        alias = (src_text[close + 1:][am.start(1):am.end(1)]
                 if am.group(1) else None)
        return src_text[1:close], alias
    tm = re.match(rf"([A-Za-z_][A-Za-z0-9_]*){alias_re}", sm,
                  re.IGNORECASE)
    if not tm:
        raise SqlError(f"MERGE USING wants a table name or "
                       f"(SELECT ...), got: {src_text!r}")
    tbl = src_text[tm.start(1):tm.end(1)]
    alias = (src_text[tm.start(2):tm.end(2)] if tm.group(2) else tbl)
    return f"SELECT * FROM {tbl}", alias


def _parse_merge_clauses(rest: str
                         ) -> tuple[list, list, list]:
    """Split the ``WHEN ...`` tail into ordered clause lists
    ``(matched, not_matched, nmbs)``; each entry is
    ``(cond_sql_or_None, action, payload)`` where action ∈
    {update_star, update, delete, insert_star, insert} and payload
    carries SET assignments / INSERT column-value pairs. ``nmbs`` is
    the Delta ``WHEN NOT MATCHED BY SOURCE`` group — target rows with
    no source key match; its actions are UPDATE SET col = expr /
    DELETE (no SET * or INSERT: there is no source row), and its
    conditions/expressions see TARGET columns only. First-match-wins
    evaluation order is the list order, so only the LAST clause of
    each group may omit its condition (an earlier unconditional
    clause would make the rest unreachable — rejected, not silently
    dead)."""
    fmr = _mask(rest)
    # clause boundaries and the THEN split are found CASE-aware
    # (_find_clause_kw): a condition like `AND CASE WHEN ... THEN ...
    # END` legally contains both keywords and must not split a clause
    starts, pos = [], 0
    while True:
        off = _find_clause_kw(fmr, "when", pos)
        if off is None:
            break
        starts.append(off)
        pos = off + 4
    if not starts or rest[:starts[0]].strip():
        raise SqlError(_MERGE_SYNTAX)
    matched, not_matched, nmbs = [], [], []
    for i, st in enumerate(starts):
        en = starts[i + 1] if i + 1 < len(starts) else len(rest)
        seg, segm = rest[st:en], fmr[st:en]
        hm = re.match(
            r"when\s+(not\s+)?matched(\s+by\s+(source|target))?\b",
            segm, re.IGNORECASE)
        if not hm:
            raise SqlError(f"bad WHEN clause: {seg.strip()!r} — "
                           f"{_MERGE_SYNTAX}")
        is_matched = not hm.group(1)
        by = (hm.group(3) or "").lower()
        if is_matched and by:
            raise SqlError("BY SOURCE/TARGET qualifies WHEN NOT "
                           "MATCHED only")
        by_source = (not is_matched) and by == "source"
        t_off = _find_clause_kw(segm, "then", hm.end())
        if t_off is None:
            raise SqlError(f"WHEN clause needs THEN: {seg.strip()!r}")
        between = seg[hm.end():t_off]
        cond = None
        if between.strip():
            am = re.match(r"\s*and\b", segm[hm.end():t_off],
                          re.IGNORECASE)
            if not am:
                raise SqlError(
                    f"expected AND <condition> or THEN after "
                    f"MATCHED, got: {between.strip()!r}")
            cond = between[am.end():].strip()
            if not cond:
                raise SqlError("empty condition after WHEN ... AND")
        action = seg[t_off + 4:].strip()
        if by_source:
            if re.match(r"insert\b", _mask(action), re.IGNORECASE):
                raise SqlError(
                    "WHEN NOT MATCHED BY SOURCE has no source row to "
                    "insert — INSERT belongs to WHEN NOT MATCHED "
                    "[BY TARGET]; by-source actions are UPDATE SET "
                    "col = expr / DELETE")
            parsed = _parse_merge_action(action, True)
            if parsed[0] == "update_star":
                raise SqlError(
                    "WHEN NOT MATCHED BY SOURCE has no source row — "
                    "UPDATE SET col = expr (target columns) or "
                    "DELETE")
            nmbs.append((cond, *parsed))
        else:
            parsed = _parse_merge_action(action, is_matched)
            (matched if is_matched else not_matched).append(
                (cond, *parsed))
    for grp, label in ((matched, "MATCHED"),
                       (not_matched, "NOT MATCHED"),
                       (nmbs, "NOT MATCHED BY SOURCE")):
        for c in grp[:-1]:
            if c[0] is None:
                raise SqlError(
                    f"only the LAST WHEN {label} clause may omit "
                    f"AND <condition> — an unconditional clause "
                    f"makes the later {label} clauses unreachable")
    return matched, not_matched, nmbs


def _parse_merge_action(action: str, is_matched: bool) -> tuple:
    """One clause's THEN body → (action, payload)."""
    am = _mask(action)
    if is_matched:
        if re.fullmatch(r"delete\s*", am, re.IGNORECASE):
            return ("delete", None)
        um = re.match(r"update\s+set\b", am, re.IGNORECASE)
        if not um:
            raise SqlError(
                f"WHEN MATCHED THEN takes UPDATE SET ... or DELETE, "
                f"got: {action!r}")
        body = action[um.end():].strip()
        if body == "*":
            return ("update_star", None)
        if not body:
            raise SqlError("UPDATE SET needs * or col = expr, ...")
        assigns = []
        for piece in _split_top_level(body, _mask(body), ","):
            pm = re.match(
                r"\s*(?:([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*)?"
                r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)\s*$",
                piece, re.DOTALL)
            if not pm:
                raise SqlError(f"bad SET assignment: "
                               f"{piece.strip()!r} (want [t.]col "
                               f"= <expr>)")
            assigns.append((pm.group(1), pm.group(2), pm.group(3)))
        return ("update", assigns)
    if re.fullmatch(r"insert\s*\*\s*", am, re.IGNORECASE):
        return ("insert_star", None)
    im = re.match(r"insert\s*\(", am, re.IGNORECASE)
    if not im:
        raise SqlError(
            f"WHEN NOT MATCHED THEN takes INSERT * or INSERT (cols) "
            f"VALUES (exprs), got: {action!r}")
    copen = am.index("(", im.start())
    cclose = _matching_paren(am, copen)
    cols = [c.strip() for c in action[copen + 1:cclose].split(",")]
    if not all(re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c)
               for c in cols):
        raise SqlError(f"INSERT column list must be plain "
                       f"identifiers, got: "
                       f"{action[copen + 1:cclose].strip()!r}")
    vm = re.match(r"\s*values\s*\(", am[cclose + 1:], re.IGNORECASE)
    if not vm:
        raise SqlError("INSERT (cols) needs VALUES (exprs)")
    vopen = cclose + 1 + vm.end() - 1
    vclose = _matching_paren(am, vopen)
    if am[vclose + 1:].strip():
        raise SqlError(f"trailing tokens after INSERT VALUES: "
                       f"{action[vclose + 1:].strip()!r}")
    vbody = action[vopen + 1:vclose]
    vals = [v.strip()
            for v in _split_top_level(vbody, _mask(vbody), ",")]
    if len(vals) != len(cols) or any(not v for v in vals):
        raise SqlError(
            f"INSERT column list ({len(cols)}) and VALUES "
            f"({len(vals)}) must pair up, every value non-empty")
    return ("insert", list(zip(cols, vals)))


def _merge(spark: SparkSession, catalog: Catalog, text: str) -> dict:
    """``MERGE INTO t USING src ON t.k = s.k WHEN ... THEN ...`` with
    the Delta MERGE clause surface: ``WHEN MATCHED [AND <cond>] THEN
    UPDATE SET * | SET col = expr, ...``, ``WHEN MATCHED [AND <cond>]
    THEN DELETE``, ``WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN
    INSERT * | INSERT (cols) VALUES (exprs)``, and ``WHEN NOT MATCHED
    BY SOURCE [AND <cond>] THEN UPDATE SET col = expr | DELETE``
    (full-sync: target rows the source no longer carries) — the
    CDC-apply statement shape the reference's upsert loop
    (index_wikimedia.py:86-103) grows into at scale. Clauses
    evaluate in statement order, first match wins; a matched row that
    satisfies no clause is untouched. Conditions and
    expressions may qualify columns by the target/source names or
    their declared aliases. The ON column must be the table's
    DECLARED row-identity key: merging on a non-unique column would
    collapse every matched target row into one source row, and the
    delete vector must stay single-keyed.

    Scale shape: the unconditional SET */INSERT * full-upsert form
    needs NO target read at all — every source key goes into one
    delete vector and every source row into one appended segment
    (versioned.delete_and_append), so it costs O(source) against a
    100 TB table. The conditional/clause forms add ONE inner (or
    anti) join of the source against the target, column-pruned to the
    key plus whatever columns the conditions and assignments actually
    read (a matched-DELETE-only MERGE scans just the key column —
    plan-asserted), and the output stays O(matched + inserted): one
    delete-vector + append commit, never a table rewrite. NULL-keyed
    source rows never match (SQL NULL equality), so they fall to the
    WHEN NOT MATCHED clauses and are ignored by a matched-only
    MERGE."""
    fm = _mask(text)
    m = re.match(
        r"merge\s+into\s+([A-Za-z_][A-Za-z0-9_]*)"
        r"(?:\s+(?:as\s+)?(?!using\b)([A-Za-z_][A-Za-z0-9_]*))?"
        r"\s+using\s+", fm,
        re.IGNORECASE)
    if not m:
        raise SqlError(_MERGE_SYNTAX)
    name = text[m.start(1):m.end(1)]
    t_alias = text[m.start(2):m.end(2)] if m.group(2) else name
    on_m = _find_top_level_kw(fm, "on", m.end())
    when_m = _find_top_level_kw(fm, "when", m.end())
    if not on_m or not when_m or when_m.start() < on_m.start():
        raise SqlError("MERGE needs USING <src> ON <cond> WHEN ...")
    src_text = text[m.end():m.end() + on_m.start()].strip()
    on_text = text[m.end() + on_m.end():m.end() + when_m.start()].strip()
    rest = text[m.end() + when_m.start():]

    qi = r"(?:[A-Za-z_][A-Za-z0-9_]*\.)?([A-Za-z_][A-Za-z0-9_]*)"
    on_eq = re.match(rf"{qi}\s*=\s*{qi}\s*$", on_text)
    if not on_eq or on_eq.group(1).lower() != on_eq.group(2).lower():
        raise SqlError(
            f"MERGE ON must be a single same-named column equality "
            f"(t.k = s.k), got: {on_text!r}")
    on_key = on_eq.group(1)
    matched, not_matched, nmbs = _parse_merge_clauses(rest)

    e = _writable_table(catalog, name, "MERGE INTO")
    decl_key = e["meta"].get("key")
    if not decl_key:
        raise SqlError(
            f"MERGE needs table {name}'s row-identity column — "
            f"recreate it with OPTIONS (key='id')")
    if on_key.lower() != decl_key.lower():
        raise SqlError(
            f"MERGE ON must use {name}'s declared row-identity "
            f"column {decl_key!r} (got {on_key!r}) — merging on a "
            f"non-unique column would collapse matched rows")
    src_sql, s_alias = _parse_merge_source(src_text)
    src = _run_select(spark, src_sql, catalog)

    ver0 = V.current_version(e["path"])
    target = _read_entry(spark, e, version=ver0)
    t_by_lower = {c.lower(): c for c in target.columns}
    key = t_by_lower.get(on_key.lower())
    if key is None:
        raise SqlError(f"MERGE ON column {on_key!r} not in {name}'s "
                       f"columns {target.columns}")

    star_upsert = (
        not nmbs
        and [c[:2] for c in matched] in ([], [(None, "update_star")])
        and [c[:2] for c in not_matched] in ([], [(None,
                                                   "insert_star")]))
    if not star_upsert:
        # conditional clauses work on BOTH layouts: the engine commits
        # through versioned.delete_rows / delete_and_append / append,
        # which dispatch per-manifest (bucketed targets get
        # bucket-scoped delete vectors + per-bucket append segments —
        # zero existing bytes rewritten either way)
        return _merge_general(spark, e, name, target, src, key,
                              t_alias, s_alias, matched, not_matched,
                              nmbs, ver0)

    # ---- unconditional SET * / INSERT * fast paths (O(source)) ----
    s_by_lower = {c.lower(): c for c in src.columns}
    if set(t_by_lower) != set(s_by_lower):
        raise SqlError(
            f"MERGE SET */INSERT * needs matching column sets: "
            f"target {sorted(t_by_lower)} vs source "
            f"{sorted(s_by_lower)}")
    types = {f.name: f.dataType for f in target.schema.fields}
    src = src.select(*[
        F.col(s_by_lower[c.lower()]).cast(types[c]).alias(c)
        for c in target.columns]).persist()
    try:
        if matched and not_matched:
            # a per-layout strategy, not a per-layout verb: each
            # layout checks the source's duplicate keys its own way
            if "buckets" in V._manifest(e["path"], ver0):
                # bucketed full upsert: only the touched buckets are
                # read and rewritten, committed atomically across
                # them (OCC rebase loop). The dup-key guard's two
                # counts ride upsert_bucketed's own touched-bucket
                # aggregation — zero extra validation jobs
                ver = V.upsert_bucketed_with_retry(
                    spark, e["path"], src,
                    validate=_dup_key_validator(key))
                return {"status": "merged", "name": name,
                        "version": ver}
            # flat full upsert: no target read needed — and no
            # separate dup-key validation job either. The statement
            # already writes the distinct key set (delete vector) and
            # the full source (segment); the guard's two counts are
            # footer arithmetic over those files, checked pre-commit
            # (a duplicate aborts before the manifest link, same
            # external behavior as the eager check)
            ver = V.delete_and_append(
                spark, e["path"], src.select(key), key, src,
                parent_version=ver0,
                precommit=_footer_dup_key_check(src, key, e["path"]))
            return {"status": "merged", "name": name, "version": ver}
        _merge_dup_key_check(src, key)
        if matched:
            batch = src.join(target.select(key).distinct(), [key],
                             "left_semi")
        else:
            batch = src.join(target.select(key).distinct(), [key],
                             "left_anti")
            ver = V.append(spark, e["path"], batch,
                           parent_version=ver0)
            return {"status": "merged", "name": name, "version": ver}
        ver = V.delete_and_append(spark, e["path"], batch.select(key),
                                  key, batch, parent_version=ver0)
        return {"status": "merged", "name": name, "version": ver}
    finally:
        src.unpersist()


def _dup_key_validator(key: str):
    """The one-match rule as a pure count check: raises SqlError when
    the non-null key count differs from the distinct key count. The
    counts come from whatever job the caller already runs (the eager
    agg below, upsert_bucketed's touched-bucket aggregation, or the
    footer arithmetic of _footer_dup_key_check)."""
    def validate(nn: int, nk: int) -> None:
        if nn != nk:
            raise SqlError(
                f"MERGE source has duplicate {key!r} values "
                f"({nn} non-null keys, {nk} distinct) — each target "
                f"row may match at most one source row")

    return validate


def _merge_dup_key_check(src: DataFrame, key: str) -> None:
    # count(col) skips NULLs, so both sides of the one-match check
    # range over NON-NULL keys only: a NULL-keyed source row is legal
    # (it never matches — pure insert), duplicate non-null keys are
    # not
    nn, nk = src.agg(F.count(F.col(key)),
                     F.count_distinct(F.col(key))).first()
    _dup_key_validator(key)(nn, nk)


def _footer_dup_key_check(src: DataFrame, key: str, tpath: str):
    """The dup-key guard as FOOTER ARITHMETIC over the files the flat
    full-upsert MERGE writes anyway: the appended segment holds every
    source row and the delete vector holds the DISTINCT key set, so
    (non-null source keys) = seg rows − seg key-NULLs and (distinct
    non-null keys) = vector rows − vector key-NULLs — the exact two
    counts _merge_dup_key_check computes, read from parquet metadata
    in the delete_and_append precommit hook instead of a separate
    validation job per statement. Falls back to the counting job if
    any footer lacks null-count statistics."""
    import os as _os

    from ..sources.catalog import column_footer_counts

    def check(dseg: str, seg: str) -> None:
        srows, snulls = column_footer_counts(
            _os.path.join(tpath, seg), key)
        drows, dnulls = column_footer_counts(
            _os.path.join(tpath, dseg), key)
        if snulls is None or dnulls is None:
            _merge_dup_key_check(src, key)
            return
        _dup_key_validator(key)(srows - snulls, drows - dnulls)

    return check


def _merge_stage_plans(target: DataFrame, src: DataFrame, key: str,
                       skey: str, t_alias: str, s_alias: str,
                       matched: list, not_matched: list,
                       nmbs: list | None = None):
    """The clause engine's DataFrame plans, shared with
    tools/explain_audit.py (the audited matched-DELETE keys job IS
    the shipped plan). Returns ``(del_keys, appends)`` — ``del_keys``
    is None when there are no matched clauses, ``appends`` None when
    nothing inserts/updates. Matched rows walk the clause list in
    order; the first true condition assigns the row to that clause
    (F.when chain — exactly first-match-wins); rows satisfying no
    clause are untouched. The delete-vector keys come off the SOURCE
    side of the join so a matched-DELETE whose condition reads only
    source columns prunes the target scan to the key column alone."""
    t_cols = target.columns
    types = {f.name: f.dataType for f in target.schema.fields}
    s_by_lower = {c.lower(): c for c in src.columns}
    for side, cols in (("target", t_cols), ("source", src.columns)):
        if _MERGE_ACT in cols:
            raise SqlError(f"MERGE {side} may not have a column "
                           f"named {_MERGE_ACT}")

    def _act_chain(df: DataFrame, clauses: list) -> DataFrame:
        acts = None
        for i, (cond, _a, _p) in enumerate(clauses):
            c = F.expr(cond) if cond else F.lit(True)
            acts = (F.when(c, F.lit(i)) if acts is None
                    else acts.when(c, F.lit(i)))
        return (df.withColumn(_MERGE_ACT, acts)
                .where(F.col(_MERGE_ACT).isNotNull()))

    def _resolve_assigns(assigns: list) -> dict:
        out: dict = {}
        for qual, col_raw, expr in assigns:
            if qual is not None and qual.lower() != t_alias.lower():
                raise SqlError(
                    f"SET {qual}.{col_raw}: assignments target "
                    f"{t_alias!r}'s columns (qualify with the "
                    f"target name/alias or not at all)")
            col = next((c for c in t_cols
                        if c.lower() == col_raw.lower()), None)
            if col is None:
                raise SqlError(f"SET {col_raw}: no such target "
                               f"column (columns: {t_cols})")
            if col.lower() == key.lower():
                raise SqlError(
                    f"MERGE may not assign the row-identity column "
                    f"{key!r} — DELETE + INSERT to change identity")
            if col in out:
                raise SqlError(f"column {col!r} assigned twice")
            out[col] = expr
        return out

    def _star_image(rows: DataFrame, what: str) -> DataFrame:
        missing = [c for c in t_cols if c.lower() not in s_by_lower]
        if missing:
            raise SqlError(
                f"{what} needs every target column in the source; "
                f"missing: {missing}")
        return rows.select(*[
            F.expr(f"{s_alias}.{s_by_lower[c.lower()]}")
            .cast(types[c]).alias(c) for c in t_cols])

    def _update_images(trig: DataFrame, clauses: list,
                       star_what: str | None) -> None:
        """The ONE updated-row-image projection both update-capable
        groups (matched, by-source) share: per clause, cast every
        assignment back to its declared type, carry the rest of the
        target row through."""
        for i, (_cond, act, payload) in enumerate(clauses):
            if act == "delete":
                continue
            rows = trig.where(F.col(_MERGE_ACT) == i)
            if act == "update_star":
                appends.append(_star_image(rows, star_what))
                continue
            assigns = _resolve_assigns(payload)
            appends.append(rows.select(*[
                (F.expr(assigns[c]).cast(types[c]) if c in assigns
                 else F.expr(f"{t_alias}.{c}")).alias(c)
                for c in t_cols]))

    ta, sa = target.alias(t_alias), src.alias(s_alias)
    key_eq = F.expr(f"{t_alias}.{key} = {s_alias}.{skey}")
    del_keys, appends = None, []
    if matched:
        trig = _act_chain(sa.join(ta, key_eq, "inner"), matched)
        del_keys = trig.select(
            F.expr(f"{s_alias}.{skey}").cast(types[key]).alias(key))
        _update_images(trig, matched, "UPDATE SET *")
    if nmbs:
        # target rows with NO source key match (full-sync semantics:
        # delete-or-update what the source no longer carries). This
        # term scans the target once — inherent to by-source
        # semantics; Catalyst prunes it to the key plus whatever
        # columns the conditions/assignments read. NULL-keyed target
        # rows are EXCLUDED: retraction is key-addressed (the delete
        # vector anti-joins on key equality, which NULL never
        # satisfies), so touching them would no-op the DELETE and
        # duplicate the UPDATE — key-addressed DML never touches
        # NULL-keyed rows, here and in UPDATE.
        t_anti = (ta.join(sa, key_eq, "left_anti")
                  .where(F.expr(f"{t_alias}.{key}").isNotNull()))
        trig = _act_chain(t_anti, nmbs)
        d2 = trig.select(F.expr(f"{t_alias}.{key}")
                         .cast(types[key]).alias(key))
        del_keys = (d2 if del_keys is None
                    else del_keys.unionByName(d2))
        _update_images(trig, nmbs, None)  # parser rejects SET * here
    if not_matched:
        anti = sa.join(ta, key_eq, "left_anti")
        trig = _act_chain(anti, not_matched)
        for i, (_cond, act, payload) in enumerate(not_matched):
            rows = trig.where(F.col(_MERGE_ACT) == i)
            if act == "insert_star":
                appends.append(_star_image(rows, "INSERT *"))
                continue
            vals: dict = {}
            for col_raw, expr in payload:
                col = next((c for c in t_cols
                            if c.lower() == col_raw.lower()), None)
                if col is None:
                    raise SqlError(f"INSERT ({col_raw}): no such "
                                   f"target column (columns: "
                                   f"{t_cols})")
                if col in vals:
                    raise SqlError(f"column {col!r} inserted twice")
                vals[col] = expr
            appends.append(rows.select(*[
                (F.expr(vals[c]) if c in vals else F.lit(None))
                .cast(types[c]).alias(c) for c in t_cols]))
    batch = None
    for img in appends:
        batch = img if batch is None else batch.unionByName(img)
    return del_keys, batch


def _merge_general(spark: SparkSession, e: dict, name: str,
                   target: DataFrame, src: DataFrame, key: str,
                   t_alias: str, s_alias: str | None, matched: list,
                   not_matched: list, nmbs: list, ver0: int) -> dict:
    """The conditional/clause MERGE engine: ONE inner join (matched
    clauses) + ONE anti join (not-matched clauses) of the source
    against the target — both column-pruned by Catalyst to the key
    plus the columns the conditions/assignments read — and ONE
    delete-vector + append commit sized O(matched + inserted)."""
    if s_alias is None:
        raise SqlError(
            "conditional MERGE clauses reference source columns — "
            "alias the source: USING (SELECT ...) AS s")
    if s_alias.lower() == t_alias.lower():
        raise SqlError(f"MERGE target and source aliases must "
                       f"differ (both {s_alias!r})")
    s_by_lower = {c.lower(): c for c in src.columns}
    skey = s_by_lower.get(key.lower())
    if skey is None:
        raise SqlError(f"MERGE ON column {key!r} not in the "
                       f"source's columns {src.columns}")
    from concurrent.futures import ThreadPoolExecutor

    src = src.persist()
    # the dup-key guard is an independent job over the persisted
    # source — run it from a driver thread so it overlaps the
    # statement's own join/write jobs (guide-§2.6 back-fill) instead
    # of paying a serial validation pass; every commit branch JOINS
    # the check before publishing (precommit hook on the
    # delete-vector path, an explicit result() on the others), so a
    # duplicate still aborts with nothing committed
    with ThreadPoolExecutor(max_workers=1) as _ex:
        _chk = _ex.submit(_merge_dup_key_check, src, skey)
        try:
            del_keys, batch = _merge_stage_plans(
                target, src, key, skey, t_alias, s_alias, matched,
                not_matched, nmbs)
            if del_keys is None:
                _chk.result()
                ver = V.append(spark, e["path"], batch,
                               parent_version=ver0)
            elif batch is None:
                _chk.result()
                ver = V.delete_rows(spark, e["path"], del_keys, key,
                                    parent_version=ver0)
            else:
                ver = V.delete_and_append(
                    spark, e["path"], del_keys, key, batch,
                    parent_version=ver0,
                    precommit=lambda *_: _chk.result())
            return {"status": "merged", "name": name, "version": ver}
        finally:
            _chk.cancel()
            src.unpersist()

