"""Incremental materialized aggregate views over the versioned CDC log —
the lakehouse pattern that keeps a dashboard/feature aggregate fresh for
the cost of the CHANGES, not a recompute.

No reference analogue (the reference recomputes everything at startup,
rclip_server.py:59-66); this is a scale-path addition in the spirit of
Delta Live Tables / Materialize: the view is itself a versioned table
whose manifest records a refresh CURSOR (`mv_source_version`), and each
refresh:

1. reads the change feed since the cursor — O(new segments) when the
   interval is append-only (the common ingest case); a rewriting
   interval diffs snapshots (the honest cost): the ADDITIVE consumers
   (agg/top-k/join views) use ``table_changes_multiset`` (full-row
   multiplicities — no unique-key assumption, which is what lets a view
   consume ANOTHER view), the transform view the keyed
   ``table_changes(include_preimage=True)`` (its delete-by-key
   maintenance needs per-key pairing);
2. folds the change rows into SIGNED deltas — +1·row for inserting
   change types, −1·row for retracting ones — and aggregates them to
   per-group (count, sums). Retraction is exactly why additive
   aggregates (COUNT, SUM) refresh incrementally; MIN/MAX are not
   additively retractable — a refresh whose interval retracts rows from
   a group recomputes that group from the pinned source snapshot;
3. merges the delta groups into the current view state with ONE
   null-safe full-outer join on the group keys (group cardinality sized,
   not data sized) and commits the merged state as the view's next
   version with the advanced cursor — so the view is time-travelable,
   vacuumable, OCC-protected, and restorable like any versioned table.

At 100 TB: a day of ingest refreshes the view for a day-of-data scan +
a groups-sized merge. The view rewrite is one segment of |groups| rows —
if groups ever approach data size, an aggregate view was the wrong
structure to begin with.

Exactness: counts/sums are BIGINT-exact when fed integer columns (use
cents-style integers for money, the repo-wide oracle rule); a group whose
count reaches zero is dropped, so the view equals the direct groupBy of
the source head — the invariant the oracle row `vt_agg_view_refresh`
checks hash-exact against DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vector as VEC
from . import versioned as V

_INSERTING = ("insert", "update_postimage")
_RETRACTING = ("delete", "update_preimage")


def _spec(path: str, version: int | None = None) -> dict:
    """The view spec + cursor, stored in the manifest's carried-forward
    ``app`` namespace — so appends, delete-vector commits, and
    compactions on the view table preserve it automatically. Pass
    ``version`` for the ONE-CONSISTENT-READ rule the refreshers depend
    on: cursor, state, and OCC parent must all come from the same view
    version, or a concurrent refresher committing in between yields a
    stale cursor paired with a fresh parent and the interval
    double-applies without any ConcurrentWriteError."""
    v = V.current_version(path) if version is None else int(version)
    m = V._manifest(path, v)
    spec = m.get("app") or {}
    if "mv_source" not in spec:
        raise ValueError(f"{path} is not a materialized view "
                         f"(no mv_source in its manifest app namespace)")
    return spec


def _aggregate(df: DataFrame, group_cols: list[str], sum_cols: list[str],
               minmax_cols: list[str] = (), sign=None) -> DataFrame:
    """Per-group state. Alongside each ``sum_c`` the view carries
    ``nn_c``, the (signed) count of NON-NULL contributions: SQL's SUM is
    NULL over an all-NULL group, and that NULL-ness is itself additive
    state — without nn the merge cannot tell "no non-null values ever"
    (sum NULL) apart from "values summing to zero" (sum 0)."""
    s = sign if sign is not None else F.lit(1).cast("long")
    aggs = [F.sum(s).alias("cnt")]
    for c in sum_cols:
        aggs += [
            F.sum(s * F.col(c).cast("long")).alias(f"sum_{c}"),
            F.coalesce(
                F.sum(F.when(F.col(c).isNotNull(), s).otherwise(F.lit(0))),
                F.lit(0),
            ).cast("long").alias(f"nn_{c}"),
        ]
    for c in minmax_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy(*group_cols).agg(*aggs)


def _read_source(spark: SparkSession, path: str,
                 version: int | None = None) -> DataFrame:
    """Source read: flat and bucketed versioned tables both work as
    view sources (versioned.read serves both layouts). Schema-pinned
    from the manifest (versioned._pinned_schema) — this is the choke
    point every SQL read and view refresh goes through, and
    mergeSchema footer inference here costs one Spark job PER TABLE
    PER STATEMENT (at 100 TB, a distributed read of every segment
    footer). Safe because the commit layer enforces it: type changes
    are blocked, evolution null-fills by name; legacy manifests
    without col_types fall back to mergeSchema inside the read."""
    return V.read(spark, path, version, pin_schema=True)


def _nullsafe_cond(left_alias: str, right_alias: str, cols: list[str]):
    cond = None
    for g in cols:
        c = F.col(f"{left_alias}.{g}").eqNullSafe(F.col(f"{right_alias}.{g}"))
        cond = c if cond is None else cond & c
    return cond


def _minus_groups(df: DataFrame, ret_groups: DataFrame,
                  group_cols: list[str]) -> DataFrame:
    """Rows whose group is NOT in ret_groups (null-safe; left_anti output
    carries only the left side's columns). Callers pass ret_groups
    already sized by _hint_ret_groups — no unconditional broadcast here."""
    x = df.alias("x")
    return x.join(ret_groups.alias("g"),
                  _nullsafe_cond("x", "g", group_cols), "left_anti")


# broadcast the affected-group keys only when the interval's retraction
# volume is provably small; a refresh interval containing a large
# rewrite can make ret_groups approach group cardinality, and
# broadcasting that risks driver/executor OOM at 100 TB group counts.
# Broadcast cost is BYTES, not rows: the row bound is derived from a
# byte budget at a conservative per-key-column width (64 B covers
# typical string keys plus row overhead), so a 4-column string key
# broadcasts at 1/4 the rows of a single BIGINT key instead of the same
# flat count. Single-column keys keep the historical 1M-row bound
# (64 MiB / 64 B). Both knobs are module attributes for deployments
# with bigger or smaller drivers.
_BROADCAST_BYTES_BUDGET = 64 * 1024 * 1024
_BROADCAST_KEY_COL_WIDTH = 64


def _broadcast_bound_rows(n_key_cols: int = 1) -> int:
    return _BROADCAST_BYTES_BUDGET // (
        _BROADCAST_KEY_COL_WIDTH * max(int(n_key_cols), 1))


# Cost-based refresh dispatch: the incremental path's dominant cost is
# the CDC read, whose row volume the manifest bounds at zero cost
# (_change_bound: append-only interval = new rows; rewriting interval =
# old + new snapshot rows — the multiset diff really does scan both).
# A full recompute scans the head once, so "bound > fraction × head
# rows" is a pure row-count model. The shipped DEFAULT is 0.5: the
# incremental path does roughly two row-passes' work per CDC row (the
# diff/merge plus the commit) against recompute's one pass over the
# head, so the row-model crossover sits near bound ≈ head/2 —
# rewriting intervals (bound ≈ 2 × head) always recompute, append-only
# intervals stay incremental until one batch exceeds ~half the table
# (at which point recompute also resets segment accretion for free),
# and a join view with a small-side rewrite against a large fact stays
# incremental because the SUM of bounds is compared to the SUM of
# heads. Local wall-clock cannot refine this constant: at test scale
# fixed stage floors (~0.3-0.6 s) dominate both paths and recompute
# "wins" everywhere (tools/fraction_crossover.py, table in
# BASELINE.md) — the row model is the 100 TB-honest choice. Pass
# recompute_fraction=None to force pure incremental (what the
# signed-delta proofs pin), or any other fraction to re-tune.
_RECOMPUTE_BOUND_FRACTION = 0.5


def _retraction_bound(src: str, v_from: int, v_to: int) -> int:
    """Zero-cost (manifest-only, no Spark job) upper bound on the number
    of retracted rows in the refresh interval: an append-only interval
    retracts nothing; otherwise every retraction pre-image was a row of
    the OLD snapshot, so its recorded row count bounds the volume."""
    ops = [V._manifest(src, v)["op"] for v in range(v_from + 1, v_to + 1)]
    if all(op in V.APPEND_OPS for op in ops):
        return 0
    m_from = V._manifest(src, v_from)
    return V._manifest_row_count(src, m_from)


def _hint_ret_groups(ret_groups: DataFrame, src: str,
                     v_from: int, v_to: int) -> DataFrame:
    """Apply the broadcast hint to the affected-group keys only when the
    manifest-derived retraction bound is small; past the bound, leave the
    join strategy to AQE (which sees actual sizes at runtime)."""
    if _retraction_bound(src, v_from, v_to) \
            <= _broadcast_bound_rows(len(ret_groups.columns)):
        return F.broadcast(ret_groups)
    return ret_groups


def _state_rows(df: DataFrame, group_cols: list[str], sum_cols: list[str],
                minmax_cols: list[str] = (), sign=None) -> DataFrame:
    """Project CHANGE ROWS to per-row additive state — the row-level
    preimage of _aggregate: cnt = ±1, sum_c = sign·value (NULL
    propagates, SUM skips it), nn_c = sign per non-null value, min/max
    = the value itself. Unioned with a view's stored state and grouped
    ONCE by _merge_states, this replaces the old
    aggregate-then-full-outer-merge chain (two extra Exchanges per
    refresh) with a single exchange; every state column is integral or
    monotone, so one-step and two-step aggregation are bit-identical
    (r14 opt, guide §2.4)."""
    s = sign if sign is not None else F.lit(1).cast("long")
    sel = [F.col(g) for g in group_cols] + [s.alias("cnt")]
    for c in sum_cols:
        sel.append((s * F.col(c).cast("long")).alias(f"sum_{c}"))
        sel.append(F.when(F.col(c).isNotNull(), s).otherwise(F.lit(0))
                   .cast("long").alias(f"nn_{c}"))
    for c in minmax_cols:
        sel += [F.col(c).alias(f"min_{c}"), F.col(c).alias(f"max_{c}")]
    return df.select(*sel)


def _merge_states(frames: list, group_cols: list[str],
                  sum_cols: list[str],
                  minmax_cols: list[str] = ()) -> DataFrame:
    """Null-safe merge of additive per-group state frames (stored view
    state and/or _state_rows change rows) as ONE union + ONE hash
    aggregation. NULL group keys are real groups: groupBy groups them
    together exactly as the old eqNullSafe full-outer join matched
    them. ``nn_c`` — the signed count of non-null contributions —
    reproduces SQL SUM's NULL-over-all-NULL semantics (sum_c is NULL
    iff the merged nn is 0, exactly the old coalesce/when merge).
    min/max merge monotonically — only valid for groups with NO
    retraction in the interval, same contract as before."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    aggs = [F.sum("cnt").alias("cnt")]
    for c in sum_cols:
        nn = F.coalesce(F.sum(f"nn_{c}"), F.lit(0))
        aggs.append(F.when(nn > 0, F.sum(f"sum_{c}")).alias(f"sum_{c}"))
        aggs.append(nn.cast("long").alias(f"nn_{c}"))
    for c in minmax_cols:
        aggs += [F.min(f"min_{c}").alias(f"min_{c}"),
                 F.max(f"max_{c}").alias(f"max_{c}")]
    return out.groupBy(*group_cols).agg(*aggs)


def _signed_change() -> "F.Column":
    """±1 multiplicity of a CDC row: +1 for insert/update_postimage,
    −1 for delete/update_preimage."""
    return (
        F.when(F.col("_change_type").isin(*_INSERTING), F.lit(1))
        .when(F.col("_change_type").isin(*_RETRACTING), F.lit(-1))
        .cast("long")
    )


def _is_integral_type(t: str) -> bool:
    """Integer-valued Spark SQL types exact under CAST AS LONG —
    decimal(p,0) included."""
    return t in {"tinyint", "smallint", "int", "bigint", "boolean"} \
        or (t.startswith("decimal(") and t.endswith(",0)"))


def _check_sum_cols_integral(sum_cols: list[str], types: dict) -> None:
    bad = [c for c in sum_cols
           if not _is_integral_type(types.get(c, "bigint"))]
    if bad:
        raise TypeError(
            f"sum_cols must be integer-valued for BIGINT-exact additive "
            f"maintenance; {', '.join(f'{c} is {types[c]}' for c in bad)}. "
            f"Pre-scale floats to integer units (the cents rule: "
            f"round(x*100) cast to long) in a projection before the view.")


def _refresh_with_retry(refresh, max_retries: int):
    """The ONE OCC rebase loop all three view refreshers share: the loser
    re-reads the advanced cursor, so intervals are never double-applied."""
    for attempt in range(max_retries + 1):
        try:
            return refresh()
        except V.ConcurrentWriteError:
            if attempt == max_retries:
                raise
    raise AssertionError("unreachable")


def _changes_since_cursor(spark, src, v_from, v_to, key, multiset=False):
    """The view's change feed, with a clear failure when the SOURCE was
    vacuumed past the cursor: table_changes needs the manifests back to
    v_from, and a generic FileNotFoundError would send the operator
    digging — name the actual contract instead (retain source manifests
    at least as long as the view's refresh cadence, the same
    checkpoint-vs-vacuum pairing as streaming).

    ``multiset=True`` (the additive consumers: agg/top-k/join views)
    diffs rewriting intervals by FULL-ROW multiplicity instead of by
    key, so the source needs no unique row key — which is what lets a
    view consume ANOTHER VIEW (e.g. an agg view over a flatMap-style
    transform view whose key repeats per output row; the keyed diff
    would pair old×new rows per key and over-count). The transform view
    itself keeps the keyed diff: its delete-vector-by-key + reinsert
    maintenance needs per-key pairing, and its own source contract
    already requires a unique key."""
    import os as _os

    try:
        if multiset:
            return V.table_changes_multiset(spark, src, from_version=v_from,
                                            to_version=v_to)
        return V.table_changes(spark, src, from_version=v_from,
                               to_version=v_to, key=key,
                               include_preimage=True)
    except FileNotFoundError as e:
        if _os.path.exists(V._snap_path(src, v_from)):
            raise  # a different missing file — don't blame vacuum
        raise RuntimeError(
            f"view refresh needs source {src!r} manifests back to its "
            f"cursor v{v_from}, but vacuum already removed them ({e}); "
            f"either vacuum the source with keep_last/retain_seconds "
            f"covering the refresh cadence, or recreate the view from "
            f"the current head"
        ) from e


def _refresh_index(
    spark, view_path: str, *,
    spec_of,               # (path, version) -> spec dict (validates kind)
    src_field: str, cursor_field: str, key_field: str,
    rows_of,               # (spec, source_rows_df) -> index rows
    recompute_fraction,
    app_on_recompute=None,  # (spark, spec, head_df, new_app) -> new_app
    app_on_delta=None,      # (spark, spec, ch_df, new_rows, new_app) -> new_app
) -> int:
    """The ONE cursor-advance skeleton the maintained index kinds share
    (text postings / ANN-LSH buckets / IVF cells): check the cursor,
    prefer the O(changed rows) path (doc-key delete vector retraction +
    derived-rows append, ONE delete_and_append commit), heal
    rollback/vacuumed-past-cursor by full recompute. The kinds diverge
    ONLY in the row-derivation function (``rows_of`` under the spec's
    frozen parameters — tokenization, hyperplane buckets, centroid
    assignment) and in optional manifest-stat maintenance hooks
    (``app_on_delta`` rolls exact integer corpus stats / drift counters
    forward from the interval; ``app_on_recompute`` re-derives them
    from the head). This is the refresh twin of the unified serving
    read (versioned.read_probed): r13 unified how the three kinds READ,
    this unifies how they ADVANCE.

    Cost-model stance (inherited from the pair views): the row-model is
    disabled (_dispatch_recompute(None, ...)) — derived rows scatter
    across the index layout, so per-row DML would trip full re-derivation
    on every delete; recompute keeps HEAL semantics only."""
    view_v = V.current_version(view_path)
    spec = spec_of(view_path, view_v)
    src, key = spec[src_field], spec[key_field]
    v_from = int(spec[cursor_field])
    v_to = V.current_version(src)
    if v_to == v_from:
        return view_v
    new_app = dict(spec) | {cursor_field: v_to}

    def _recompute() -> int:
        head = _read_source(spark, src, v_to)
        app = new_app if app_on_recompute is None else \
            app_on_recompute(spark, spec, head, dict(new_app))
        return V.overwrite(spark, view_path, rows_of(spec, head),
                           extra={"app": app}, parent_version=view_v)

    try:
        recompute, _bounds = _dispatch_recompute(
            None, [(src, v_from, v_to)])
    except RuntimeError:
        if recompute_fraction is None:
            raise
        recompute = True
    if recompute:
        return _recompute()
    try:
        ch = _changes_since_cursor(spark, src, v_from, v_to, key)
    except RuntimeError:
        return _recompute()  # vacuumed past the cursor: heal
    # persist: the frame is consumed twice inside delete_and_append
    # (delete-vector write + segment write), and a rewriting interval's
    # CDC is a snapshot-diff join — don't run it per consumer
    ch = ch.persist()
    try:
        del_keys = (ch.where(F.col("_change_type").isin(
            *(_RETRACTING + _INSERTING))).select(key).distinct())
        ins = ch.where(F.col("_change_type").isin(*_INSERTING))
        new_rows = rows_of(spec, ins)
        app = new_app if app_on_delta is None else \
            app_on_delta(spark, spec, ch, new_rows, dict(new_app))
        return V.delete_and_append(
            spark, view_path, del_keys, key, new_rows,
            extra={"app": app}, parent_version=view_v)
    finally:
        ch.unpersist()


# index SERVING skeleton — the query twin of _refresh_index. The probed
# kinds (ANN-LSH buckets, IVF cells) share every step of a query plan and
# supply only a _ProbeRule; the batch check and the per-qid top-k ending
# serve the text kind's batch too.
# ---------------------------------------------------------------------------

# columns the serving plans add on top of an index's own
_SERVING_COLS = ("score", "bm25", "_rn", "_c", "_mult", "_idf", "_tfp")


class _ProbeRule(NamedTuple):
    """A probed index kind's probe resolution, computed in NumPy before
    any Spark plan is built."""
    col: str        # the probe column ("bucket", "ivf_cell")
    map_type: str   # its key type in the batch literal map
    key: str
    vec_col: str
    dim: int
    cols: tuple     # every index column (a batch qid_col must avoid them)
    # query vector -> iterator of probe-value lists: the requested tier,
    # then the min_results widening tiers (None = every row)
    tiers: Callable


def _check_batch(fn: str, queries, qid_col: str, cols) -> str:
    """The one batch check of query_{ann,ivf,text}_index_batch: a
    non-empty batch of unique qids, all int or all str (returns the qid
    SQL type), and a qid_col naming no index or serving column — the
    plan's withColumn would silently overwrite that column with query
    ids."""
    if not queries:
        raise ValueError(f"{fn} needs at least one (qid, query) pair")
    if "`" in qid_col:
        raise ValueError(f"qid_col {qid_col!r} contains a backtick")
    if qid_col.lower() in {c.lower() for c in (*cols, *_SERVING_COLS)}:
        raise ValueError(f"qid_col {qid_col!r} collides with an index "
                         f"or serving column")
    qids = [q for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate qids in batch")
    if all(isinstance(q, str) for q in qids):
        return "string"
    if all(isinstance(q, int) and not isinstance(q, bool) for q in qids):
        return "bigint"
    raise ValueError("qids must be all int or all str")


def _topk_per_qid(scored: DataFrame, qid_col: str, key: str, score: str,
                  k: int) -> DataFrame:
    """The per-qid top-k ending of every batch plan: a row_number window
    under the (score DESC, key ASC) total order — the single-query
    order — output ordered (qid, score DESC, key)."""
    w = Window.partitionBy(qid_col).orderBy(F.desc(score), F.asc(key))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select(qid_col, key, score)
            .orderBy(qid_col, F.desc(score), F.asc(key)))


def _query_probed(spark: SparkSession, view_path: str, v: int,
                  rule: _ProbeRule, query_vec, k: int,
                  where: str | None = None,
                  min_results: int | None = None,
                  rank=None) -> DataFrame:
    """One query against a probed index. Per tier: the probe values
    resolve to physical buckets in the shared serving read
    (versioned.read_probed — on a bucketed layout only their segment
    files enter the plan), the residual IN-list prunes hash-collided
    rows inside survivors, the payload ``where`` applies inside the
    scan, and candidates score by exact dot, top-k under
    (score DESC, key ASC). ``rank(cand, qv, probes)`` replaces that
    scoring (the IVFADC tier).

    ``min_results`` (≤ k) walks the kind's widening tiers until that
    many rows survive, one count job per step. Each tier re-plans from
    scratch (files re-prune), so its result is exactly the single-shot
    answer at that tier — no cross-tier merge state."""
    from ..operators.ann import _exact_topk

    qv = np.asarray(query_vec, dtype=np.float64)
    if qv.shape != (rule.dim,):
        raise ValueError(f"query dim {qv.shape} != index dim ({rule.dim},)")
    flt = _where_expr(where) if where is not None else None

    def _plan(probes) -> DataFrame:
        cand = V.read_probed(spark, view_path, v, rule.col,
                             probe_values=probes)
        if probes is not None:
            cand = cand.where(F.col(rule.col).isin(probes))
        if flt is not None:
            cand = _apply_where(cand, flt, where)
        if rank is not None:
            return rank(cand, qv, probes)
        return _exact_topk(cand, qv, k, rule.key, rule.vec_col)

    tiers = rule.tiers(qv)
    out = _plan(next(tiers))
    if min_results is None:
        return out
    want = min(int(min_results), int(k))
    for wider in tiers:
        if out.count() >= want:
            return out
        out = _plan(wider)
    return out


def _query_probed_batch(spark: SparkSession, view_path: str, v: int,
                        rule: _ProbeRule, fn: str, queries, k: int,
                        qid_col: str, where: str | None) -> DataFrame:
    """M ``(qid, vector)`` queries against a probed index in ONE plan.
    Every query's requested probe tier resolves in NumPy; their UNION
    drives one file-pruned state scan; two constant-folded literal maps
    attach queries to candidates inside the scan stage — probe value ->
    array(qid) explodes each candidate into its (row, query) pairs, and
    qid -> qvec fetches the scoring vector. A row holds exactly one probe
    value, so each pair is emitted at most once: inner-join semantics
    with no join and no dedup exchange. Exact dots score JVM-side and a
    per-qid window takes top-k, so the only shuffle is over candidate
    rows, never the corpus (the REPOSE shape: partition-local scoring,
    then a merge). Per query the rows are IDENTICAL to _query_probed:
    same probes, the same fold-order dot over bit-identical literals
    (localrel's shortest-repr double text), the same total order.

    Batch size: send at most 1024 queries per call. Measured on
    local[4] over a 20k-row, 64-dim index, the cost per query falls
    through M = 1024, the largest size measured (5-6 ms a query with
    plan build, against 300-410 ms for a batch of one). Every stage's
    task binary carries the literal maps and grows by about 1 KiB a
    query; at M = 1024 it reaches 1.0-1.1 MiB, past Spark's
    large-task-binary warning."""
    from ..functions.localrel import _render

    qid_t = _check_batch(fn, queries, qid_col, rule.cols)
    by_probe: dict[int, list] = {}
    qvec_lit: dict = {}
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        if q.shape != (rule.dim,):
            raise ValueError(f"query {qid!r} dim {q.shape} != index dim "
                             f"({rule.dim},)")
        qvec_lit[qid] = _render([float(x) for x in q], "array<double>")
        for p in next(rule.tiers(q)):
            by_probe.setdefault(int(p), []).append(qid)
    pmap = "map(" + ", ".join(
        f"CAST({p} AS {rule.map_type}), "
        f"array({', '.join(_render(q, qid_t) for q in qs)})"
        for p, qs in sorted(by_probe.items())) + ")"
    qmap = "map(" + ", ".join(
        f"{_render(q, qid_t)}, {lit}" for q, lit in qvec_lit.items()) + ")"
    union = sorted(by_probe)
    cand = V.read_probed(spark, view_path, v, rule.col,
                         probe_values=union).where(
        F.col(rule.col).isin(union))
    if where is not None:
        cand = _apply_where(cand, _where_expr(where), where)
    scored = (cand
              .withColumn(qid_col, F.explode(
                  F.expr(f"element_at({pmap}, {rule.col})")))
              .withColumn("score", VEC.dot(
                  F.col(rule.vec_col),
                  F.expr(f"element_at({qmap}, `{qid_col}`)"))))
    return _topk_per_qid(scored, qid_col, rule.key, "score", k)


def create_agg_view(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    group_cols: list[str], sum_cols: list[str] | None = None,
    minmax_cols: list[str] | None = None,
) -> int:
    """Materialize ``SELECT group_cols, COUNT(*) cnt, SUM(c) sum_c,
    MIN/MAX(m) ...`` over the source table's HEAD and record the view
    spec + cursor in the view's manifest. ``key`` is the source's row
    identity, needed when a refresh interval contains rewrites
    (snapshot-diff CDC). ``sum_cols`` must be integer-valued columns
    (BIGINT-exact additivity). ``minmax_cols`` adds min_/max_ columns:
    they are NOT retractable, so a refresh whose interval retracts rows
    from a group RECOMPUTES that group from the source head (filtered by
    a broadcast semi-join on the affected group keys — row volume is the
    affected groups' rows; insert-only groups still merge monotonically
    with least/greatest, no rescan)."""
    sum_cols = list(sum_cols or [])
    minmax_cols = list(minmax_cols or [])
    src_v = V.current_version(source_path)
    src_df = _read_source(spark, source_path, src_v)
    types = {f.name: f.dataType.simpleString() for f in src_df.schema.fields}
    _check_sum_cols_integral(sum_cols, types)
    missing = [c for c in [key] + list(group_cols) + sum_cols + minmax_cols
               if c not in types]
    if missing:
        raise ValueError(f"columns not in source schema: {missing}")
    state = _aggregate(src_df, list(group_cols), sum_cols, minmax_cols)
    return V.create(spark, view_path, state, extra={"app": {
        "mv_source": source_path, "mv_key": key,
        "mv_group_cols": list(group_cols), "mv_sum_cols": sum_cols,
        "mv_minmax_cols": minmax_cols,
        "mv_source_version": src_v,
    }})


def refresh_agg_view(spark: SparkSession, view_path: str,
                     recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
                     ) -> int:
    """Advance the view to the source's head by applying the change feed
    since the recorded cursor (spec read from the view manifest). Returns
    the view's new version (current version when already fresh).

    Additive columns (cnt, sum_*) merge as signed deltas. When the view
    tracks min/max, groups touched by a RETRACTING change (delete /
    update_preimage) are recomputed from the source snapshot at the
    target version — restricted by a broadcast semi-join on those group
    keys, so row volume is the affected groups' rows, never the table;
    insert-only groups still merge monotonically (least/greatest) with
    zero source rescan. An append-only refresh therefore never scans
    pre-existing data regardless of spec.

    ``recompute_fraction`` enables cost-based dispatch (default None =
    always incremental, the historical behavior): when the manifest
    change bound exceeds fraction × head rows — i.e. the CDC read would
    touch more rows than a from-scratch groupBy — the refresh
    recomputes the aggregate at the new cursor instead. Identical
    result either way; pass _RECOMPUTE_BOUND_FRACTION (1.0) for the
    row-scan cost model (rewriting intervals recompute, append-only
    intervals never do — their delta is a subset of the head)."""
    # ONE consistent read: OCC parent first, then cursor + state AT that
    # version — spec and parent from different versions would let a
    # concurrent refresher's interval double-apply silently
    view_v = V.current_version(view_path)
    m = _spec(view_path, view_v)
    src = m["mv_source"]
    group_cols = list(m["mv_group_cols"])
    sum_cols = list(m["mv_sum_cols"])
    minmax_cols = list(m.get("mv_minmax_cols", []))
    v_from = int(m["mv_source_version"])
    v_to = V.current_version(src)
    if v_to == v_from:
        return view_v
    new_extra = {"app": {
        "mv_source": src, "mv_key": m["mv_key"],
        "mv_group_cols": group_cols, "mv_sum_cols": sum_cols,
        "mv_minmax_cols": minmax_cols,
        "mv_source_version": v_to,
    }}
    if _dispatch_recompute(recompute_fraction,
                           [(src, v_from, v_to)])[0]:
        state = _aggregate(_read_source(spark, src, v_to), group_cols,
                           sum_cols, minmax_cols)
        return V.overwrite(spark, view_path, state, extra=new_extra,
                           parent_version=view_v)
    ch = _changes_since_cursor(spark, src, v_from, v_to, m["mv_key"],
                               multiset=True)
    cur = V.read(spark, view_path, view_v, pin_schema=True)
    if not minmax_cols:
        # additive path consumes ch exactly ONCE (the single overwrite
        # write) — no persist needed; change rows union straight into
        # the stored state for ONE group-key exchange (_merge_states)
        merged = _merge_states(
            [cur, _state_rows(ch, group_cols, sum_cols,
                              sign=_signed_change())],
            group_cols, sum_cols).where(F.col("cnt") > 0)
        return V.overwrite(spark, view_path, merged, extra=new_extra,
                           parent_version=view_v)
    ch = ch.persist()  # minmax path feeds four plan subtrees from ch
    try:
        return _refresh_minmax(spark, view_path, view_v, ch, src,
                               v_from, v_to, group_cols, sum_cols,
                               minmax_cols, cur, new_extra)
    finally:
        ch.unpersist()


def _two_tier_minmax_state(ch, recomp_src, group_cols, sum_cols,
                           minmax_cols, cur, broadcast_ok: bool):
    """The ONE non-retractable-tier skeleton both the single-source and
    join minmax refreshers share: groups touched by a RETRACTING change
    recompute from ``recomp_src`` (the pinned snapshot / pinned join)
    behind a semi-join on the affected group keys; untouched groups take
    the additive merge + monotone min/max of the inserting changes.
    ``ch`` is PERSISTED by the caller (it feeds the insert delta, the
    affected-group keys, and two anti-joins); ``broadcast_ok`` is the
    caller's SOUND smallness decision for the affected-group keys —
    soundness differs per caller (a single-source ret set is bounded by
    its CDC rows; join PAIRS fan out, so the join caller counts).
    Returns the merged view state (uncommitted)."""
    ret_groups = (
        ch.where(F.col("_change_type").isin(*_RETRACTING))
        .select(*group_cols).distinct()
    )
    if broadcast_ok:
        ret_groups = F.broadcast(ret_groups)
    ins = ch.where(F.col("_change_type").isin(*_INSERTING))
    recomp = _aggregate(
        recomp_src.alias("s").join(
            ret_groups.alias("g"),
            _nullsafe_cond("s", "g", group_cols), "left_semi"),
        group_cols, sum_cols, minmax_cols)

    def _minus_affected(df: DataFrame) -> DataFrame:
        return _minus_groups(df, ret_groups, group_cols)

    # the anti-join moves to ROW level (same filtered set: a row's group
    # is in ret_groups iff its aggregate's group is), so the insert
    # delta needs no pre-aggregation — one exchange merges it with the
    # surviving stored state
    ins_rows = _minus_affected(_state_rows(ins, group_cols, sum_cols,
                                           minmax_cols))
    return (
        _merge_states([_minus_affected(cur), ins_rows], group_cols,
                      sum_cols, minmax_cols)
        .unionByName(recomp)
        .where(F.col("cnt") > 0)
    )


def _refresh_minmax(spark, view_path, view_v, ch, src, v_from, v_to,
                    group_cols, sum_cols, minmax_cols, cur, new_extra):
    """Single-source minmax tier: the retraction set is bounded by the
    interval's CDC rows, so the manifest-derived bound is a sound
    broadcast decision."""
    merged = _two_tier_minmax_state(
        ch, _read_source(spark, src, v_to), group_cols, sum_cols,
        minmax_cols, cur,
        broadcast_ok=_retraction_bound(src, v_from, v_to)
        <= _broadcast_bound_rows(len(group_cols)))
    return V.overwrite(spark, view_path, merged, extra=new_extra,
                       parent_version=view_v)


def refresh_agg_view_with_retry(
    spark: SparkSession, view_path: str, max_retries: int = 3,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Refresh under the standard optimistic-concurrency rebase loop
    (same contract as versioned.upsert_with_retry): a concurrent
    refresher's commit raises ConcurrentWriteError; the retry re-reads
    the (now advanced) cursor, so the loser applies only the remaining
    interval — never a double-application, because the interval is
    derived from the committed cursor each attempt."""
    return _refresh_with_retry(
        lambda: refresh_agg_view(spark, view_path,
                                 recompute_fraction=recompute_fraction),
        max_retries)


def read_agg_view(spark: SparkSession, view_path: str,
                  version: int | None = None) -> DataFrame:
    """The view state at a version (default head) — a plain versioned
    read; exists for symmetry and discoverability."""
    return V.read(spark, view_path, version)


# ---------------------------------------------------------------------------
# Row-transform views: incrementally-maintained DERIVED tables
# ---------------------------------------------------------------------------


def create_transform_view(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    transform, name: str,
) -> int:
    """Incrementally-maintained ROW-TRANSFORM view: view = transform(source),
    where ``transform`` is a deterministic ROW-LOCAL DataFrame→DataFrame
    function that PRESERVES the source's ``key`` column (each source row
    maps to ≥0 view rows tagged with its key — projections, flatMaps,
    signature/feature extraction). The function is application code passed
    to every refresh; the manifest records only its declared ``name`` so a
    refresh with a different transform fails loudly instead of silently
    mixing outputs.

    The 100 TB case: a MinHash signature index or feature table over an
    ingesting corpus — maintenance cost per refresh is the CHANGED rows
    (transform of inserts + a delete vector for retracted keys), and the
    banded near-dup join consumes the index without recomputing
    signatures for the corpus (dedup.minhash_near_dup_incremental)."""
    src_v = V.current_version(source_path)
    state = transform(_read_source(spark, source_path, src_v))
    if key not in state.columns:
        raise ValueError(f"transform must preserve key column {key!r}; "
                         f"got {state.columns}")
    return V.create(spark, view_path, state, extra={"app": {
        "tv_source": source_path, "tv_key": key, "tv_name": name,
        "tv_source_version": src_v,
    }})


def refresh_transform_view(
    spark: SparkSession, view_path: str, transform, name: str,
    auto_compact: bool = False, compact_threshold: int = 32,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance a transform view to the source head by the change feed, as
    ONE commit: retracted keys (delete / update_preimage) become a DELETE
    VECTOR and inserted rows (insert / update_postimage) a transformed
    new segment, published together (versioned.delete_and_append) — a
    reader sees the pre-refresh state or the fully-refreshed state,
    never retracted keys without their replacements. The vector's scope
    excludes the same commit's appended segment, so updates are
    delete-then-insert under the versioned layer's re-insert semantics.

    Concurrency: the commit is pinned to the view version read at entry
    (OCC parent), so two racing refreshers serialize — the loser gets
    ConcurrentWriteError and its retry (refresh_transform_view_with_retry)
    re-reads the ADVANCED cursor, applying only the remaining interval;
    inserts can never double-apply. A crash leaves the cursor behind and
    the re-run re-applies the whole interval idempotently (nothing
    partial was published). Many refreshes accrete segments + vectors —
    versioned.compact() folds the view back down without touching the
    spec (the app namespace carries through every commit);
    ``auto_compact=True`` runs that fold inline whenever the post-refresh
    manifest holds ``compact_threshold`` or more segments + vectors
    (versioned.maybe_compact — one manifest read in the no-op case,
    best-effort under OCC races), so an unattended streaming refresher
    keeps the view's segment count bounded by the threshold."""
    # ONE consistent read: OCC parent first, spec (cursor) AT it
    view_v = V.current_version(view_path)
    spec = _spec_tv(view_path, view_v)
    if spec["tv_name"] != name:
        raise ValueError(
            f"refresh with transform {name!r} but the view was created "
            f"with {spec['tv_name']!r} — mixing transforms would corrupt "
            f"the view")
    src = spec["tv_source"]
    key = spec["tv_key"]
    v_from = int(spec["tv_source_version"])
    v_to = V.current_version(src)
    if v_to == v_from:
        return view_v
    # cost-based dispatch (the refresh_agg_view contract): a rewriting
    # interval whose CDC scan bound exceeds fraction × head rows
    # re-transforms the head as ONE overwrite — identical rows, one
    # scan, and the overwrite resets the view's segment accretion for
    # free (no vector, no compaction debt)
    if _dispatch_recompute(recompute_fraction,
                           [(src, v_from, v_to)])[0]:
        state = transform(_read_source(spark, src, v_to))
        if key not in state.columns:
            raise ValueError(
                f"transform must preserve key column {key!r}; "
                f"got {state.columns}")
        return V.overwrite(spark, view_path, state,
                           extra={"app": dict(spec)
                                  | {"tv_source_version": v_to}},
                           parent_version=view_v)
    ch = _changes_since_cursor(spark, src, v_from, v_to, key).persist()
    try:
        retract_keys = (
            ch.where(F.col("_change_type").isin(*_RETRACTING))
            .select(key).distinct()
        )
        ins_rows = (
            ch.where(F.col("_change_type").isin(*_INSERTING))
            .drop("_change_type")
        )
        new_app = dict(spec) | {"tv_source_version": v_to}
        n_ret = retract_keys.limit(1).count()
        new_state = transform(ins_rows)
        if n_ret:
            # one commit: vector + transformed segment (the segment may
            # be empty — cheap, and the cursor must advance regardless)
            out_v = V.delete_and_append(
                spark, view_path, retract_keys, key, new_state,
                extra={"app": new_app}, parent_version=view_v)
        else:
            # insert-only interval (the common ingest case): one append —
            # empty when the inserts transform to zero view rows (the
            # cursor still advances; a never-advancing cursor would make
            # every later refresh re-diff a growing interval)
            out_v = V.append(spark, view_path, new_state,
                             extra={"app": new_app}, parent_version=view_v)
    finally:
        ch.unpersist()
    if auto_compact:
        out_v = V.maybe_compact(spark, view_path, compact_threshold)
    return out_v


def refresh_transform_view_with_retry(
    spark: SparkSession, view_path: str, transform, name: str,
    max_retries: int = 3,
    auto_compact: bool = False, compact_threshold: int = 32,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """OCC rebase loop for concurrent transform-view refreshers (same
    contract as refresh_agg_view_with_retry): the loser re-reads the
    advanced cursor, so intervals are never double-applied."""
    return _refresh_with_retry(
        lambda: refresh_transform_view(
            spark, view_path, transform, name,
            auto_compact=auto_compact, compact_threshold=compact_threshold,
            recompute_fraction=recompute_fraction),
        max_retries)


def _spec_tv(path: str, version: int | None = None) -> dict:
    v = V.current_version(path) if version is None else int(version)
    m = V._manifest(path, v)
    spec = m.get("app") or {}
    if "tv_source" not in spec:
        raise ValueError(f"{path} is not a transform view "
                         f"(no tv_source in its manifest app namespace)")
    return spec


# ---------------------------------------------------------------------------
# Per-group TOP-K views: the "trending items" maintained ranking
# ---------------------------------------------------------------------------


def create_topk_view(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    group_cols: list[str], score_col: str, k: int,
) -> int:
    """Maintained per-group TOP-K ranking (``row_number() OVER (PARTITION
    BY groups ORDER BY score DESC, key ASC) <= k``) — the leaderboard /
    trending-items view. Top-k is not additively retractable (evicted
    rows are gone from the view), so maintenance uses the same two-tier
    strategy as MIN/MAX agg views:

    * insert-only groups merge k-BOUNDED: current top-k rows ∪ the new
      candidates re-rank inside the group — never a source rescan, and
      the window input is ≤ k + inserts rows per group (an insert that
      doesn't beat rank k simply falls out);
    * groups hit by a retraction (delete / update_preimage — including a
      row MOVING between groups, which retracts from its old group)
      recompute from the pinned source snapshot behind a broadcast
      semi-join on the affected group keys.

    View columns: group_cols…, key, score_col, rnk (1-based). Ties break
    on key ASC, so the ranking is total and oracle-exact."""
    if int(k) < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    src_v = V.current_version(source_path)
    src_df = _read_source(spark, source_path, src_v)
    cols = {f.name for f in src_df.schema.fields}
    missing = [c for c in list(group_cols) + [key, score_col]
               if c not in cols]
    if missing:
        raise ValueError(f"columns not in source schema: {missing}")
    state = _topk_of(src_df, list(group_cols), key, score_col, int(k))
    return V.create(spark, view_path, state, extra={"app": {
        "kv_source": source_path, "kv_key": key,
        "kv_group_cols": list(group_cols), "kv_score_col": score_col,
        "kv_k": int(k), "kv_source_version": src_v,
    }})


def _topk_of(df: DataFrame, group_cols: list[str], key: str,
             score_col: str, k: int) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc(score_col), F.asc(key))
    return (
        df.select(*group_cols, key, score_col)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def refresh_topk_view(spark: SparkSession, view_path: str,
                      recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION) -> int:
    """Advance a top-k view to the source head (one-consistent-read +
    OCC-pinned commit, the refresh_agg_view contract).
    ``recompute_fraction`` is the same cost-based dispatch as
    refresh_agg_view: when the CDC read would scan more than
    fraction × head rows, rerank from the head snapshot instead —
    identical result (the initial materialization IS that ranking)."""
    view_v = V.current_version(view_path)
    m = V._manifest(view_path, view_v)
    spec = m.get("app") or {}
    if "kv_source" not in spec:
        raise ValueError(f"{view_path} is not a top-k view "
                         f"(no kv_source in its manifest app namespace)")
    src = spec["kv_source"]
    key = spec["kv_key"]
    group_cols = list(spec["kv_group_cols"])
    score_col = spec["kv_score_col"]
    k = int(spec["kv_k"])
    v_from = int(spec["kv_source_version"])
    v_to = V.current_version(src)
    if v_to == v_from:
        return view_v
    if _dispatch_recompute(recompute_fraction,
                           [(src, v_from, v_to)])[0]:
        state = _topk_of(_read_source(spark, src, v_to), group_cols,
                         key, score_col, k)
        return V.overwrite(spark, view_path, state,
                           extra={"app": dict(spec)
                                  | {"kv_source_version": v_to}},
                           parent_version=view_v)
    ch = _changes_since_cursor(spark, src, v_from, v_to, key,
                               multiset=True).persist()
    try:
        new_app = dict(spec) | {"kv_source_version": v_to}
        ret_groups = _hint_ret_groups(
            ch.where(F.col("_change_type").isin(*_RETRACTING))
            .select(*group_cols).distinct(),
            src, v_from, v_to)
        ins = (
            ch.where(F.col("_change_type").isin(*_INSERTING))
            .select(*group_cols, key, score_col)
        )
        cur = V.read(spark, view_path, view_v, pin_schema=True)
        # DETERMINISTIC skip of the retraction tier (not AQE empty-
        # relation pruning): the common insert-only ingest refresh must
        # never plan a source-snapshot scan
        n_ret = ret_groups.limit(1).count()
        if not n_ret:
            merged = _topk_of(
                cur.select(*group_cols, key, score_col).unionByName(ins),
                group_cols, key, score_col, k)
            return V.overwrite(spark, view_path, merged,
                               extra={"app": new_app},
                               parent_version=view_v)

        def _minus_affected(df: DataFrame) -> DataFrame:
            return _minus_groups(df, ret_groups, group_cols)

        # insert-only groups: k-bounded re-rank of (current top-k ∪ new)
        survivors = _minus_affected(cur).select(*group_cols, key, score_col)
        newcomers = _minus_affected(ins)
        regrown = _topk_of(survivors.unionByName(newcomers),
                           group_cols, key, score_col, k)
        # affected groups: recompute from the pinned snapshot
        src_at = _read_source(spark, src, v_to).alias("s")
        recomp = _topk_of(
            src_at.join(ret_groups.alias("g"),
                        _nullsafe_cond("s", "g", group_cols), "left_semi"),
            group_cols, key, score_col, k)
        merged = regrown.unionByName(recomp)
        # the spec MUST live under the "app" namespace: a top-level extra
        # would leave the parent's app (stale cursor) to carry forward,
        # and the next refresh would re-apply an overlapping interval
        return V.overwrite(spark, view_path, merged,
                           extra={"app": new_app}, parent_version=view_v)
    finally:
        ch.unpersist()


def refresh_topk_view_with_retry(
    spark: SparkSession, view_path: str, max_retries: int = 3,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """OCC rebase loop for concurrent top-k refreshers (the standard
    contract: the loser re-reads the advanced cursor)."""
    return _refresh_with_retry(
        lambda: refresh_topk_view(spark, view_path,
                                  recompute_fraction=recompute_fraction),
        max_retries)


# ---------------------------------------------------------------------------
# Incremental JOIN views: maintained aggregates over an equi-join of TWO
# versioned sources
# ---------------------------------------------------------------------------


def _change_bound(src: str, v_from: int, v_to: int) -> int:
    """Manifest-only (zero Spark jobs) upper bound on the number of CDC
    rows in an interval: append-only intervals are bounded by the new
    segments' recorded row counts; a rewriting interval's snapshot diff
    emits at most old + new snapshot rows (every change row is a row of
    one of the two snapshots)."""
    from .catalog import table_row_count as _footer_rows
    import os as _os

    append_only, new_rows = True, 0
    for v in range(v_from + 1, v_to + 1):
        m = V._manifest(src, v)
        append_only = append_only and m["op"] in V.APPEND_OPS
        parent = V._manifest(src, v - 1)
        sr = m.get("seg_rows", {})
        for s in V._manifest_segments(m) - V._manifest_segments(parent):
            # a missing seg_rows entry must NOT silently count as 0 — an
            # underestimated "upper bound" would wrongly enable the
            # broadcast this guard exists to prevent; fall back to the
            # parquet footer (the same fallback _manifest_row_count uses)
            n = sr.get(s)
            new_rows += int(n) if n is not None \
                else _footer_rows(_os.path.join(src, s))
    if append_only:
        return new_rows
    return (V._manifest_row_count(src, V._manifest(src, v_from))
            + V._manifest_row_count(src, V._manifest(src, v_to)))


def _on_cols(on) -> list[str]:
    """Normalize the equi-join spec to a column list: ``on`` is a single
    column name or a list of them (composite keys). Manifests written
    before the composite-key extension store a plain string — both render
    back through this one normalizer."""
    return [on] if isinstance(on, str) else list(on)


def _prune_to_delta_keys(snap: DataFrame, ch: DataFrame, on: list[str],
                         change_bound: int) -> DataFrame:
    """Key-prune the OPPOSITE side's snapshot to the delta's join keys
    before the delta-join — when the interval's change bound is small
    (the common ingest refresh), the broadcast semi-join turns
    "delta ⋈ snapshot" from a full-snapshot shuffle into a scan that
    keeps only matching keys. Past the bound a shuffle semi-join would
    cost as much as the join it guards, so the snapshot passes through
    un-pruned and AQE plans the honest join. ``change_bound`` is the
    caller's _change_bound for the interval (computed once per side
    per refresh — it may open parquet footers on legacy manifests)."""
    if change_bound <= _broadcast_bound_rows(len(on)):
        # no distinct(): a left_semi probe matches any copy, so dup keys
        # in the broadcast relation change nothing — and dropping the
        # distinct drops a full exchange + two aggregates from every
        # refresh (rows are already bounded by change_bound)
        return snap.join(F.broadcast(ch.select(*on)), on, "left_semi")
    return snap


def _validate_join_sources(l_df: DataFrame, r_df: DataFrame,
                           on: list[str]) -> None:
    """Shared create-time schema guard for BOTH join-view flavors."""
    if len(set(on)) != len(on) or not on:
        raise ValueError(f"join columns must be non-empty and unique: {on}")
    for c in on:
        if c not in l_df.columns or c not in r_df.columns:
            raise ValueError(
                f"join column {c!r} must exist in both sources")
    clash = (set(l_df.columns) & set(r_df.columns)) - set(on)
    if clash:
        raise ValueError(
            f"column names must be unique across the two sources (rename "
            f"in a projection before the view): {sorted(clash)}")


def _interval_append_only(src: str, v_from: int, v_to: int) -> bool:
    """Manifest-only: every commit in (v_from, v_to] is an append (an
    empty interval is trivially append-only)."""
    return all(V._manifest(src, v)["op"] in V.APPEND_OPS
               for v in range(v_from + 1, v_to + 1))


def _delta_change_frames(spark, lsrc, rsrc,
                         l_from, l_to, r_from, r_to, persisted):
    """The two sides' multiset CDC frames for a join-view refresh
    interval, persisted (each feeds at least two plan subtrees) and
    appended to ``persisted`` for the caller's finally-block. A side
    whose cursor is already at head returns None."""
    ch_l = ch_r = None
    if l_to > l_from:
        ch_l = _changes_since_cursor(
            spark, lsrc, l_from, l_to, None, multiset=True).persist()
        persisted.append(ch_l)
    if r_to > r_from:
        ch_r = _changes_since_cursor(
            spark, rsrc, r_from, r_to, None, multiset=True).persist()
        persisted.append(ch_r)
    return ch_l, ch_r


def _delta_pair_frames(spark, lsrc, rsrc, on, ch_l, ch_r,
                       l_bound, r_bound, l_to, r_from):
    """The signed delta rule's two pair terms, shared by BOTH join-view
    flavors: ΔL ⋈ key-pruned R@r_from, and L@l_to key-pruned ⋈ ΔR.
    ``on`` is the normalized join-column list (composite keys join on
    the full tuple); ``ch_l``/``ch_r`` are the persisted CDC frames
    from _delta_change_frames (None = side unchanged);
    ``l_bound``/``r_bound`` are each side's _change_bound, computed
    ONCE by the refresher and passed to every consumer (the bound can
    open parquet footers on legacy manifests — real I/O)."""
    frames = []
    if ch_l is not None:
        r_old = _prune_to_delta_keys(
            _read_source(spark, rsrc, r_from), ch_l, on, l_bound)
        frames.append(ch_l.join(r_old, on))
    if ch_r is not None:
        l_new = _prune_to_delta_keys(
            _read_source(spark, lsrc, l_to), ch_r, on, r_bound)
        frames.append(l_new.join(ch_r, on))
    return frames


def _null_extend(df: DataFrame, right_fields, on: list[str]) -> DataFrame:
    """Extend a LEFT-side frame with the right side's non-join columns as
    typed NULLs — the SQL null-extension of an unmatched left row in a
    LEFT OUTER join. ``right_fields`` is the right source's schema
    fields; join columns and any column already present pass through."""
    out = df
    for f in right_fields:
        if f.name not in on and f.name not in df.columns:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out


def _all_on_notnull(on: list[str]):
    cond = None
    for c in on:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else cond & nn
    return cond


def _delta_nullext_frames(spark, lsrc, rsrc, on, r_fields, ch_l, ch_r,
                          l_bound, r_bound, l_to, r_from):
    """The LEFT OUTER join's anti-semijoin (null-extension) delta — the
    two terms that telescope N(L2,R2) − N(L1,R1) for N(L,R) = the
    null-extended copies of L rows with no R match (SQL semantics: a
    left row with any NULL join component is always unmatched):

      term A: ΔL ▷ R1 — signed ΔL rows whose key has no match in the
        right snapshot AT THE CURSOR (left_anti keeps NULL-key rows,
        matching SQL), null-extended;
      term B: (keys whose right match count flips 0↔positive between
        R1 and R2) ⋈ L2 — a right delta can flip EVERY left row at its
        key between matched and null-extended; the null-extension
        appears (+, "insert") when the key's last match disappears and
        retracts (−, "delete") when a first match appears. m2 is
        derived as m1 + Δcount from the right CDC itself, so only R1
        is scanned — pruned to the delta's keys behind the same
        size-guarded broadcast semi-join. NULL-component ΔR keys are
        excluded up front: they can never match a left row, so they
        can never flip one.

    The bracketing (R1 for term A, flips applied to L2) mirrors the
    inner-pair rule's asymmetry and telescopes exactly the same way.
    ``ch_l``/``ch_r`` are the SAME persisted CDC frames the pair terms
    consume — the snapshot diff runs once per side per refresh."""
    frames = []
    if ch_l is not None:
        r1_keys = _prune_to_delta_keys(
            _read_source(spark, rsrc, r_from).select(*on), ch_l, on,
            l_bound)
        frames.append(_null_extend(
            ch_l.join(r1_keys, on, "left_anti"), r_fields, on))
    if ch_r is not None:
        ch_rk = ch_r.where(_all_on_notnull(on))
        keys_r = ch_rk.select(*on).distinct()
        r1_at = _prune_to_delta_keys(
            _read_source(spark, rsrc, r_from).select(*on), ch_rk, on,
            r_bound)
        m1 = r1_at.groupBy(*on).agg(F.count(F.lit(1)).alias("_m1"))
        md = ch_rk.groupBy(*on).agg(
            F.sum(_signed_change()).alias("_md"))
        k, a, d = keys_r.alias("k"), m1.alias("a"), md.alias("d")
        flips = (
            k.join(a, _nullsafe_cond("k", "a", on), "left")
            .join(d, _nullsafe_cond("k", "d", on), "left")
            .select(*[F.col(f"k.{c}").alias(c) for c in on],
                    F.coalesce(F.col("a._m1"), F.lit(0)).alias("_m1"),
                    (F.coalesce(F.col("a._m1"), F.lit(0))
                     + F.coalesce(F.col("d._md"), F.lit(0))).alias("_m2"))
            .where(((F.col("_m1") == 0) & (F.col("_m2") > 0))
                   | ((F.col("_m1") > 0) & (F.col("_m2") == 0)))
            .select(*on,
                    F.when(F.col("_m2") == 0, F.lit("insert"))
                    .otherwise(F.lit("delete")).alias("_change_type"))
        )
        # flip keys are bounded by the ΔR distinct keys — the same
        # manifest bound that guards the snapshot pruning
        if r_bound <= _broadcast_bound_rows(len(on)):
            flips = F.broadcast(flips)
        frames.append(_null_extend(
            _read_source(spark, lsrc, l_to).join(flips, on),
            r_fields, on))
    return frames


def create_join_view(
    spark: SparkSession, left_path: str, right_path: str, view_path: str,
    on: str | list[str], left_key: str, right_key: str,
    group_cols: list[str], sum_cols: list[str] | None = None,
    minmax_cols: list[str] | None = None, how: str = "inner",
) -> int:
    """Materialize ``SELECT group_cols, COUNT(*) cnt, SUM(c) sum_c,
    MIN/MAX(m) ... FROM left {INNER|LEFT} JOIN right USING (on...)
    GROUP BY group_cols`` over the two sources' heads, recording BOTH
    cursors in the view manifest — the two-source extension of
    create_agg_view (the Materialize / DBSP-style incremental join,
    maintained by the signed delta rule; see refresh_join_view).
    ``on`` is the equi-join column or COLUMN LIST (composite keys join
    on the full tuple — no synthetic concat column needed, so source
    zone maps / pruning stay intact), present in both sources; every
    other column name must be unique across the two schemas (no
    qualifier syntax in view specs). ``left_key`` / ``right_key`` are
    each source's row identity for rewriting-interval CDC. COUNT/SUMs
    are additively retractable (BIGINT-exact with nn_* null counters);
    ``minmax_cols`` adds min_/max_ columns maintained by the agg view's
    two-tier strategy — insert-only groups merge monotonically, groups
    hit by a retracting PAIR recompute from the pinned L⋈R at the new
    cursors, restricted by a semi-join on the affected group keys.

    ``how='left'`` maintains the LEFT OUTER join (unmatched left rows
    aggregate null-extended — the TPC-H Q13 shape: customers with zero
    orders stay in the count). The outer flavor adds the anti-semijoin
    delta terms (_delta_nullext_frames) to the signed rule; min/max go
    through the same pair-level two-tier recompute — the affected-group
    marking stays exhaustive because every removed contribution
    (matched pair OR null-extension) appears as a retracting row in
    one of the four delta frames: deleted pairs in the pair terms,
    deleted unmatched rows in term A, and match-flips in term B (a key
    gaining its first match emits "delete" null-extensions for every
    left row it flips). Affected groups recompute from the pinned LEFT
    join at the new cursors."""
    sum_cols = list(sum_cols or [])
    minmax_cols = list(minmax_cols or [])
    group_cols = list(group_cols)
    on = _on_cols(on)
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    l_v = V.current_version(left_path)
    r_v = V.current_version(right_path)
    l_df = _read_source(spark, left_path, l_v)
    r_df = _read_source(spark, right_path, r_v)
    _validate_join_sources(l_df, r_df, on)
    types = {f.name: f.dataType.simpleString()
             for f in l_df.schema.fields + r_df.schema.fields}
    _check_sum_cols_integral(sum_cols, types)
    missing = [c for c in group_cols + sum_cols + minmax_cols
               if c not in types]
    if missing:
        raise ValueError(f"columns not in either source schema: {missing}")
    state = _aggregate(l_df.join(r_df, on, how), group_cols, sum_cols,
                       minmax_cols)
    return V.create(spark, view_path, state, extra={"app": {
        "jv_left": left_path, "jv_right": right_path, "jv_on": on,
        "jv_left_key": left_key, "jv_right_key": right_key,
        "jv_group_cols": group_cols, "jv_sum_cols": sum_cols,
        "jv_minmax_cols": minmax_cols, "jv_how": how,
        "jv_left_version": l_v, "jv_right_version": r_v,
    }})


def _spec_jv(path: str, version: int | None = None) -> dict:
    v = V.current_version(path) if version is None else int(version)
    m = V._manifest(path, v)
    spec = m.get("app") or {}
    if "jv_left" not in spec:
        raise ValueError(f"{path} is not a join view "
                         f"(no jv_left in its manifest app namespace)")
    return spec


def _head_rows(src: str, v_to: int) -> int:
    return V._manifest_row_count(src, V._manifest(src, v_to))


def _change_bound_safe(src: str, v_from: int, v_to: int) -> float:
    """_change_bound for the DISPATCH decision: when the source was
    vacuumed past the cursor the interval's manifests are gone and the
    CDC read is IMPOSSIBLE — its cost is infinite, so dispatch picks
    recompute, which needs no history and SELF-HEALS the view from the
    head (a refresh scheduler keeps running through an over-eager
    vacuum). The default no-dispatch path still raises the named
    vacuum-contract error — self-healing is something the operator
    opts into together with the cost model."""
    try:
        return _change_bound(src, v_from, v_to)
    except FileNotFoundError:
        return float("inf")


def _source_rolled_back(srcs_cursors_heads, fraction) -> bool:
    """A source ROLLED BACK below a view's cursor (head < cursor —
    out-of-band manifest removal; restore() itself commits forward)
    makes the incremental interval meaningless — there is no forward
    change feed from a future version. With dispatch enabled
    (``fraction`` set) the refresh SELF-HEALS by recomputing from the
    current head (resetting the cursor); incremental-only callers get
    a NAMED error instead of table_changes' baffling interval
    ValueError. Returns True when a heal-recompute should run."""
    behind = [(s, c, h) for s, c, h in srcs_cursors_heads if c > h]
    if not behind:
        return False
    if fraction is not None:
        return True
    s, c, h = behind[0]
    raise RuntimeError(
        f"source {s!r} head v{h} is BEHIND the view cursor v{c} — the "
        f"source was restored/rolled back past the cursor; refresh with "
        f"recompute_fraction set (self-heal recompute from the current "
        f"head) or recreate the view")


def _dispatch_recompute(fraction, intervals):
    """The ONE heal + cost decision every refresher shares.
    ``intervals`` is [(src, cursor, head), ...]. Returns
    ``(recompute, bounds)``:

    * recompute=True, bounds=None — a source rolled back below its
      cursor and ``fraction`` is set: self-heal from the heads (with
      fraction None, _source_rolled_back raises the named error
      instead). No bound I/O happens on this path.
    * recompute per the row-scan cost model, bounds = the per-interval
      change bounds (computed once here — callers that also key-prune
      reuse them instead of re-walking manifests/footers).
    * fraction None (and no rollback): (False, None) — pure
      incremental, zero bound I/O."""
    if _source_rolled_back(intervals, fraction):
        return True, None
    if fraction is None:
        return False, None
    bounds = [_change_bound_safe(s, a, b) if b > a else 0
              for s, a, b in intervals]
    heads = [_head_rows(s, b) for s, _a, b in intervals]
    return _should_recompute(fraction, list(zip(bounds, heads))), bounds


def _should_recompute(fraction, bounds_and_heads) -> bool:
    """``bounds_and_heads`` is [(change_bound, head_rows), ...] — one
    entry per source (bound 0 for a side whose cursor is at head: a
    recompute still scans it, so its head rows count toward the
    recompute side of the comparison). None fraction disables
    dispatch."""
    if fraction is None:
        return False
    bound = sum(b for b, _ in bounds_and_heads)
    head = sum(h for _, h in bounds_and_heads)
    return bound > fraction * max(head, 1)


def refresh_join_view(spark: SparkSession, view_path: str,
                      recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION) -> int:
    """Advance a join view to both sources' heads by the SIGNED DELTA
    RULE — with L1/R1 the snapshots at the cursors and L2/R2 at the
    heads:

        Δ(L ⋈ R) = ΔL ⋈ R1  +  L2 ⋈ ΔR

    which telescopes exactly (L2⋈R1 − L1⋈R1 + L2⋈R2 − L2⋈R1 =
    L2⋈R2 − L1⋈R1) in signed-multiset semantics: each CDC row carries
    ±1 (insert/postimage vs delete/preimage), the snapshot side carries
    its plain multiplicity, and a pair's sign is the delta row's sign —
    so updates, deletes, and rows changing join keys all maintain the
    aggregate without recomputing the join. The asymmetric bracketing
    (R at its OLD version, L at its NEW one) is what makes the
    both-sides-advanced interval exact: ΔL⋈ΔR pairs appear exactly once,
    in the second term. Each term's snapshot is key-pruned to the
    delta's join keys behind a size-guarded broadcast semi-join
    (_prune_to_delta_keys), so an ingest-sized refresh touches
    delta-matching rows of the big side, never the table.

    At 100 TB: a day of ingest into either source refreshes the view
    for a day-of-data scan ⋈ matching keys + a groups-sized merge —
    the join itself is never recomputed. The asymmetry also means the
    RIGHT source must retain manifests back to the view's right cursor
    (same vacuum contract as _changes_since_cursor documents).

    The LEFT-outer flavor (spec ``jv_how='left'``) adds the
    anti-semijoin delta terms (_delta_nullext_frames) so unmatched left
    rows stay aggregated null-extended through appends, deletes, and
    match-flips on either side.

    ``recompute_fraction`` enables cost-based dispatch (default None =
    always incremental): when the manifest change bound says the CDC
    read would touch more than fraction × head rows — i.e. more than a
    from-scratch recompute of the join aggregate would scan — the
    refresh recomputes at the new cursors instead: identical result,
    one scan instead of two-plus (_RECOMPUTE_BOUND_FRACTION = 1.0 is
    the row-scan cost model).

    One-consistent-read + OCC parent pinning, as refresh_agg_view."""
    view_v = V.current_version(view_path)
    spec = _spec_jv(view_path, view_v)
    lsrc, rsrc = spec["jv_left"], spec["jv_right"]
    on = _on_cols(spec["jv_on"])
    how = spec.get("jv_how", "inner")
    group_cols = list(spec["jv_group_cols"])
    sum_cols = list(spec["jv_sum_cols"])
    minmax_cols = list(spec.get("jv_minmax_cols", []))
    l_from, r_from = int(spec["jv_left_version"]), int(spec["jv_right_version"])
    l_to, r_to = V.current_version(lsrc), V.current_version(rsrc)
    if l_to == l_from and r_to == r_from:
        return view_v
    new_extra = {"app": dict(spec) | {"jv_left_version": l_to,
                                      "jv_right_version": r_to}}
    # each side's change bound is computed at most ONCE per refresh
    # (it can open parquet footers on legacy manifests — real I/O):
    # _dispatch_recompute computes it for the cost decision and hands
    # it back for the incremental path's key-pruning and flip guard
    recompute, bounds = _dispatch_recompute(
        recompute_fraction, [(lsrc, l_from, l_to), (rsrc, r_from, r_to)])
    if recompute:
        state = _aggregate(
            _read_source(spark, lsrc, l_to)
            .join(_read_source(spark, rsrc, r_to), on, how),
            group_cols, sum_cols, minmax_cols)
        return V.overwrite(spark, view_path, state, extra=new_extra,
                           parent_version=view_v)
    if bounds is None:
        bounds = [_change_bound_safe(lsrc, l_from, l_to)
                  if l_to > l_from else 0,
                  _change_bound_safe(rsrc, r_from, r_to)
                  if r_to > r_from else 0]
    l_bound, r_bound = bounds
    persisted = []
    try:
        ch_l, ch_r = _delta_change_frames(
            spark, lsrc, rsrc, l_from, l_to, r_from, r_to, persisted)
        pair_frames = _delta_pair_frames(
            spark, lsrc, rsrc, on, ch_l, ch_r,
            l_bound, r_bound, l_to, r_from)
        if how == "left":
            r_fields = _read_source(spark, rsrc, r_to).schema.fields
            pair_frames = pair_frames + _delta_nullext_frames(
                spark, lsrc, rsrc, on, r_fields, ch_l, ch_r,
                l_bound, r_bound, l_to, r_from)
        cur = V.read(spark, view_path, view_v, pin_schema=True)
        if not minmax_cols:
            # ALL pair terms + the stored state merge in ONE union +
            # ONE group-key exchange (the old per-term
            # aggregate+full-outer fold paid 3 exchanges per term)
            merged = _merge_states(
                [cur] + [_state_rows(p, group_cols, sum_cols,
                                     sign=_signed_change())
                         for p in pair_frames],
                group_cols, sum_cols).where(F.col("cnt") > 0)
            return V.overwrite(spark, view_path, merged, extra=new_extra,
                               parent_version=view_v)
        return _refresh_join_minmax(
            spark, view_path, view_v, pair_frames, persisted, cur,
            lsrc, rsrc, on, l_to, r_to, group_cols, sum_cols,
            minmax_cols, new_extra, how)
    finally:
        for df in persisted:
            df.unpersist()


def _refresh_join_minmax(spark, view_path, view_v, pair_frames, persisted,
                         cur, lsrc, rsrc, on, l_to, r_to, group_cols,
                         sum_cols, minmax_cols, new_extra, how="inner"):
    """The join view's non-retractable tier — the shared two-tier
    skeleton (_two_tier_minmax_state) applied at PAIR level: any
    retracting delta pair marks its group affected (this is exhaustive —
    a term-1 pair built against a pre-state right row is always mirrored
    by a term-2 retracting pair for the same (left-row, right-row)
    combination, because L_new contains the left row and ΔR retracts the
    right row — so a stale monotone candidate can never land in an
    unaffected group); affected groups recompute from the PINNED join at
    the new cursors — inner or LEFT per the view spec (the LEFT flavor's
    null-extension frames are part of ``pair_frames``, so their
    retractions mark groups through the same union).

    Broadcast soundness: join pairs FAN OUT — a handful of source change
    rows can touch millions of pairs/groups, so the manifest-derived
    change bound does NOT bound ret_groups here (unlike the
    single-source tier). The decision instead COUNTS retracting pairs,
    capped at the broadcast bound + 1: one cheap job over the persisted
    pairs that also provides the deterministic skip of the retraction
    tier (the common ingest refresh must never plan a two-snapshot join
    scan)."""
    # project to the spec columns BEFORE the union: the terms' carried
    # columns can differ under source schema evolution
    # (_aligned_snapshots widens the delta side), and the tier only ever
    # reads spec columns — this also shrinks the persisted set
    frames = [_spec_pair_cols(p, group_cols, sum_cols, minmax_cols)
              for p in pair_frames]
    pairs = frames[0]
    for p in frames[1:]:
        pairs = pairs.unionByName(p)
    pairs = pairs.persist()  # feeds ret_groups, ins, and two anti-joins
    persisted.append(pairs)
    ret_cap = _broadcast_bound_rows(len(group_cols))
    n_ret_capped = (
        pairs.where(F.col("_change_type").isin(*_RETRACTING))
        .limit(ret_cap + 1).count()
    )
    if not n_ret_capped:
        ins = pairs.where(F.col("_change_type").isin(*_INSERTING))
        merged = _merge_states(
            [cur, _state_rows(ins, group_cols, sum_cols, minmax_cols)],
            group_cols, sum_cols, minmax_cols
        ).where(F.col("cnt") > 0)
        return V.overwrite(spark, view_path, merged, extra=new_extra,
                           parent_version=view_v)
    joined_at = _read_source(spark, lsrc, l_to).join(
        _read_source(spark, rsrc, r_to), on, how)
    merged = _two_tier_minmax_state(
        pairs, joined_at, group_cols, sum_cols, minmax_cols, cur,
        broadcast_ok=n_ret_capped <= ret_cap)
    return V.overwrite(spark, view_path, merged, extra=new_extra,
                       parent_version=view_v)


def _spec_pair_cols(df: DataFrame, group_cols, sum_cols,
                    minmax_cols) -> DataFrame:
    cols, seen = ["_change_type"], {"_change_type"}
    for c in list(group_cols) + list(sum_cols) + list(minmax_cols):
        if c not in seen:
            cols.append(c)
            seen.add(c)
    return df.select(*cols)


def refresh_join_view_with_retry(
    spark: SparkSession, view_path: str, max_retries: int = 3,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """OCC rebase loop for concurrent join-view refreshers (the standard
    contract: the loser re-reads BOTH advanced cursors)."""
    return _refresh_with_retry(
        lambda: refresh_join_view(spark, view_path,
                                  recompute_fraction=recompute_fraction),
        max_retries)


# ---------------------------------------------------------------------------
# Operational surface: view inspection / freshness
# ---------------------------------------------------------------------------

# marker-column-in-spec -> (kind, [(source_key, cursor_key), ...]);
# the SINGLE registry every view kind must appear in — describe_view
# iterates it directly, so adding a kind here is the whole wiring
_VIEW_KINDS = {
    "mv_source": ("agg", [("mv_source", "mv_source_version")]),
    "tv_source": ("transform", [("tv_source", "tv_source_version")]),
    "kv_source": ("topk", [("kv_source", "kv_source_version")]),
    "jv_left": ("join", [("jv_left", "jv_left_version"),
                         ("jv_right", "jv_right_version")]),
    "jt_left": ("join_table", [("jt_left", "jt_left_version"),
                               ("jt_right", "jt_right_version")]),
    # maintained near-dup pair tables (sources/neardup_view.py) join
    # the graph through the same marker registry: cascade, describe
    # and cursor-safe vacuum all see them with no extra wiring. The
    # two internal index views are ordinary transform views refreshed
    # BY the pairs refresh; their cursors never trail the pairs
    # cursor, so clamping vacuum to nd_source_version is sufficient.
    "nd_source": ("near_dup", [("nd_source", "nd_source_version")]),
    "ed_source": ("embed_near_dup", [("ed_source",
                                      "ed_source_version")]),
    # maintained full-text (BM25) postings index (sources/textindex.py)
    "ti_source": ("text_index", [("ti_source", "ti_source_version")]),
    # maintained ANN (hyperplane-LSH) index (sources/annindex.py)
    "ai_source": ("ann_index", [("ai_source", "ai_source_version")]),
    # maintained IVF (inverted-file) index (sources/ivfindex.py)
    "ii_source": ("ivf_index", [("ii_source", "ii_source_version")]),
}


def _view_node(path: str):
    """ONE manifest read resolving a table's place in the view graph:
    (kind, spec, source_paths) for a maintained view, None for a base
    table — the single walker primitive refresh_cascade and
    view_base_tables share (a view kind added to _VIEW_KINDS is
    automatically visible to both)."""
    try:
        spec = V._manifest(path, V.current_version(path)).get("app") or {}
    except FileNotFoundError:
        return None
    for marker, (kind, src_pairs) in _VIEW_KINDS.items():
        if marker in spec:
            return kind, spec, [spec[sk] for sk, _ in src_pairs]
    return None


def _view_kind(path: str) -> str | None:
    """The view kind of a versioned table, or None for a base table —
    manifest-only (zero Spark jobs)."""
    node = _view_node(path)
    return None if node is None else node[0]


def refresh_view(spark: SparkSession, view_path: str,
                 transforms: dict | None = None,
                 recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
                 max_retries: int = 3,
                 auto_compact: bool = False,
                 compact_threshold: int = 32) -> int:
    """Kind-dispatching refresh: advance ANY maintained view to its
    sources' heads (agg / top-k / join / join-table directly; transform
    views need their function — pass ``transforms`` mapping view path →
    (transform_fn, name), the same pair refresh_transform_view takes).
    The entry point schedulers use when the view kind is data, not
    code. Runs under the standard OCC rebase loop (``max_retries``) so
    a concurrent manual refresher's commit re-reads the advanced
    cursor instead of surfacing ConcurrentWriteError;
    ``auto_compact``/``compact_threshold`` forward to every
    segment-accreting kind (transform, join-table, and the
    delete_and_append family: pair views, text_index, ann_index) for
    unattended streaming use."""
    kind = _view_kind(view_path)
    if kind == "agg":
        return refresh_agg_view_with_retry(
            spark, view_path, max_retries=max_retries,
            recompute_fraction=recompute_fraction)
    if kind == "topk":
        return refresh_topk_view_with_retry(
            spark, view_path, max_retries=max_retries,
            recompute_fraction=recompute_fraction)
    if kind == "join":
        return refresh_join_view_with_retry(
            spark, view_path, max_retries=max_retries,
            recompute_fraction=recompute_fraction)
    if kind == "join_table":
        return refresh_join_table_view_with_retry(
            spark, view_path, max_retries=max_retries,
            auto_compact=auto_compact,
            compact_threshold=compact_threshold,
            recompute_fraction=recompute_fraction)
    def _fold(out_v: int) -> int:
        # the delete_and_append-accreting kinds (pair views, postings
        # index, ANN index) gain a segment + a delete vector per
        # refresh: under unattended streaming maintenance fold them
        # back down past the threshold (one manifest read when below
        # it) — the endurance guarantee that query latency and
        # manifest size stay bounded over thousands of churn cycles
        if auto_compact:
            return V.maybe_compact(spark, view_path, compact_threshold)
        return out_v

    if kind == "near_dup":
        from . import neardup_view as ND  # local: ND imports this module

        return _fold(ND.refresh_near_dup_pairs_view_with_retry(
            spark, view_path, max_retries=max_retries,
            recompute_fraction=recompute_fraction))
    if kind == "embed_near_dup":
        from . import neardup_view as ND

        return _fold(ND.refresh_embed_near_dup_pairs_view_with_retry(
            spark, view_path, max_retries=max_retries,
            recompute_fraction=recompute_fraction))
    if kind == "text_index":
        from . import textindex as TI  # local: TI imports this module

        return _fold(TI.refresh_text_index_with_retry(
            spark, view_path, max_retries=max_retries,
            recompute_fraction=recompute_fraction))
    if kind == "ann_index":
        from . import annindex as AI  # local: AI imports this module

        return _fold(AI.refresh_ann_index_with_retry(
            spark, view_path, max_retries=max_retries,
            recompute_fraction=recompute_fraction))
    if kind == "ivf_index":
        from . import ivfindex as II  # local: II imports this module

        return _fold(II.refresh_ivf_index_with_retry(
            spark, view_path, max_retries=max_retries,
            recompute_fraction=recompute_fraction))
    if kind == "transform":
        entry = (transforms or {}).get(view_path)
        if entry is None:
            raise ValueError(
                f"{view_path} is a transform view — its function is "
                f"application code; pass transforms={{path: (fn, name)}}")
        fn, name = entry
        return refresh_transform_view_with_retry(
            spark, view_path, fn, name, max_retries=max_retries,
            auto_compact=auto_compact,
            compact_threshold=compact_threshold,
            recompute_fraction=recompute_fraction)
    raise ValueError(f"{view_path} is not a maintained view")


def _walk_views_post_order(view_path: str):
    """The ONE traversal of the manifest-declared view graph every
    graph consumer shares: post-order (sources before consumers —
    refresh order), diamond-deduplicated, cycle-guarded. Returns
    (view_nodes, base_leaves) where view_nodes is [(path, (kind, spec,
    sources)), ...] and base_leaves the non-view tables reached."""
    order: list = []
    leaves: set[str] = set()
    visiting: set[str] = set()
    done: set[str] = set()

    def _w(path: str) -> None:
        if path in done:
            return
        if path in visiting:
            raise ValueError(f"view dependency cycle through {path}")
        node = _view_node(path)
        if node is None:
            done.add(path)
            leaves.add(path)
            return
        visiting.add(path)
        for src in node[2]:
            _w(src)
        visiting.discard(path)
        done.add(path)
        order.append((path, node))

    _w(view_path)
    return order, sorted(leaves)


def refresh_cascade(spark: SparkSession, view_path: str,
                    transforms: dict | None = None,
                    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
                    max_retries: int = 3,
                    auto_compact: bool = False,
                    compact_threshold: int = 32) -> list[str]:
    """Refresh a view AND every upstream view it depends on, bottom-up
    (post-order over the source graph — a source that is itself a view
    is refreshed before its consumer, so one call brings a whole
    composition chain to the base tables' heads; the 3-way join view
    over a join-table view is the canonical case). Views are versioned
    tables, so the graph is discovered from manifests alone — zero
    Spark jobs beyond the refreshes themselves. Returns the refreshed
    paths in refresh order. Diamond dependencies refresh once (visited
    set); a cycle (impossible to CREATE through this module, but
    manifests are just files) raises instead of spinning. Each node
    refreshes through refresh_view — OCC-retried, with auto-compaction
    available for the segment-accreting kinds."""
    nodes, _leaves = _walk_views_post_order(view_path)
    for path, _node in nodes:
        refresh_view(spark, path, transforms=transforms,
                     recompute_fraction=recompute_fraction,
                     max_retries=max_retries, auto_compact=auto_compact,
                     compact_threshold=compact_threshold)
    return [p for p, _ in nodes]


def vacuum_source_safely(path: str, keep_last: int = 1,
                         retain_seconds: float | None = None,
                         views=(), dry_run: bool = False) -> list[str]:
    """versioned.vacuum CLAMPED to the given views' refresh cursors:
    the view-refresh contract says a source must retain manifests back
    to every dependent view's cursor (a reaped interval turns the next
    refresh into the named vacuum error, or a heal-recompute), and
    until now honoring it was the operator's manual arithmetic. Pass
    the views that read ``path`` (directly or through a composition —
    the graph walker finds the edges) and keep_last is raised so the
    oldest needed cursor's manifest survives; views that do NOT read
    this source are ignored, so one fleet-wide view list works for
    every source's vacuum. Zero Spark jobs; returns vacuum()'s deleted
    segment list."""
    cursors = _cursors_into(path, views)
    if cursors:
        keep_last = max(int(keep_last),
                        V.current_version(path) - min(cursors) + 1)
    return V.vacuum(path, keep_last=keep_last,
                    retain_seconds=retain_seconds, dry_run=dry_run)


def _cursors_into(path: str, views) -> list[int]:
    """Every dependent view cursor that reads ``path`` (directly or
    through a composition — the graph walker finds the edges). The ONE
    copy of the cursor scan: vacuum_source_safely clamps with it and
    the refresh streams derive their vacuum floors from it. Manifest
    reads only, zero Spark jobs."""
    import os as _os

    ap = _os.path.abspath(path)
    cursors: list[int] = []
    for vw in views:
        nodes, _leaves = _walk_views_post_order(vw)
        for _p, (_kind, spec, _srcs) in nodes:
            marker = next(m for m, (k, _) in _VIEW_KINDS.items()
                          if m in spec)
            for src_key, cur_key in _VIEW_KINDS[marker][1]:
                if _os.path.abspath(spec[src_key]) == ap:
                    cursors.append(int(spec[cur_key]))
    return cursors


def describe_cascade(view_path: str) -> list[dict]:
    """describe_view for a whole composition chain, bottom-up (the
    refresh_cascade order): one entry per VIEW node with its kind,
    per-source freshness, and lag — the dashboard call for "is this
    pipeline keeping up, and where is it behind?". Manifest-only, zero
    Spark jobs."""
    nodes, _leaves = _walk_views_post_order(view_path)
    if not nodes:
        raise ValueError(f"{view_path} is not a maintained view")
    return [describe_view(p) for p, _ in nodes]


def view_base_tables(view_path: str) -> list[str]:
    """The BASE tables (non-view leaves) a view composition ultimately
    reads, discovered from manifests alone — what a cascade-refresh
    stream tails: waking on base commits (and only base commits) means
    the cascade's own intermediate-view commits never wake the stream
    that issued them. Sorted, deduplicated."""
    leaves: set[str] = set()
    seen: set[str] = set()

    def _walk(path: str) -> None:
        if path in seen:
            return
        seen.add(path)
        node = _view_node(path)
        if node is None:
            leaves.add(path)
            return
        for src in node[2]:
            _walk(src)

    _walk(view_path)
    return sorted(leaves)


def describe_view(view_path: str) -> dict:
    """Metadata-only view report (versioned.describe plus the VIEW
    layer): kind, spec, and per-source FRESHNESS — cursor version,
    source head, and ``lag`` (head − cursor commits; 0 = fresh). All
    driver-side manifest reads, zero Spark jobs — the monitoring entry
    point for "is this view keeping up?" that a refresh-scheduler or
    dashboard polls. Raises ValueError for a versioned table that is
    not a maintained view."""
    base = V.describe(view_path)
    spec = base.get("app") or {}

    def _src_entry(src: str, cursor: int) -> dict:
        head = V.current_version(src)
        return {"path": src, "cursor_version": int(cursor),
                "head_version": head, "lag": head - int(cursor)}

    for marker, (kind, src_pairs) in _VIEW_KINDS.items():
        if marker in spec:
            sources = [_src_entry(spec[sk], spec[vk])
                       for sk, vk in src_pairs]
            return base | {
                "view_kind": kind,
                "sources": sources,
                "fresh": all(s["lag"] == 0 for s in sources),
            }
    raise ValueError(f"{view_path} is not a maintained view "
                     f"(no view spec in its manifest app namespace)")


def describe_index(view_path: str) -> dict:
    """DESCRIBE INDEX — the operator-facing window into a maintained
    index kind (text/ANN/IVF): everything describe_view reports (kind,
    per-source cursor lag, freshness) plus the index's key, its
    at-rest layout (flat vs bucketed + n_buckets, from the base
    manifest), row/segment counts, the kind-specific spec parameters,
    and — for IVF — the drift-governance readout
    (ivfindex.ivf_drift_report: cell-distribution TV + mean
    quantization error vs the create-time baseline, with the alarm
    verdict). Purely driver-side manifest math, ZERO Spark jobs: a
    dashboard can poll it per index per minute for the cost of two KB
    reads."""
    out = describe_view(view_path)
    kind = out.get("view_kind")
    prefix = {"text_index": "ti", "ann_index": "ai",
              "ivf_index": "ii"}.get(kind)
    if prefix is None:
        raise ValueError(f"{view_path} is a {kind} view, not a "
                         f"maintained index (text_index / ann_index / "
                         f"ivf_index)")
    spec = out.get("app") or {}
    out["index_kind"] = kind
    out["key"] = spec.get(f"{prefix}_key")
    if kind == "text_index":
        out["params"] = {k: spec[k] for k in
                         ("ti_text_col", "ti_k1", "ti_b",
                          "ti_positions", "ti_ndocs", "ti_total_len")
                         if k in spec}
    elif kind == "ann_index":
        out["params"] = {k: spec[k] for k in
                         ("ai_vec_col", "ai_n_planes", "ai_seed",
                          "ai_dim") if k in spec}
    else:
        out["params"] = {k: spec[k] for k in
                         ("ii_vec_col", "ii_n_cells", "ii_dim",
                          "ii_trained") if k in spec}
        out["params"]["ii_pq"] = spec.get("ii_codebooks") is not None
        from . import ivfindex as _II

        out["drift"] = _II.ivf_drift_report(view_path)
    return out


# ---------------------------------------------------------------------------
# Row-level JOIN TABLE views: the maintained DENORMALIZATION table
# ---------------------------------------------------------------------------

_PAIR_KEY = "_pair_key"
_PAIR_SEP = "\x01"  # unlikely in key renderings; keys are row identities


def create_join_table_view(
    spark: SparkSession, left_path: str, right_path: str, view_path: str,
    on: str | list[str], left_key: str, right_key: str,
    how: str = "inner",
) -> int:
    """Materialize the JOIN ROWS themselves — ``SELECT l.*, r.* FROM
    left {INNER|LEFT} JOIN right USING (on...)`` — as a maintained
    denormalization table (the pre-joined serving table every star
    schema wants without re-running the join). ``on`` is the equi-join
    column or COLUMN LIST (composite keys). Each row carries
    ``_pair_key`` = left_key + SEP + right_key, the row identity the
    incremental maintenance deletes by; both source keys must be
    UNIQUE row identities (the same contract transform views place on
    their source), which makes every join pair unique. Column names
    must be unique across the two schemas except ``on``.

    ``how='left'`` keeps unmatched left rows null-extended (right
    columns NULL, pair key's right half the NULL sentinel — unique per
    left row because left_key is unique). Maintenance adds the
    null-extension delta terms; a right-side append can RETRACT
    null-extensions (a key's first match arrives), so the delete-free
    append fast path additionally requires the right cursor to be
    unchanged for the outer flavor."""
    on = _on_cols(on)
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    l_v = V.current_version(left_path)
    r_v = V.current_version(right_path)
    l_df = _read_source(spark, left_path, l_v)
    r_df = _read_source(spark, right_path, r_v)
    _validate_join_sources(l_df, r_df, on)
    # enforce the documented key contract at create time: a NULL row
    # identity would make pair keys collide (and the delete vector
    # delete the wrong row); refresh-time NULLs hit the sentinel below.
    # ONE job for both sides (union of limit-1 probes), not two.
    bad = (
        l_df.where(F.col(left_key).isNull())
        .select(F.lit("left").alias("side")).limit(1)
        .unionByName(
            r_df.where(F.col(right_key).isNull())
            .select(F.lit("right").alias("side")).limit(1))
        .collect()
    )
    if bad:
        side = bad[0]["side"]
        key = left_key if side == "left" else right_key
        raise ValueError(
            f"{side} key {key!r} has NULL values — join table views "
            f"need non-null unique row identities on both sources")
    state = _with_pair_key(l_df.join(r_df, on, how), left_key, right_key)
    return V.create(spark, view_path, state, extra={"app": {
        "jt_left": left_path, "jt_right": right_path, "jt_on": on,
        "jt_left_key": left_key, "jt_right_key": right_key,
        "jt_how": how,
        "jt_left_version": l_v, "jt_right_version": r_v,
    }})


def _with_pair_key(pairs: DataFrame, left_key: str,
                   right_key: str) -> DataFrame:
    # F.concat (not concat_ws) with NULL-sentinel coalesce: concat_ws
    # SKIPS null operands, which would collide (NULL, '7') with
    # ('7', NULL); create_join_table_view rejects null keys up front,
    # the sentinel keeps even an escaped null distinct per side
    def _k(c):
        return F.coalesce(F.col(c).cast("string"),
                          F.lit(_PAIR_SEP + "null"))

    return pairs.withColumn(
        _PAIR_KEY,
        F.concat(_k(left_key), F.lit(_PAIR_SEP), _k(right_key)))


def _spec_jt(path: str, version: int | None = None) -> dict:
    v = V.current_version(path) if version is None else int(version)
    m = V._manifest(path, v)
    spec = m.get("app") or {}
    if "jt_left" not in spec:
        raise ValueError(f"{path} is not a join table view "
                         f"(no jt_left in its manifest app namespace)")
    return spec


def _jt_assemble_delta(spark, lsrc, rsrc, on, how, bounds, interval,
                       persisted):
    """Stage 1 of the join-table refresh — the interval's RAW signed
    delta pairs: the aggregate join view's two pair terms (ΔL⋈R_old +
    L_new⋈ΔR, multiset feeds), plus the null-extension terms for the
    LEFT flavor, unioned with allowMissingColumns (source schema
    evolution between the cursors widens one term's delta columns —
    mergeSchema semantics, the absent side reads NULL). Returns
    (pairs, ch_r_absent): whether the right change frame was empty is
    an input to the append-only fast-path decision."""
    l_from, l_to, r_from, r_to = interval
    ch_l, ch_r = _delta_change_frames(
        spark, lsrc, rsrc, l_from, l_to, r_from, r_to, persisted)
    if bounds is None:
        bounds = [_change_bound_safe(lsrc, l_from, l_to)
                  if ch_l is not None else 0,
                  _change_bound_safe(rsrc, r_from, r_to)
                  if ch_r is not None else 0]
    l_bound, r_bound = bounds
    pair_frames = _delta_pair_frames(
        spark, lsrc, rsrc, on, ch_l, ch_r, l_bound, r_bound,
        l_to, r_from)
    if how == "left":
        r_fields = _read_source(spark, rsrc, r_to).schema.fields
        pair_frames = pair_frames + _delta_nullext_frames(
            spark, lsrc, rsrc, on, r_fields, ch_l, ch_r,
            l_bound, r_bound, l_to, r_from)
    pairs = pair_frames[0]
    for p in pair_frames[1:]:
        pairs = pairs.unionByName(p, allowMissingColumns=True)
    return pairs, ch_r is None


def _jt_append_only(lsrc, rsrc, interval, how, ch_r_absent) -> bool:
    """Fast-path gate — a provably append-only interval on BOTH sides
    (manifest-only check): every CDC row is +1 and no cross-term
    duplicate pair can exist (term 1 pairs use R_old, term 2 a NEW
    right row), so the netting shuffle is skipped and the raw pairs
    commit directly. The LEFT flavor additionally needs the right
    cursor UNCHANGED: a right append gives keys their first match,
    which RETRACTS pre-existing null-extension rows (term B emits
    deletes even though both sources only appended)."""
    l_from, l_to, r_from, r_to = interval
    return (_interval_append_only(lsrc, l_from, l_to)
            and _interval_append_only(rsrc, r_from, r_to)
            and (how == "inner" or ch_r_absent))


def _jt_net_and_split(pairs, lk, rk, persisted):
    """Stage 2 — NET the raw delta by full row (sum of ±1 per distinct
    pair content). Load-bearing, not an optimization: in a both-sides-
    advanced interval a left-insert ⋈ right-deleted-row pair appears
    as +1 in term 1 and −1 in term 2 with IDENTICAL content, and
    applying the two un-netted as vector+append would let the appended
    copy escape the vector's scope (delete_and_append vectors only
    cover pre-existing segments). After netting, per unique pair key
    at most one −1 row (the old content) and one +1 row (the new)
    remain. Returns (ret_keys, ins_rows)."""
    row_cols = [c for c in pairs.columns if c != "_change_type"]
    netted = (
        pairs.groupBy(*row_cols)
        .agg(F.sum(_signed_change()).alias("_net"))
        .where(F.col("_net") != 0)
        .persist()
    )
    persisted.append(netted)
    ret_keys = _with_pair_key(
        netted.where(F.col("_net") < 0), lk, rk).select(_PAIR_KEY)
    ins_rows = _with_pair_key(
        netted.where(F.col("_net") > 0).drop("_net"), lk, rk)
    return ret_keys, ins_rows


def _jt_commit(spark, view_path, ret_keys, ins_rows, new_app, view_v
               ) -> int:
    """Stage 3 — ONE commit: −1 rows become the delete vector and +1
    rows the appended segment (delete_and_append), so updates are
    replaces and a reader never sees half. Deterministic branch: a
    rewrite interval whose retractions all netted away still commits
    a plain append (no vector)."""
    if ret_keys.limit(1).count():
        return V.delete_and_append(
            spark, view_path, ret_keys, _PAIR_KEY, ins_rows,
            extra={"app": new_app}, parent_version=view_v)
    return V.append(spark, view_path, ins_rows,
                    extra={"app": new_app}, parent_version=view_v)


def refresh_join_table_view(
    spark: SparkSession, view_path: str,
    auto_compact: bool = False, compact_threshold: int = 32,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance a join TABLE view to both sources' heads: the same signed
    delta rule as the aggregate join view (ΔL⋈R_old + L_new⋈ΔR, multiset
    feeds), but applied at ROW level. The raw delta pairs are first
    NETTED by full row (sum of ±1 per distinct pair content) — this is
    load-bearing, not an optimization: in a both-sides-advanced interval
    a left-insert ⋈ right-deleted-row pair appears as +1 in term 1 and
    −1 in term 2 with IDENTICAL content, and applying the two sides
    un-netted as vector+append would let the appended copy escape the
    vector's scope (delete_and_append vectors only cover pre-existing
    segments). After netting, per unique pair key at most one −1 row
    (the old content) and one +1 row (the new) remain: −1 rows become
    the delete vector, +1 rows the appended segment, published together
    as ONE commit — updates are replaces, a reader never sees half.

    An append-only interval on either source nets to pure +1 rows and
    the refresh is a delete-free append of delta ⋈ matching rows —
    O(ingest) at any table size, with the same size-guarded key-pruning
    as the aggregate join view.

    The LEFT-outer flavor (spec ``jt_how='left'``) adds the
    null-extension delta terms: unmatched left rows live in the table
    with NULL right columns and a (left_key, NULL-sentinel) pair key,
    and match-flips replace them with (or restore them from) their
    matched pair rows through the same net-then-vector+append commit.

    Like transform views, each refresh accretes a segment (plus a
    vector on rewrites): ``auto_compact=True`` runs
    versioned.maybe_compact after the commit, bounding segment growth
    at ``compact_threshold`` for unattended streaming refreshers."""
    view_v = V.current_version(view_path)
    spec = _spec_jt(view_path, view_v)
    lsrc, rsrc = spec["jt_left"], spec["jt_right"]
    on = _on_cols(spec["jt_on"])
    how = spec.get("jt_how", "inner")
    lk, rk = spec["jt_left_key"], spec["jt_right_key"]
    l_from, r_from = int(spec["jt_left_version"]), int(spec["jt_right_version"])
    l_to, r_to = V.current_version(lsrc), V.current_version(rsrc)
    if l_to == l_from and r_to == r_from:
        return view_v
    new_app = dict(spec) | {"jt_left_version": l_to,
                            "jt_right_version": r_to}
    # same heal + cost dispatch as every other refresher: a rolled-back
    # source self-heals under a set fraction (named error otherwise),
    # and an interval whose CDC scan exceeds the heads re-joins from
    # scratch as ONE overwrite (which also resets segment accretion)
    recompute, bounds = _dispatch_recompute(
        recompute_fraction, [(lsrc, l_from, l_to), (rsrc, r_from, r_to)])
    if recompute:
        state = _with_pair_key(
            _read_source(spark, lsrc, l_to)
            .join(_read_source(spark, rsrc, r_to), on, how), lk, rk)
        return V.overwrite(spark, view_path, state,
                           extra={"app": new_app}, parent_version=view_v)
    persisted = []
    try:
        pairs, ch_r_absent = _jt_assemble_delta(
            spark, lsrc, rsrc, on, how, bounds,
            (l_from, l_to, r_from, r_to), persisted)
        if _jt_append_only(lsrc, rsrc, (l_from, l_to, r_from, r_to),
                           how, ch_r_absent):
            ins_rows = _with_pair_key(
                pairs.drop("_change_type"), lk, rk)
            out_v = V.append(spark, view_path, ins_rows,
                             extra={"app": new_app}, parent_version=view_v)
        else:
            ret_keys, ins_rows = _jt_net_and_split(
                pairs, lk, rk, persisted)
            out_v = _jt_commit(spark, view_path, ret_keys, ins_rows,
                               new_app, view_v)
    finally:
        for df in persisted:
            df.unpersist()
    # ONE compaction policy for both branches, after the delta frames
    # are unpersisted (a triggered compact rewrites the whole view —
    # it must not run with the CDC pairs still pinned in memory)
    if auto_compact:
        out_v = V.maybe_compact(spark, view_path, compact_threshold)
    return out_v


def refresh_join_table_view_with_retry(
    spark: SparkSession, view_path: str, max_retries: int = 3,
    auto_compact: bool = False, compact_threshold: int = 32,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """OCC rebase loop for concurrent join-table refreshers."""
    return _refresh_with_retry(
        lambda: refresh_join_table_view(
            spark, view_path,
            auto_compact=auto_compact, compact_threshold=compact_threshold,
            recompute_fraction=recompute_fraction),
        max_retries)

# ---------------------------------------------------------------------------
# shared FILTERED-SEARCH helpers (r14): payload-column validation at
# index CREATE and predicate parsing/application at query time — one
# copy for all three index kinds (annindex / ivfindex / textindex),
# next to the shared refresh skeleton they already dispatch through.
# ---------------------------------------------------------------------------


def _where_expr(where: str):
    """Parse a filter predicate string into a Column, surfacing parse
    errors as the operator-layer ValueError contract (SqlError wraps
    it at the SQL surface)."""
    try:
        return F.expr(where)
    except Exception as ex:
        raise ValueError(f"bad filter predicate {where!r}: {ex}") \
            from ex


def _apply_where(cand: DataFrame, flt, where: str) -> DataFrame:
    """Apply a parsed payload filter, folding resolution failures
    (filter names a column the index doesn't carry) into the same
    ValueError contract parse failures use."""
    try:
        return cand.where(flt)
    except Exception as ex:
        raise ValueError(
            f"filter predicate {where!r} does not resolve over the "
            f"index columns {cand.columns} (declare payload columns "
            f"with include_cols at CREATE): {ex}") from ex


def _check_include_cols(df: DataFrame, key: str, vec_col: str,
                        include_cols, reserved: tuple[str, ...]
                        ) -> list[str]:
    """Validate payload columns at CREATE time: they must exist on the
    source and not collide with the index's own columns — a typo here
    must fail the CREATE, never a later refresh."""
    cols = [str(c) for c in (include_cols or [])]
    lower = {c.lower() for c in df.columns}
    taken = {key.lower(), vec_col.lower(), *reserved}
    for c in cols:
        if c.lower() not in lower:
            raise ValueError(f"include_cols: {c!r} is not a source "
                             f"column (have {sorted(df.columns)})")
        if c.lower() in taken:
            raise ValueError(f"include_cols: {c!r} collides with an "
                             f"index column")
    if len({c.lower() for c in cols}) != len(cols):
        raise ValueError("include_cols: duplicate column")
    return cols
