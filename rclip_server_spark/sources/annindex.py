"""Maintained ANN (hyperplane-LSH) index view: the source's embedding
rows stored WITH their precomputed sign-bit bucket, kept in sync
through the CDC log — the vector twin of the full-text postings index
(textindex.py), completing the maintained-index trio: Bloom sidecars
answer point lookups, text_index answers ranked lexical queries, this
answers approximate nearest-neighbor queries.

Reference parity: the reference scores every row per query
(rclip_server.py:150-166, the brute-force GEMV); the engine's ad-hoc
LSH tiers (operators/ann.py) already prune that scan per query, but
they re-derive the bucket column per CALL — one full corpus pass each
time. The maintained index moves bucketing to WRITE time: a refresh
costs O(changed rows) (key delete-vector retraction + bucketed rows
append, ONE delete_and_append commit), and a query reads only the
probed buckets' rows — O(probe fraction), never O(corpus).

Exactness: planes derive deterministically from (n_planes, dim, seed)
in the spec — the same ``ann.hyperplanes`` every ad-hoc tier uses — so
``query_ann_index`` returns row-identically what
``ann.lsh_topk_multiprobe`` computes over the current source (pinned
by an oracle row against the DuckDB bucket+dot twin).

Scale: the index build is one map pass (bucket column is a row-local
sign fold); queries filter to ≤(1 + C(p,1) + C(p,2)) of 2^n_planes
buckets and score only those rows. At rest the state can additionally
be laid out by versioned.convert_to_bucketed on the bucket for
physical pruning. Joins the matview graph through the standard marker
registry (``ai_source``), so REFRESH / CASCADE / DESCRIBE / cursor-
safe VACUUM / refresh streams all work with no extra wiring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as VEC
from ..operators.ann import _lsh_probes, hyperplane_bucket_col, hyperplanes
from . import matview as M
from . import versioned as V
from .matview import _apply_where, _check_include_cols, _where_expr

# the index's own columns besides key, vector and payload
_RESERVED = ("bucket",)


def _bucketed_rows(df: DataFrame, key: str, vec_col: str,
                   n_planes: int, dim: int, seed: int,
                   include_cols: tuple[str, ...] = ()) -> DataFrame:
    planes = hyperplanes(n_planes, dim, seed)
    return df.select(
        hyperplane_bucket_col(vec_col, planes).alias("bucket"),
        F.col(key), F.col(vec_col),
        *[F.col(c) for c in include_cols])


def create_ann_index(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    vec_col: str = "embedding", n_planes: int = 6, seed: int = 42,
    dim: int | None = None, include_cols: list[str] | None = None,
) -> int:
    """Materialize the bucketed embedding rows over the source's head
    and record the spec + cursor. ``dim`` is probed from one row when
    absent (errors clearly on an empty source — pass it explicitly to
    stay lazy). ``include_cols`` copies the listed source columns into
    the index rows as FILTERABLE PAYLOAD: a predicate over them
    evaluates inside the probed scan (parquet-pushed), so filtered
    vector search never joins back to the source — the vector-DB
    "metadata filter" feature at lakehouse scale."""
    src_v = V.current_version(source_path)
    df = M._read_source(spark, source_path, src_v)
    if dim is None:
        probe = df.select(F.size(vec_col)).first()
        if probe is None or probe[0] is None:
            raise ValueError("cannot infer embedding dim from an "
                             "empty source; pass dim=")
        dim = int(probe[0])
    inc = _check_include_cols(df, key, vec_col, include_cols,
                              reserved=_RESERVED)
    spec = {
        "ai_source": source_path, "ai_key": key,
        "ai_vec_col": vec_col, "ai_n_planes": int(n_planes),
        "ai_seed": int(seed), "ai_dim": int(dim),
        "ai_source_version": src_v,
        "ai_include_cols": inc,
    }
    state = _bucketed_rows(df, key, vec_col, n_planes, dim, seed,
                           include_cols=tuple(inc))
    return V.create(spark, view_path, state, extra={"app": spec})


def _spec_ai(path: str, version: int | None = None) -> dict:
    v = V.current_version(path) if version is None else int(version)
    spec = V._manifest(path, v).get("app") or {}
    if "ai_source" not in spec:
        raise ValueError(f"{path} is not an ann-index view (no "
                         f"ai_source in its manifest app namespace)")
    return spec


def _state(spark: SparkSession, view_path: str, v: int) -> DataFrame:
    """The whole index state at a version through the shared serving
    read (versioned.read_probed), schema pinned from the manifest."""
    return V.read_probed(spark, view_path, v, "bucket")


def read_ann_index(spark: SparkSession, view_path: str,
                   version: int | None = None) -> DataFrame:
    """The bucketed rows at a version, canonical column order."""
    v = V.current_version(view_path) if version is None else int(version)
    spec = _spec_ai(view_path, v)
    return _state(spark, view_path, v).select(
        "bucket", spec["ai_key"], spec["ai_vec_col"],
        *spec.get("ai_include_cols", []))


def convert_index_to_bucketed(spark: SparkSession, view_path: str,
                              n_buckets: int | None = None) -> int:
    """Physically lay the index out by its LSH ``bucket`` column
    (versioned.convert_to_bucketed): one rewrite, after which a probe
    query's candidate read SKIPS FILES, not rows — the probed LSH
    buckets hash to a subset of the physical buckets, and only those
    buckets' segment directories are ever named in the scan plan (at
    100 TB the untouched ~(1 - probe fraction) of the corpus costs
    zero IO, zero tasks). Refreshes keep working unchanged: the
    delete_and_append refresh commit dispatches to the bucketed twin
    (per-bucket appends + a delete vector), and compact_bucketed /
    maybe_compact fold refresh accretion back down.

    Default ``n_buckets`` = 2^n_planes (one physical bucket per LSH
    bucket modulo hash collisions), capped at 256 — beyond that the
    per-bucket segments at toy scale are empty files for no pruning
    gain."""
    spec = _spec_ai(view_path)
    if n_buckets is None:
        n_buckets = min(2 ** int(spec["ai_n_planes"]), 256)
    return V.convert_to_bucketed(spark, view_path, "bucket",
                                 int(n_buckets))


def refresh_ann_index(
    spark: SparkSession, view_path: str,
    recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance the index to the source head: retract changed keys'
    rows (key delete vector), append the new rows WITH their buckets —
    ONE delete_and_append commit, O(changed rows). Rollback/vacuumed-
    past-cursor heals by full recompute. All structure lives in the
    shared skeleton (matview._refresh_index); this kind contributes
    only the bucket derivation under the spec's frozen planes."""
    return M._refresh_index(
        spark, view_path,
        spec_of=_spec_ai, src_field="ai_source",
        cursor_field="ai_source_version", key_field="ai_key",
        rows_of=lambda spec, df: _bucketed_rows(
            df, spec["ai_key"], spec["ai_vec_col"],
            int(spec["ai_n_planes"]), int(spec["ai_dim"]),
            int(spec["ai_seed"]),
            include_cols=tuple(spec.get("ai_include_cols", []))),
        recompute_fraction=recompute_fraction)


def refresh_ann_index_with_retry(
    spark: SparkSession, view_path: str, max_retries: int = 3,
    recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """OCC rebase loop (the standard view-refresh retry contract)."""
    return M._refresh_with_retry(
        lambda: refresh_ann_index(
            spark, view_path, recompute_fraction=recompute_fraction),
        max_retries)


def _probe_rule(spec: dict, n_probe_bits: int) -> M._ProbeRule:
    """The ANN kind's probe resolution for the serving skeleton: the
    query's bucket and its ≤``n_probe_bits``-Hamming neighbours under
    the spec's frozen planes (the shared multiprobe rule); widening adds
    one Hamming ring at a time, then every bucket."""
    dim = int(spec["ai_dim"])
    planes = hyperplanes(int(spec["ai_n_planes"]), dim,
                         int(spec["ai_seed"]))

    def tiers(qv):
        for bits in range(n_probe_bits, max(n_probe_bits, 2) + 1):
            yield _lsh_probes(planes, bits, qv)
        yield None

    key, vec_col = spec["ai_key"], spec["ai_vec_col"]
    return M._ProbeRule(
        "bucket", "BIGINT", key, vec_col, dim,
        (key, vec_col, *_RESERVED, *spec.get("ai_include_cols", [])),
        tiers)


def query_ann_index(
    spark: SparkSession, view_path: str, query_vec, k: int = 10,
    n_probe_bits: int = 1, version: int | None = None,
    where: str | None = None, min_results: int | None = None,
) -> DataFrame:
    """Approximate top-k FROM the maintained index: the query's bucket
    and its ≤``n_probe_bits``-Hamming neighbors are computed driver-
    side from the spec's deterministic planes, the state is filtered
    to those buckets (O(probe fraction) rows), and only they are
    scored by exact dot product. Returns (<key>, score) — the same
    probe set, scoring, ordering, and tie-break as
    ann.lsh_topk_multiprobe over the current source.

    ``where`` is a SQL predicate over the index's payload columns
    (``include_cols`` at CREATE) and key — FILTERED vector search.
    The predicate evaluates inside the probed scan (parquet-pushed:
    at 100 TB non-matching row groups never decode), so the semantics
    are "top-k among probed candidates matching the filter". A
    selective filter can leave fewer than k probed survivors; pass
    ``min_results`` (≤ k) to adaptively WIDEN: each escalation adds a
    probe tier (more Hamming neighbors, finally ALL buckets — the
    exact filtered answer) and costs one extra count job, so the
    common non-selective case stops at the first tier with one count.
    The plan is the shared serving skeleton (matview._query_probed).
    Returns (<key>, score)."""
    v = V.current_version(view_path) if version is None else int(version)
    return M._query_probed(
        spark, view_path, v, _probe_rule(_spec_ai(view_path, v),
                                         n_probe_bits),
        query_vec, k, where=where, min_results=min_results)


def query_ann_index_batch(
    spark: SparkSession, view_path: str, queries, k: int = 10,
    n_probe_bits: int = 1, version: int | None = None,
    qid_col: str = "qid", where: str | None = None,
) -> DataFrame:
    """M queries against the maintained index in ONE plan — the
    amortized serving tier a training-data pipeline needs (millions of
    lookups arrive in batches; per-call plan-build cost dominates even
    at zero Spark jobs per plan). ``queries`` is a driver-side list of
    ``(qid, vector)`` pairs; the plan shape and batch sizing are the
    shared skeleton's (matview._query_probed_batch). Per query, rows
    returned are IDENTICAL to query_ann_index; ``where`` is one payload
    filter shared by the batch.

    Returns (qid, <key>, score) ordered (qid, score DESC, key)."""
    v = V.current_version(view_path) if version is None else int(version)
    return M._query_probed_batch(
        spark, view_path, v, _probe_rule(_spec_ai(view_path, v),
                                         n_probe_bits),
        "query_ann_index_batch", queries, k, qid_col, where)


def knn_join_via_index(
    spark: SparkSession, left: DataFrame, view_path: str, k: int = 5,
    n_probe_bits: int = 1, id_col: str = "vec_id",
    vec_col: str = "embedding", version: int | None = None,
    max_expected_candidates: int | None = 50_000_000,
    n_left: int | None = None, skew_prepass: bool = False,
    where: str | None = None,
) -> DataFrame:
    """Approximate k-NN JOIN against the MAINTAINED index — the
    two-large-tables alignment primitive (ann.lsh_knn_join) with the
    corpus side served from the index instead of re-derived per call:

    * the right side's bucket column is precomputed at WRITE time and
      kept in sync through the CDC refresh — the ad-hoc join's
      full-corpus bucketing pass disappears from every call;
    * the right row count for the candidate-volume scale guard comes
      from the MANIFEST (versioned.table_row_count — parquet footers,
      zero Spark jobs), so guard planning stays lazy;
    * planes/seed/dim come from the spec, so the result is
      row-identical to ``ann.lsh_knn_join(left, source_head)`` with
      the same parameters (same probe masks, same exact dot scoring,
      same (cosine DESC, id_b ASC) total order).

    The left side buckets ONCE (n_planes dots) and explodes its probe
    masks; one equi-join on the bucket; per-left-row top-k window.
    ``skew_prepass`` inserts the per-partition partial top-k guard for
    extreme right-side skew (bit-identical on or off). ``where`` is a
    payload predicate over the index's include_cols (+ key) applied to
    the CORPUS side before the join — parquet-pushed into the state
    scan, so a filtered k-NN join ("nearest in-license corpus rows for
    every candidate doc") shrinks the candidate volume instead of
    post-filtering ranked rows. Returns (id_a, id_b, cosine, rnk)."""
    from ..operators.ann import partition_partial_topk
    from ..operators.dedup import ScaleGuardError

    v = V.current_version(view_path) if version is None else int(version)
    spec = _spec_ai(view_path, v)
    key, ivec = spec["ai_key"], spec["ai_vec_col"]
    n_planes, dim, seed = (int(spec["ai_n_planes"]),
                           int(spec["ai_dim"]), int(spec["ai_seed"]))
    planes = hyperplanes(n_planes, dim, seed)
    masks = _lsh_probes(planes, n_probe_bits)
    if max_expected_candidates is not None:
        nl = int(n_left) if n_left is not None else left.count()
        nr = V.table_row_count(view_path, v)  # manifest, zero jobs
        expected = nl * nr * len(masks) / (1 << n_planes)
        if expected > max_expected_candidates:
            raise ScaleGuardError(
                f"knn_join_via_index expects ~{expected:.2e} candidate "
                f"pairs (|L|*|R|*{len(masks)}/2^{n_planes}) > "
                f"{max_expected_candidates:.0e}; rebuild the index "
                f"with more planes (2^n_planes should track |corpus|), "
                f"lower n_probe_bits, or pass "
                f"max_expected_candidates=None deliberately.")
    lf = left.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        hyperplane_bucket_col(vec_col, planes).alias("b0"),
    ).select(
        "id_a", "va",
        F.explode(F.array(*[F.col("b0").bitwiseXOR(F.lit(m))
                            for m in masks])).alias("bucket"))
    rt = _state(spark, view_path, v)
    if where is not None:
        rt = _apply_where(rt, _where_expr(where), where)
    rt = rt.select(
        "bucket", F.col(key).alias("id_b"), F.col(ivec).alias("vb"))
    scored = (lf.join(rt, "bucket")
              .withColumn("cosine", VEC.dot("va", "vb"))
              .select("id_a", "id_b", "cosine"))
    if skew_prepass:
        scored = partition_partial_topk(
            scored, k, query_id="id_a", id_col="id_b",
            score_col="cosine")
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"),
                                           F.asc("id_b"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("id_a", "id_b", "cosine",
                    F.col("rnk").cast("long").alias("rnk")))
