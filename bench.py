"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the engine's load-bearing paths: flagship cosine top-k (SQL and
Arrow-GEMV scoring), reverse word lookup, MinHash near-dup over documents,
TPC-H-style aggregation, broadcast join, window running sum, event session
windows, and the distributed pandas-UDF embed pipeline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from rclip_server_spark.contract import (
    _QUERIES,
    EMBEDDER,
    QV_FLAGSHIP,
)
from rclip_server_spark.operators import ann as ann_ops
from rclip_server_spark.operators import dedup, multimodal, similarity
from rclip_server_spark.session import get_spark
from rclip_server_spark.sources import load_table
from rclip_server_spark.streaming import windows as SW

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Regression floor: best committed per-query seconds at sf0.1 on an idle
# local[32] — per-query minimum over the r4/r5 driver runs and the r7
# idle re-baseline (r6's uniform +10% drift was host contention; see
# BASELINE.md). The shared-set rule is "this round <=
# floor per query, best-of-2 on an idle machine"; tools/bench_regression.py
# compares a fresh run against this dict (not enforced inline here because
# the driver's bench run may share the machine with other work — the
# comparison needs the idle-machine protocol).
FLOOR_SEC = {
    "flagship_topk_sql": 0.121, "flagship_topk_gemv": 0.194,
    "best_words_top50": 0.138, "minhash_near_dup_docs": 2.613,
    "simhash_fingerprints": 0.757, "embed_documents_udf": 0.056,
    "q1_pricing_summary": 0.473, "join_broadcast_agg": 0.373,
    "window_running_sum": 0.12, "event_session_windows": 0.513,
    "text_quality_stats": 0.224, "event_funnel": 0.563,
    "sample_weighted_mixture": 0.212, "bm25_topk": 0.971,
    "semdedup": 1.076, "asof_click_view": 0.244,
    "dedup_containment": 1.495, "train_quality_lr": 2.055,
    "weighted_fixed_k": 0.266, "hist_quantiles": 0.739,
    "lsh_knn_join": 1.382,
    # r8 lakehouse rows (first committed floors — the refresh rows time
    # a 2k append + incremental refresh, the steady-state maintainer
    # cycle; the lookup is driver-side prune + surviving-segment read)
    "join_view_refresh_2k": 0.915, "join_table_refresh_2k": 0.596,
    "bloom_point_lookup": 0.112,
    # round-9 first-committed floors (idle best-of-2, 2026-08-15):
    # the LEFT-outer refresh pays the null-extension delta terms on
    # top of the pair terms; the cascade row is TWO chained refreshes
    # (transform + agg) plus the post-order walk's manifest reads
    "join_view_left_refresh_2k": 1.392, "cascade_refresh_2k": 1.185,
    # late-r9 floor: full-upsert MERGE statement, 2k source (1k
    # delete-vector updates + 1k inserts), zero target read; 0.825 at
    # first commit, 0.694 on the idle re-measure same day
    "sql_merge_upsert_2k": 0.694,
    # round-10 first-committed floor (idle, 2026-08-15): the bucketed
    # full-upsert MERGE reads+rewrites the touched buckets (at sf0.1's
    # 2k batch that is all 16 — the toy-scale worst case; at 100 TB
    # the touched set tracks the batch's key spread, not table size)
    "bucketed_merge_2k": 1.126,
    # round-11 first-committed floor (idle, calib 0.624): conditional
    # D/U/I MERGE on the bucketed layout — one inner + one anti join
    # feeding ONE bucket-scoped delete-vector + per-bucket-append
    # commit, zero buckets rewritten (flat across 8x table growth,
    # BASELINE.md bucketed_dv_scale_proof)
    "bucketed_conditional_dml_2k": 1.914,
    # late-round-11 first-committed floor (idle, calib 0.664): the
    # training-shard export — one shard-keyed exchange (plan-asserted
    # single Exchange), one partitioned parquet write, one
    # column-pruned read-back agg building the verified manifest
    "export_shards_docs": 0.510,
    # late-r11 floor, re-pinned r12 idle at 0.431, RE-PINNED r13 at
    # 0.381 (calib 0.684) after the one-plan rewrite: the per-term df
    # aggregation is now a COUNT window inside the query plan instead
    # of a driver collect — single scan of the probed postings, zero
    # plan-time Spark jobs, idf in the same JVM F.log as the batch
    # scorer (same answer as bm25_topk's 1.0 s corpus scan+tokenize)
    # (0.381 flat; 0.34 once the bench index moved to the bucketed
    # at-rest layout — the 3 query terms' buckets' files only)
    "bm25_indexed_topk": 0.34,
    # r12 floors RE-PINNED in r13 (calib 0.682, near idle) after the
    # serving-path overhaul: driver-side xxhash64 bucket resolution
    # (no per-query createDataFrame+collect job) + manifest-pinned
    # scan schema (no mergeSchema footer job) cut the bucketed probe
    # query 0.66 -> 0.147 and the hybrid fusion 1.19 -> 0.696
    "ann_indexed_topk": 0.141,
    "hybrid_indexed_rrf": 0.646,
    # r13 first-committed floor (calib 0.682, near idle): the indexed
    # cross-table k-NN join — same masks/scoring/order as the
    # lsh_knn_join headliner (1.68 s same session), minus the per-call
    # corpus bucketing pass the maintained index absorbs at write time
    "knn_join_indexed": 1.207,
    # r13 first-committed floor (calib 0.898, contended k~1.38 — best
    # observed; re-pin idle): maintained IVF probe query, 4/16 cells,
    # exact-dot re-rank on the bucketed at-rest layout
    "ivf_indexed_topk": 0.155,
    # r14 first-committed floor: 32 queries in ONE plan from the
    # maintained bucketed ANN index (union probe scan + broadcast
    # query frame + per-qid WindowGroupLimit top-k) — ~6x under
    # 32 x ann_indexed_topk in the same artifact, the amortization
    # the batch tier exists for
    "ann_batch32_topk": 1.022,
    # r14 first-committed floor (calib min 0.653, bursty host): the
    # FILTERED probe query — payload predicate pushed into the same
    # probed scan as ann_indexed_topk; at parity with the unfiltered
    # row (0.136 vs 0.147 same session: fewer survivors reach the
    # dot-scoring projection), i.e. the metadata filter is free
    "ann_filtered_topk": 0.136,
}

# Idle-machine cost of the calibration row (see stage_floor_calib
# below): a FIXED trivial job — data-independent, no IO — whose wall
# time is pure scheduler + shuffle + codegen-cache floor. The r6/r8/r9
# driver-run drifts (+10%/+5%/+29%, each adjudicated as host
# contention by hand-re-running) motivated carrying the evidence in
# the artifact itself: contention inflates this row by the same factor
# as every other stage-floor-bound row, so
# tools/bench_regression.py normalizes by (run_calib / CALIB_FLOOR_SEC)
# before judging floors. Committed from an idle best-of-5 (r10).
CALIB_FLOOR_SEC = 0.65  # idle best observed (in-bench), r10


def _materialize(df) -> int:
    """Force full execution; tiny results are collected, big ones counted."""
    return df._jdf.queryExecution().executedPlan() and df.count()


def main() -> None:
    spark = get_spark(app_name="rclip_server_spark_bench")
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)

    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents")
    events = load_table(spark, SF_DIR, "events")
    # guard sizes for the k-NN join: parquet-footer metadata, zero Spark jobs
    from rclip_server_spark.sources.catalog import table_row_count

    n_emb = table_row_count(os.path.join(SF_DIR, "embeddings.parquet"))

    # --- round-8 widening: the r7 lakehouse surface gets per-round
    # regression floors — incremental JOIN-view refresh (fixed 2k-row
    # append + signed-delta refresh: the steady-state cost of a
    # streaming maintainer, flat in table size by design), the
    # row-level join-TABLE refresh, and the Bloom-sidecar point lookup
    # (driver-side prune + surviving-segment read). Versioned fixtures
    # are built ONCE outside the timings; each refresh invocation
    # appends a DISTINCT batch so both best-of-2 rounds do real work.
    import shutil as _shutil
    import tempfile as _tempfile

    from rclip_server_spark import sql as SQ
    from rclip_server_spark.sources import bloomindex as BX
    from rclip_server_spark.sources import matview as MV
    from rclip_server_spark.sources import versioned as VT

    vt_tmp = _tempfile.mkdtemp(prefix="bench_vt_")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long")
         .alias("price_cents"))
    cust = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", F.col("c_custkey").alias("custkey"), "c_mktsegment")
    # SEPARATE left sources per refresh bench: a shared source would
    # make each timed interval include the batch the OTHER bench
    # appended (a 2-commit ~4k-row interval mislabeled "2k"), and
    # couple the two floors
    jv_l, jv_r = os.path.join(vt_tmp, "ord"), os.path.join(vt_tmp, "cus")
    jt_l = os.path.join(vt_tmp, "ord2")
    jv, jt = os.path.join(vt_tmp, "jv"), os.path.join(vt_tmp, "jt")
    VT.create(spark, jv_l, orders)
    VT.create(spark, jt_l, orders)
    VT.create(spark, jv_r, cust)
    MV.create_join_view(spark, jv_l, jv_r, jv, on="custkey",
                        left_key="o_orderkey", right_key="c_custkey",
                        group_cols=["c_mktsegment"],
                        sum_cols=["price_cents"])
    MV.create_join_table_view(spark, jt_l, jv_r, jt, on="custkey",
                              left_key="o_orderkey",
                              right_key="c_custkey")
    bt = os.path.join(vt_tmp, "events")
    VT.create(spark, bt, load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents")))
    BX.build_bloom_index(spark, bt, "event_id")
    _batch_no = iter(range(1, 1000))

    def _fresh_batch():
        return orders.limit(2000).withColumn(
            "o_orderkey",
            F.col("o_orderkey") + F.lit(next(_batch_no) * 1_000_000_000))

    def _jv_refresh():
        VT.append(spark, jv_l, _fresh_batch())
        MV.refresh_join_view(spark, jv)

    def _jt_refresh():
        VT.append(spark, jt_l, _fresh_batch())
        MV.refresh_join_table_view(spark, jt)

    # round-9 widening: the LEFT-outer join-view refresh (its
    # null-extension delta terms are extra plan surface the inner
    # flavor never exercises) and the view-DAG cascade walk (transform
    # view feeding an agg view; a regression in the post-order walk or
    # the per-edge delta would land here first). Own left/base sources
    # per the same isolation rule as above.
    jvl_l = os.path.join(vt_tmp, "ord3")
    jvl = os.path.join(vt_tmp, "jvl")
    VT.create(spark, jvl_l, orders.withColumn(
        "custkey",
        F.when(F.col("custkey") % 5 == 0, F.lit(-1))
        .otherwise(F.col("custkey"))))  # ~20% unmatched left rows
    MV.create_join_view(spark, jvl_l, jv_r, jvl, on="custkey",
                        left_key="o_orderkey", right_key="c_custkey",
                        group_cols=["c_mktsegment"],
                        sum_cols=["price_cents"], how="left")
    cas_b = os.path.join(vt_tmp, "cas_b")
    cas_t = os.path.join(vt_tmp, "cas_t")
    cas_a = os.path.join(vt_tmp, "cas_a")

    def _cas_fn(df):
        return df.select("o_orderkey", "custkey",
                         (F.col("price_cents") * 2).alias("cents2"))

    VT.create(spark, cas_b, orders)
    MV.create_transform_view(spark, cas_b, cas_t, key="o_orderkey",
                             transform=_cas_fn, name="bench_cascade")
    MV.create_agg_view(spark, cas_t, cas_a, key="o_orderkey",
                       group_cols=["custkey"], sum_cols=["cents2"])
    _cas_transforms = {cas_t: (_cas_fn, "bench_cascade")}

    def _jvl_refresh():
        # batch carries the same ~20% unmatched keys, so the timed
        # interval exercises the null-extension terms, not just pairs
        VT.append(spark, jvl_l, _fresh_batch().withColumn(
            "custkey",
            F.when(F.col("custkey") % 5 == 0, F.lit(-1))
            .otherwise(F.col("custkey"))))
        MV.refresh_join_view(spark, jvl)

    def _cascade_refresh():
        VT.append(spark, cas_b, _fresh_batch())
        MV.refresh_cascade(spark, cas_a, transforms=_cas_transforms)

    # late-round-9 widening: the SQL DML flagship — a full-upsert MERGE
    # statement (parse -> one delete-vector + append commit, zero
    # target read; tools/merge_scale_proof.py proves it flat in table
    # size). Own target per the isolation rule; each timed run merges a
    # fresh 2k source (1k updated images + 1k new keys).
    mrg = os.path.join(vt_tmp, "mrg")
    VT.create(spark, mrg, orders)
    _sql_cat = SQ.Catalog(os.path.join(vt_tmp, "cat"))
    _sql_cat.register("mrg", mrg, meta={"key": "o_orderkey"})

    def _merge_2k():
        shift = next(_batch_no) * 1_000_000_000
        src = orders.limit(1000).withColumn(
            "price_cents", F.col("price_cents") + 1).unionByName(
            orders.limit(1000).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(shift)))
        src.createOrReplaceTempView("bench_merge_src")
        SQ.execute(spark, "MERGE INTO mrg USING bench_merge_src "
                          "ON mrg.o_orderkey = o_orderkey "
                          "WHEN MATCHED THEN UPDATE SET * "
                          "WHEN NOT MATCHED THEN INSERT *", _sql_cat)

    # round-10 widening: the BUCKETED full-upsert MERGE — touched
    # buckets only are read and rewritten (versioned.upsert_bucketed),
    # the co-located-ingest steady state. Own target per the
    # isolation rule.
    mrgb = os.path.join(vt_tmp, "mrgb")
    VT.create_bucketed(spark, mrgb, orders, key="o_orderkey",
                       n_buckets=16)
    _sql_cat.register("mrgb", mrgb, meta={"key": "o_orderkey"})

    def _bucketed_merge_2k():
        shift = next(_batch_no) * 1_000_000_000
        src = orders.limit(1000).withColumn(
            "price_cents", F.col("price_cents") + 2).unionByName(
            orders.limit(1000).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(shift)))
        src.createOrReplaceTempView("bench_bmerge_src")
        SQ.execute(spark, "MERGE INTO mrgb USING bench_bmerge_src "
                          "ON mrgb.o_orderkey = o_orderkey "
                          "WHEN MATCHED THEN UPDATE SET * "
                          "WHEN NOT MATCHED THEN INSERT *", _sql_cat)

    def _bucketed_conditional_dml_2k():
        # r11: conditional MERGE on the bucketed layout — one inner +
        # one anti join feeding ONE bucket-scoped delete-vector +
        # per-bucket-append commit; ZERO buckets rewritten (contrast
        # bucketed_merge_2k's full-upsert touched-bucket rewrite).
        # Scale-proved flat across 8x table growth in BASELINE.md
        # (tools/bucketed_dv_scale_proof.py).
        shift = next(_batch_no) * 1_000_000_000
        src = orders.limit(1000).withColumn(
            "price_cents", F.col("price_cents") + 3).unionByName(
            orders.limit(1000).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(shift)))
        src.createOrReplaceTempView("bench_bcdml_src")
        SQ.execute(spark, (
            "MERGE INTO mrgb t USING bench_bcdml_src AS s "
            "ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED AND s.price_cents % 97 = 0 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET price_cents = s.price_cents "
            "WHEN NOT MATCHED THEN INSERT *"), _sql_cat)

    _BLOOM_IDS = [17, 4242, 99177, 123456]

    # late-r11: maintained BM25 postings index built ONCE over the
    # documents fixture; the bench times the indexed query — the same
    # answer bm25_topk computes by scanning+tokenizing the corpus,
    # read from O(matching postings) instead
    from rclip_server_spark.sources import textindex as TI

    ti_src = os.path.join(vt_tmp, "tidocs")
    ti_idx = os.path.join(vt_tmp, "tiidx")
    VT.create(spark, ti_src, docs.select("doc_id", "text"))
    TI.create_text_index(spark, ti_src, ti_idx, key="doc_id")
    # r13: the bucketed at-rest layout (the recommended deployment,
    # mirroring the ANN row) — the query names only the 3 terms'
    # buckets' segment files and plans with zero Spark jobs
    TI.convert_index_to_bucketed(spark, ti_idx, n_buckets=64)

    def _bm25_indexed():
        return TI.query_text_index(
            spark, ti_idx, ["vector", "join", "spark"], k=10).collect()

    # r12: maintained ANN index on the BUCKETED at-rest layout, built
    # ONCE — the bench times (a) the indexed multiprobe query (reads
    # only the probed physical buckets' segment files, scores only the
    # probed LSH buckets' rows) and (b) the hybrid RRF fusion from
    # BOTH maintained indexes (two pool-sized rank windows + one
    # pool-sized outer join on top of the index-served sides)
    from rclip_server_spark.operators import retrieval as RETR
    from rclip_server_spark.sources import annindex as AIX

    ai_src = os.path.join(vt_tmp, "aivecs")
    ai_idx = os.path.join(vt_tmp, "aiidx")
    VT.create(spark, ai_src, emb.select("vec_id", "embedding"))
    AIX.create_ann_index(spark, ai_src, ai_idx, key="vec_id",
                         n_planes=6)
    AIX.convert_index_to_bucketed(spark, ai_idx, n_buckets=64)

    def _ann_indexed():
        return AIX.query_ann_index(spark, ai_idx, QV_FLAGSHIP, k=10,
                                   n_probe_bits=1).collect()

    # r14: FILTERED vector search — payload column (include_cols)
    # stored in the index, predicate evaluated inside the probed scan
    # (parquet-pushed). Costs the same probed file set as the
    # unfiltered row plus row-group predicate work; the delta vs
    # ann_indexed_topk IS the filter's price in the artifact.
    af_src = os.path.join(vt_tmp, "afvecs")
    af_idx = os.path.join(vt_tmp, "afidx")
    VT.create(spark, af_src, emb.select(
        "vec_id", "embedding", (F.col("vec_id") % 7).alias("category")))
    AIX.create_ann_index(spark, af_src, af_idx, key="vec_id",
                         n_planes=6, include_cols=["category"])
    AIX.convert_index_to_bucketed(spark, af_idx, n_buckets=64)

    def _ann_filtered():
        return AIX.query_ann_index(spark, af_idx, QV_FLAGSHIP, k=10,
                                   n_probe_bits=1,
                                   where="category = 3").collect()

    # r13: the maintained IVF index (kmeans-trained, frozen centroids,
    # bucketed at-rest) — probe 4 of 16 cells, exact-dot re-rank
    from rclip_server_spark.sources import ivfindex as IIX

    ii_idx = os.path.join(vt_tmp, "iiidx")
    IIX.create_ivf_index(spark, ai_src, ii_idx, key="vec_id",
                         n_cells=16, iters=2)
    IIX.convert_index_to_bucketed(spark, ii_idx, n_buckets=16)

    def _ivf_indexed():
        return IIX.query_ivf_index(spark, ii_idx, QV_FLAGSHIP, k=10,
                                   n_probe=4).collect()

    # r14: batched multi-query serving — 32 queries answered in ONE
    # plan from the maintained bucketed ANN index (union probe scan +
    # broadcast (qid, bucket, qvec) frame + per-qid window top-k).
    # The amortization claim is visible in the artifact itself: this
    # row's wall vs 32 x ann_indexed_topk's. Query set = 32 seeded
    # unit vectors (deterministic, data-independent).
    _QBATCH = [(int(i), [float(x) for x in v]) for i, v in
               enumerate(ann_ops.hyperplanes(32, 64, seed=5))]

    def _ann_batch():
        return AIX.query_ann_index_batch(
            spark, ai_idx, _QBATCH, k=10, n_probe_bits=1).count()

    def _hybrid_indexed():
        t = TI.query_text_index(spark, ti_idx,
                                ["vector", "join", "spark"], k=50)
        v = AIX.query_ann_index(spark, ai_idx, QV_FLAGSHIP, k=50,
                                n_probe_bits=1).withColumnRenamed(
            "vec_id", "doc_id")
        return RETR.rrf_fusion(t, v, k=10, pool=50).collect()

    # r13: the cross-table k-NN join SERVED FROM the maintained index
    # — same probe masks / scoring / total order as the lsh_knn_join
    # headliner, but the corpus side's bucket column is precomputed at
    # write time (the ad-hoc per-call bucketing pass disappears) and
    # the scale guard plans from the manifest row count. Built over
    # its own 9-plane index so the bench compares like-for-like with
    # the lsh_knn_join row's sizing discipline.
    kj_src = os.path.join(vt_tmp, "kjvecs")
    kj_idx = os.path.join(vt_tmp, "kjidx")
    VT.create(spark, kj_src, emb.select("vec_id", "embedding"))
    AIX.create_ann_index(spark, kj_src, kj_idx, key="vec_id",
                         n_planes=9)
    AIX.convert_index_to_bucketed(spark, kj_idx, n_buckets=64)
    _kj_left = emb.where(F.col("vec_id") % 17 == 0)
    _kj_nl = n_emb // 17 + 1

    def _knn_join_indexed():
        return AIX.knn_join_via_index(
            spark, _kj_left, kj_idx, k=5, n_probe_bits=1,
            n_left=_kj_nl).count()

    def _export_shards():
        from rclip_server_spark.operators import sampling as SAMP

        out = _tempfile.mkdtemp(prefix="bench_shards_")
        try:
            SAMP.export_training_shards(
                docs.select("doc_id", "text"), "doc_id", 8, out,
                overwrite=True)
        finally:
            _shutil.rmtree(out, ignore_errors=True)

    def _stage_floor_calib():
        # FIXED composite job — the contention-normalization
        # denominator. Three legs exercise the three resources the
        # real headliners bottleneck on, so host drift of any flavor
        # (CPU steal, allocation/GC pressure, page-cache/IO) scales
        # this row with the queries it normalizes: (a) raw-CPU hash
        # aggregation through one exchange, (b) string-allocation-
        # heavy md5 work (the minhash/simhash family's profile), (c)
        # a full parquet scan of the fixture. Data-fixed per SF, no
        # caching between runs (clearCache runs each round).
        (spark.range(0, 24_000_000, 1, 32)
         .select((F.xxhash64("id") % 256).alias("g"))
         .groupBy("g").count().count())
        (spark.range(0, 2_000_000, 1, 32)
         .select(F.md5(F.concat(F.lit("calib-"),
                                F.col("id").cast("string")))
                 .alias("h"))
         .where(F.col("h").startswith("0000")).count())
        return emb.count() and docs.count() and events.count()

    benches = {
        "stage_floor_calib": _stage_floor_calib,
        "flagship_topk_sql": lambda: similarity.topk_similar(
            emb, QV_FLAGSHIP, k=12, method="sql"
        ).collect(),
        "flagship_topk_gemv": lambda: similarity.topk_similar(
            emb, QV_FLAGSHIP, k=12, method="gemv"
        ).collect(),
        "best_words_top50": lambda: similarity.best_words(
            emb.select(F.col("vec_id").cast("string").alias("word"),
                       F.col("embedding").alias("vector")),
            EMBEDDER.embed_text("zebra"),
        ).collect(),
        "minhash_near_dup_docs": lambda: dedup.minhash_near_dup(
            docs, threshold=0.7
        ).count(),
        "simhash_fingerprints": lambda: dedup.simhash_groups(docs).count(),
        "embed_documents_udf": lambda: multimodal.embed_documents(docs).count(),
        "q1_pricing_summary": lambda: _QUERIES["rel_q1_pricing_summary"](
            spark, SF_DIR
        ).collect(),
        "join_broadcast_agg": lambda: _QUERIES["rel_join_broadcast_agg"](
            spark, SF_DIR
        ).collect(),
        "window_running_sum": lambda: _QUERIES["rel_window_running_sum"](
            spark, SF_DIR
        ).count(),
        "event_session_windows": lambda: SW.session_windows(events).count(),
        "text_quality_stats": lambda: _QUERIES["text_stats"](spark, SF_DIR).count(),
        # round-3 widening: one headline per round-2 family (funnel,
        # mixture sampling, BM25 retrieval, semantic dedup, as-of join)
        "event_funnel": lambda: _QUERIES["ev_funnel_counts"](spark, SF_DIR).collect(),
        "sample_weighted_mixture": lambda: _QUERIES["samp_weighted_mixture"](
            spark, SF_DIR
        ).count(),
        "bm25_topk": lambda: _QUERIES["text_bm25_topk"](spark, SF_DIR).collect(),
        "semdedup": lambda: _QUERIES["dedup_semantic_semdedup"](
            spark, SF_DIR
        ).count(),
        "asof_click_view": lambda: _QUERIES["ev_asof_click_view"](
            spark, SF_DIR
        ).count(),
        # round-4 widening: containment dedup (rare-shingle inverted index)
        # and distributed logistic-regression training (per-partition GEMV
        # passes) — the two r3-new families without a timed headline
        "dedup_containment": lambda: _QUERIES["dedup_containment"](
            spark, SF_DIR
        ).count(),
        "train_quality_lr": lambda: _QUERIES["ml_train_quality_lr"](
            spark, SF_DIR
        ).count(),
        # late-round-4 widening: the new sketch/sampling families — priority
        # sampling (weighted fixed-k + estimator) and mergeable histogram
        # quantiles. The Bloom-pruned anti-join is deliberately NOT a
        # headliner: at toy scale a broadcast anti-join always wins (its
        # build+probe overhead only pays off past the broadcast threshold),
        # so it is measured for scale SHAPE in tools/scale_sweep.py instead
        # — same treatment as the bucketed upsert.
        "weighted_fixed_k": lambda: _QUERIES["samp_weighted_fixed_k"](
            spark, SF_DIR
        ).collect(),
        "hist_quantiles": lambda: _QUERIES["sketch_histogram_quantiles"](
            spark, SF_DIR
        ).collect(),
        # round-5 widening: the cross-table approximate k-NN join (neither
        # side broadcast — the two-large-tables alignment primitive). Sized
        # by the documented discipline (2^n_planes ∝ |right|: 512 buckets
        # over the 2000-row right side, ~4 rows/bucket); sizes are passed
        # so the scale guard plans zero extra jobs.
        "lsh_knn_join": lambda: ann_ops.lsh_knn_join(
            emb.where(F.col("vec_id") % 17 == 0), emb, k=5, n_planes=9,
            n_probe_bits=1, dim=64,
            n_left=n_emb // 17 + 1, n_right=n_emb,
        ).count(),
        # round-8 widening: the r7 lakehouse machinery (see setup above)
        "join_view_refresh_2k": _jv_refresh,
        "join_table_refresh_2k": _jt_refresh,
        "bloom_point_lookup": lambda: BX.read_point_lookup(
            spark, bt, "event_id", _BLOOM_IDS).collect(),
        # round-9 widening: LEFT-outer maintenance + the cascade walk
        "join_view_left_refresh_2k": _jvl_refresh,
        "cascade_refresh_2k": _cascade_refresh,
        # late-round-9: the SQL full-upsert MERGE (O(source) DML path)
        "sql_merge_upsert_2k": _merge_2k,
        # round-10: the bucketed flavor (touched-buckets rewrite)
        "bucketed_merge_2k": _bucketed_merge_2k,
        "bucketed_conditional_dml_2k": _bucketed_conditional_dml_2k,
        # late-round-11: the training-shard export (curated table ->
        # epoch-ready shard files + read-back-verified manifest) —
        # one shard-keyed exchange, one partitioned write, one
        # column-pruned read-back agg over (id, pos)
        "export_shards_docs": _export_shards,
        # same answer as bm25_topk, served from the maintained index
        "bm25_indexed_topk": _bm25_indexed,
        # r12: the bucketed ANN index query (file-pruned probe read)
        # and the hybrid fusion from BOTH maintained indexes
        "ann_indexed_topk": _ann_indexed,
        "hybrid_indexed_rrf": _hybrid_indexed,
        # r13: lsh_knn_join served from the maintained bucketed index
        "knn_join_indexed": _knn_join_indexed,
        # r13: the IVF probe query (4/16 cells, exact-dot re-rank)
        "ivf_indexed_topk": _ivf_indexed,
        # r14: 32 queries in ONE plan from the maintained ANN index
        "ann_batch32_topk": _ann_batch,
        # r14: filtered vector search (payload predicate inside the
        # probed scan; delta vs ann_indexed_topk = the filter's cost)
        "ann_filtered_topk": _ann_filtered,
    }

    # warm the JVM/IO, the Python UDF workers, AND whole-stage-codegen
    # compilation once so timings measure the engine, not one-time setup:
    # class loading and python-worker spin-up (~2s) plus Janino compilation
    # of each query's generated code (~5s for the minhash expression tree,
    # measured). Each heavy plan SHAPE is run on a tiny slice first — the
    # codegen cache is keyed on generated source, so the sf-scale run then
    # measures pure execution. All one-time-per-executor costs, amortized to
    # noise over any real workload.
    similarity.topk_similar(emb, QV_FLAGSHIP, k=1).collect()
    similarity.topk_similar(emb.limit(64), QV_FLAGSHIP, k=1, method="gemv").collect()
    multimodal.embed_documents(docs.limit(8)).count()
    dedup.minhash_near_dup(docs.limit(16)).count()
    dedup.simhash_groups(docs.limit(16)).count()
    SW.session_windows(events.limit(16)).count()
    # warm the round-3 additions' plan shapes on the smallest fixture
    warm_sf = "/root/testdata/sf0.001"
    for q in ("ev_funnel_counts", "samp_weighted_mixture", "text_bm25_topk",
              "dedup_semantic_semdedup", "ev_asof_click_view",
              "dedup_containment", "ml_train_quality_lr",
              "samp_weighted_fixed_k", "sketch_histogram_quantiles"):
        _QUERIES[q](spark, warm_sf).count()
    ann_ops.lsh_knn_join(emb.limit(32), emb.limit(64), k=2, n_planes=4,
                         n_probe_bits=1, dim=64, n_left=32, n_right=64).count()
    # warm the r8 lakehouse plan shapes (one real cycle each — the
    # refresh fixtures are stateful, so warmup consumes a batch id)
    _jv_refresh()
    _jt_refresh()
    _merge_2k()  # warm the DML statement path (consumes a batch id)
    _bucketed_merge_2k()
    BX.read_point_lookup(spark, bt, "event_id", [_BLOOM_IDS[0]]).collect()
    # warm the shard-export plan shape (write + read-back agg) on a slice
    from rclip_server_spark.operators import sampling as _SAMP

    _warm_out = _tempfile.mkdtemp(prefix="bench_shards_warm_")
    _SAMP.export_training_shards(docs.limit(64).select("doc_id", "text"),
                                 "doc_id", 2, _warm_out, overwrite=True)
    _shutil.rmtree(_warm_out, ignore_errors=True)
    _bm25_indexed()  # warm the postings-query plan shape
    _ann_indexed()  # warm the bucketed probe-read plan shape
    _ann_filtered()  # warm the filtered probe-read plan shape
    _hybrid_indexed()  # warm the fusion (windows + outer join)
    _knn_join_indexed()  # warm the indexed-join plan shape
    _ivf_indexed()  # warm the IVF probe plan shape
    AIX.query_ann_index_batch(spark, ai_idx, _QBATCH[:2], k=2).count()
    _stage_floor_calib()  # warm the calib row's codegen like the rest
    spark.catalog.clearCache()

    # best-of-2 per query: single-shot timings at this scale swing ±20% on
    # JVM/GC luck; the minimum is the reproducible steady-state number (both
    # runs execute the full query — nothing is cached between them beyond
    # what any warm engine would hold).
    #
    # Contention evidence (r14): the calib row samples THREE times per
    # pass — start / middle / end — instead of once. BENCH_r13.json
    # read as a 19% uniform regression because a single 0.5s calib
    # sample missed bursty host contention that hit the other 28s of
    # queries; the committed artifact now carries all 6 samples, their
    # MEDIAN as calib_sec, and median_floor_ratio (the median
    # per-query got/floor across the shared set) so a dirty capture
    # window is visible inside the JSON itself.
    timings: dict[str, float] = {}
    calib_samples: list[float] = []

    def _sample_calib() -> None:
        t0 = time.time()
        _stage_floor_calib()
        calib_samples.append(round(time.time() - t0, 3))

    names = [n for n in benches if n != "stage_floor_calib"]
    mid = len(names) // 2
    for _ in range(2):
        # clear between rounds: operators that persist() intermediates
        # (minhash) would otherwise have round 2 reuse round 1's cache via
        # Spark's plan-matching CacheManager and under-report
        spark.catalog.clearCache()
        _sample_calib()
        for i, name in enumerate(names):
            fn = benches[name]
            t0 = time.time()
            fn()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            if i + 1 == mid:
                _sample_calib()
        _sample_calib()

    _shutil.rmtree(vt_tmp, ignore_errors=True)
    # the calibration row is measurement apparatus, not a headline
    # query: it travels in "queries" (and as calib_sec) so the
    # artifact carries the contention evidence, but stays OUT of the
    # headline total so `value` remains comparable across rounds
    calib = sorted(calib_samples)[len(calib_samples) // 2]
    timings["stage_floor_calib"] = calib
    # calib_best is the calib row's OWN best-of (symmetric with every
    # query row's best-of-2): the capability signal the floor gate
    # judges against. The mid/end-of-pass samples systematically
    # include the engine's residual state after heavy queries
    # (shuffle-cleanup daemons, broadcast GC) — measured: start
    # samples ~0.6-0.8 vs mid/end ~1.0-1.4 across three r14 runs,
    # while a controlled back-to-back test shows no such inflation —
    # so the MEDIAN is contention EVIDENCE (it travels in the
    # artifact), not the machine-capability estimator.
    calib_best = min(calib_samples)
    headline = {k: v for k, v in timings.items()
                if k != "stage_floor_calib"}
    ratios = sorted(timings[n] / f for n, f in FLOOR_SEC.items()
                    if timings.get(n))
    med_ratio = ratios[len(ratios) // 2] if ratios else 1.0
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_sec",
                "value": round(sum(headline.values()), 3),
                "unit": "sec",
                "queries": timings,
                "calib_sec": calib,
                "calib_best_sec": calib_best,
                "calib_samples": calib_samples,
                "calib_floor_sec": CALIB_FLOOR_SEC,
                "median_floor_ratio": round(med_ratio, 3),
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
