"""FILTERED vector search SCALE proof (r14): the payload predicate
must not change the serving complexity class — a filtered probe query
reads the SAME probed buckets' files as the unfiltered one (the filter
is row-group pruning inside survivors, never a join back to the
source), so both curves should stay ~FLAT as the corpus grows and the
filtered query should never read MORE files than the unfiltered one.

Targets are 1x/4x/8x id-shifted replicas of the sf0.1 embeddings
fixture with a derived category payload; the index is hash-bucketed at
rest and refreshed post-churn so the timings measure the maintained
state. Each timing is a median of 3. At every size:
  * row-identity of the filtered top-k vs brute-forcing the same
    probed state with the same predicate;
  * the filtered plan's input files are a subset of the unfiltered
    plan's (file pruning unchanged by the predicate).

Usage: python tools/filtered_scale_proof.py [sf_dir] [copies ...]
       (defaults: /root/testdata/sf0.1 and 1 4 8)  ->  one JSON line
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rclip_server_spark.functions import vector as VEC
from rclip_server_spark.session import get_spark
from rclip_server_spark.sources import annindex as AI
from rclip_server_spark.sources import load_table
from rclip_server_spark.sources import versioned as V

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
COPIES = [int(c) for c in sys.argv[2:]] or [1, 4, 8]
QV = [0.125] * 32 + [-0.125] * 32
K = 10
WHERE = "category = 3"


def _median3(fn) -> float:
    ts = []
    for _ in range(3):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    return sorted(ts)[1]


def main() -> None:
    spark = get_spark(app_name="filtered_scale_proof")
    embs0 = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding")
    n0 = embs0.count()
    out = {"metric": "filtered_query_sec_by_scale", "sizes": {},
           "n_rows_1x": n0, "where": WHERE}
    for c in COPIES:
        reps = [embs0.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            "embedding") for i in range(c)]
        src_df = reps[0]
        for r in reps[1:]:
            src_df = src_df.unionByName(r)
        src_df = src_df.select(
            "vec_id", "embedding",
            (F.col("vec_id") % 7).cast("bigint").alias("category"))
        td = tempfile.mkdtemp(prefix=f"fsp_{c}x_")
        shutil.rmtree(td)
        src = os.path.join(td, "src")
        idx = os.path.join(td, "idx")
        V.create(spark, src, src_df)
        AI.create_ann_index(spark, src, idx, key="vec_id", n_planes=6,
                            include_cols=["category"])
        AI.convert_index_to_bucketed(spark, idx, n_buckets=64)
        # churn + refresh so the measured state is MAINTAINED, not
        # freshly built (delete vector + appended segment in play)
        V.delete_rows(spark, src,
                      [r[0] for r in src_df.limit(500).collect()],
                      "vec_id")
        AI.refresh_ann_index(spark, idx)

        def _filtered():
            return AI.query_ann_index(spark, idx, QV, k=K,
                                      n_probe_bits=1,
                                      where=WHERE).collect()

        def _unfiltered():
            return AI.query_ann_index(spark, idx, QV, k=K,
                                      n_probe_bits=1).collect()

        _filtered(), _unfiltered()  # warm plan shapes
        tf = _median3(_filtered)
        tu = _median3(_unfiltered)
        # row-identity vs brute-forcing the same probed state
        fq = AI.query_ann_index(spark, idx, QV, k=K, n_probe_bits=1,
                                where=WHERE)
        uq = AI.query_ann_index(spark, idx, QV, k=K, n_probe_bits=1)
        import numpy as np

        from rclip_server_spark.operators.ann import (_lsh_probes,
                                                      hyperplanes)

        probes = _lsh_probes(hyperplanes(6, 64, 42), 1, np.asarray(QV))
        want = (AI.read_ann_index(spark, idx)
                .where(F.col("bucket").isin(probes)).where(WHERE)
                .withColumn("score", VEC.dot(F.col("embedding"),
                                             VEC.vec_lit(QV)))
                .select("vec_id", "score")
                .orderBy(F.desc("score"), F.asc("vec_id")).limit(K))
        got_rows = [(r[0], round(r[1], 9)) for r in fq.collect()]
        want_rows = [(r[0], round(r[1], 9)) for r in want.collect()]
        assert got_rows == want_rows, f"{c}x row-identity failed"
        # the predicate must not widen the scan
        ff, uf = set(fq.inputFiles()), set(uq.inputFiles())
        assert ff <= uf, f"{c}x: filtered scan read MORE files"
        out["sizes"][f"{c}x"] = {
            "rows": n0 * c, "filtered_sec": round(tf, 3),
            "unfiltered_sec": round(tu, 3),
            "files_filtered": len(ff), "files_unfiltered": len(uf),
        }
        shutil.rmtree(td, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
