"""The versioned corpus table and its three maintained indexes, built
through the engine's SQL frontend and ``sources`` API from generated
inputs. Shared by the serve and ingest workloads."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import DIM

N_PLANES = 6
IVF_CELLS = 8


def row_bytes(caption: str) -> int:
    """User bytes of one row: id, label, float32 vector, caption."""
    return 8 + 4 + 4 * DIM + len(caption.encode())


def write_rows(path: str, ids, vecs, captions, labels, **extra) -> None:
    """One parquet file of (id, vector, caption, label) input rows, plus
    the ``extra`` columns."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "id": pa.array(np.asarray(ids, dtype=np.int64)),
        "vector": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "caption": pa.array(captions),
        "label": pa.array(np.asarray(labels, dtype=np.int32)),
    } | {k: pa.array(v) for k, v in extra.items()}), path)


class Store:
    """Catalog ``img`` table plus ``ai`` (ANN), ``ii`` (IVF) and ``ti``
    (BM25) index views over it."""

    def __init__(self, ctx, root: str, corpus):
        from rclip_server_spark import sql as S
        from rclip_server_spark.sources import ivfindex as II

        spark = ctx.spark
        self.root = root
        self.cat = S.Catalog(os.path.join(root, "catalog"))
        seed = os.path.join(root, "input", "corpus.parquet")
        write_rows(seed, corpus.ids, corpus.vectors, corpus.captions,
                   corpus.labels)
        spark.read.parquet(seed).createOrReplaceTempView("pb_corpus")
        S.execute(spark, "CREATE TABLE img OPTIONS (key='id') AS "
                         "SELECT id, vector, caption, label FROM pb_corpus",
                  self.cat)
        S.execute(spark, "CREATE MATERIALIZED VIEW ai USING ann_index "
                         "OPTIONS (source='img', key='id', vec_col='vector',"
                         f" n_planes={N_PLANES}, include_cols='label')",
                  self.cat)
        # IVF centroids: seeded sample of corpus rows, handed to the
        # engine as explicit quantizers
        pick = ctx.rng.choice(len(corpus.ids), IVF_CELLS, replace=False)
        ii = self.cat.path_for("ii")
        II.create_ivf_index(spark, self.path("img"), ii, key="id",
                            vec_col="vector",
                            centroids=corpus.vectors[pick].astype(np.float64))
        self.cat.register("ii", ii, kind="ivf_index", require_path=True)
        S.execute(spark, "CREATE MATERIALIZED VIEW ti USING text_index "
                         "OPTIONS (source='img', key='id', "
                         "text_col='caption')", self.cat)

    def path(self, name: str) -> str:
        return self.cat.get(name)["path"]

    def paths(self) -> list[str]:
        return [self.path(n) for n in ("img", "ai", "ii", "ti")]


def disk_bytes(paths) -> tuple[dict, int]:
    """({file: size} under ``paths``, total bytes)."""
    files = {}
    for p in paths:
        for d, _, fs in os.walk(p):
            for f in fs:
                fp = os.path.join(d, f)
                try:
                    files[fp] = os.path.getsize(fp)
                except OSError:
                    pass
    return files, sum(files.values())
