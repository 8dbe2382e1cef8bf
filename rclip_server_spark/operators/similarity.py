"""Brute-force exact similarity scan + top-k (reference A1/A2/A11), the
engine core.

The reference scores with one driver-resident BLAS GEMV over an N×512 matrix
and then FULLY sorts all N scores (rclip_server.py:194-198). The Spark-native
design distributes the same exact computation and improves the sort:

  * score is MAP-SIDE ONLY — a per-row expression (or per-Arrow-batch GEMV),
    no shuffle, embarrassingly parallel across any number of executors;
  * top-k is ``orderBy(desc).limit(k)`` which Catalyst plans as
    ``TakeOrderedAndProject``: a size-k heap per partition, then a k·P-row
    merge on the driver — O(N log k) work and k rows of traffic, versus the
    reference's O(N log N) full sort. This is the shape that survives 100 TB:
    the scan scales out, only k·P rows ever cross the wire.

Two scoring paths with identical semantics:
  * ``method='sql'``  — pure higher-order-function expression (functions/
    vector.py), JVM-side, whole-stage-codegen'd, DuckDB-oracle-checkable.
  * ``method='gemv'`` — scalar-iterator pandas_udf: each Arrow batch becomes a
    NumPy matrix and one ``M @ q`` BLAS call, preserving the reference's
    vectorized execution *and* partition parallelism. Faster at large N:
    over 100 000 rows on a 4-core host (top-12, median of 5) it beat the
    SQL fold at every dim measured, 64 to 1024, by 1.3x to 2.4x; on small
    tables (the 2 000-row bench fixture) the Python-worker overhead makes
    it the slower path. Opt-in: the default ``method`` is ``'sql'``, and
    ``'auto'`` (choose_score_method) picks GEMV only above dim 512.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from ..functions.localrel import values_df


def score_col_sql(vec_col, query_vec) -> Column:
    """score = dot(embedding, query) as a pure-SQL column (unit-norm ⇒ cosine).

    Accepts a column NAME (preferred: the whole expression then builds as
    one parsed SQL string — same tree, ~50x cheaper driver-side) or a
    Column (lambda-built fallback)."""
    if isinstance(vec_col, (str,)) or isinstance(vec_col, V.SqlExpr):
        return V.dot(vec_col, V.vec_lit_sql(query_vec))
    return V.dot(vec_col, V.vec_lit(list(query_vec)))


def score_col_gemv(vec_col, query_vec) -> Column:
    """Arrow-batched GEMV: one BLAS matvec per batch (reference rclip_server.py:196
    semantics, distributed). float64 accumulation to match the SQL path."""
    q = np.asarray(query_vec, dtype=np.float64)

    @F.pandas_udf("double")
    def _score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            mat = np.stack(s.to_numpy()).astype(np.float64, copy=False)
            yield pd.Series(mat @ q)

    return _score(vec_col)


def choose_score_method(query_vec) -> str:
    """Cost-based scoring-path choice — the Python-level stand-in for the
    SURVEY §7 'optional SQL-to-BLAS rewrite rule' (a true Catalyst rule
    needs Scala; this dispatcher makes the same decision one level up).

    Measured tradeoff: on the 2 000-row bench fixture the codegen'd SQL
    fold is faster (the Python worker's fixed cost dominates), but over
    100 000 rows on a 4-core host a SINGLE query's Arrow-GEMV was faster
    at every dim measured, 64 to 1024, by 1.3x to 2.4x (top-12, median
    of 5, identical ids; the table is in ROADMAP.md). The dim<=512 cut
    therefore favours the oracle-checkable SQL form rather than speed
    at large N; retuning it needs a large-N, wide-vector workload the
    benchmark does not have. Batched multi-query scoring should use
    brute_force_topk_multi_gemm instead — one data pass for all
    queries — which no per-row expression can match."""
    dim = len(np.asarray(query_vec))
    return "sql" if dim <= 512 else "gemv"


def with_score(
    df: DataFrame,
    query_vec,
    vec_col: str = "embedding",
    method: str = "sql",
    score_name: str = "score",
) -> DataFrame:
    if method == "auto":
        method = choose_score_method(query_vec)
    if method == "sql":
        return df.withColumn(score_name, score_col_sql(vec_col, query_vec))
    return df.withColumn(score_name, score_col_gemv(F.col(vec_col), query_vec))


def topk_similar(
    df: DataFrame,
    query_vec,
    k: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "sql",
) -> DataFrame:
    """Top-k rows by cosine against ``query_vec`` → (id, score).

    Deterministic tie-break on id so results are stable across partitionings
    (float ties are rare but a correctness gate should never flap).
    """
    scored = with_score(df, query_vec, vec_col=vec_col, method=method)
    return (
        scored.select(F.col(id_col), F.col("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def best_words(
    words_df: DataFrame,
    query_vec,
    k: int = 50,
    word_col: str = "word",
    vec_col: str = "vector",
    method: str = "sql",
) -> DataFrame:
    """Reverse lookup (reference A11, rclip_server.py:310-312): score the query
    vector against the word-embedding table, top-k."""
    scored = with_score(words_df, query_vec, vec_col=vec_col, method=method)
    return (
        scored.select(F.col(word_col), F.col("score"))
        .orderBy(F.desc("score"), F.asc(word_col))
        .limit(k)
    )


def phrase_embedding_df(
    words_df: DataFrame,
    phrases_df: DataFrame,
    word_col: str = "word",
    vec_col: str = "vector",
    phrase_id: str = "phrase_id",
) -> DataFrame:
    """Compositional phrase embedding (reference A12, rclip_server.py:314-318):
    normalize(Σ member-word vectors), distributed for MANY phrases at once.

    ``phrases_df``: (phrase_id, words: array<string>). Plan: explode →
    broadcast-join the word table → posexplode vectors → hash-agg per
    (phrase, dim) → rebuild array ordered by dim → normalize. All built-ins.
    """
    exploded = phrases_df.select(phrase_id, F.explode("words").alias(word_col))
    joined = exploded.join(F.broadcast(words_df.select(word_col, vec_col)), word_col)
    per_dim = (
        joined.select(phrase_id, F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(phrase_id, "dim")
        .agg(F.sum(F.col("x").cast("double")).alias("x"))
    )
    vec = (
        per_dim.groupBy(phrase_id)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "x"))).alias("pairs"))
        .select(
            phrase_id,
            F.transform(F.col("pairs"), lambda p: p["x"]).alias("raw"),
        )
    )
    return vec.select(phrase_id, V.l2_normalize("raw").alias(vec_col))


def best_phrases(
    words_df: DataFrame,
    query_vec,
    *,
    top_words: int = 200,
    n_samples_per_len: int = 1000,
    phrase_lens: tuple[int, ...] = (2, 3, 4),
    k: int = 100,
    seed: int = 42,
    word_col: str = "word",
    vec_col: str = "vector",
    method: str = "sql",
) -> DataFrame:
    """Candidate-phrase generation + approximate rescoring + top-k rerank
    (reference A14, rclip_server.py:330-342).

    Reference shape: top-200 words → sample 1000 random {2,3,4}-word combos →
    approx-score via the phrase-embedding sum (A12) → sort → top-100. The
    reference samples with an unseeded RNG; here sampling is SEEDED so runs
    are reproducible (SURVEY.md §4 "sampling via seeded rand").

    Spark plan: the top-word pool is tiny (200 rows) so it is collected once
    and re-broadcast as a literal array; candidate generation is a distributed
    ``range(n)`` + seeded shuffle-pick; scoring is column math; rerank is
    TakeOrderedAndProject.
    """
    top = best_words(words_df, query_vec, k=top_words, word_col=word_col,
                     vec_col=vec_col, method=method)
    pool = [r[0] for r in top.select(word_col).collect()]
    if not pool:
        spark = words_df.sparkSession
        return spark.createDataFrame([], "phrase string, score double")

    spark = words_df.sparkSession
    rng = np.random.default_rng(seed)
    candidates = []
    for ln in phrase_lens:
        if ln > len(pool):  # small word tables: skip lengths we cannot sample
            continue
        for _ in range(n_samples_per_len):
            idx = rng.choice(len(pool), size=ln, replace=False)
            candidates.append((" ".join(pool[i] for i in idx),
                               [pool[i] for i in idx]))
    if not candidates:
        return spark.createDataFrame([], "phrase string, score double")
    cand_df = values_df(spark, candidates, "phrase string, words array<string>")

    emb = phrase_embedding_df(words_df, cand_df.withColumnRenamed("phrase", "phrase_id"),
                              word_col=word_col, vec_col=vec_col, phrase_id="phrase_id")
    scored = with_score(emb, query_vec, vec_col=vec_col, method="sql")
    return (
        scored.select(F.col("phrase_id").alias("phrase"), "score")
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(k)
    )


def phrase_scores_exact_vs_approx(
    words_df: DataFrame,
    phrases_df: DataFrame,
    query_vec,
    embedder,
    word_col: str = "word",
    vec_col: str = "vector",
) -> DataFrame:
    """A13 (rclip_server.py:320-328): the approximate phrase score (dot with
    the normalized member-word sum, A12) next to the exact score (dot with
    the model-encoded phrase). The reference computes both and ships approx
    for speed; exposing both lets callers quantify the approximation.

    The exact side model-encodes each phrase string via ``embedder`` on the
    driver (phrases are a small candidate set); the approx side is the
    distributed A12 plan."""
    approx = with_score(
        phrase_embedding_df(words_df, phrases_df, word_col=word_col, vec_col=vec_col),
        query_vec,
        vec_col=vec_col,
    ).select("phrase_id", F.col("score").alias("approx_score"))

    q = np.asarray(query_vec, dtype=np.float64)
    phrases = [r[0] for r in phrases_df.select("phrase_id").collect()]
    exact_rows = [
        (p, float(np.asarray(embedder.embed_text(p), dtype=np.float64) @ q))
        for p in phrases
    ]
    spark = words_df.sparkSession
    exact = values_df(spark, exact_rows, "phrase_id string, exact_score double")
    return approx.join(exact, "phrase_id")


def random_row_embedding(df: DataFrame, seed: int | None = None,
                         vec_col: str = "embedding") -> np.ndarray:
    """A10 random stored row ({"random_img": ...}, rclip_server.py:161-162).
    The reference samples unseeded; pass ``seed`` for reproducible tests.
    Plan: orderBy(rand).limit(1) — a TakeOrdered, never a full collect."""
    rnd = F.rand(seed) if seed is not None else F.rand()
    row = df.select(vec_col).orderBy(rnd).limit(1).first()
    if row is None:
        raise ValueError("cannot sample a random row from an empty DataFrame")
    return np.asarray(row[0], dtype=np.float64)


def point_lookup_embedding(df: DataFrame, vec_id: int,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> np.ndarray:
    """A6 point lookup: id → embedding (one tiny pushed-down-filter scan;
    at scale this is a parquet row-group skip, not a full read)."""
    row = df.where(F.col(id_col) == vec_id).select(vec_col).first()
    if row is None:
        raise KeyError(f"{id_col}={vec_id} not found")
    return np.asarray(row[0], dtype=np.float64)
