"""Maintained FULL-TEXT (BM25) index view: an inverted postings table
``(term, <key>, tf, dl)`` over a source table's text column, kept in
sync with the source through the CDC log — the lexical twin of the
near-dup pair views, and the one secondary-index kind the engine's
lakehouse lacked (bloomindex answers point lookups; this answers
ranked text queries).

Reference parity: the reference has no lexical index at all — its word
search embeds the word and ranks by cosine (rclip_server.py:320-342);
this is the §F / training-pipeline extension that makes retrieval-
quality filtering and hybrid search maintainable at corpus scale.

Why an INDEX and not just operators/retrieval.bm25_scores: the batch
scorer tokenizes the WHOLE corpus per query (one full scan — right for
ad-hoc use, wrong for a query-serving loop). The maintained postings
table moves tokenization to WRITE time: a refresh costs O(changed
docs) (retract by doc-key delete vector + append the new docs'
postings, ONE delete_and_append commit), and a query reads only the
query terms' postings — O(matching postings), never O(corpus).

Exactness: query_text_index reproduces bm25_scores' Lucene formula
from the postings + two maintained integer corpus stats (doc count,
total token count — updated exactly per interval from the CDC pre/post
images), so the indexed score equals the batch scorer's for every
matching document (oracle rows pin both the postings and the scores
against DuckDB twins; scores rounded to 6 dp per the repo's
transcendental-float rule).

Scale: postings build is one explode + one (key, term) aggregation;
the per-interval stats delta is one tiny aggregation over the change
frame; queries broadcast a ≤|terms|-row df map. The view joins the
matview graph through the standard marker registry (``ti_source``), so
REFRESH / CASCADE / DESCRIBE / cursor-safe VACUUM / refresh STREAMS
all work on it with no extra wiring.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.localrel import values_df
from . import matview as M
from . import versioned as V

from .matview import _INSERTING, _RETRACTING  # canonical CDC classes
from .matview import _apply_where, _where_expr

# the postings columns besides key and payload
_RESERVED = ("term", "tf", "dl", "positions")


def _postings(df: DataFrame, key: str, text_col: str,
              positions: bool = False,
              include_cols: tuple[str, ...] = ()) -> DataFrame:
    """(key, term, tf, dl) for every (document, distinct token) pair —
    one explode + one aggregation; dl travels through the explode so
    no second corpus pass or join is needed. With ``positions`` the
    posting also carries the term's sorted 0-based token offsets
    (posexplode instead of explode — same single pass), enabling
    exact-phrase / proximity queries at serving latency.
    ``include_cols`` ride the explode as per-posting payload (the
    doc-values-in-postings layout: duplicated per (doc, term) —
    ~|distinct terms| copies per doc — in exchange for filtered
    queries that never join back to the source)."""
    inc = list(include_cols)
    toked = df.select(F.col(key), *[F.col(c) for c in inc],
                      TXT.tokens(F.col(text_col)).alias("toks"))
    if positions:
        return (toked
                .select(key, *inc,
                        F.size("toks").cast("long").alias("dl"),
                        F.posexplode("toks").alias("pos", "term"))
                .groupBy(key, "dl", "term", *inc)
                .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                     F.sort_array(F.collect_list(
                         F.col("pos").cast("int"))).alias("positions"))
                .select("term", key, "tf", "dl", "positions", *inc))
    return (toked
            .select(key, *inc,
                    F.size("toks").cast("long").alias("dl"),
                    F.explode("toks").alias("term"))
            .groupBy(key, "dl", "term", *inc)
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("term", key, "tf", "dl", *inc))


def _corpus_stats(df: DataFrame, text_col: str) -> tuple[int, int]:
    """(n_docs, total_tokens) — exact integers, one tiny agg."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(TXT.tokens(F.col(text_col))).cast("long"))
        .alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def create_text_index(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    text_col: str = "text", k1: float = 1.2, b: float = 0.75,
    positions: bool = False, include_cols: list[str] | None = None,
) -> int:
    """Materialize the postings table over the source's head and
    record the spec + cursor + exact corpus stats. ``key`` must be a
    unique non-null row identity (the maintained-view contract).
    ``positions=True`` stores each term's token offsets in the posting
    (same build pass, ~+dl ints per doc at rest), unlocking
    query_phrase_index; BM25 queries are unchanged. ``include_cols``
    copies the listed source columns onto every posting row as
    FILTERABLE PAYLOAD (query ``where=``): filtered lexical search
    without a join back to the source, at the standard doc-values
    cost of one payload copy per (doc, distinct term)."""
    from .matview import _check_include_cols

    src_v = V.current_version(source_path)
    df = M._read_source(spark, source_path, src_v)
    inc = _check_include_cols(
        df, key, text_col, include_cols,
        reserved=_RESERVED)
    n_docs, total_len = _corpus_stats(df, text_col)
    spec = {
        "ti_source": source_path, "ti_key": key,
        "ti_text_col": text_col, "ti_k1": float(k1), "ti_b": float(b),
        "ti_source_version": src_v,
        "ti_ndocs": n_docs, "ti_total_len": total_len,
        "ti_positions": bool(positions),
        "ti_include_cols": inc,
    }
    return V.create(spark, view_path,
                    _postings(df, key, text_col, positions=positions,
                              include_cols=tuple(inc)),
                    extra={"app": spec})


def _spec_ti(path: str, version: int | None = None) -> dict:
    v = V.current_version(path) if version is None else int(version)
    spec = V._manifest(path, v).get("app") or {}
    if "ti_source" not in spec:
        raise ValueError(f"{path} is not a text-index view (no "
                         f"ti_source in its manifest app namespace)")
    return spec


def _state(spark: SparkSession, view_path: str, v: int,
           terms: list[str] | None = None) -> DataFrame:
    """The postings state at a version, layout-dispatched through the
    shared serving read (versioned.read_probed, bucket key = term):
    on the bucketed at-rest layout the query TERMS resolve to their
    physical buckets driver-side and only those buckets' segment
    files enter the plan — at 100 TB a 3-term query opens the 3
    terms' buckets' files, never the whole postings table — with the
    scan schema pinned from the manifest (zero pre-scan Spark
    jobs)."""
    return V.read_probed(spark, view_path, v, "term",
                         probe_values=terms)


def convert_index_to_bucketed(spark: SparkSession, view_path: str,
                              n_buckets: int = 64) -> int:
    """Physically lay the postings out by their ``term`` hash bucket
    (versioned.convert_to_bucketed) — the text twin of the ANN
    index's at-rest layout: one rewrite, after which a term/phrase
    query's read SKIPS FILES, not rows (only the query terms' hash
    buckets' segment directories are ever named in the scan plan;
    r12's layout pushed the term IN-list to the scan, which pruned
    row groups but still OPENED every segment file). Refreshes keep
    working unchanged — the delete_and_append refresh commit
    dispatches to the bucketed twin; the doc-key delete vector scopes
    conservatively to all segments (a doc's postings scatter across
    term buckets), which costs one broadcast anti-join per read
    group, not extra IO. compact_bucketed / OPTIMIZE fold refresh
    accretion back down per bucket.

    Sizing: terms are high-cardinality, so ``n_buckets`` trades probe
    selectivity (a q-term query reads ≤q buckets = ~q/n of the index)
    against per-bucket segment size — at 100 TB pick n so a bucket is
    a few hundred MB; the 64 default keeps toy-scale segments
    non-empty."""
    return V.convert_to_bucketed(spark, view_path, "term",
                                 int(n_buckets))


def read_text_index(spark: SparkSession, view_path: str,
                    version: int | None = None) -> DataFrame:
    """The postings table at a version (default head), in the
    canonical (term, key, tf, dl) column order — a delete_and_append
    interval can reorder the physical union's columns."""
    v = V.current_version(view_path) if version is None else int(version)
    spec = _spec_ti(view_path, v)
    key = spec["ti_key"]
    cols = ["term", key, "tf", "dl"]
    if spec.get("ti_positions"):
        cols.append("positions")
    cols += spec.get("ti_include_cols", [])
    return _state(spark, view_path, v).select(*cols)


def refresh_text_index(
    spark: SparkSession, view_path: str,
    recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance the postings to the source head: retract changed docs'
    postings (doc-key delete vector), append the new docs' postings,
    and roll the exact integer corpus stats forward from the interval
    — ONE delete_and_append commit. A vacuumed/rolled-back source
    heals by full recompute (one overwrite, identical rows). All
    structure lives in the shared skeleton (matview._refresh_index);
    this kind contributes tokenization and the corpus-stat hooks."""

    def _rows(spec, df):
        return _postings(
            df, spec["ti_key"], spec["ti_text_col"],
            positions=bool(spec.get("ti_positions")),
            include_cols=tuple(spec.get("ti_include_cols", [])))

    def _app_recompute(spark_, spec, head, app):
        n_docs, total_len = _corpus_stats(head, spec["ti_text_col"])
        return app | {"ti_ndocs": n_docs, "ti_total_len": total_len}

    def _app_delta(spark_, spec, ch, new_rows, app):
        # exact integer stats delta from the interval's pre/post
        # images — one tiny aggregation over the (persisted) change
        # frame, O(delta)
        dl_expr = F.size(TXT.tokens(
            F.col(spec["ti_text_col"]))).cast("long")
        agg = ch.agg(
            F.sum(F.col("_change_type").isin(*_INSERTING)
                  .cast("long")).alias("n_ins"),
            F.sum(F.col("_change_type").isin(*_RETRACTING)
                  .cast("long")).alias("n_del"),
            F.sum(F.when(F.col("_change_type").isin(*_INSERTING),
                         dl_expr).otherwise(F.lit(0))).alias("l_ins"),
            F.sum(F.when(F.col("_change_type").isin(*_RETRACTING),
                         dl_expr).otherwise(F.lit(0))).alias("l_del"),
        ).collect()[0]
        return app | {
            "ti_ndocs": int(spec["ti_ndocs"])
            + int(agg["n_ins"] or 0) - int(agg["n_del"] or 0),
            "ti_total_len": int(spec["ti_total_len"])
            + int(agg["l_ins"] or 0) - int(agg["l_del"] or 0),
        }

    return M._refresh_index(
        spark, view_path,
        spec_of=_spec_ti, src_field="ti_source",
        cursor_field="ti_source_version", key_field="ti_key",
        rows_of=_rows, recompute_fraction=recompute_fraction,
        app_on_recompute=_app_recompute, app_on_delta=_app_delta)


def refresh_text_index_with_retry(
    spark: SparkSession, view_path: str, max_retries: int = 3,
    recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """OCC rebase loop (the standard view-refresh retry contract)."""
    return M._refresh_with_retry(
        lambda: refresh_text_index(
            spark, view_path, recompute_fraction=recompute_fraction),
        max_retries)


def _term_mult(terms: list[str] | str) -> dict:
    """A query's terms (a string splits lower-cased on whitespace)
    collapsed to {unique term: multiplicity}, in first-occurrence
    order: create_map rejects duplicate keys (mapKeyDedupPolicy=
    EXCEPTION), and the batch scorer sums one contribution PER
    OCCURRENCE — contrib is linear in idf, so weighting idf by the
    multiplicity reproduces it exactly."""
    if isinstance(terms, str):
        terms = [t for t in terms.lower().split() if t]
    return dict(Counter(terms))


def _bm25_weights(spec: dict, view_path: str):
    """(idf, tf part) of the Lucene BM25 term weight over the probed
    postings — one copy for the single and batch queries, each of which
    folds a term's contribution as ``mult * idf * tf_part``, left to
    right, for bit-parity with the batch scorer. df per term is a COUNT
    window over the term partition (postings carry tf > 0 rows only, so
    count(rows) IS df): the query stays ONE lazy plan over a SINGLE scan
    of the probed postings (r12 collected a per-term aggregate first — a
    Spark job per query; a broadcast join would scan them twice), the
    term shuffle is O(matching postings), and idf uses the SAME JVM
    F.log as the batch scorer. N/avgdl come from the spec's exact
    integer stats."""
    from pyspark.sql import Window

    k1, b = float(spec["ti_k1"]), float(spec["ti_b"])
    n = float(int(spec["ti_ndocs"]))
    if n <= 0:
        raise ValueError(f"{view_path} indexes an empty corpus")
    avgdl = float(int(spec["ti_total_len"])) / n
    dfq = (F.count(F.lit(1)).over(Window.partitionBy("term"))
           .cast("double"))
    idf = F.log((F.lit(n) - dfq + F.lit(0.5))
                / (dfq + F.lit(0.5)) + F.lit(1.0))
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b)
                              + F.lit(b) * (F.col("dl").cast("double")
                                            / F.lit(avgdl)))
    return idf, (tf * F.lit(k1 + 1.0)) / denom


def query_text_index(
    spark: SparkSession, view_path: str, terms: list[str] | str,
    k: int = 10, version: int | None = None,
    where: str | None = None,
) -> DataFrame:
    """Top-k documents by BM25, scored FROM the maintained postings:
    reads only the query terms' posting rows, df per term comes from a
    COUNT window over those same rows (_bm25_weights — the whole query
    is ONE lazy plan, zero Spark jobs before execution), and N/avgdl
    come from the spec's exact integer stats — O(matching postings),
    never a corpus scan. Returns (<key>, bm25), the same formula (idf
    in the same JVM F.log), filter (score > 0), ordering, and
    tie-break as retrieval.bm25_topk, so the indexed answer is
    checkable against the batch scorer.

    ``where`` is a SQL predicate over the index's payload columns
    (``include_cols`` at CREATE) and key — FILTERED lexical search.
    Search-engine semantics (the Elasticsearch filtered-query rule):
    the filter selects WHICH docs are eligible, idf stays GLOBAL —
    so the predicate applies after the per-term df window, pruning
    candidates before the doc-aggregation shuffle (the scan itself
    is already term-pruned; the filter never joins back to the
    source)."""
    mult = _term_mult(terms)
    if not mult:
        raise ValueError("query_text_index needs at least one term")
    terms = list(mult)
    v = V.current_version(view_path) if version is None else int(version)
    spec = _spec_ti(view_path, v)
    key = spec["ti_key"]
    idf, tfp = _bm25_weights(spec, view_path)
    # bucketed at-rest state: only the query terms' hash buckets'
    # files enter the plan (driver-side term→bucket resolution); the
    # residual IN-list prunes hash-collided terms inside survivors
    hits = _state(spark, view_path, v, terms=terms).where(
        F.col("term").isin(*terms))
    mult_map = F.create_map(*[x for t in terms
                              for x in (F.lit(t),
                                        F.lit(float(mult[t])))])
    cand = hits.withColumn("_c", mult_map[F.col("term")] * idf * tfp)
    if where is not None:
        cand = _apply_where(cand, _where_expr(where), where)
    scored = cand.groupBy(key).agg(F.sum("_c").alias("bm25"))
    return (scored.where(F.col("bm25") > 0.0)
            .orderBy(F.desc("bm25"), F.asc(key))
            .limit(k)
            .select(key, "bm25"))


def query_text_index_batch(
    spark: SparkSession, view_path: str, queries, k: int = 10,
    version: int | None = None, qid_col: str = "qid",
    where: str | None = None,
) -> DataFrame:
    """M BM25 queries against the maintained postings in ONE plan —
    the amortized serving form (a retrieval-quality filter or hybrid
    rerank loop issues thousands of lookups; per-call plan cost
    dominates even at zero Spark jobs per plan). ``queries`` is a
    driver-side list of ``(qid, terms)`` pairs (string or token list).

    Plan shape: the UNION of all queries' terms drives ONE
    file-pruned postings scan; per-term df comes from a COUNT window
    over the term partition of that scan (df counts ALL of a term's
    postings, so the union scan leaves it unchanged — same value the
    single-query plan computes); a broadcast (qid, term, mult) frame
    fans each posting out to the queries that asked for its term; the
    same fold-order contribution sums per (qid, doc) and a per-qid
    window takes top-k (matview._topk_per_qid). Shuffles: the term
    window + the (qid, key) aggregation over MATCHING postings only —
    never the corpus. Per query, rows are IDENTICAL to
    query_text_index (same formula, same multiplicity fold, same
    (bm25 DESC, key ASC) order). The query frame stays a broadcast
    join, not the ANN/IVF literal maps: scores flow through a float
    SUM whose order a plan rewrite could change.

    Returns (qid, <key>, bm25) ordered (qid, bm25 DESC, key)."""
    v = V.current_version(view_path) if version is None else int(version)
    spec = _spec_ti(view_path, v)
    key = spec["ti_key"]
    qid_t = M._check_batch(
        "query_text_index_batch", queries, qid_col,
        (key, *_RESERVED, *spec.get("ti_include_cols", [])))
    per_q = []
    for qid, terms in queries:
        mult = _term_mult(terms)
        if not mult:
            raise ValueError(f"query {qid!r} has no terms")
        per_q.append((qid, mult))
    terms_sorted = sorted({t for _, mult in per_q for t in mult})
    idf, tfp = _bm25_weights(spec, view_path)
    hits = _state(spark, view_path, v, terms=terms_sorted).where(
        F.col("term").isin(*terms_sorted))
    base = hits.withColumn("_idf", idf).withColumn("_tfp", tfp)
    if where is not None:
        # shared payload filter across the batch: applied AFTER the
        # global-df window (filters select docs, never reshape idf —
        # the single-query rule), before the query fan-out join
        base = _apply_where(base, _where_expr(where), where)
    pairs = [(qid, t, float(m))
             for qid, mult in per_q for t, m in mult.items()]
    pdf = values_df(
        spark, pairs, f"{qid_col} {qid_t}, term string, _mult double")
    scored = (base.join(F.broadcast(pdf), "term")
              .withColumn("_c", F.col("_mult") * F.col("_idf")
                          * F.col("_tfp"))
              .groupBy(qid_col, key).agg(F.sum("_c").alias("bm25")))
    return M._topk_per_qid(scored.where(F.col("bm25") > 0.0), qid_col,
                           key, "bm25", k)


def query_phrase_index(
    spark: SparkSession, view_path: str, phrase: str, k: int = 10,
    version: int | None = None, where: str | None = None,
) -> DataFrame:
    """Exact-PHRASE top-k FROM a positional text index (create with
    ``positions=True``): reads only the phrase terms' posting rows
    (term IN-list pushed to the scan), pivots each candidate doc's
    per-term position arrays into one map, and counts adjacency chains
    — position p holds term[0] and p+i holds term[i] for every i —
    entirely in JVM higher-order array functions (F.filter /
    array_contains over the sorted offset arrays). O(matching
    postings), never a corpus re-tokenization: the serving-latency
    form of the n-gram contamination check. Returns (<key>,
    phrase_tf) for docs containing the phrase at least once, ranked
    (phrase_tf DESC, key ASC) — deterministic integer scores, so the
    row is oracle-hash-exact against a DuckDB recomputation."""
    from functools import reduce

    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("query_phrase_index needs a non-empty phrase")
    v = V.current_version(view_path) if version is None else int(version)
    spec = _spec_ti(view_path, v)
    if not spec.get("ti_positions"):
        raise ValueError(
            f"{view_path} was built without positions — recreate the "
            f"index with positions=True for phrase queries")
    key = spec["ti_key"]
    uniq = list(dict.fromkeys(terms))
    hits = (_state(spark, view_path, v, terms=uniq)
            .where(F.col("term").isin(*uniq)))
    if where is not None:
        # phrase matching has no global stats, so the payload filter
        # applies BEFORE the pivot — pushed into the term-pruned scan
        hits = _apply_where(hits, _where_expr(where), where)
    hits = hits.select(key, "term", "positions")
    # one row per candidate doc: term -> sorted offsets (postings hold
    # one row per (doc, term), so the map build is collision-free);
    # docs missing any phrase term can't match — drop them before the
    # chain scan
    per_doc = (hits.groupBy(key)
               .agg(F.map_from_entries(F.collect_list(
                   F.struct("term", "positions"))).alias("pm"))
               .where(F.size(F.map_keys("pm")) == len(uniq)))
    pm = F.col("pm")
    chain = F.filter(
        pm[F.lit(terms[0])],
        lambda p: reduce(
            lambda a, b: a & b,
            [F.array_contains(pm[F.lit(t)], p + F.lit(i))
             for i, t in enumerate(terms[1:], start=1)],
            F.lit(True)))
    out = (per_doc
           .select(key, F.size(chain).cast("long").alias("phrase_tf"))
           .where(F.col("phrase_tf") > 0)
           .orderBy(F.desc("phrase_tf"), F.asc(key))
           .limit(k))
    return out
