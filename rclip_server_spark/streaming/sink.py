"""Streaming upsert sink: continuous ingestion into the images/corpus table
with MERGE-on-key semantics per micro-batch (foreachBatch -> writer.upsert).

This is the streaming form of the reference's batch indexer loop
(index_wikimedia.py:86-103 upserts each downloaded batch into SQLite): a
file/queue stream of new-or-changed rows lands in the serving table as it
arrives, later rows for the same key replacing earlier ones.

Delivery contract: foreachBatch gives at-least-once batch delivery (a batch
may be REPLAYED after a crash, identified by the same batch_id), and the
upsert itself is idempotent on the key — replaying a batch rewrites the
same rows to the same values. That pair (idempotent merge + checkpointed
source offsets) is the standard exactly-once-effective recipe when the sink
cannot transactionally record the batch id. At scale the parquet
atomic-swap stand-in becomes Delta/Iceberg ``MERGE INTO`` and per-batch
txn ids make the idempotence claim exact (same shape, real table format).

Ordering note: rows may share a key within one micro-batch AND batches may
arrive (or replay) out of event order. With ``latest_col`` set, the merge
is CONDITIONAL — target and update rows for a key compete on that column
and the max wins — so the table state is a pure function of the row set
seen so far: arrival order, batch boundaries, and replays cannot change
it (the Delta equivalent is ``WHEN MATCHED AND s.seq > t.seq THEN
UPDATE``). Without ``latest_col`` the merge is plain replace-on-key and
correctness requires in-order, effectively-once batches.
"""

from __future__ import annotations

import os

from ..sources.matview import _RECOMPUTE_BOUND_FRACTION as _MV_DEFAULT_FRACTION

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import writer


def merge_latest(
    spark: SparkSession, path: str, updates: DataFrame, key: str, latest_col: str
) -> None:
    """Conditional MERGE: per key, keep the max-``latest_col`` row across
    target ∪ updates (one keyed window over the union; at table-format
    scale this is MERGE WHEN MATCHED AND newer). Atomic-swap write."""
    if os.path.exists(path):
        pool = spark.read.parquet(path).unionByName(updates)
    else:
        pool = updates
    # secondary content-hash ordering makes the winner a pure function of
    # the row SET even when two rows for a key tie on latest_col (the
    # docstring's replay/arrival-order invariance claim needs it)
    row_hash = F.xxhash64(*[F.col(c) for c in sorted(pool.columns)])
    w = Window.partitionBy(key).orderBy(F.desc(latest_col), F.desc(row_hash))
    merged = (
        pool.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    writer._overwrite_atomic(merged, path)


def start_stream_upsert(
    stream_df: DataFrame,
    spark: SparkSession,
    path: str,
    key: str = "filepath",
    latest_col: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Start the stream: each micro-batch MERGE-upserts into ``path`` —
    conditionally on ``latest_col`` when given (order/replay-proof), else
    replace-on-key. The target's layout decides the merge: a table
    created by ``writer.create_bucketed_table`` (it records
    ``_bucket_spec.json``) has each micro-batch rewrite ONLY the
    hash-buckets its keys touch — the continuous-ingest shape that stays
    bounded at 100 TB (per-batch cost scales with the batch's key
    spread, never the table). A bucketed target is replace-on-key
    (replay-idempotent: replaying a batch rewrites the same buckets to
    the same contents); ``latest_col`` needs a flat target.
    Returns the StreamingQuery; callers stop it or processAllAvailable."""
    bucketed = os.path.exists(os.path.join(path, writer._BUCKET_SPEC))
    if bucketed and latest_col is not None:
        raise ValueError("bucketed streaming upsert is replace-on-key; "
                         "latest_col is only supported in flat mode")

    def _upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if bucketed:
            writer.upsert_parquet_bucketed(spark, path, batch_df)
        elif latest_col is not None:
            merge_latest(spark, path, batch_df, key, latest_col)
        else:
            writer.upsert_parquet(spark, path, batch_df, key=key)

    out = stream_df.writeStream.foreachBatch(_upsert_batch).outputMode("append")
    if checkpoint_dir is not None:
        out = out.option("checkpointLocation", checkpoint_dir)
    return out.start()


def start_stream_append_versioned(
    stream_df: DataFrame,
    spark: SparkSession,
    path: str,
    checkpoint_dir: str | None = None,
):
    """Append-only ingest into a ``sources.versioned`` table with EXACT
    exactly-once delivery: each micro-batch commits one immutable segment
    whose manifest records the batch id, so a crash-replayed batch
    (foreachBatch is at-least-once) is detected in the log and skipped
    rather than re-applied. This upgrades the upsert sinks' "idempotent,
    therefore effectively-once" contract to a transactional record — the
    plain-parquet equivalent of Delta's txnAppId/txnVersion sink protocol,
    and the log doubles as time travel over the ingest history.

    The same sink serves both layouts, because
    ``versioned.append_exactly_once`` reads the layout from the table's
    manifest: a ``versioned.create_bucketed`` table gets per-bucket
    segment accretion (zero rewrite of existing data;
    ``versioned.compact`` folds the accreted segments down as its own
    committed version)."""
    from ..sources import versioned

    def _append_batch(batch_df: DataFrame, batch_id: int) -> None:
        versioned.append_exactly_once(spark, path, batch_df, batch_id)

    out = stream_df.writeStream.foreachBatch(_append_batch).outputMode("append")
    if checkpoint_dir is not None:
        out = out.option("checkpointLocation", checkpoint_dir)
    return out.start()


def start_file_ingest_stream(
    spark: SparkSession, src_dir: str, table_path: str,
    fmt: str = "parquet", header: bool = True,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Continuous file ingest (the Auto Loader idea on the versioned
    log): Spark's file streaming source discovers files landing in
    ``src_dir`` — each micro-batch reads only the NEW files, listed
    incrementally from the checkpoint's file index, never a full
    directory rescan of what's already ingested — and every batch
    lands through the exactly-once versioned sink (one segment + the
    batch id in the manifest, so crash-replayed batches are detected
    in the log and skipped, and the ingest history time-travels).

    The scan is SCHEMAFUL from the TABLE's declared schema (same
    contract as COPY FROM: no inference job, a malformed value fails
    the batch, schema drift is refused by the append guard), and a
    bucketed target hash-routes per bucket automatically (the
    exactly-once append reads the layout from the manifest).
    ``max_files_per_trigger`` bounds a batch for steady latency under
    a backlog.

    Exactly-once identity lives in (checkpoint, table): RESUME a
    stream by reusing its checkpoint_dir — batch ids continue and the
    table never double-ingests; a FRESH checkpoint restarts batch ids
    at 0, so never point a fresh checkpoint at a table that already
    holds this stream's commits (the SQL frontend enforces one
    persistent ingest identity per table)."""
    from ..sources import versioned as V

    fmt = fmt.lower()
    if fmt not in ("parquet", "csv", "ndjson"):
        raise ValueError(f"format must be parquet, csv, or ndjson, "
                         f"got {fmt!r}")
    snap = V.read(spark, table_path).limit(0)
    # FAILFAST: "a malformed value fails the batch" must be literal —
    # the default PERMISSIVE mode would silently commit NULLs for
    # unparseable values (which even pass CHECK constraints under the
    # unknown-is-satisfied rule)
    rd = spark.readStream.schema(snap.schema).option("mode", "FAILFAST")
    if max_files_per_trigger is not None:
        rd = rd.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if fmt == "csv":
        stream = rd.option("header",
                           "true" if header else "false").csv(src_dir)
    elif fmt == "ndjson":
        stream = rd.json(src_dir)
    else:
        stream = rd.parquet(src_dir)
    return start_stream_append_versioned(
        stream, spark, table_path, checkpoint_dir)


def _start_view_refresh_stream(
    spark: SparkSession, source_path: str, refresh_fn,
    checkpoint_dir: str | None, view_path: str | None = None,
    pre_start=None,
):
    """Shared wiring for continuous view maintenance: tail the SOURCE's
    manifest log with a file stream (one tiny JSON per commit) and run
    the refresh per micro-batch. Tailing manifests — not the data-level
    versioned_cdc source — makes the wake-up COMMIT-TYPE AGNOSTIC:
    deletes, upserts, overwrites, and compactions on the source wake the
    refresh exactly like appends (versioned_cdc's reader is append-only
    by contract and would kill the query on the first rewrite). The
    batch content is only the wake-up signal; the refresh derives its
    exact interval from the cursor in the view manifest, so
    at-least-once batches compose with the cursor's idempotence into
    exactly-once view state.

    ignoreMissingFiles: a listed manifest may be vacuumed before the
    batch task reads it — without the option that FileNotFound kills the
    query permanently (the death mode this wiring exists to avoid); the
    batch content is only a wake-up signal, so skipping a reaped file is
    always safe. Checkpoint note: checkpoints written by the pre-r6
    versioned_cdc wiring are NOT resumable by this file source — start
    upgraded streams with a fresh checkpoint_dir.

    ``source_path`` may be a list of table paths (join views): the
    manifest tails UNION into ONE streaming query, so a commit on any
    source wakes the same refresh WITHOUT a second always-concurrent
    refresher racing the first one's OCC commit on every wake — two
    separate queries against one view could exhaust a retry budget
    under sustained two-source ingest and die."""
    paths = source_path if isinstance(source_path, (list, tuple)) \
        else [source_path]

    # VACUUM FLOORS (when the caller names the view whose cursors the
    # refresh reads): the refresh interval is (cursor, head] per source
    # — a concurrent vacuum(keep_last=1) could otherwise reap exactly
    # the manifests the next wake needs. Register a floor per source
    # at its current dependent cursor BEFORE the tail starts, advance
    # it after every refresh (the pinned window stays O(in-flight),
    # not O(stream lifetime)), release on stop_view_refresh_stream /
    # the SQL layer's STOP. A crashed holder's floor is dead-pid-
    # reaped by the next vacuum. Living at THIS choke point covers
    # every refresh-stream flavor (agg/transform/join/join-table/
    # cascade) with one implementation.
    from ..sources import versioned as V

    floors: dict = {}
    run = refresh_fn
    if view_path is not None:
        from ..sources import matview

        def _floor_of(base: str) -> int:
            cursors = matview._cursors_into(base, [view_path])
            return min(cursors) if cursors \
                else V.current_version(base)

        def run():
            refresh_fn()
            for b, fid in floors.items():
                V.advance_version_floor(b, fid, _floor_of(b))

    def _tail(p: str):
        return (
            spark.readStream.schema("version long")
            .option("pathGlobFilter", "v*.json")
            .option("ignoreMissingFiles", "true")
            .json(os.path.join(p, "_snapshots"))
        )

    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        run()

    # ONE try covers floor registration, the caller's synchronous
    # pre-start work, and the stream start: a failure anywhere
    # releases every floor already registered (a partial registration
    # held by this still-alive process would pin vacuum with no
    # handle left to release). Floors register BEFORE pre_start so
    # the cascade starter's catch-up refresh is already guarded — no
    # unguarded window between its interval read and the tail.
    try:
        if view_path is not None:
            # dedupe: a self-join view names the same base twice —
            # registering per OCCURRENCE would overwrite the first
            # floor id in the dict, leaving an orphan floor no
            # advance/release/reap ever touches while this process
            # lives (vacuum pinned at the start cursor forever)
            for p in dict.fromkeys(paths):
                floors[p] = V.register_version_floor(
                    p, _floor_of(p), owner=f"refresh:{view_path}")
        if pre_start is not None:
            pre_start()
            for b, fid in floors.items():
                V.advance_version_floor(b, fid, _floor_of(b))
        stream = _tail(paths[0])
        for p in paths[1:]:
            stream = stream.union(_tail(p))
        out = stream.writeStream.foreachBatch(_refresh) \
            .outputMode("append")
        if checkpoint_dir is not None:
            out = out.option("checkpointLocation", checkpoint_dir)
        q = out.start()
    except BaseException:
        for b, fid in floors.items():
            V.release_version_floor(b, fid)
        raise
    setattr(q, "_rclip_floors", floors)
    return q


def start_agg_view_refresh_stream(
    spark: SparkSession, view_path: str, checkpoint_dir: str | None = None,
):
    """CONTINUOUS materialized-view maintenance: every commit on the
    view's source table (any op — append, upsert, delete-vector,
    compaction) wakes ``matview.refresh_agg_view_with_retry``; replayed
    or late batches rebase to no-ops because the refresh interval is
    cursor-derived, never batch-derived (see _start_view_refresh_stream
    for the exactly-once composition)."""
    from ..sources import matview

    src = matview._spec(view_path)["mv_source"]

    def _go():
        # retry wrapper: a concurrent manual refresher's commit must not
        # kill the streaming query — the loser's rebase is a cheap no-op
        matview.refresh_agg_view_with_retry(spark, view_path)

    return _start_view_refresh_stream(spark, src, _go, checkpoint_dir,
                                      view_path=view_path)


def start_transform_view_refresh_stream(
    spark: SparkSession, view_path: str, transform, name: str,
    checkpoint_dir: str | None = None,
    auto_compact: bool = False, compact_threshold: int = 32,
):
    """Continuous maintenance for a ROW-TRANSFORM view (the signature-
    index twin of start_agg_view_refresh_stream): same commit-type-
    agnostic manifest-tail wake-up + cursor-derived exactly-once
    composition. ``transform``/``name`` are the application code + tag
    recorded at create_transform_view time; a mismatched name fails
    HERE, synchronously, not as an asynchronous stream crash.

    ``auto_compact=True`` bounds the view's segment growth: each
    refreshed micro-batch ends with versioned.maybe_compact, so an
    unattended stream holds the view at <= compact_threshold segments
    instead of accreting one segment (+ one delete vector on rewrites)
    per source commit forever."""
    from ..sources import matview

    spec = matview._spec_tv(view_path)
    if spec["tv_name"] != name:
        raise ValueError(
            f"stream started with transform {name!r} but the view was "
            f"created with {spec['tv_name']!r}")

    def _go():
        matview.refresh_transform_view_with_retry(
            spark, view_path, transform, name,
            auto_compact=auto_compact, compact_threshold=compact_threshold)

    return _start_view_refresh_stream(spark, spec["tv_source"], _go,
                                      checkpoint_dir,
                                      view_path=view_path)


def start_join_view_refresh_stream(
    spark: SparkSession, view_path: str,
    checkpoint_dir: str | None = None,
):
    """Continuous maintenance for a JOIN view: ONE streaming query over
    the UNION of both sources' manifest tails — a commit on either side
    wakes the same cursor-derived refresh, and because there is a single
    refresher there is no second always-on writer racing the OCC commit
    (the retry wrapper still protects against MANUAL refreshers). The
    at-least-once batches compose into exactly-once view state like the
    single-source streams. Returns the StreamingQuery."""
    from ..sources import matview

    spec = matview._spec_jv(view_path)

    def _go():
        matview.refresh_join_view_with_retry(spark, view_path)

    return _start_view_refresh_stream(
        spark, [spec["jv_left"], spec["jv_right"]], _go, checkpoint_dir,
        view_path=view_path)


def start_bloom_index_stream(
    spark: SparkSession, table_path: str, col: str,
    checkpoint_dir: str | None = None,
    bits: int | None = None, k: int | None = None,
):
    """Continuous Bloom-sidecar maintenance: tail the table's manifest
    log and run bloomindex.build_bloom_index per micro-batch — the build
    indexes only segments MISSING sidecars, so each wake-up costs
    O(segments added since the last one) and replayed batches are free
    no-ops (sidecars are write-once per immutable segment; no OCC or
    cursor needed — idempotence comes from the filesystem state itself).
    Pair with the ingest stream so point lookups on a continuously-fed
    table stay pruned without a manual re-index step."""
    from ..sources import bloomindex as BX
    from ..sources import versioned as V

    # module convention: config mismatches fail HERE, synchronously, not
    # as an asynchronous stream crash (a typo'd column would otherwise
    # kill the query on the first unindexed batch — or no-op silently)
    m = V._manifest(table_path, V.current_version(table_path))
    col_types = m.get("col_types") or {}
    if col_types and col not in col_types:
        raise ValueError(
            f"column {col!r} not in {table_path}'s schema "
            f"({sorted(col_types)})")
    # the indexability guard too: a float/boolean/binary column would
    # otherwise kill the stream asynchronously on its first micro-batch
    BX._check_indexable_type(col, col_types.get(col))

    kwargs = {}
    if bits is not None:
        kwargs["bits"] = int(bits)
    if k is not None:
        kwargs["k"] = int(k)

    def _go():
        BX.build_bloom_index(spark, table_path, col, **kwargs)

    return _start_view_refresh_stream(spark, table_path, _go,
                                      checkpoint_dir)


def start_view_cascade_refresh_stream(
    spark: SparkSession, view_path: str,
    checkpoint_dir: str | None = None,
    transforms: dict | None = None,
    recompute_fraction: float | None = _MV_DEFAULT_FRACTION,
    auto_compact: bool = False, compact_threshold: int = 32,
):
    """Continuous maintenance for a whole VIEW COMPOSITION CHAIN: one
    streaming query tailing the BASE tables' manifest logs (the
    non-view leaves, discovered from the view graph — matview.
    view_base_tables) and running matview.refresh_cascade per
    micro-batch, so a base commit ripples bottom-up through every
    intermediate view to the target in order. Tailing only the leaves
    is what keeps the stream from waking on its OWN intermediate
    commits (a cascade writes each view it advances). Each node
    refreshes OCC-retried (a concurrent manual refresher must not kill
    the stream), and ``auto_compact``/``compact_threshold`` bound the
    segment growth of transform / join-table nodes across unattended
    refresh cycles. Transform views in the chain need their functions
    via ``transforms`` — validated HERE, synchronously, not as a
    first-micro-batch crash."""
    from ..sources import matview

    if matview._view_kind(view_path) is None:
        raise ValueError(f"{view_path} is not a maintained view")
    bases = matview.view_base_tables(view_path)

    def _cascade():
        matview.refresh_cascade(
            spark, view_path, transforms=transforms,
            recompute_fraction=recompute_fraction,
            auto_compact=auto_compact,
            compact_threshold=compact_threshold)

    # fail-synchronously convention: a transform view missing its
    # function would otherwise kill the stream on the first wake. A
    # zero-interval cascade run is the cheapest complete validation
    # (every refresh is the fresh-cursor fast return when idle, but
    # spec/kind/function resolution all execute). Passed as pre_start
    # so it runs AFTER the vacuum floors register — the catch-up's own
    # (cursor, head] reads are already guarded.
    return _start_view_refresh_stream(spark, bases, _cascade,
                                      checkpoint_dir,
                                      view_path=view_path,
                                      pre_start=_cascade)


def stop_view_refresh_stream(q) -> None:
    """Stop a refresh stream AND release its registered vacuum floors
    (start_view_cascade_refresh_stream attaches them to the query).
    Plain q.stop() leaves the floors pinned until the holder process
    exits (the next vacuum then dead-pid-reaps them) — correct but
    sticky; this is the clean shutdown."""
    from ..sources import versioned as V

    q.stop()
    for b, fid in (getattr(q, "_rclip_floors", None) or {}).items():
        V.release_version_floor(b, fid)


def start_join_table_view_refresh_stream(
    spark: SparkSession, view_path: str,
    checkpoint_dir: str | None = None,
    auto_compact: bool = False, compact_threshold: int = 32,
):
    """Continuous maintenance for a row-level JOIN TABLE view: one
    streaming query over the union of both sources' manifest tails
    driving the cursor-derived refresh (the start_join_view_refresh_stream
    contract, for the denormalization flavor). Returns the
    StreamingQuery."""
    from ..sources import matview

    spec = matview._spec_jt(view_path)

    def _go():
        matview.refresh_join_table_view_with_retry(
            spark, view_path,
            auto_compact=auto_compact, compact_threshold=compact_threshold)

    return _start_view_refresh_stream(
        spark, [spec["jt_left"], spec["jt_right"]], _go, checkpoint_dir,
        view_path=view_path)
