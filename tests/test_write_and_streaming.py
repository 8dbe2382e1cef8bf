"""Write path round-trips (B5-B8) and streaming==batch parity (§F)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rclip_server_spark.sources import writer
from rclip_server_spark.streaming import windows as SW

from conftest import SF_DIR


@pytest.fixture()
def tmp_table(tmp_path):
    return str(tmp_path / "images")


def test_upsert_insert_then_update(spark, tmp_table, embeddings):
    base = embeddings.select(
        F.col("vec_id").alias("id"),
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("label").alias("size"),
    )
    writer.upsert_parquet(spark, tmp_table, base, key="filepath")
    assert spark.read.parquet(tmp_table).count() == base.count()

    # update 10 rows: same key, new payload -> count stable, payload replaced
    updates = base.limit(10).withColumn("size", F.lit(-1))
    writer.upsert_parquet(spark, tmp_table, updates, key="filepath")
    after = spark.read.parquet(tmp_table)
    assert after.count() == base.count()
    assert after.where("size = -1").count() == 10


def test_soft_delete_then_live_filter(spark, tmp_table, embeddings):
    base = embeddings.select(
        F.col("vec_id").alias("id"), F.concat(F.lit("f"), "vec_id").alias("filepath")
    )
    writer.upsert_parquet(spark, tmp_table, base, key="filepath")
    writer.soft_delete(spark, tmp_table, [1, 2, 3], id_col="id")
    df = spark.read.parquet(tmp_table)
    assert writer.live_rows(df).count() == base.count() - 3
    # deleting again is idempotent
    writer.soft_delete(spark, tmp_table, [1, 2, 3], id_col="id")
    assert writer.live_rows(spark.read.parquet(tmp_table)).count() == base.count() - 3


def test_bucketed_upsert_bounded_rewrite(spark, tmp_path, embeddings):
    """The bucketed MERGE must (a) produce exactly the rows the flat
    upsert produces, (b) physically touch ONLY the bucket directories the
    update keys hash into, and (c) prune untouched partitions at planning
    time when reading the merge input."""
    from rclip_server_spark.sources.writer import (
        create_bucketed_table,
        read_bucketed,
        upsert_parquet_bucketed,
    )

    base = embeddings.select(
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("vec_id").alias("size"),
    )
    flat, bucketed = str(tmp_path / "flat"), str(tmp_path / "bucketed")
    writer.upsert_parquet(spark, flat, base, key="filepath")
    create_bucketed_table(spark, bucketed, base, key="filepath", n_buckets=16)

    # update 20 keys + insert 5 new ones
    upd = base.limit(20).withColumn("size", F.lit(-1)).unionByName(
        spark.createDataFrame(
            [(f"new{i}", -2) for i in range(5)], "filepath string, size bigint"
        )
    )
    before = {
        d: sorted(os.listdir(os.path.join(bucketed, d)))
        for d in os.listdir(bucketed)
        if d.startswith("__bucket=")
    }
    n_rewritten = upsert_parquet_bucketed(spark, bucketed, upd)
    assert 0 < n_rewritten <= 16
    writer.upsert_parquet(spark, flat, upd, key="filepath")

    got = sorted(map(tuple, read_bucketed(spark, bucketed).collect()))
    want = sorted(map(tuple, spark.read.parquet(flat).collect()))
    assert got == want

    # untouched bucket dirs keep their exact file sets
    after = {
        d: sorted(os.listdir(os.path.join(bucketed, d)))
        for d in os.listdir(bucketed)
        if d.startswith("__bucket=")
    }
    assert set(before) <= set(after)  # no pre-existing bucket disappears
    changed = [d for d in before if before[d] != after[d]]
    new_dirs = [d for d in after if d not in before]
    # every rewritten bucket is either a changed pre-existing dir or a new
    # one, and nothing outside the touched set moved
    assert len(changed) + len(new_dirs) == n_rewritten

    # planning-time pruning: the filtered read shows PartitionFilters
    pruned = spark.read.parquet(bucketed).where(F.col("__bucket").isin([1, 2]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan


def test_bucketed_upsert_randomized_equivalence(spark, tmp_path, embeddings):
    """Seeded randomized cross-check (the joins.py randomized-quadratic
    pattern): for several random update sets — overlapping keys, new keys,
    duplicate keys IN the batch, repeated batches — the bucketed table
    must equal the flat-upsert table row-for-row after every step."""
    import random

    base = embeddings.select(
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("vec_id").alias("size"),
    ).limit(80)
    flat, bucketed = str(tmp_path / "rf"), str(tmp_path / "rb")
    writer.upsert_parquet(spark, flat, base, key="filepath")
    from rclip_server_spark.sources.writer import (
        create_bucketed_table, read_bucketed, upsert_parquet_bucketed,
    )

    create_bucketed_table(spark, bucketed, base, key="filepath", n_buckets=8)
    rng = random.Random(7)
    for step in range(4):
        ks = [f"f{rng.randrange(120)}" for _ in range(rng.randrange(1, 12))]
        rows = [(k, -step) for k in ks]  # dup keys in-batch allowed
        upd = spark.createDataFrame(rows, "filepath string, size bigint")
        writer.upsert_parquet(spark, flat, upd, key="filepath")
        upsert_parquet_bucketed(spark, bucketed, upd)
        a = sorted(map(tuple, spark.read.parquet(flat).collect()))
        b = sorted(map(tuple, read_bucketed(spark, bucketed).collect()))
        assert a == b, f"divergence at step {step}"


def test_bucketed_soft_delete_bounded(spark, tmp_path, embeddings):
    """Point soft-delete on the bucketed layout: flags exactly the named
    keys, rewrites only their buckets, and live_rows filters them out —
    deleting again is idempotent."""
    from rclip_server_spark.sources.writer import (
        create_bucketed_table,
        read_bucketed,
        soft_delete_bucketed,
    )

    base = embeddings.select(
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("vec_id").alias("size"),
    ).limit(100)
    t = str(tmp_path / "sd")
    create_bucketed_table(spark, t, base, key="filepath", n_buckets=16)
    before = {
        d: sorted(os.listdir(os.path.join(t, d)))
        for d in os.listdir(t) if d.startswith("__bucket=")
    }
    n = soft_delete_bucketed(spark, t, ["f1", "f2", "f3"])
    assert 0 < n <= 3
    after = {
        d: sorted(os.listdir(os.path.join(t, d)))
        for d in os.listdir(t) if d.startswith("__bucket=")
    }
    assert len([d for d in before if before[d] != after[d]]) == n
    df = read_bucketed(spark, t)
    assert df.where("deleted = true").count() == 3
    assert writer.live_rows(df).count() == 97
    soft_delete_bucketed(spark, t, ["f1", "f2", "f3"])  # idempotent
    assert writer.live_rows(read_bucketed(spark, t)).count() == 97


def test_bucketed_compaction_preserves_rows(spark, tmp_path, embeddings):
    """Repeated small upserts fragment bucket dirs into many files;
    compact_bucketed must shrink the file count of fragmented buckets,
    leave already-compact buckets untouched, and preserve the row set."""
    from rclip_server_spark.sources.writer import (
        compact_bucketed, create_bucketed_table, read_bucketed,
        upsert_parquet_bucketed,
    )

    base = embeddings.select(
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("vec_id").alias("size"),
    ).limit(60)
    t = str(tmp_path / "cb")
    create_bucketed_table(spark, t, base, key="filepath", n_buckets=4)
    # fragment: several single-key upserts, repartitioned to multiply files
    for i in range(3):
        upd = spark.createDataFrame(
            [(f"f{j}", -i) for j in range(10)], "filepath string, size bigint"
        ).repartition(4)
        upsert_parquet_bucketed(spark, t, upd)
    before_rows = sorted(map(tuple, read_bucketed(spark, t).collect()))

    def nfiles():
        return sum(
            1 for r, _, fs in os.walk(t) for f in fs if f.endswith(".parquet")
        )

    before_files = nfiles()
    n = compact_bucketed(spark, t, target_file_mb=128)
    assert n > 0
    assert nfiles() < before_files
    assert sorted(map(tuple, read_bucketed(spark, t).collect())) == before_rows
    # second pass is a no-op: everything is already compact
    assert compact_bucketed(spark, t, target_file_mb=128) == 0


def test_bucketed_point_lookup_prunes(spark, tmp_path, embeddings):
    from rclip_server_spark.sources.writer import (
        create_bucketed_table,
        point_lookup_bucketed,
    )

    base = embeddings.select(
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("vec_id").alias("size"),
    )
    t = str(tmp_path / "pl")
    create_bucketed_table(spark, t, base, key="filepath", n_buckets=16)
    out = point_lookup_bucketed(spark, t, "f42")
    rows = out.collect()
    assert [(r.filepath, r.size) for r in rows] == [("f42", 42)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan


def test_anti_join_skip(spark, embeddings):
    new = embeddings.select(F.col("vec_id").alias("k"))
    done = embeddings.where(F.col("vec_id") < 100).select(F.col("vec_id").alias("k"))
    remaining = writer.anti_join_skip(new, done, "k")
    assert remaining.count() == new.count() - done.count()
    assert remaining.where(F.col("k") < 100).count() == 0


def test_create_images_table_ddl(spark, tmp_table):
    writer.create_images_table(spark, tmp_table)
    df = spark.read.parquet(tmp_table)
    assert df.count() == 0
    assert "filepath" in df.columns and "vector" in df.columns


@pytest.fixture(scope="module")
def events_stream_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d)
    return d


def test_streaming_tumbling_equals_batch(spark, events, events_stream_dir):
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value_cents)
        for r in SW.tumbling_counts(events).collect()
    }
    stream = SW.read_events_stream(spark, events_stream_dir)
    SW.run_stream_to_memory(SW.tumbling_counts(stream), "t_tumbling")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value_cents)
        for r in spark.table("t_tumbling").collect()
    }
    assert got == batch


def test_streaming_sessions_equal_batch(spark, events, events_stream_dir):
    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in SW.session_windows(events).collect()
    }
    stream = SW.read_events_stream(spark, events_stream_dir)
    SW.run_stream_to_memory(SW.session_windows(stream), "t_sessions")
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.table("t_sessions").collect()
    }
    assert got == batch


def test_session_window_gap_semantics(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = [
        (1, "2024-01-01 00:00:00", 10),
        (2, "2024-01-01 00:10:00", 10),  # same session (10 min gap)
        (3, "2024-01-01 01:00:00", 10),  # 50 min gap -> new session
    ]
    df = spark.createDataFrame(rows, "event_id long, ts_s string, user_id long").select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    out = SW.session_windows(df, gap="30 minutes").orderBy("session_start").collect()
    assert [r.n_events for r in out] == [2, 1]
    assert out[0].first_event_id == 1 and out[1].first_event_id == 3


def test_batch_dedup_events(spark, events):
    deduped = SW.dedup_events(events)
    keys = deduped.select("user_id", "event_type").distinct().count()
    assert deduped.count() == keys


def test_streaming_dedup_matches_batch_first_per_key(spark, events, events_stream_dir):
    batch_keys = events.select("user_id", "event_type").distinct().count()
    stream = SW.read_events_stream(spark, events_stream_dir)
    deduped = SW.dedup_events(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_dedup")
    assert got.count() == batch_keys
    assert got.select("user_id", "event_type").distinct().count() == batch_keys


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both sides on the join key pre-partitions the data at WRITE
    time, so a later sort-merge join needs no Exchange at all — the repeated-
    join answer at 100 TB (pay the shuffle once, in the write path)."""
    from rclip_server_spark.sources import load_table

    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    (orders.write.mode("overwrite").option("path", str(tmp_path / "o"))
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders"))
    (li.write.mode("overwrite").option("path", str(tmp_path / "l"))
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem"))
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bl.hint("merge").join(bo, bl.l_orderkey == bo.o_orderkey).select(
            "o_orderkey", "l_linenumber", "o_totalprice"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        # and the result matches the plain (shuffling) join
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_reload_table_sees_new_data(spark, tmp_table, embeddings):
    base = embeddings.select(F.col("vec_id").alias("id"),
                             F.concat(F.lit("f"), "vec_id").alias("filepath"))
    writer.upsert_parquet(spark, tmp_table, base.limit(100), key="filepath")
    assert writer.reload_table(spark, tmp_table).count() == 100
    writer.upsert_parquet(spark, tmp_table, base, key="filepath")
    # B18 full reload: re-read reflects the new table state
    assert writer.reload_table(spark, tmp_table).count() == base.count()


def test_stateful_running_totals_stream_equals_batch(spark, events, events_stream_dir):
    from rclip_server_spark.streaming import stateful

    batch = {
        r.user_id: (r.n_events, r.sum_value_cents, r.last_event_id)
        for r in stateful.running_user_totals(events).collect()
    }
    stream = SW.read_events_stream(spark, events_stream_dir)
    q = (
        stateful.running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_totals")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode emits one row per (user, batch); the LAST emission per user
    # is the final state
    import pyspark.sql.functions as _F
    from pyspark.sql import Window as _W

    t = spark.table("t_totals")
    w = _W.partitionBy("user_id").orderBy(_F.desc("n_events"))
    final = (
        t.withColumn("rn", _F.row_number().over(w)).where("rn = 1").drop("rn")
    )
    got = {
        r.user_id: (r.n_events, r.sum_value_cents, r.last_event_id)
        for r in final.collect()
    }
    assert got == batch


def test_streaming_sliding_equals_batch(spark, events, events_stream_dir):
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in SW.sliding_counts(events).collect()
    }
    stream = SW.read_events_stream(spark, events_stream_dir)
    SW.run_stream_to_memory(SW.sliding_counts(stream), "t_sliding")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("t_sliding").collect()
    }
    assert got == batch


def test_streaming_enrichment_equals_batch(spark, events, events_stream_dir):
    """Stream-static broadcast join parity: enrich the event stream with the
    customer dim and roll up per nation — identical to the batch run (which
    is also the registered oracle, ev_enriched_nation_counts)."""
    from rclip_server_spark.sources import load_table

    customer = load_table(spark, SF_DIR, "customer")
    batch = {
        r.c_nationkey: (r.n_events, r.sum_value_cents)
        for r in SW.enriched_nation_counts(events, customer).collect()
    }
    stream = SW.read_events_stream(spark, events_stream_dir)
    SW.run_stream_to_memory(SW.enriched_nation_counts(stream, customer), "t_enriched")
    got = {
        r.c_nationkey: (r.n_events, r.sum_value_cents)
        for r in spark.table("t_enriched").collect()
    }
    assert got == batch
    # unmatched keys must survive the left join (as a NULL nation bucket)
    # only if any exist in the fixture; matched keys must dominate
    assert sum(n for n, _ in got.values()) == events.count()


def test_compact_parquet_merges_small_files(spark, tmp_path, embeddings):
    from rclip_server_spark.sources import writer

    path = str(tmp_path / "frag")
    # fragment: 16 files for a tiny table
    embeddings.repartition(16).write.parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 16
    want = {r.vec_id for r in spark.read.parquet(path).collect()}
    n = writer.compact_parquet(spark, path, target_file_mb=128)
    after = glob.glob(f"{path}/*.parquet")
    assert n == 1 and len(after) == 1
    # lossless: same rows survive the rewrite
    assert {r.vec_id for r in spark.read.parquet(path).collect()} == want


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """The one place streaming is ALLOWED to diverge from batch: an event
    whose window has already been FINALIZED (watermark passed the window
    end, state evicted, row emitted) is dropped on arrival — that drop is
    what bounds state at 100 TB/day. (While a window's state is still
    live, Spark's dropping of within-watermark-late rows is best-effort
    only, so the test delivers the late row one batch AFTER eviction.)
    Four mtime-ordered micro-batches: #1 fills day-1/day-2 and moves the
    watermark past day-1's end; #2's on-time row rides along while day-1
    is evicted+emitted; #3 delivers a LATE day-1 event (guaranteed drop:
    its window no longer exists and append mode filters it); #4 pushes
    the watermark forward so days 2-3 emit. Streaming must equal batch
    minus exactly the late row."""
    import time as _time

    d = str(tmp_path / "late")
    os.makedirs(d)
    mk = lambda s: f"2024-01-0{s}"
    batches = [
        # (event_id, ts, user_id)
        [(1, mk(1) + " 10:00:00", 1), (2, mk(2) + " 10:00:00", 1),
         (3, mk(2) + " 23:00:00", 1)],          # watermark -> Jan 2 22:00
        [(4, mk(3) + " 00:30:00", 1)],          # day-1 evicted + emitted here
        [(5, mk(1) + " 12:00:00", 1)],          # late day-1: dropped
        [(6, mk(4) + " 12:00:00", 1)],          # finalizes days 2-3
    ]
    now = _time.time()
    for i, rows in enumerate(batches):
        pdf = spark.createDataFrame(
            [(eid, ts, uid, "click", 1.0, "{}") for eid, ts, uid in rows],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts_s").cast("timestamp_ntz").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        sub = os.path.join(d, f"{i:02d}.parquet")
        pdf.coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + 10 * i, now + 10 * i))
        os.utime(sub, (now + 10 * i, now + 10 * i))

    stream = SW.read_events_stream(spark, d + "/*.parquet")
    q = (
        SW.tumbling_counts(stream, size="1 day", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.window_start.strftime("%m-%d"): r.n_events
        for r in spark.table("t_late").collect()
    }
    # day 1 was finalized before the late event arrived: count stays 1
    assert got.get("01-01") == 1 and got.get("01-02") == 2
    assert got.get("01-03") == 1
    # batch over the same files counts the late row — the divergence is the
    # watermark drop, nothing else
    batch_df = spark.read.parquet(d + "/*.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = {
        r.window_start.strftime("%m-%d"): r.n_events
        for r in SW.tumbling_counts(batch_df).collect()
    }
    assert batch["01-01"] == 2 and batch["01-02"] == 2 and batch["01-03"] == 1


def test_streaming_asof_state_carries_across_batches(spark, events, tmp_path):
    """Split the event log into 3 time-ordered files (maxFilesPerTrigger=1
    -> 3 micro-batches, oldest first). A click in batch 3 whose matching
    view arrived in batch 1 can only be attributed if the view survived in
    state across both intervening batches — so equality with the batch run
    proves the state carry-over, not just single-batch logic."""
    import time as _time

    from rclip_server_spark.streaming import stateful

    batch = {
        r.click_id: (r.click_us, r.view_us, r.gap_us)
        for r in stateful.streaming_asof_last_view(events).collect()
    }

    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    d = str(tmp_path / "ev3")
    os.makedirs(d)
    parts = [
        events.where(F.col("ts") < cut1),
        events.where((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
        events.where(F.col("ts") >= cut2),
    ]
    now = _time.time()
    for i, p in enumerate(parts):
        sub = os.path.join(d, f"{i:02d}.parquet")
        p.coalesce(1).write.parquet(sub)
        # file-stream picks files oldest-mtime-first; make the order explicit
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + 10 * i, now + 10 * i))
        os.utime(sub, (now + 10 * i, now + 10 * i))

    stream = SW.read_events_stream(spark, d + "/*.parquet")
    SW.run_stream_to_memory(
        stateful.streaming_asof_last_view(stream, horizon_us=1 << 62),
        "t_asof3",
        output_mode="append",
    )
    got = {
        r.click_id: (r.click_us, r.view_us, r.gap_us)
        for r in spark.table("t_asof3").collect()
    }
    assert got == batch


def test_streaming_asof_attribution_equals_batch(spark, events, events_stream_dir):
    """Stateful streaming as-of join (applyInPandasWithState keeping each
    user's recent views) must attribute every click to the same view the
    batch shuffle+window asof_join picks — INCLUDING the matched view_id:
    both runtimes dedupe equal-ts views to max(event_id), so the tie-break
    is deterministic and identical."""
    from rclip_server_spark.streaming import stateful

    batch = {
        r.click_id: (r.click_us, r.view_id, r.view_us, r.gap_us)
        for r in stateful.streaming_asof_last_view(events).collect()
    }
    assert batch  # fixture must exercise the join
    stream = SW.read_events_stream(spark, events_stream_dir)
    SW.run_stream_to_memory(
        stateful.streaming_asof_last_view(stream, horizon_us=1 << 62),
        "t_asof",
        output_mode="append",
    )
    got = {
        r.click_id: (r.click_us, r.view_id, r.view_us, r.gap_us)
        for r in spark.table("t_asof").collect()
    }
    assert got == batch


def test_streaming_asof_equal_ts_views_pick_max_id(spark, tmp_path):
    """Equal-ts duplicate views arriving OUT of id order (high id in an
    earlier micro-batch, low id later) must still attribute the click to
    the max view_id — the streaming state merge dedupes per ts keeping the
    max id, matching the batch twin's max(event_id) pre-dedupe."""
    import time as _time
    from datetime import datetime

    from rclip_server_spark.streaming import stateful

    sch = ("event_id bigint, ts timestamp, user_id bigint, event_type string, "
           "value double, props string")
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime(2024, 1, 1, 0, 0, 5)
    batches = [
        [(9, t0, 7, "view", 0.0, "")],   # higher-id view first
        [(5, t0, 7, "view", 0.0, "")],   # lower-id duplicate later
        [(20, t1, 7, "click", 0.0, "")],
    ]
    d = str(tmp_path / "ev_ties")
    os.makedirs(d)
    now = _time.time()
    for i, rows in enumerate(batches):
        sub = os.path.join(d, f"{i:02d}.parquet")
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + 10 * i, now + 10 * i))
        os.utime(sub, (now + 10 * i, now + 10 * i))

    all_events = spark.createDataFrame(sum(batches, []), sch)
    batch = {r.click_id: r.view_id
             for r in stateful.streaming_asof_last_view(all_events).collect()}
    assert batch == {20: 9}

    stream = SW.read_events_stream(spark, d + "/*.parquet")
    SW.run_stream_to_memory(
        stateful.streaming_asof_last_view(stream, horizon_us=1 << 62),
        "t_asof_ties",
        output_mode="append",
    )
    got = {r.click_id: r.view_id for r in spark.table("t_asof_ties").collect()}
    assert got == {20: 9}


def test_streaming_dedup_first_in_bucket_equals_batch(spark, events, events_stream_dir):
    """Hard-bucket first-event dedup: the streaming tumbling-window
    struct-min must keep exactly the rows the batch keyed-window
    row_number()==1 form keeps (same epoch-aligned bucket edges, same
    (ts, event_id) order) — the streaming twin of ev_dedup_within_window."""
    from rclip_server_spark.operators import events as EV

    batch = {
        (r.event_id, r.user_id, r.event_type, r.ts_us)
        for r in EV.dedup_within_window(events, minutes=10).collect()
    }
    assert batch
    # batch mode of the streaming twin: identical row set
    twin = {
        (r.event_id, r.user_id, r.event_type, r.ts_us)
        for r in SW.dedup_first_in_bucket(events, minutes=10).collect()
    }
    assert twin == batch
    stream = SW.read_events_stream(spark, events_stream_dir)
    SW.run_stream_to_memory(
        SW.dedup_first_in_bucket(stream, minutes=10),
        "t_dedup_bucket",
        output_mode="complete",
    )
    got = {
        (r.event_id, r.user_id, r.event_type, r.ts_us)
        for r in spark.table("t_dedup_bucket").collect()
    }
    assert got == batch


def test_stream_upsert_sink_crash_replay(spark, tmp_path, embeddings):
    """The sink's exactly-once-effective claim under a REAL crash: the first
    run's foreachBatch merges batch 1, then dies before Spark commits the
    offset (the at-least-once window). A restarted query on the same
    checkpoint must replay batch 1, and the conditional merge's idempotence
    must land the exact table a crash-free run produces."""
    from rclip_server_spark.streaming import sink

    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    base = embeddings.select(
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("vec_id").alias("size"),
        F.col("vec_id").alias("seq"),
    ).limit(100)
    upd = base.limit(50).withColumn("size", F.lit(-1)).withColumn(
        "seq", F.col("seq") + 1000
    )
    import time as _time
    now = _time.time()
    for i, df in enumerate([base, upd]):
        sub = os.path.join(src_dir, f"b{i}.parquet")
        df.coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + 10 * i, now + 10 * i))
        os.utime(sub, (now + 10 * i, now + 10 * i))

    stream_def = (
        spark.readStream.schema("filepath string, size bigint, seq bigint")
        .option("maxFilesPerTrigger", 1)
    )

    def _upsert_crashing(batch_df, batch_id):
        sink.merge_latest(spark, table, batch_df, key="filepath", latest_col="seq")
        if batch_id == 1:
            raise RuntimeError("injected crash after merge, before offset commit")

    q = (
        stream_def.parquet(src_dir + "/*.parquet")
        .writeStream.foreachBatch(_upsert_crashing)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    except Exception:
        pass  # the injected failure surfaces here or via q.exception()
    finally:
        q.stop()
    assert q.exception() is not None
    assert "injected crash" in str(q.exception())

    def _upsert_clean(batch_df, batch_id):
        sink.merge_latest(spark, table, batch_df, key="filepath", latest_col="seq")

    q2 = (
        stream_def.parquet(src_dir + "/*.parquet")
        .writeStream.foreachBatch(_upsert_clean)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = spark.read.parquet(table)
    assert got.count() == 100
    assert got.where("size = -1").count() == 50


def test_merge_latest_equal_seq_tie_is_order_invariant(spark, tmp_path):
    """Two rows for one key tie on latest_col: the winner must be a pure
    function of the row set — merging a-then-b and b-then-a must land the
    same table (the content-hash tiebreaker in the merge window)."""
    from rclip_server_spark.streaming import sink

    sch = "filepath string, seq bigint, body string"
    a = spark.createDataFrame([("k1", 1, "payload-a")], sch)
    b = spark.createDataFrame([("k1", 1, "payload-b")], sch)
    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    sink.merge_latest(spark, t1, a, key="filepath", latest_col="seq")
    sink.merge_latest(spark, t1, b, key="filepath", latest_col="seq")
    sink.merge_latest(spark, t2, b, key="filepath", latest_col="seq")
    sink.merge_latest(spark, t2, a, key="filepath", latest_col="seq")
    r1 = sorted(map(tuple, spark.read.parquet(t1).collect()))
    r2 = sorted(map(tuple, spark.read.parquet(t2).collect()))
    assert r1 == r2 and len(r1) == 1


def test_streaming_upsert_sink_merges_batches(spark, tmp_path, embeddings):
    """foreachBatch upsert sink: two micro-batches (maxFilesPerTrigger=1)
    where the second updates half the first's keys — the final table must
    hold one row per key with last-writer-wins payloads, identical to
    running the batch upserts by hand."""
    from rclip_server_spark.streaming import sink

    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    table = str(tmp_path / "table")

    base = embeddings.select(
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("vec_id").alias("size"),
        F.col("vec_id").alias("seq"),
    ).limit(100)
    upd = base.limit(50).withColumn("size", F.lit(-1)).withColumn(
        "seq", F.col("seq") + 1000
    )
    # two files -> two micro-batches, in name order is not guaranteed, but
    # last-writer-wins is decided by seq, not arrival
    base.coalesce(1).write.parquet(os.path.join(src_dir, "b0.parquet"))
    upd.coalesce(1).write.parquet(os.path.join(src_dir, "b1.parquet"))

    stream = (
        spark.readStream.schema("filepath string, size bigint, seq bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*.parquet")
    )
    q = sink.start_stream_upsert(
        stream, spark, table, key="filepath", latest_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(table)
    assert got.count() == 100
    assert got.where("size = -1").count() == 50
    # replay-proofness: replaying the OLDER base batch must not clobber the
    # newer rows (conditional merge on seq), and replaying the update batch
    # must be a no-op
    sink.merge_latest(spark, table, base, key="filepath", latest_col="seq")
    sink.merge_latest(spark, table, upd, key="filepath", latest_col="seq")
    again = spark.read.parquet(table)
    assert again.count() == 100 and again.where("size = -1").count() == 50


def test_streaming_bucketed_upsert_sink(spark, tmp_path, embeddings):
    """Streaming ingest into the bucketed layout: two micro-batches upsert
    through foreachBatch -> upsert_parquet_bucketed; the final table equals
    the flat-sink result and replaying a batch by hand is a no-op
    (replace-on-key idempotence)."""
    from rclip_server_spark.sources.writer import (
        create_bucketed_table,
        read_bucketed,
        upsert_parquet_bucketed,
    )
    from rclip_server_spark.streaming import sink

    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    table = str(tmp_path / "btable")

    base = embeddings.select(
        F.concat(F.lit("f"), "vec_id").alias("filepath"),
        F.col("vec_id").alias("size"),
    ).limit(100)
    create_bucketed_table(
        spark, table, base.limit(0), key="filepath", n_buckets=8
    )
    upd = base.limit(50).withColumn("size", F.lit(-1))
    base.coalesce(1).write.parquet(os.path.join(src_dir, "b0.parquet"))
    upd.coalesce(1).write.parquet(os.path.join(src_dir, "b1.parquet"))

    stream = (
        spark.readStream.schema("filepath string, size bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*.parquet")
    )
    q = sink.start_stream_upsert(
        stream, spark, table, key="filepath",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = read_bucketed(spark, table)
    assert got.count() == 100
    # ordering of the two micro-batches isn't guaranteed; whichever won,
    # a manual replay of the LAST state must be a no-op
    snapshot = sorted(map(tuple, got.collect()))
    upsert_parquet_bucketed(
        spark, table, spark.createDataFrame(snapshot, got.schema)
    )
    assert sorted(map(tuple, read_bucketed(spark, table).collect())) == snapshot


def test_stream_stream_interval_join_equals_batch(spark, events, events_stream_dir):
    """Stream-stream inner join with watermarks on both sides and an
    interval bound (the state-expiry requirement) — append-mode output must
    equal the batch run of the same function."""
    clicks_b = events.where(F.col("event_type") == "click")
    views_b = events.where(F.col("event_type") == "view")
    batch = {
        (r.click_id, r.view_id): (r.click_us, r.view_us)
        for r in SW.click_view_interval_join(clicks_b, views_b, "6 hours").collect()
    }
    assert batch  # fixture must exercise the join
    stream = SW.read_events_stream(spark, events_stream_dir)
    joined = SW.click_view_interval_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "view"),
        "6 hours",
    )
    SW.run_stream_to_memory(joined, "t_ssjoin", output_mode="append")
    got = {
        (r.click_id, r.view_id): (r.click_us, r.view_us)
        for r in spark.table("t_ssjoin").collect()
    }
    assert got == batch


# ---------------------------------------------------------------------------
# sorted / z-ordered layout writers
# ---------------------------------------------------------------------------


def test_zorder_value_hand_computed(spark):
    from rclip_server_spark.sources import writer as W

    df = spark.createDataFrame([(3, 0), (0, 3), (1, 1), (2, 3)], ["x", "y"])
    out = [r.z for r in df.select(W.zorder_value(F.col("x"), F.col("y")).alias("z")).collect()]
    # interleave: x bits at even positions, y at odd
    # (3,0)->0b0101=5  (0,3)->0b1010=10  (1,1)->0b11=3  (2,3)->0b1110=14
    assert out == [5, 10, 3, 14]


def test_write_sorted_files_are_range_disjoint(spark, tmp_path):
    import glob
    from rclip_server_spark.sources import writer as W
    from rclip_server_spark.sources import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    path = str(tmp_path / "li_sorted")
    W.write_sorted(li, path, ["l_orderkey"], n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == li.count()  # lossless
    ranges = []
    for f in glob.glob(path + "/part-*.parquet"):
        r = spark.read.parquet(f).agg(
            F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
        ).first()
        if r.lo is not None:
            ranges.append((r.lo, r.hi))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint global order across files


def test_write_zordered_lossless_and_clustered(spark, tmp_path):
    import glob
    from rclip_server_spark.sources import writer as W

    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, ["x", "y"])
    path = str(tmp_path / "zed")
    W.write_zordered(df, path, "x", "y", n_files=4, bits=8)
    back = spark.read.parquet(path)
    assert back.count() == 1024
    assert {(r.x, r.y) for r in back.collect()} == set(rows)
    assert "__z" not in back.columns
    # locality: a quadrant query should NOT need every file
    files = glob.glob(path + "/part-*.parquet")
    hit = 0
    for f in files:
        n = spark.read.parquet(f).where((F.col("x") < 8) & (F.col("y") < 8)).count()
        hit += 1 if n > 0 else 0
    assert hit < len(files)


class TestVersionedTable:
    """Manifest-log table layout (sources/versioned.py): snapshot isolation,
    time travel, optimistic concurrency, vacuum."""

    @staticmethod
    def _df(spark, rows):
        return spark.createDataFrame(rows, ["id", "val"])

    def test_create_read_roundtrip(self, spark, tmp_path):
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        assert V.create(spark, t, self._df(spark, [(1, "a"), (2, "b")])) == 1
        assert sorted(map(tuple, V.read(spark, t).collect())) == [(1, "a"), (2, "b")]

    def test_append_upsert_and_time_travel(self, spark, tmp_path):
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a"), (2, "b")]))
        assert V.append(spark, t, self._df(spark, [(3, "c")])) == 2
        assert V.upsert(spark, t, self._df(spark, [(2, "B"), (4, "d")]), "id") == 3
        # head sees the merge
        assert sorted(map(tuple, V.read(spark, t).collect())) == [
            (1, "a"), (2, "B"), (3, "c"), (4, "d")]
        # every historical version is still bit-readable
        assert sorted(map(tuple, V.read(spark, t, 1).collect())) == [(1, "a"), (2, "b")]
        assert sorted(map(tuple, V.read(spark, t, 2).collect())) == [
            (1, "a"), (2, "b"), (3, "c")]
        ops = [(h["version"], h["op"]) for h in V.history(t)]
        assert ops == [(1, "create"), (2, "append"), (3, "upsert")]

    def test_reader_snapshot_isolation(self, spark, tmp_path):
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a")]))
        snapshot = V.read(spark, t)          # resolves the v1 manifest
        V.overwrite(spark, t, self._df(spark, [(9, "z")]))
        # the already-resolved reader still sees v1: its segments are immutable
        assert [tuple(r) for r in snapshot.collect()] == [(1, "a")]
        assert [tuple(r) for r in V.read(spark, t).collect()] == [(9, "z")]

    def test_concurrent_commit_conflict(self, spark, tmp_path, monkeypatch):
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a")]))
        # another writer wins version 2 BETWEEN our read and our commit —
        # injected after our segment write, the true race window
        orig_ws = V._write_segment
        fired = {"done": False}

        def racing_write_segment(df, path):
            seg = orig_ws(df, path)
            if not fired["done"]:
                fired["done"] = True
                V.append(spark, t, self._df(spark, [(7, "w")]))
            return seg

        monkeypatch.setattr(V, "_write_segment", racing_write_segment)
        with pytest.raises(V.ConcurrentWriteError):
            V.upsert(spark, t, self._df(spark, [(1, "X")]), "id")
        monkeypatch.undo()
        # the loser's orphan segment was cleaned; v1 + winner's v2 remain
        segs = [d for d in os.listdir(t) if d.startswith("seg-")]
        assert len(segs) == 2
        assert sorted(map(tuple, V.read(spark, t).collect())) == [
            (1, "a"), (7, "w")]

    def test_crash_recovery_head_from_manifests(self, spark, tmp_path):
        """The round-4 advice scenario: a crash after manifest publication
        but before the `_latest` cache update must NOT wedge the table —
        the manifest IS the commit, so the head moves forward, later
        commits succeed, and a crash-replayed exactly-once batch is
        correctly visible (not silently dropped)."""
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a")]))
        # exactly-once append commits v2, then "crashes" before the cache
        # update: simulate by corrupting _latest back to a stale value
        assert V.append_exactly_once(
            spark, t, self._df(spark, [(2, "b")]), batch_id=77) == 2
        with open(os.path.join(t, V._LATEST), "w") as f:
            f.write("1")  # stale cache — must be irrelevant
        # head is derived from manifests, not the cache
        assert V.current_version(t) == 2
        # the replayed batch is skipped AND its rows are visible (the old
        # protocol's failure mode was skip-with-invisible-rows)
        assert V.append_exactly_once(
            spark, t, self._df(spark, [(2, "b")]), batch_id=77) is None
        assert sorted(map(tuple, V.read(spark, t).collect())) == [
            (1, "a"), (2, "b")]
        # and the table is not wedged: the next commit takes v3
        assert V.append(spark, t, self._df(spark, [(3, "c")]) ) == 3

    def test_crash_leftover_tmp_manifest_is_ignored(self, spark, tmp_path):
        """A crash BEFORE the link leaves only a .tmp- file in _snapshots —
        it must not count as a version, break history/vacuum, or block
        commits; vacuum reaps it."""
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a")]))
        junk = os.path.join(t, V._SNAP_DIR, ".tmp-deadbeef")
        with open(junk, "w") as f:
            f.write('{"version": 99, "segments"')  # half-written JSON
        # a FRESH temp file may be a concurrent committer mid-fsync→link:
        # vacuum must leave it alone (reaping it would make the racing
        # _commit die with FileNotFoundError instead of
        # ConcurrentWriteError, skipping its orphan-segment cleanup)
        fresh = os.path.join(t, V._SNAP_DIR, ".tmp-inflight")
        with open(fresh, "w") as f:
            f.write("{}")
        assert V.current_version(t) == 1
        assert V.append(spark, t, self._df(spark, [(2, "b")])) == 2
        assert [h["version"] for h in V.history(t)] == [1, 2]
        # age the crash leftover past the temp-reap window
        import time as _time
        old = _time.time() - 3600
        os.utime(junk, (old, old))
        V.vacuum(t, keep_last=2)
        assert not os.path.exists(junk)
        assert os.path.exists(fresh)  # in-flight commit survived

    def test_restore_is_metadata_only_rollback(self, spark, tmp_path):
        """restore() re-points the head at an earlier version's segments —
        zero data movement, bad versions stay in the log for audit, and
        the restored state round-trips for flat AND bucketed tables."""
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a"), (2, "b")]))
        V.upsert(spark, t, self._df(spark, [(2, "CORRUPTED")]), "id")
        segs_before = {d for d in os.listdir(t) if d.startswith("seg-")}
        v = V.restore(spark, t, 1)
        assert v == 3
        # metadata only: no new segment dirs appeared
        assert {d for d in os.listdir(t) if d.startswith("seg-")} == segs_before
        assert sorted(map(tuple, V.read(spark, t).collect())) == [
            (1, "a"), (2, "b")]
        # the bad version remains auditable
        assert [h["op"] for h in V.history(t)] == ["create", "upsert", "restore"]
        assert {r.val for r in V.read(spark, t, 2).collect()} >= {"CORRUPTED"}
        # appends continue normally after a restore
        V.append(spark, t, self._df(spark, [(3, "c")]))
        assert V.read(spark, t).count() == 3
        # bucketed twin
        tb = str(tmp_path / "vb")
        V.create_bucketed(spark, tb, self._df(spark, [(1, "a")]), "id",
                          n_buckets=4)
        V.upsert_bucketed(spark, tb, self._df(spark, [(1, "X")]))
        V.restore(spark, tb, 1)
        assert [tuple(r) for r in V.read_bucketed(spark, tb).collect()] == [
            (1, "a")]
        # restoring past a vacuum fails loudly
        V.overwrite(spark, t, self._df(spark, [(9, "z")]))
        V.vacuum(t, keep_last=1)
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            V.restore(spark, t, 1)

    def test_schema_drift_fails_append_allows_evolution(self, spark, tmp_path):
        """Append-path schema guard: a new column is evolution (passes;
        old segments read it as NULL via mergeSchema), but changing an
        existing column's TYPE fails the commit loudly — the silent
        ingest-corruption case. Works for flat and bucketed tables; a
        cast batch or an overwrite resolves it."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a")]))
        # evolution: extra column appends fine
        V.append(spark, t, spark.createDataFrame(
            [(2, "b", 9.5)], "id long, val string, score double"))
        got = {r.id: r.asDict().get("score") for r in V.read(spark, t).collect()}
        assert got[2] == 9.5 and got[1] is None
        # drift: val switches string -> bigint; the commit must refuse
        bad = spark.createDataFrame([(3, 123)], "id long, val long")
        with pytest.raises(V.SchemaDriftError, match="val"):
            V.append(spark, t, bad)
        with pytest.raises(V.SchemaDriftError):
            V.append_exactly_once(spark, t, bad, batch_id=42)
        assert V.current_version(t) == 2  # nothing committed
        # a cast batch passes
        V.append(spark, t, bad.withColumn("val", bad.val.cast("string")))
        assert V.read(spark, t).count() == 3
        # bucketed twin
        tb = str(tmp_path / "vb")
        V.create_bucketed(spark, tb, self._df(spark, [(1, "a")]), "id",
                          n_buckets=4)
        with pytest.raises(V.SchemaDriftError):
            V.append_bucketed(spark, tb, bad)

    def test_delete_vectors_zero_rewrite(self, spark, tmp_path):
        """delete_rows commits a KB-sized key segment and touches NO data
        segment; readers apply it, time travel reaches the pre-delete
        state, appends carry it, a rewrite materializes and clears it,
        and vacuum then reaps the vector files."""
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(i, f"v{i}") for i in range(20)]))
        segs_before = {d for d in os.listdir(t) if d.startswith("seg-")}
        v2 = V.delete_rows(spark, t, [3, 7], "id")
        assert v2 == 2
        # zero rewrite: no new data segment, one del- vector dir
        assert {d for d in os.listdir(t) if d.startswith("seg-")} == segs_before
        assert len([d for d in os.listdir(t) if d.startswith("del-")]) == 1
        ids = {r.id for r in V.read(spark, t).collect()}
        assert ids == set(range(20)) - {3, 7}
        # time travel: v1 still shows the deleted rows
        assert {r.id for r in V.read(spark, t, 1).collect()} == set(range(20))
        # appends carry the pending vector; a second delete accumulates.
        # CRUCIALLY a re-appended deleted key is VISIBLE again: the vector
        # is scoped to the segments that existed at delete time (Delta
        # delete-then-insert semantics), not a tombstone on the key
        V.append(spark, t, self._df(spark, [(100, "new"), (7, "reinserted")]))
        V.delete_rows(spark, t, [11], "id")
        got2 = {r.id: r.val for r in V.read(spark, t).collect()}
        assert set(got2) == (set(range(20)) - {3, 7, 11}) | {100, 7}
        assert got2[7] == "reinserted"  # new row, not the deleted original
        # read_pruned applies the vectors too (7 visible via the re-insert)
        assert {r.id for r in V.read_pruned(
            spark, t, "id", lo=0, hi=15).collect()
        } == (set(range(16)) - {3, 11}) | {7}
        # a rewrite commit materializes: deleted keys stay gone, the
        # manifest's vector list clears, and the key can be re-inserted
        V.upsert(spark, t, self._df(spark, [(3, "reborn")]), "id")
        assert not V._manifest(t, V.current_version(t)).get("delete_segs")
        got = {r.id: r.val for r in V.read(spark, t).collect()}
        assert got[3] == "reborn" and got[7] == "reinserted" and 11 not in got
        # CDC over the delete interval needs the key and reports deletes
        ch = V.table_changes(spark, t, from_version=1, key="id")
        kinds = {(r.id, r._change_type) for r in ch.collect()}
        assert (11, "delete") in kinds and (3, "update_post") in kinds
        # vacuum after materialization reaps the unreferenced vectors
        deleted = V.vacuum(t, keep_last=1)
        assert any(d.startswith("del-") for d in deleted)
        assert not [d for d in os.listdir(t) if d.startswith("del-")]

    def test_delete_commit_keeps_schema_guard_armed(self, spark, tmp_path):
        """delete_rows must carry the parent manifest's col_types: without
        it the next append's schema-drift guard starts from an empty
        known-types map (silently disabled) and then RESETS col_types to
        the batch's columns, narrowing the table's declared schema so
        columns present only in older segments drop out of CDC streams."""
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.sources.versioned import SchemaDriftError

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a"), (2, "b")]))
        V.delete_rows(spark, t, [2], "id")
        # the delete commit itself preserves the declared schema
        m = V._manifest(t, V.current_version(t))
        assert set(m["col_types"]) == {"id", "val"}
        # guard still armed: a type-drifting append fails loudly
        bad = spark.createDataFrame([(3, 3)], ["id", "val"])  # val int
        with pytest.raises(SchemaDriftError):
            V.append(spark, t, bad)
        # an evolving append (new col, old col absent) widens, never
        # narrows: 'val' stays declared even though the batch lacks it
        evo = spark.createDataFrame([(4, 1.5)], ["id", "score"])
        V.append(spark, t, evo)
        m2 = V._manifest(t, V.current_version(t))
        assert set(m2["col_types"]) == {"id", "val", "score"}

    def test_table_changes_null_moved_between_columns(self, spark, tmp_path):
        """A row whose value MOVES between payload columns (A→NULL, NULL→B)
        must classify as update_post. The old xxhash64-of-strings payload
        hash skipped NULL inputs, so such rows hashed identically and the
        update was silently dropped from CDC output."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        df1 = spark.createDataFrame([(1, "x", None), (2, "k", "keep")],
                                    "id long, a string, b string")
        V.create(spark, t, df1)
        df2 = spark.createDataFrame([(1, None, "x"), (2, "k", "keep")],
                                    "id long, a string, b string")
        V.overwrite(spark, t, df2)
        ch = V.table_changes(spark, t, from_version=1, key="id")
        got = {(r.id, r._change_type) for r in ch.collect()}
        assert got == {(1, "update_post")}  # row 2 unchanged, row 1 seen

    def test_read_pruned_unbounded_range_keeps_all_null_segment(
        self, spark, tmp_path
    ):
        """A fully-unbounded (None, None) range applies NO row filter, so
        it must not prune anything — in particular NULL rows living in an
        all-NULL segment must come back, exactly as a plain read returns
        them (zone_survives treats the unbounded range as no predicate)."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        allnull = spark.createDataFrame(
            [(1, None), (2, None)], "id long, x long")
        mixed = spark.createDataFrame(
            [(3, 10), (4, None)], "id long, x long")
        V.create(spark, t, allnull, stat_cols=["x"])
        V.append(spark, t, mixed)
        got = {r.id for r in V.read_pruned(spark, t, "x").collect()}
        assert got == {1, 2, 3, 4}  # same as plain read — no false prune
        # and a REAL range predicate still prunes the all-NULL segment
        got2 = {r.id for r in
                V.read_pruned(spark, t, "x", lo=0).collect()}
        assert got2 == {3}

    def test_manifest_growth_and_compaction(self, spark, tmp_path):
        """Manifest metadata (seg_rows + zone-map seg_stats) grows
        O(#segments) under many small appends; compact() folds the table
        back to ONE segment, restoring the manifest to O(1) size,
        materializing pending delete vectors, and preserving declared
        col_types + zone-map pruning."""
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        mk = lambda lo, hi: spark.createDataFrame(
            [(i, i * 10) for i in range(lo, hi)], "id long, x long")
        V.create(spark, t, mk(0, 5), stat_cols=["x"])
        for j in range(1, 13):
            V.append(spark, t, mk(5 * j, 5 * j + 5))
        V.delete_rows(spark, t, [0, 7], "id")
        head = V.current_version(t)
        m = V._manifest(t, head)
        assert len(m["segments"]) == 13
        grown = os.path.getsize(V._snap_path(t, head))
        base = os.path.getsize(V._snap_path(t, 1))
        assert grown > 4 * base  # linear growth is real, worth bounding
        v = V.compact(spark, t)
        mc = V._manifest(t, v)
        assert len(mc["segments"]) == 1
        assert not mc.get("delete_segs")  # vectors materialized + cleared
        assert set(mc["col_types"]) == {"id", "x"}
        compacted = os.path.getsize(V._snap_path(t, v))
        assert compacted < 2 * base  # back to O(1) metadata
        got = {r.id for r in V.read(spark, t).collect()}
        assert got == set(range(65)) - {0, 7}
        # zone maps recomputed over the merged segment: pruning still works
        assert {r.id for r in
                V.read_pruned(spark, t, "x", lo=600, hi=620).collect()
                } == {60, 61, 62}
        # second compact is a no-op version-wise
        assert V.compact(spark, t) == v
        # old version still time-travels until vacuum
        assert len({r.id for r in V.read(spark, t, 1).collect()}) == 5

    def test_table_changes_preimage_postimage(self, spark, tmp_path):
        """include_preimage=True emits the Delta-CDF shape: an updated key
        contributes BOTH update_preimage (old row) and update_postimage
        (new row); inserts and deletes stay single rows. Pre-images are
        what make the feed retractable for additive consumers."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        V.overwrite(spark, t, self._df(spark, [(1, "a"), (2, "B"), (9, "n")]))
        ch = V.table_changes(spark, t, from_version=1, key="id",
                             include_preimage=True)
        got = sorted((r.id, r.val, r._change_type) for r in ch.collect())
        assert got == [
            (2, "B", "update_postimage"), (2, "b", "update_preimage"),
            (3, "c", "delete"), (9, "n", "insert")]

    def test_agg_view_incremental_equals_recompute(self, spark, tmp_path):
        """The materialized agg view, refreshed through appends, delete
        vectors, and upserts, must equal a direct groupBy of the source
        head after EVERY refresh — including retracting a group to zero
        (it leaves the view) and NULL group keys (null-safe merge)."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, v long")
        V.create(spark, t, mk([(1, "a", 10), (2, "a", 5), (3, "b", 7),
                               (4, None, 2)]))
        MV.create_agg_view(spark, t, vw, key="id",
                           group_cols=["grp"], sum_cols=["v"])

        def check():
            got = sorted(
                ((r.grp, r.cnt, r.sum_v) for r in
                 MV.read_agg_view(spark, vw).collect()),
                key=lambda x: (x[0] is None, x[0]))
            want = sorted(
                ((r.grp, r.cnt, r.sum_v) for r in
                 V.read(spark, t).groupBy("grp").agg(
                     F.count(F.lit(1)).alias("cnt"),
                     F.sum("v").alias("sum_v")).collect()),
                key=lambda x: (x[0] is None, x[0]))
            assert got == want, (got, want)

        check()  # initial materialization
        # append-only refresh (O(new segments) CDC fast path)
        V.append(spark, t, mk([(5, "b", 3), (6, "c", 1), (7, None, 4)]))
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()
        # delete vector retracts rows; group 'c' retracts to zero and
        # must DROP from the view
        V.delete_rows(spark, t, [6, 2], "id")
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()
        assert "c" not in {r.grp for r in
                           MV.read_agg_view(spark, vw).collect()}
        # upsert moves a row between groups (update pre+post images)
        V.upsert(spark, t, mk([(3, "a", 7), (8, "d", 9)]), "id")
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()
        # idempotent when already fresh; cursor tracks the source head
        v_before = V.current_version(vw)
        assert MV.refresh_agg_view(spark, vw, recompute_fraction=None) == v_before
        m = V._manifest(vw, V.current_version(vw))
        assert m["app"]["mv_source_version"] == V.current_version(t)
        # the view is a real versioned table: time travel reaches the
        # pre-delete state
        old = {(r.grp, r.cnt) for r in
               V.read(spark, vw, 2).collect()}
        assert ("c", 1) in old

    def test_agg_view_minmax_recompute_affected_groups(self, spark, tmp_path):
        """MIN/MAX are not retractable: deleting a group's current maximum
        must trigger the affected-group recompute (semi-join against the
        source snapshot) and land on the true new extreme, while
        insert-only groups merge monotonically without rescan. Equality
        with a direct groupBy is checked after every refresh."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, v long")
        V.create(spark, t, mk([(1, "a", 10), (2, "a", 5), (3, "b", 7)]))
        MV.create_agg_view(spark, t, vw, key="id", group_cols=["grp"],
                           sum_cols=["v"], minmax_cols=["v"])

        def check():
            got = sorted((r.grp, r.cnt, r.sum_v, r.min_v, r.max_v)
                         for r in MV.read_agg_view(spark, vw).collect())
            want = sorted(
                (r.grp, r.cnt, r.sum_v, r.min_v, r.max_v) for r in
                V.read(spark, t).groupBy("grp").agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("v").alias("sum_v"),
                    F.min("v").alias("min_v"),
                    F.max("v").alias("max_v")).collect())
            assert got == want, (got, want)

        # insert-only: monotone merge (max of 'a' grows, min unchanged)
        V.append(spark, t, mk([(4, "a", 99), (5, "c", 1)]))
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()
        # delete the CURRENT max of 'a' (99) -> recompute must find 10
        V.delete_rows(spark, t, [4], "id")
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()
        row_a = {r.grp: r for r in MV.read_agg_view(spark, vw).collect()}["a"]
        assert row_a.max_v == 10 and row_a.min_v == 5
        # upsert shrinking a min (update pre+post) + fresh group insert
        V.upsert(spark, t, mk([(2, "a", 50), (6, "d", -3)]), "id")
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()
        # retract a whole group: 'c' leaves the view entirely
        V.delete_rows(spark, t, [5], "id")
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()
        assert "c" not in {r.grp for r in
                           MV.read_agg_view(spark, vw).collect()}

    def test_large_rewrite_refresh_skips_broadcast(
        self, spark, tmp_path, monkeypatch
    ):
        """A refresh interval containing a large rewrite must NOT
        broadcast the affected-group keys (ret_groups can approach group
        cardinality → driver OOM at 100 TB group counts): the
        manifest-derived retraction bound picks the plain-join path, and
        the refresh result is identical either way. Also pins
        _retraction_bound's two regimes: 0 for append-only intervals,
        the old snapshot's recorded row count for rewriting ones."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        kvw = str(tmp_path / "topk")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, v long")
        V.create(spark, t, mk([(i, "abc"[i % 3], i * 7 % 23)
                               for i in range(30)]))
        MV.create_agg_view(spark, t, vw, key="id", group_cols=["grp"],
                           sum_cols=["v"], minmax_cols=["v"])
        MV.create_topk_view(spark, t, kvw, key="id", group_cols=["grp"],
                            score_col="v", k=3)
        # append-only interval: bound is exactly 0 (no manifest rows read)
        V.append(spark, t, mk([(100, "a", 99), (101, "d", 4)]))
        assert MV._retraction_bound(t, 1, V.current_version(t)) == 0
        # large rewrite: most rows change groups / leave — the bound is
        # the OLD snapshot's recorded row count
        v_before_rw = V.current_version(t)
        old_rows = V.table_row_count(t, v_before_rw)
        V.overwrite(spark, t, mk([(i, "bcd"[i % 3], i * 11 % 19)
                                  for i in range(0, 30, 2)]))
        assert MV._retraction_bound(
            t, v_before_rw, V.current_version(t)) == old_rows
        # force the non-broadcast path regardless of fixture size and
        # prove _hint_ret_groups takes it (returns the frame unhinted)
        monkeypatch.setattr(MV, "_BROADCAST_BYTES_BUDGET", -1)
        probe = V.read(spark, t).select("grp").distinct()
        assert MV._hint_ret_groups(
            probe, t, v_before_rw, V.current_version(t)) is probe
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        MV.refresh_topk_view(spark, kvw, recompute_fraction=None)
        got = sorted((r.grp, r.cnt, r.sum_v, r.min_v, r.max_v)
                     for r in MV.read_agg_view(spark, vw).collect())
        want = sorted(
            (r.grp, r.cnt, r.sum_v, r.min_v, r.max_v) for r in
            V.read(spark, t).groupBy("grp").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v")).collect())
        assert got == want, (got, want)
        got_k = sorted((r.grp, r.id, r.v, r.rnk) for r in
                       V.read(spark, kvw).collect())
        want_k = sorted(
            (r.grp, r.id, r.v, r.rnk) for r in
            MV._topk_of(V.read(spark, t), ["grp"], "id", "v", 3).collect())
        assert got_k == want_k, (got_k, want_k)

    def test_cluster_zorder_preserves_null_cluster_values(
        self, spark, tmp_path
    ):
        """Rows with NULL in a cluster column still land in a segment (the
        NULL z-key partition) — reclustering must never drop rows — and
        range reads over the clustered table stay exact."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        df = spark.createDataFrame(
            [(i, None if i % 5 == 0 else i % 32,
              (i * 7) % 32 if i % 7 else None) for i in range(300)],
            "id long, x long, y long")
        V.create(spark, t, df, stat_cols=["x", "y"])
        V.cluster_zorder(spark, t, "x", "y", n_segments=4, bits=8)
        assert V.read(spark, t).count() == 300
        got = {r.id for r in V.read_pruned(spark, t, "x", 4, 7).collect()}
        want = {r.id for r in df.where("x between 4 and 7").collect()}
        assert got == want

    def test_cluster_zorder_improves_segment_pruning(self, spark, tmp_path):
        """OPTIMIZE ZORDER: after reclustering, a 2-D range query must
        survive FEWER manifest segments than before (each unclustered
        append spans the full x/y ranges, so nothing pruned), while the
        data, declared schema, and time travel are untouched."""
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        mk = lambda rows: spark.createDataFrame(rows, "id long, x long, y long")
        # 3 appends, each spanning the WHOLE 2-D grid (worst case for
        # per-append zone maps: every segment overlaps every range)
        grid = [(i, i % 32, (i * 7) % 32) for i in range(512)]
        V.create(spark, t, mk(grid[0::3]), stat_cols=["x", "y"])
        V.append(spark, t, mk(grid[1::3]))
        V.append(spark, t, mk(grid[2::3]))
        ranges = {"x": (4, 7), "y": (4, 7)}

        def survivors():
            m = V._manifest(t, V.current_version(t))
            return [s for s in m["segments"]
                    if V.zone_survives(m["seg_stats"].get(s, {}), ranges)]

        before = survivors()
        assert len(before) == 3  # un-prunable layout: all segments survive
        expect = sorted(map(tuple, V.read_pruned(spark, t, ranges=ranges)
                            .collect()))
        v = V.cluster_zorder(spark, t, "x", "y", n_segments=8, bits=8)
        m = V._manifest(t, v)
        assert m["op"] == "cluster-zorder"
        assert 1 < len(m["segments"]) <= 8
        after = survivors()
        assert len(after) < len(m["segments"])  # pruning now real
        # identical answers through the pruned read and the plain read
        assert sorted(map(tuple, V.read_pruned(spark, t, ranges=ranges)
                          .collect())) == expect
        assert V.read(spark, t).count() == 512
        assert set(m["col_types"]) == {"id", "x", "y"}
        # time travel to the pre-cluster version still works
        assert V.read(spark, t, 3).count() == 512
        # no stray temp dirs left behind
        assert not [d for d in os.listdir(t) if d.startswith(".zorder-")]

    def test_agg_view_streaming_refresh(self, spark, tmp_path):
        """Continuous view maintenance: the manifest-log file tail wakes a
        refresh per micro-batch; after each source commit drains, the view
        equals the direct groupBy. The batch is only a wake-up — the
        refresh interval is cursor-derived, so replays are no-ops."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        ckpt = str(tmp_path / "ckpt")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, v long")
        V.create(spark, t, mk([(1, "a", 10), (2, "b", 5)]))
        MV.create_agg_view(spark, t, vw, key="id",
                           group_cols=["grp"], sum_cols=["v"])

        def check():
            got = sorted((r.grp, r.cnt, r.sum_v) for r in
                         MV.read_agg_view(spark, vw).collect())
            want = sorted((r.grp, r.cnt, r.sum_v) for r in
                          V.read(spark, t).groupBy("grp").agg(
                              F.count(F.lit(1)).alias("cnt"),
                              F.sum("v").alias("sum_v")).collect())
            assert got == want, (got, want)

        q = sink.start_agg_view_refresh_stream(spark, vw,
                                               checkpoint_dir=ckpt)
        try:
            V.append(spark, t, mk([(3, "a", 7), (4, "c", 2)]))
            q.processAllAvailable()
            check()
            V.append(spark, t, mk([(5, "c", 11)]))
            q.processAllAvailable()
            check()
        finally:
            q.stop()
        # a later manual refresh after more commits catches up exactly
        V.append(spark, t, mk([(6, "d", 1)]))
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()

    def test_agg_view_random_op_sequences(self, spark, tmp_path):
        """Randomized (seeded) op sequences against the view invariant:
        after ANY mix of appends / delete-vectors / upserts — with NULL
        group keys and NULL values in the stream, refreshes sometimes
        covering multi-commit intervals — the maintained view equals the
        direct groupBy of the source head. This is the oracle property
        the pointwise tests sample; the sequences sample the state space."""
        import random

        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        def run(seed: int, case: str) -> None:
            rng = random.Random(seed)
            t = str(tmp_path / f"s{seed}")
            vw = str(tmp_path / f"v{seed}")
            groups = ["a", "b", "c", None]
            mk = lambda rows: spark.createDataFrame(
                rows, "id long, grp string, v long")

            def rand_rows(ids):
                return [(i, rng.choice(groups),
                         rng.choice([None, rng.randint(-5, 20)]))
                        for i in ids]

            next_id = 100
            live = list(range(8))
            V.create(spark, t, mk(rand_rows(live)))
            MV.create_agg_view(spark, t, vw, key="id", group_cols=["grp"],
                               sum_cols=["v"], minmax_cols=["v"])
            for _ in range(6):
                op = rng.choice(["append", "delete", "upsert"])
                if op == "append" or not live:
                    ids = list(range(next_id, next_id + rng.randint(1, 4)))
                    next_id += len(ids)
                    live += ids
                    V.append(spark, t, mk(rand_rows(ids)))
                elif op == "delete":
                    victims = rng.sample(live, min(len(live),
                                                   rng.randint(1, 3)))
                    live = [i for i in live if i not in victims]
                    V.delete_rows(spark, t, victims, "id")
                else:
                    old = rng.sample(live, min(len(live), 2))
                    new = [next_id]
                    next_id += 1
                    live += new
                    V.upsert(spark, t, mk(rand_rows(old + new)), "id")
                if rng.random() < 0.5:
                    MV.refresh_agg_view(spark, vw, recompute_fraction=None)  # mid-sequence refresh
            MV.refresh_agg_view(spark, vw, recompute_fraction=None)  # final catch-up (multi-commit)
            got = sorted(
                ((r.grp, r.cnt, r.sum_v, r.min_v, r.max_v) for r in
                 MV.read_agg_view(spark, vw).collect()),
                key=lambda x: (x[0] is None, x[0] or ""))
            want = sorted(
                ((r.grp, r.cnt, r.sum_v, r.min_v, r.max_v) for r in
                 V.read(spark, t).groupBy("grp").agg(
                     F.count(F.lit(1)).alias("cnt"),
                     F.sum("v").alias("sum_v"),
                     F.min("v").alias("min_v"),
                     F.max("v").alias("max_v")).collect()),
                key=lambda x: (x[0] is None, x[0] or ""))
            assert got == want, (case, seed, got, want)

        for seed in (7, 23, 91):
            run(seed, "mixed-ops")

    def test_agg_view_concurrent_refreshers(self, spark, tmp_path):
        """Two refreshers racing through the OCC retry loop: whoever loses
        the commit re-reads the ADVANCED cursor, so the interval is never
        double-applied — the final view equals the recompute, and the
        cursor lands on the source head."""
        import threading

        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, v long")
        V.create(spark, t, mk([(1, "a", 1)]))
        MV.create_agg_view(spark, t, vw, key="id",
                           group_cols=["grp"], sum_cols=["v"])
        for j in range(4):
            V.append(spark, t, mk([(10 + j, "ab"[j % 2], j)]))
        errors = []

        def refresher():
            try:
                MV.refresh_agg_view_with_retry(spark, vw, max_retries=20, recompute_fraction=None)
            except Exception as e:  # surfaced in the main thread
                errors.append(e)

        threads = [threading.Thread(target=refresher) for _ in range(3)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        MV.refresh_agg_view_with_retry(spark, vw, recompute_fraction=None)  # ensure fully caught up
        got = sorted((r.grp, r.cnt, r.sum_v) for r in
                     MV.read_agg_view(spark, vw).collect())
        want = sorted((r.grp, r.cnt, r.sum_v) for r in
                      V.read(spark, t).groupBy("grp").agg(
                          F.count(F.lit(1)).alias("cnt"),
                          F.sum("v").alias("sum_v")).collect())
        assert got == want, (got, want)
        m = V._manifest(vw, V.current_version(vw))
        assert m["app"]["mv_source_version"] == V.current_version(t)

    def test_transform_view_incremental_index(self, spark, tmp_path):
        """Row-transform view (an inverted postings index): inserts append
        transformed rows, retractions become a delete vector by key, and
        updates are delete-then-insert — after every refresh the view
        equals transform(source head) row-for-row. compact() folds the
        accreted segments + vectors without losing the spec (the app
        namespace carries through every commit), and a mismatched
        transform name fails loudly."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        def postings(df):
            return df.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))

        V.create(spark, t, mk([(1, "a b a"), (2, "c d")]))
        MV.create_transform_view(spark, t, vw, key="doc_id",
                                 transform=postings, name="postings-v1")

        def check():
            got = sorted((r.doc_id, r.tok) for r in
                         V.read(spark, vw).collect())
            want = sorted((r.doc_id, r.tok) for r in
                          postings(V.read(spark, t)).collect())
            assert got == want, (got, want)

        check()
        V.append(spark, t, mk([(3, "e f e")]))
        MV.refresh_transform_view(spark, vw, postings, "postings-v1", recompute_fraction=None)
        check()
        # update: doc 1's tokens must be REPLACED, not accumulated
        V.upsert(spark, t, mk([(1, "z z q")]), "doc_id")
        MV.refresh_transform_view(spark, vw, postings, "postings-v1", recompute_fraction=None)
        check()
        assert ("a" not in {r.tok for r in V.read(spark, vw).collect()})
        # delete: doc 2's postings vanish
        V.delete_rows(spark, t, [2], "doc_id")
        MV.refresh_transform_view(spark, vw, postings, "postings-v1", recompute_fraction=None)
        check()
        # idempotent when fresh
        v = V.current_version(vw)
        assert MV.refresh_transform_view(spark, vw, postings,
                                         "postings-v1", recompute_fraction=None) == v
        # compaction preserves the spec and the state
        V.compact(spark, vw)
        check()
        V.append(spark, t, mk([(4, "g")]))
        MV.refresh_transform_view(spark, vw, postings, "postings-v1", recompute_fraction=None)
        check()
        # transform-name guard
        with pytest.raises(ValueError, match="postings-v1"):
            MV.refresh_transform_view(spark, vw, postings, "other", recompute_fraction=None)

    def test_transform_view_zero_row_interval_advances_cursor(
        self, spark, tmp_path
    ):
        """An interval whose inserts all transform to ZERO view rows must
        still advance the cursor (via an empty append) — otherwise every
        later refresh re-diffs a growing interval forever."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        def keep(df):
            return df.where(F.col("text") != "skip")

        V.create(spark, t, mk([(1, "a")]))
        MV.create_transform_view(spark, t, vw, key="doc_id",
                                 transform=keep, name="keep-v1")
        V.append(spark, t, mk([(2, "skip")]))  # transforms to nothing
        MV.refresh_transform_view(spark, vw, keep, "keep-v1", recompute_fraction=None)
        assert MV._spec_tv(vw)["tv_source_version"] == V.current_version(t)
        assert {r.doc_id for r in V.read(spark, vw).collect()} == {1}
        V.append(spark, t, mk([(3, "b")]))
        MV.refresh_transform_view(spark, vw, keep, "keep-v1", recompute_fraction=None)
        assert {r.doc_id for r in V.read(spark, vw).collect()} == {1, 3}

    def test_transform_view_auto_compact_bounds_segments(
        self, spark, tmp_path
    ):
        """auto_compact=True keeps an unattended refresher's view at a
        BOUNDED segment count: across N refresh cycles (appends + a
        rewrite that adds delete vectors) the manifest never exceeds the
        threshold + the per-refresh accretion, the spec/cursor survive
        every inline compaction, and the view still equals
        transform(source head) row-for-row after each cycle."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        def postings(df):
            return df.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))

        V.create(spark, t, mk([(0, "a b")]))
        MV.create_transform_view(spark, t, vw, key="doc_id",
                                 transform=postings, name="postings-v1")
        threshold = 4
        seg_counts = []
        for i in range(1, 13):
            if i % 4 == 0:
                # rewrite: retracts -> delete vector + replacement segment
                V.upsert(spark, t, mk([(i - 1, f"u{i} v{i}")]), "doc_id")
            else:
                V.append(spark, t, mk([(i, f"w{i} x{i}")]))
            MV.refresh_transform_view(spark, vw, postings, "postings-v1",
                                      auto_compact=True,
                                      compact_threshold=threshold, recompute_fraction=None)
            m = V._manifest(vw, V.current_version(vw))
            seg_counts.append(len(m["segments"]) +
                              len(m.get("delete_segs") or []))
            got = sorted((r.doc_id, r.tok) for r in
                         V.read(spark, vw).collect())
            want = sorted((r.doc_id, r.tok) for r in
                          postings(V.read(spark, t)).collect())
            assert got == want, (i, got, want)
        # bounded forever: a refresh adds at most 2 entries (segment +
        # vector) before maybe_compact folds anything at/over threshold
        assert max(seg_counts) <= threshold + 1, seg_counts
        # compaction actually fired (without it 12 cycles accrete ~15)
        assert min(seg_counts) == 1, seg_counts
        # spec + cursor intact after inline compactions
        assert MV._spec_tv(vw)["tv_source_version"] == V.current_version(t)
        # below-threshold call is a pure no-op (no version advance)
        v = V.current_version(vw)
        assert V.maybe_compact(spark, vw, max_segments=64) == v

    def test_maybe_compact_bucketed_worst_bucket(self, spark, tmp_path):
        """Bucketed dispatch: maybe_compact triggers on the WORST single
        bucket and folds multi-segment buckets back to one segment each,
        preserving row content."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "b")
        mk = lambda rows: spark.createDataFrame(rows, "id long, v long")
        V.create_bucketed(spark, t, mk([(i, i) for i in range(8)]),
                          key="id", n_buckets=4)
        for j in range(3):
            V.append_bucketed(spark, t, mk([(100 + j, j)]))
        m = V._manifest(t, V.current_version(t))
        worst = max(len(s) for s in m["buckets"].values())
        assert worst >= 2
        # threshold above worst: no-op
        v = V.current_version(t)
        assert V.maybe_compact(spark, t, max_segments=worst + 1) == v
        # threshold at worst: folds
        v2 = V.maybe_compact(spark, t, max_segments=2)
        assert v2 == v + 1
        m2 = V._manifest(t, v2)
        assert max(len(s) for s in m2["buckets"].values()) == 1
        assert {r.id for r in V.read_bucketed(spark, t).collect()} == \
            set(range(8)) | {100, 101, 102}

    def test_bloom_index_point_lookup_prunes_segments(
        self, spark, tmp_path
    ):
        """Bloom sidecars prune POINT lookups on an UNCLUSTERED key where
        zone maps cannot (every segment's [min,max] spans the domain):
        the lookup reads fewer segments than the table holds, returns
        exactly the equality-filtered rows, respects delete vectors, and
        re-indexing after an append is incremental (only new segments)."""
        from rclip_server_spark.sources import bloomindex as B
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "t")
        mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
        # ids interleaved across segments -> zone maps are useless here
        V.create(spark, t, mk([(i, f"a{i}") for i in range(0, 400, 4)]))
        V.append(spark, t, mk([(i, f"b{i}") for i in range(1, 400, 4)]))
        V.append(spark, t, mk([(i, f"c{i}") for i in range(2, 400, 4)]))
        n = B.build_bloom_index(spark, t, "id")
        assert n == 3
        # incremental: nothing to do on a second call, only the new
        # segment after an append
        assert B.build_bloom_index(spark, t, "id") == 0
        V.append(spark, t, mk([(i, f"d{i}") for i in range(3, 400, 4)]))
        assert B.build_bloom_index(spark, t, "id") == 1
        # lookup of ids living in exactly two segments prunes the rest
        keep, total = B.bloom_surviving_segments(t, "id", [8, 13])
        assert total == 4 and 1 <= len(keep) <= 2, (keep, total)
        got = {(r.id, r.v) for r in
               B.read_point_lookup(spark, t, "id", [8, 13]).collect()}
        assert got == {(8, "a8"), (13, "b13")}
        # the physical read touches only surviving segment files
        lookup = B.read_point_lookup(spark, t, "id", [8, 13])
        touched = {f.split("/")[-2] for f in lookup.inputFiles()}
        assert touched == set(keep)
        # absent value: every segment prunes, empty result, stable schema
        keep0, _ = B.bloom_surviving_segments(t, "id", [999_999])
        assert keep0 == []
        empty = B.read_point_lookup(spark, t, "id", [999_999])
        assert empty.count() == 0 and empty.columns == ["id", "v"]
        # value-shape normalization: a bare string is ONE value (never
        # iterated per-character, which would probe "1","3" and
        # false-prune), a set/scalar work; str(13) probes == 13's probes
        ks, _ = B.bloom_surviving_segments(t, "id", "13")
        kl, _ = B.bloom_surviving_segments(t, "id", [13])
        assert ks == kl and ks != []
        assert {r.id for r in
                B.read_point_lookup(spark, t, "id", {8, 13}).collect()} \
            == {8, 13}
        assert {r.id for r in
                B.read_point_lookup(spark, t, "id", 13).collect()} == {13}
        # delete vectors still apply through the pruned read
        V.delete_rows(spark, t, [8], "id")
        got2 = {r.id for r in
                B.read_point_lookup(spark, t, "id", [8, 13]).collect()}
        assert got2 == {13}
        # vacuum reaps sidecars together with their segments
        V.compact(spark, t)
        V.vacuum(t, keep_last=1)
        import os as _os
        bloom_dir = _os.path.join(t, "_bloom", "id")
        assert _os.listdir(bloom_dir) == []  # old seg sidecars reaped
        # the compacted segment has no sidecar yet -> kept conservatively
        keep3, total3 = B.bloom_surviving_segments(t, "id", [999_999])
        assert total3 == 1 and len(keep3) == 1
        assert B.build_bloom_index(spark, t, "id") == 1
        keep4, _ = B.bloom_surviving_segments(t, "id", [999_999])
        assert keep4 == []
        # null-key rows never poison the filter; NULL lookup is an error
        with pytest.raises(ValueError, match="NULL"):
            B.read_point_lookup(spark, t, "id", [None])

    def test_bloom_zone_hybrid_and_index_stream(self, spark, tmp_path):
        """(a) Point lookups combine zone maps with Bloom sidecars: on a
        CLUSTERED key, zone maps prune segments even before any sidecar
        exists (both passes are conservative, so the intersection never
        false-prunes). (b) start_bloom_index_stream keeps sidecars
        current as the table ingests — new segments get indexed without
        a manual build, and the lookup result stays exact."""
        from rclip_server_spark.sources import bloomindex as B
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        t = str(tmp_path / "t")
        mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
        # clustered ranges: zone maps alone can prune the point lookup
        V.create(spark, t, mk([(i, f"a{i}") for i in range(0, 100)]),
                 stat_cols=["id"])
        V.append(spark, t, mk([(i, f"b{i}") for i in range(100, 200)]))
        V.append(spark, t, mk([(i, f"c{i}") for i in range(200, 300)]))
        # NO sidecars yet: the zone pass must already prune to 1 segment
        lookup = B.read_point_lookup(spark, t, "id", [150])
        assert {(r.id, r.v) for r in lookup.collect()} == {(150, "b150")}
        assert len({f.split("/")[-2] for f in lookup.inputFiles()}) == 1
        # typo'd column fails synchronously, not as a stream crash
        with pytest.raises(ValueError, match="idd"):
            sink.start_bloom_index_stream(spark, t, "idd")
        # continuous sidecar maintenance: stream indexes new segments;
        # the wait probe is SIDE-EFFECT-FREE (bloom_surviving_segments
        # never builds) so the stream alone must do the indexing
        q = sink.start_bloom_index_stream(
            spark, t, "id", checkpoint_dir=str(tmp_path / "cp"))
        try:
            V.append(spark, t, mk([(i, f"d{i}") for i in range(300, 400)]))
            import time as _time
            deadline = _time.time() + 60
            keep, total = [None], 0
            while _time.time() < deadline:
                q.processAllAvailable()
                # absent value prunes EVERY segment only once all four
                # sidecars exist (unindexed segments are kept
                # conservatively)
                keep, total = B.bloom_surviving_segments(t, "id", [999_999])
                if total == 4 and keep == []:
                    break
                _time.sleep(0.3)
        finally:
            q.stop()
        assert (total, keep) == (4, []), (total, keep)
        got = {(r.id, r.v) for r in
               B.read_point_lookup(spark, t, "id", [42, 333]).collect()}
        assert got == {(42, "a42"), (333, "d333")}
        # numpy scalar lookups order correctly against zone stats
        np = pytest.importorskip("numpy")
        got_np = {r.id for r in
                  B.read_point_lookup(spark, t, "id",
                                      np.array([42, 333])).collect()}
        assert got_np == {42, 333}

    def test_bloom_probe_parity_spark_vs_python(self, spark):
        """The prune decision is driver-side Python while the bitmap is
        built Spark-side — the two probe implementations must agree
        position-for-position (long and string keys) or pruning would
        silently drop true rows."""
        from rclip_server_spark.sources import bloomindex as B

        vals = [0, 1, 7, 123456789, -5, "abc", "Ω unicode", ""]
        df = spark.createDataFrame([(str(v),) for v in vals], "s string")
        spark_pos = [
            r.ps for r in df.select(
                B._probe_positions_expr("s", 8192, 4).alias("ps")).collect()
        ]
        py_pos = [B._py_probes(v, 8192, 4) for v in vals]
        assert [list(p) for p in spark_pos] == py_pos

    def test_join_view_incremental_equals_recompute(self, spark, tmp_path):
        """Two-source JOIN view maintained by the signed delta rule
        (ΔL⋈R_old + L_new⋈ΔR): after every refresh — left appends, right
        appends, left deletes, a right upsert that MOVES join keys, and a
        BOTH-SIDES-advanced interval — the view equals the direct
        join+groupBy of the two heads. NULL join keys never pair (inner
        join), NULL group keys merge null-safely, and a group retracting
        to zero leaves the view."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "orders")
        rt = str(tmp_path / "cust")
        vw = str(tmp_path / "view")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, ckey long, amount long")
        mkc = lambda rows: spark.createDataFrame(
            rows, "c_id long, ckey long, seg string")
        V.create(spark, lt, mko([(1, 10, 5), (2, 10, 7), (3, 20, 11),
                                 (4, None, 99), (5, 30, 13)]))
        V.create(spark, rt, mkc([(100, 10, "A"), (101, 20, "B"),
                                 (102, 40, "C"), (103, 20, None)]))
        MV.create_join_view(spark, lt, rt, vw, on="ckey",
                            left_key="o_id", right_key="c_id",
                            group_cols=["seg"], sum_cols=["amount"])

        def check():
            got = sorted(
                ((r.seg, r.cnt, r.sum_amount) for r in
                 V.read(spark, vw).select("seg", "cnt", "sum_amount")
                 .collect()),
                key=lambda x: (x[0] is None, x[0]))
            want = sorted(
                ((r.seg, r.cnt, r.sum_amount) for r in
                 V.read(spark, lt).join(V.read(spark, rt), "ckey")
                 .groupBy("seg").agg(
                     F.count(F.lit(1)).alias("cnt"),
                     F.sum("amount").alias("sum_amount")).collect()),
                key=lambda x: (x[0] is None, x[0]))
            assert got == want, (got, want)

        check()  # initial materialization
        # left append (fast-path ΔL ⋈ R_old)
        V.append(spark, lt, mko([(6, 20, 17), (7, 40, 19), (8, None, 1)]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # right append (L_new ⋈ ΔR): ckey 30 gains its first match
        V.append(spark, rt, mkc([(104, 30, "A")]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # left delete (retraction through the join)
        V.delete_rows(spark, lt, [2, 7], "o_id")
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # right upsert MOVES a join key (101: 20 -> 50) — its old pairs
        # retract, and seg C's only pair (o7) is already gone
        V.upsert(spark, rt, mkc([(101, 50, "B"), (105, 99, "D")]), "c_id")
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        assert "B" not in {r.seg for r in V.read(spark, vw).collect()}
        # BOTH sides advance before one refresh (incl. ΔL⋈ΔR pairs:
        # new order ckey=99 must pair with the new customer 105)
        V.append(spark, lt, mko([(9, 99, 23), (10, 10, 29)]))
        V.delete_rows(spark, rt, [100], "c_id")
        V.append(spark, rt, mkc([(106, 10, "E")]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        got = {(r.seg, r.cnt) for r in V.read(spark, vw).collect()}
        assert ("D", 1) in got  # the ΔL⋈ΔR pair landed exactly once
        # idempotent when fresh; both cursors track their heads
        v = V.current_version(vw)
        assert MV.refresh_join_view(spark, vw, recompute_fraction=None) == v
        spec = MV._spec_jv(vw)
        assert spec["jv_left_version"] == V.current_version(lt)
        assert spec["jv_right_version"] == V.current_version(rt)

    def test_join_view_minmax_recompute_affected_groups(
        self, spark, tmp_path
    ):
        """Join-view MIN/MAX: insert-only groups merge monotonically;
        deleting the pair that holds a group's maximum — via a LEFT
        delete, and via a RIGHT upsert that moves a join key — must
        recompute the group from the pinned L⋈R and land on the true new
        extreme. Equality with the direct join+groupBy (cnt, sum, min,
        max) is checked after every refresh, including a both-sides
        interval."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        vw = str(tmp_path / "view")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, ckey long, amount long")
        mkc = lambda rows: spark.createDataFrame(
            rows, "c_id long, ckey long, seg string")
        V.create(spark, lt, mko([(1, 10, 5), (2, 10, 70), (3, 20, 11)]))
        V.create(spark, rt, mkc([(100, 10, "A"), (101, 20, "B")]))
        MV.create_join_view(spark, lt, rt, vw, on="ckey",
                            left_key="o_id", right_key="c_id",
                            group_cols=["seg"], sum_cols=["amount"],
                            minmax_cols=["amount"])

        def check():
            got = sorted(
                (r.seg, r.cnt, r.sum_amount, r.min_amount, r.max_amount)
                for r in V.read(spark, vw).select(
                    "seg", "cnt", "sum_amount", "min_amount",
                    "max_amount").collect())
            want = sorted(
                (r.seg, r.cnt, r.sum_amount, r.min_amount, r.max_amount)
                for r in V.read(spark, lt).join(V.read(spark, rt), "ckey")
                .groupBy("seg").agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("amount").alias("sum_amount"),
                    F.min("amount").alias("min_amount"),
                    F.max("amount").alias("max_amount")).collect())
            assert got == want, (got, want)

        check()
        # insert-only: monotone merge (A's max grows to 99, min holds)
        V.append(spark, lt, mko([(4, 10, 99), (5, 20, 1)]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # LEFT delete removes A's current max (99) -> recompute finds 70
        V.delete_rows(spark, lt, [4], "o_id")
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        row_a = {r.seg: r for r in V.read(spark, vw).collect()}["A"]
        assert row_a.max_amount == 70 and row_a.min_amount == 5
        # RIGHT upsert moves customer 100 from ckey 10 to 30: group A
        # loses ALL its pairs (leaves the view); o-rows at ckey 30 none
        V.upsert(spark, rt, mkc([(100, 30, "A")]), "c_id")
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        assert "A" not in {r.seg for r in V.read(spark, vw).collect()}
        # BOTH sides advance: new left rows at ckey 30 (pairs with the
        # moved customer) + right delete of customer 101 (B retracts)
        V.append(spark, lt, mko([(6, 30, 42), (7, 30, 8)]))
        V.delete_rows(spark, rt, [101], "c_id")
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        got = {(r.seg, r.min_amount, r.max_amount)
               for r in V.read(spark, vw).collect()}
        assert got == {("A", 8, 42)}, got

    def test_join_view_minmax_schema_evolution_both_sides(
        self, spark, tmp_path
    ):
        """Both sides advance while the LEFT source's schema evolves (a
        non-spec column dropped between cursor and head): the minmax
        tier's pair union must not fail on the column mismatch
        (_aligned_snapshots widens the delta side; the tier projects to
        spec columns before the union), and the result still equals the
        direct join+groupBy."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        vw = str(tmp_path / "view")
        V.create(spark, lt, spark.createDataFrame(
            [(1, 10, 5, "x"), (2, 20, 7, "y")],
            "o_id long, ckey long, amount long, extra string"))
        V.create(spark, rt, spark.createDataFrame(
            [(100, 10, "A"), (101, 20, "B")],
            "c_id long, ckey long, seg string"))
        MV.create_join_view(spark, lt, rt, vw, on="ckey",
                            left_key="o_id", right_key="c_id",
                            group_cols=["seg"], sum_cols=["amount"],
                            minmax_cols=["amount"])
        # left OVERWRITE drops 'extra' (schema evolution) and retracts
        # o2; right advances in the same interval
        V.overwrite(spark, lt, spark.createDataFrame(
            [(1, 10, 5), (3, 20, 99)],
            "o_id long, ckey long, amount long"))
        V.append(spark, rt, spark.createDataFrame(
            [(102, 30, "C")], "c_id long, ckey long, seg string"))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        got = sorted(
            (r.seg, r.cnt, r.sum_amount, r.min_amount, r.max_amount)
            for r in V.read(spark, vw).select(
                "seg", "cnt", "sum_amount", "min_amount",
                "max_amount").collect())
        want = sorted(
            (r.seg, r.cnt, r.sum_amount, r.min_amount, r.max_amount)
            for r in V.read(spark, lt).join(V.read(spark, rt), "ckey")
            .groupBy("seg").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("amount").alias("sum_amount"),
                F.min("amount").alias("min_amount"),
                F.max("amount").alias("max_amount")).collect())
        assert got == want, (got, want)

    def test_views_compose_agg_over_transform_view(self, spark, tmp_path):
        """VIEWS COMPOSE: an agg view whose SOURCE is a flatMap-style
        transform view (key repeats per output row — one doc, many
        tokens). The transform view's rewrites reach the agg view through
        the MULTISET snapshot diff (full-row multiplicities); the keyed
        diff would pair old×new rows per key and over-count (the exact
        bug this test pins: upserting doc 1 from 'a b' to 'z' must yield
        cnt('z') == 1, not 2)."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        tv = str(tmp_path / "tview")
        av = str(tmp_path / "aview")
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        def toks(df):
            return df.select(
                "doc_id", F.explode(F.split("text", " ")).alias("tok"))

        V.create(spark, t, mk([(1, "a b"), (2, "c d e")]))
        MV.create_transform_view(spark, t, tv, key="doc_id",
                                 transform=toks, name="toks-v1")
        MV.create_agg_view(spark, tv, av, key="doc_id", group_cols=["tok"])

        def check():
            got = sorted((r.tok, r.cnt) for r in
                         MV.read_agg_view(spark, av).collect())
            want = sorted((r.tok, r.cnt) for r in
                          toks(V.read(spark, t)).groupBy("tok").agg(
                              F.count(F.lit(1)).alias("cnt")).collect())
            assert got == want, (got, want)

        # append with duplicate tokens inside one doc ('a a f')
        V.append(spark, t, mk([(3, "a a f")]))
        MV.refresh_transform_view(spark, tv, toks, "toks-v1", recompute_fraction=None)
        MV.refresh_agg_view(spark, av, recompute_fraction=None)
        check()
        # upsert: doc 1's two token rows REPLACED by one — the keyed diff
        # would emit 'z' twice here
        V.upsert(spark, t, mk([(1, "z")]), "doc_id")
        MV.refresh_transform_view(spark, tv, toks, "toks-v1", recompute_fraction=None)
        MV.refresh_agg_view(spark, av, recompute_fraction=None)
        check()
        assert {r.cnt for r in MV.read_agg_view(spark, av).collect()
                if r.tok == "z"} == {1}
        # delete: doc 3's duplicate-token rows retract with multiplicity
        V.delete_rows(spark, t, [3], "doc_id")
        MV.refresh_transform_view(spark, tv, toks, "toks-v1", recompute_fraction=None)
        MV.refresh_agg_view(spark, av, recompute_fraction=None)
        check()
        assert "a" not in {r.tok for r in
                           MV.read_agg_view(spark, av).collect()}

    def test_table_changes_multiset_exact_multiplicities(
        self, spark, tmp_path
    ):
        """The multiset CDC read emits |Δcount| rows per distinct full
        row: duplicates retract with multiplicity, NULL-valued rows group
        null-safely, and append-only intervals still take the insert
        fast path."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        mk = lambda rows: spark.createDataFrame(rows, "id long, val string")
        V.create(spark, t, mk([(1, "x"), (1, "x"), (1, "x"),
                               (2, None), (3, "y")]))
        # append-only interval: pure inserts (fast path)
        V.append(spark, t, mk([(4, "w")]))
        ch = V.table_changes_multiset(spark, t, from_version=1)
        assert [(r.id, r.val, r._change_type) for r in ch.collect()] == \
            [(4, "w", "insert")]
        # rewrite: (1,x) 3 -> 1 copies (2 deletes), (2,NULL) stays
        # (no change row), (3,y) -> (3,Y) (delete+insert), (4,w) gone,
        # (5,z) new
        V.overwrite(spark, t, mk([(1, "x"), (2, None), (3, "Y"),
                                  (5, "z")]))
        ch2 = V.table_changes_multiset(spark, t, from_version=2)
        got = sorted((r.id, r.val, r._change_type) for r in ch2.collect())
        assert got == [
            (1, "x", "delete"), (1, "x", "delete"),
            (3, "Y", "insert"), (3, "y", "delete"),
            (4, "w", "delete"), (5, "z", "insert"),
        ], got

    def test_join_view_create_validation(self, spark, tmp_path):
        """Create-time guards: overlapping non-join column names, missing
        join column, non-integral sum columns, unknown group columns."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        V.create(spark, lt, spark.createDataFrame(
            [(1, 10, 1.5)], "id long, k long, x double"))
        V.create(spark, rt, spark.createDataFrame(
            [(2, 10, "a")], "rid long, k long, seg string"))
        with pytest.raises(ValueError, match="join column"):
            MV.create_join_view(spark, lt, rt, str(tmp_path / "v1"),
                                on="nope", left_key="id", right_key="rid",
                                group_cols=["seg"])
        with pytest.raises(TypeError, match="integer-valued"):
            MV.create_join_view(spark, lt, rt, str(tmp_path / "v2"),
                                on="k", left_key="id", right_key="rid",
                                group_cols=["seg"], sum_cols=["x"])
        with pytest.raises(ValueError, match="not in either"):
            MV.create_join_view(spark, lt, rt, str(tmp_path / "v3"),
                                on="k", left_key="id", right_key="rid",
                                group_cols=["ghost"])
        rt2 = str(tmp_path / "r2")
        V.create(spark, rt2, spark.createDataFrame(
            [(2, 10, "a")], "id long, k long, seg string"))
        with pytest.raises(ValueError, match="unique across"):
            MV.create_join_view(spark, lt, rt2, str(tmp_path / "v4"),
                                on="k", left_key="id", right_key="id",
                                group_cols=["seg"])

    def test_join_view_streaming_refresh_both_sources(
        self, spark, tmp_path
    ):
        """A commit on EITHER source wakes the join view's maintenance
        (ONE streaming query over the union of both manifest tails — a
        single refresher, so the two sources never race each other's OCC
        commits); final state equals the direct join+groupBy."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        vw = str(tmp_path / "view")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, ckey long, amount long")
        mkc = lambda rows: spark.createDataFrame(
            rows, "c_id long, ckey long, seg string")
        V.create(spark, lt, mko([(1, 10, 5)]))
        V.create(spark, rt, mkc([(100, 10, "A"), (101, 20, "B")]))
        MV.create_join_view(spark, lt, rt, vw, on="ckey",
                            left_key="o_id", right_key="c_id",
                            group_cols=["seg"], sum_cols=["amount"])
        q = sink.start_join_view_refresh_stream(
            spark, vw, checkpoint_dir=str(tmp_path / "cp"))
        try:
            V.append(spark, lt, mko([(2, 20, 7), (3, 10, 11)]))
            V.append(spark, rt, mkc([(102, 30, "A")]))
            V.append(spark, lt, mko([(4, 30, 13)]))
            import time as _time
            deadline = _time.time() + 60
            while _time.time() < deadline:
                q.processAllAvailable()
                spec = MV._spec_jv(vw)
                if (spec["jv_left_version"] == V.current_version(lt)
                        and spec["jv_right_version"]
                        == V.current_version(rt)):
                    break
                _time.sleep(0.3)
        finally:
            q.stop()
        got = sorted((r.seg, r.cnt, r.sum_amount) for r in
                     V.read(spark, vw)
                     .select("seg", "cnt", "sum_amount").collect())
        want = sorted((r.seg, r.cnt, r.sum_amount) for r in
                      V.read(spark, lt).join(V.read(spark, rt), "ckey")
                      .groupBy("seg").agg(
                          F.count(F.lit(1)).alias("cnt"),
                          F.sum("amount").alias("sum_amount")).collect())
        assert got == want, (got, want)

    def test_table_changes_across_schema_evolution(self, spark, tmp_path):
        """Snapshot diff between versions with DIFFERENT schemas: a column
        added after v1 reads as NULL on the old side (and a row whose only
        change is gaining a value in the new column classifies as an
        update). Without union-alignment the struct projection crashes."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, val string"))
        # overwrite with an EVOLVED schema: new column 'score'
        V.overwrite(spark, t, spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", None)],
            "id long, val string, score double"))
        ch = V.table_changes(spark, t, from_version=1, key="id")
        got = {(r.id, r._change_type, r.score) for r in ch.collect()}
        # row 1 gained a score (NULL -> 1.5): update; row 2's score stays
        # NULL-equal: no change row at all
        assert got == {(1, "update_post", 1.5)}
        # pre-image form agrees and carries the old side's NULL
        chp = V.table_changes(spark, t, from_version=1, key="id",
                              include_preimage=True)
        gotp = sorted((r.id, r._change_type, r.score) for r in chp.collect())
        assert gotp == [(1, "update_postimage", 1.5),
                        (1, "update_preimage", None)]

    def test_agg_view_over_bucketed_source(self, spark, tmp_path):
        """The view machinery is layout-agnostic: a BUCKETED source's
        appends ride the CDC fast path (append-bucketed is in the
        append-only op set) and its upserts the bucketed snapshot diff —
        the view equals the recompute after both."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, v long")
        V.create_bucketed(spark, t,
                          mk([(i, "ab"[i % 2], i) for i in range(20)]),
                          "id", n_buckets=4)
        MV.create_agg_view(spark, t, vw, key="id",
                           group_cols=["grp"], sum_cols=["v"])

        def check():
            got = sorted((r.grp, r.cnt, r.sum_v) for r in
                         MV.read_agg_view(spark, vw).collect())
            want = sorted((r.grp, r.cnt, r.sum_v) for r in
                          V.read_bucketed(spark, t).groupBy("grp").agg(
                              F.count(F.lit(1)).alias("cnt"),
                              F.sum("v").alias("sum_v")).collect())
            assert got == want, (got, want)

        V.append_bucketed(spark, t, mk([(100, "c", 9), (101, "a", 1)]))
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()
        V.upsert_bucketed(spark, t, mk([(100, "c", 90), (5, "a", -5)]))
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)
        check()

    def test_join_view_over_bucketed_left_source(self, spark, tmp_path):
        """Join views are layout-agnostic too: a BUCKETED left source's
        appends ride the fast path and its bucketed upsert the multiset
        snapshot diff; min/max recompute reads the bucketed snapshot
        through the dispatching _read_source. View equals recompute
        after both."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        vw = str(tmp_path / "view")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, ckey long, amount long")
        V.create_bucketed(spark, lt,
                          mko([(i, 10 + (i % 2) * 10, i * 3) for i in
                               range(10)]),
                          "o_id", n_buckets=4)
        V.create(spark, rt, spark.createDataFrame(
            [(100, 10, "A"), (101, 20, "B")],
            "c_id long, ckey long, seg string"))
        MV.create_join_view(spark, lt, rt, vw, on="ckey",
                            left_key="o_id", right_key="c_id",
                            group_cols=["seg"], sum_cols=["amount"],
                            minmax_cols=["amount"])

        def check():
            got = sorted(
                (r.seg, r.cnt, r.sum_amount, r.min_amount, r.max_amount)
                for r in V.read(spark, vw).select(
                    "seg", "cnt", "sum_amount", "min_amount",
                    "max_amount").collect())
            want = sorted(
                (r.seg, r.cnt, r.sum_amount, r.min_amount, r.max_amount)
                for r in V.read_bucketed(spark, lt)
                .join(V.read(spark, rt), "ckey")
                .groupBy("seg").agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("amount").alias("sum_amount"),
                    F.min("amount").alias("min_amount"),
                    F.max("amount").alias("max_amount")).collect())
            assert got == want, (got, want)

        check()
        V.append_bucketed(spark, lt, mko([(100, 10, 99)]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # bucketed upsert retracts the max of group A (99 -> 2)
        V.upsert_bucketed(spark, lt, mko([(100, 10, 2)]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        row_a = {r.seg: r for r in V.read(spark, vw).collect()}["A"]
        assert row_a.max_amount < 99

    def test_topk_view_over_join_view_composes(self, spark, tmp_path):
        """Leaderboard over a JOIN: a per-group top-k view whose SOURCE
        is a join view (possible because views are versioned tables and
        the top-k refresher consumes the multiset diff — the join view's
        overwrite commits have no row identity). After joins gain and
        lose pairs, the maintained ranking equals row_number() over the
        recomputed join aggregate."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        jv = str(tmp_path / "jview")
        kv = str(tmp_path / "kview")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, ckey long, amount long")
        mkc = lambda rows: spark.createDataFrame(
            rows, "c_id long, ckey long, region string, seg string")
        V.create(spark, lt, mko([(i, i % 6, (i * 7) % 23)
                                 for i in range(24)]))
        V.create(spark, rt, mkc([(100 + k, k, "rx"[k % 2] * 1,
                                  "ABC"[k % 3]) for k in range(6)]))
        # join view: revenue per (region, seg)
        MV.create_join_view(spark, lt, rt, jv, on="ckey",
                            left_key="o_id", right_key="c_id",
                            group_cols=["region", "seg"],
                            sum_cols=["amount"])
        # top-k view OVER the join view: top-2 segs per region by revenue
        MV.create_topk_view(spark, jv, kv, key="seg",
                            group_cols=["region"],
                            score_col="sum_amount", k=2)

        def check():
            from pyspark.sql import Window
            got = sorted((r.region, r.rnk, r.seg, r.sum_amount)
                         for r in V.read(spark, kv).collect())
            agg = (V.read(spark, lt).join(V.read(spark, rt), "ckey")
                   .groupBy("region", "seg")
                   .agg(F.sum("amount").alias("sum_amount")))
            w = Window.partitionBy("region").orderBy(
                F.desc("sum_amount"), F.asc("seg"))
            want = sorted(
                (r.region, r.rnk, r.seg, r.sum_amount) for r in
                agg.withColumn(
                    "rnk", F.row_number().over(w).cast("long"))
                .where(F.col("rnk") <= 2).collect())
            assert got == want, (got, want)

        check()
        # left append changes revenues -> join view overwrite -> top-k
        # consumes the rewrite through the multiset diff
        V.append(spark, lt, mko([(100, 0, 50), (101, 3, 40)]))
        MV.refresh_join_view(spark, jv, recompute_fraction=None)
        MV.refresh_topk_view(spark, kv, recompute_fraction=None)
        check()
        # right delete drops a customer: its (region, seg) groups retract
        V.delete_rows(spark, rt, [103], "c_id")
        MV.refresh_join_view(spark, jv, recompute_fraction=None)
        MV.refresh_topk_view(spark, kv, recompute_fraction=None)
        check()

    def test_join_table_view_equals_join_recompute(self, spark, tmp_path):
        """Row-level JOIN TABLE view (the maintained denormalization
        table): after left appends, right appends, left deletes, a right
        upsert that rewrites payloads AND moves a join key, and a
        BOTH-SIDES interval whose left-insert pairs a right-deleted row
        (the net-zero case the full-row netting exists for), the view's
        rows equal the direct join of the two heads."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        vw = str(tmp_path / "view")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, ckey long, amount long")
        mkc = lambda rows: spark.createDataFrame(
            rows, "c_id long, ckey long, seg string")
        V.create(spark, lt, mko([(1, 10, 5), (2, 20, 7), (3, None, 9)]))
        V.create(spark, rt, mkc([(100, 10, "A"), (101, 20, "B"),
                                 (102, 30, None)]))
        MV.create_join_table_view(spark, lt, rt, vw, on="ckey",
                                  left_key="o_id", right_key="c_id")

        def check():
            got = sorted(
                (r.o_id, r.c_id, r.ckey, r.amount, r.seg) for r in
                V.read(spark, vw).collect())
            want = sorted(
                (r.o_id, r.c_id, r.ckey, r.amount, r.seg) for r in
                V.read(spark, lt).join(V.read(spark, rt), "ckey")
                .collect())
            assert got == want, (got, want)

        check()
        # left append: provably append-only interval -> the refresh must
        # commit a PLAIN APPEND (manifest-pinned; no netting, no vector)
        V.append(spark, lt, mko([(4, 30, 11), (5, 10, 13)]))
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        check()
        assert V._manifest(vw, V.current_version(vw))["op"] == "append"
        # right upsert: payload rewrite (100) + join-key move (101: 20->40)
        V.upsert(spark, rt, mkc([(100, 10, "A2"), (101, 40, "B")]), "c_id")
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        check()
        assert "A2" in {r.seg for r in V.read(spark, vw).collect()}
        # left delete
        V.delete_rows(spark, lt, [2], "o_id")
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        check()
        # BOTH sides: new left row at ckey 30 while customer 102 (ckey
        # 30) is DELETED in the same interval — term-1 inserts the pair,
        # term-2 retracts it, the net must vanish (no phantom row)
        V.append(spark, lt, mko([(6, 30, 17)]))
        V.delete_rows(spark, rt, [102], "c_id")
        V.append(spark, rt, mkc([(103, 50, "C")]))
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        check()
        assert not [r for r in V.read(spark, vw).collect()
                    if r.ckey == 30]
        # idempotent when fresh; cursors track heads
        v = V.current_version(vw)
        assert MV.refresh_join_table_view(spark, vw, recompute_fraction=None) == v
        spec = MV._spec_jt(vw)
        assert spec["jt_left_version"] == V.current_version(lt)
        assert spec["jt_right_version"] == V.current_version(rt)
        # NULL row-identity keys are rejected at create (a null key
        # would collide pair identities and misdelete)
        badl = str(tmp_path / "badl")
        V.create(spark, badl, mko([(None, 10, 1)]))
        with pytest.raises(ValueError, match="NULL"):
            MV.create_join_table_view(spark, badl, rt,
                                      str(tmp_path / "badview"),
                                      on="ckey", left_key="o_id",
                                      right_key="c_id")

    def test_join_table_view_auto_compact_bounds_segments(
        self, spark, tmp_path
    ):
        """auto_compact=True on the join-table refresher (covering BOTH
        commit branches — the append-only fast path and the
        vector+append rewrite path) keeps segment count bounded across
        refresh cycles with row content identical to the direct join."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        vw = str(tmp_path / "view")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, ckey long, amount long")
        V.create(spark, lt, mko([(0, 0, 1)]))
        V.create(spark, rt, spark.createDataFrame(
            [(100 + k, k, f"s{k}") for k in range(4)],
            "c_id long, ckey long, seg string"))
        MV.create_join_table_view(spark, lt, rt, vw, on="ckey",
                                  left_key="o_id", right_key="c_id")
        threshold = 4
        seg_counts = []
        for i in range(1, 11):
            if i % 4 == 0:
                V.upsert(spark, lt, mko([(i - 1, (i + 1) % 4, i)]), "o_id")
            else:
                V.append(spark, lt, mko([(i, i % 4, i * 3)]))
            MV.refresh_join_table_view(spark, vw, auto_compact=True,
                                       compact_threshold=threshold, recompute_fraction=None)
            m = V._manifest(vw, V.current_version(vw))
            seg_counts.append(len(m["segments"]) +
                              len(m.get("delete_segs") or []))
            got = sorted((r.o_id, r.c_id, r.amount) for r in
                         V.read(spark, vw).collect())
            want = sorted((r.o_id, r.c_id, r.amount) for r in
                          V.read(spark, lt)
                          .join(V.read(spark, rt), "ckey").collect())
            assert got == want, (i, got, want)
        assert max(seg_counts) <= threshold + 1, seg_counts
        assert min(seg_counts) == 1, seg_counts  # compaction fired
        spec = MV._spec_jt(vw)
        assert spec["jt_left_version"] == V.current_version(lt)

    def test_join_table_view_streaming_refresh(self, spark, tmp_path):
        """Streaming maintenance for the row-level join table: one query
        over both manifest tails keeps the denormalization rows fresh
        through a left append and a right delete; final rows equal the
        direct join."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        vw = str(tmp_path / "view")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, ckey long, amount long")
        mkc = lambda rows: spark.createDataFrame(
            rows, "c_id long, ckey long, seg string")
        V.create(spark, lt, mko([(1, 10, 5)]))
        V.create(spark, rt, mkc([(100, 10, "A"), (101, 20, "B")]))
        MV.create_join_table_view(spark, lt, rt, vw, on="ckey",
                                  left_key="o_id", right_key="c_id")
        q = sink.start_join_table_view_refresh_stream(
            spark, vw, checkpoint_dir=str(tmp_path / "cp"))
        try:
            V.append(spark, lt, mko([(2, 20, 7), (3, 10, 11)]))
            V.delete_rows(spark, rt, [100], "c_id")
            import time as _time
            deadline = _time.time() + 60
            while _time.time() < deadline:
                q.processAllAvailable()
                spec = MV._spec_jt(vw)
                if (spec["jt_left_version"] == V.current_version(lt)
                        and spec["jt_right_version"]
                        == V.current_version(rt)):
                    break
                _time.sleep(0.3)
        finally:
            q.stop()
        got = sorted((r.o_id, r.c_id, r.amount, r.seg) for r in
                     V.read(spark, vw).collect())
        want = sorted((r.o_id, r.c_id, r.amount, r.seg) for r in
                      V.read(spark, lt).join(V.read(spark, rt), "ckey")
                      .collect())
        assert got == want, (got, want)

    def test_describe_view_kinds_and_freshness(self, spark, tmp_path):
        """describe_view reports kind + per-source cursor/head/lag for
        all four view kinds (manifest-only, zero Spark jobs); lag tracks
        source commits and returns to fresh after refresh; a plain
        versioned table raises."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, k long, g string, v long")
        V.create(spark, lt, mk([(1, 0, "a", 2)]))
        V.create(spark, rt, spark.createDataFrame(
            [(9, 0, "s")], "rid long, k long, seg string"))
        av = str(tmp_path / "av")
        tv = str(tmp_path / "tv")
        kv = str(tmp_path / "kv")
        jv = str(tmp_path / "jv")
        MV.create_agg_view(spark, lt, av, key="id", group_cols=["g"])
        ident = lambda df: df.select("id", "v")
        MV.create_transform_view(spark, lt, tv, key="id",
                                 transform=ident, name="i1")
        MV.create_topk_view(spark, lt, kv, key="id", group_cols=["g"],
                            score_col="v", k=2)
        MV.create_join_view(spark, lt, rt, jv, on="k", left_key="id",
                            right_key="rid", group_cols=["seg"])
        jtv = str(tmp_path / "jtv")
        MV.create_join_table_view(spark, lt, rt, jtv, on="k",
                                  left_key="id", right_key="rid")
        for p, kind, n_src in ((av, "agg", 1), (tv, "transform", 1),
                               (kv, "topk", 1), (jv, "join", 2),
                               (jtv, "join_table", 2)):
            d = MV.describe_view(p)
            assert d["view_kind"] == kind and d["fresh"]
            assert len(d["sources"]) == n_src
        V.append(spark, lt, mk([(2, 0, "b", 3)]))
        d = MV.describe_view(jv)
        assert not d["fresh"]
        assert [s["lag"] for s in d["sources"]] == [1, 0]
        MV.refresh_join_view(spark, jv, recompute_fraction=None)
        assert MV.describe_view(jv)["fresh"]
        with pytest.raises(ValueError, match="not a maintained view"):
            MV.describe_view(lt)

    def test_transform_view_concurrent_refreshers_no_double_apply(
        self, spark, tmp_path
    ):
        """The silent-corruption race: two refreshers reading the same
        cursor must NOT both append the same transformed rows. The commit
        is pinned to the view version read at entry, so the loser raises
        and its retry re-reads the advanced cursor (a no-op interval) —
        the view holds each posting exactly once."""
        import threading

        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        def postings(df):
            return df.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))

        V.create(spark, t, mk([(1, "a b")]))
        MV.create_transform_view(spark, t, vw, key="doc_id",
                                 transform=postings, name="p1")
        V.append(spark, t, mk([(2, "c d"), (3, "e")]))
        errors = []

        def refresher():
            try:
                MV.refresh_transform_view_with_retry(
                    spark, vw, postings, "p1", max_retries=20, recompute_fraction=None)
            except Exception as e:
                errors.append(e)

        threads = [threading.Thread(target=refresher) for _ in range(3)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        got = sorted((r.doc_id, r.tok) for r in V.read(spark, vw).collect())
        want = sorted((r.doc_id, r.tok) for r in
                      postings(V.read(spark, t)).collect())
        assert got == want, (got, want)  # no duplicates, no losses

    def test_join_view_concurrent_refreshers_no_double_apply(
        self, spark, tmp_path
    ):
        """Join-view OCC: three refreshers racing on the same TWO-cursor
        interval must apply it exactly once — the overwrite is pinned to
        the view version read at entry, the losers rebase onto the
        advanced cursors (no-op intervals), and the view equals the
        direct join+groupBy afterwards."""
        import threading

        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        vw = str(tmp_path / "view")
        V.create(spark, lt, spark.createDataFrame(
            [(1, 10, 5)], "o_id long, ckey long, amount long"))
        V.create(spark, rt, spark.createDataFrame(
            [(100, 10, "A"), (101, 20, "B")],
            "c_id long, ckey long, seg string"))
        MV.create_join_view(spark, lt, rt, vw, on="ckey",
                            left_key="o_id", right_key="c_id",
                            group_cols=["seg"], sum_cols=["amount"])
        V.append(spark, lt, spark.createDataFrame(
            [(2, 10, 7), (3, 20, 11)], "o_id long, ckey long, amount long"))
        V.append(spark, rt, spark.createDataFrame(
            [(102, 10, "B")], "c_id long, ckey long, seg string"))
        errors = []

        def refresher():
            try:
                MV.refresh_join_view_with_retry(spark, vw, max_retries=20, recompute_fraction=None)
            except Exception as e:
                errors.append(e)

        threads = [threading.Thread(target=refresher) for _ in range(3)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        got = sorted((r.seg, r.cnt, r.sum_amount) for r in
                     V.read(spark, vw)
                     .select("seg", "cnt", "sum_amount").collect())
        want = sorted((r.seg, r.cnt, r.sum_amount) for r in
                      V.read(spark, lt).join(V.read(spark, rt), "ckey")
                      .groupBy("seg").agg(
                          F.count(F.lit(1)).alias("cnt"),
                          F.sum("amount").alias("sum_amount")).collect())
        assert got == want, (got, want)

    def test_transform_view_refresh_is_one_commit(self, spark, tmp_path):
        """An update interval refreshes in ONE commit (delete-append), so
        no reader — and no crash point — can observe retracted keys
        without their replacement rows."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        def postings(df):
            return df.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))

        V.create(spark, t, mk([(1, "a b"), (2, "c")]))
        MV.create_transform_view(spark, t, vw, key="doc_id",
                                 transform=postings, name="p1")
        v0 = V.current_version(vw)
        V.upsert(spark, t, mk([(1, "z")]), "doc_id")
        MV.refresh_transform_view(spark, vw, postings, "p1", recompute_fraction=None)
        assert V.current_version(vw) == v0 + 1  # exactly one commit
        assert V._manifest(vw, v0 + 1)["op"] == "delete-append"
        got = sorted((r.doc_id, r.tok) for r in V.read(spark, vw).collect())
        assert got == [(1, "z"), (2, "c")]
        # every prior version is also consistent (never delete-only)
        for v in range(1, V.current_version(vw) + 1):
            ids = {r.doc_id for r in V.read(spark, vw, v).collect()}
            assert 1 in ids  # doc 1 present in every committed state

    def test_describe_and_sql_view(self, spark, tmp_path):
        """describe() answers 'what is this table?' from one manifest read
        (layout, rows, vectors, schema, app spec); register_sql_view pins
        a snapshot under a name for spark.sql — including time travel, and
        isolation from commits made after registration."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a"), (2, "b")]),
                 stat_cols=["id"])
        V.append(spark, t, self._df(spark, [(3, "c")]))
        V.delete_rows(spark, t, [2], "id")
        d = V.describe(t)
        assert d["version"] == 3 and d["layout"] == "flat"
        assert d["n_segments"] == 2 and d["row_count"] == 3  # pre-delete
        assert d["pending_delete_vectors"] == 1
        assert set(d["col_types"]) == {"id", "val"}
        assert d["stat_cols"] == ["id"]
        V.register_sql_view(spark, "vt_head", t)
        V.register_sql_view(spark, "vt_v1", t, version=1)
        assert {r.id for r in
                spark.sql("SELECT id FROM vt_head").collect()} == {1, 3}
        assert spark.sql("SELECT count(*) n FROM vt_v1").first().n == 2
        # snapshot isolation: commits after registration are invisible
        V.append(spark, t, self._df(spark, [(9, "z")]))
        assert {r.id for r in
                spark.sql("SELECT id FROM vt_head").collect()} == {1, 3}
        # bucketed layout reports its spec and registers too
        tb = str(tmp_path / "vb")
        V.create_bucketed(spark, tb, self._df(spark, [(i, "x") for i in
                                                      range(10)]),
                          "id", n_buckets=4)
        db = V.describe(tb)
        assert db["layout"] == "bucketed" and db["n_buckets"] == 4
        V.register_sql_view(spark, "vtb", tb)
        assert spark.sql("SELECT count(*) n FROM vtb").first().n == 10

    def test_view_refresh_after_source_vacuum_names_the_contract(
        self, spark, tmp_path
    ):
        """Vacuuming the source past a view's cursor must fail the refresh
        with the actual retention contract, not a bare ENOENT."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, v long")
        V.create(spark, t, mk([(1, "a", 1)]))
        MV.create_agg_view(spark, t, vw, key="id",
                           group_cols=["grp"], sum_cols=["v"])
        # rewrites force the snapshot-diff path, which reads v_from's
        # manifest; vacuum then removes it
        V.upsert(spark, t, mk([(1, "a", 2)]), "id")
        V.upsert(spark, t, mk([(1, "a", 3)]), "id")
        V.vacuum(t, keep_last=1)
        with pytest.raises(RuntimeError, match="vacuum|retain"):
            MV.refresh_agg_view(spark, vw, recompute_fraction=None)

    def test_transform_view_streaming_refresh(self, spark, tmp_path):
        """Continuous index maintenance: the manifest-log file tail wakes
        transform-view refreshes; after each source commit drains the
        index equals transform(source head)."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        ckpt = str(tmp_path / "ckpt")
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        def postings(df):
            return df.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))

        V.create(spark, t, mk([(1, "a b")]))
        MV.create_transform_view(spark, t, vw, key="doc_id",
                                 transform=postings, name="p1")
        q = sink.start_transform_view_refresh_stream(
            spark, vw, postings, "p1", checkpoint_dir=ckpt)
        try:
            V.append(spark, t, mk([(2, "c d"), (3, "e")]))
            q.processAllAvailable()
            got = sorted((r.doc_id, r.tok) for r in
                         V.read(spark, vw).collect())
            want = sorted((r.doc_id, r.tok) for r in
                          postings(V.read(spark, t)).collect())
            assert got == want, (got, want)
        finally:
            q.stop()

    def test_view_refresh_stream_survives_source_rewrites(
        self, spark, tmp_path
    ):
        """The maintenance stream must keep running through DELETE and
        UPSERT commits on the source — the retraction cases views exist
        for (a data-level CDC tail would die on the first rewrite; the
        manifest-tail wake-up is commit-type agnostic)."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        ckpt = str(tmp_path / "ckpt")
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        def postings(df):
            return df.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))

        V.create(spark, t, mk([(1, "a b"), (2, "c")]))
        MV.create_transform_view(spark, t, vw, key="doc_id",
                                 transform=postings, name="p1")
        # wrong name fails synchronously at start, not as a stream crash
        with pytest.raises(ValueError, match="p1"):
            sink.start_transform_view_refresh_stream(
                spark, vw, postings, "wrong", checkpoint_dir=ckpt + "x")
        q = sink.start_transform_view_refresh_stream(
            spark, vw, postings, "p1", checkpoint_dir=ckpt)
        try:
            V.delete_rows(spark, t, [2], "doc_id")      # rewrite commit
            V.upsert(spark, t, mk([(1, "z q")]), "doc_id")  # another
            V.append(spark, t, mk([(3, "e")]))
            q.processAllAvailable()
            assert q.isActive and q.exception() is None
            got = sorted((r.doc_id, r.tok) for r in
                         V.read(spark, vw).collect())
            want = sorted((r.doc_id, r.tok) for r in
                          postings(V.read(spark, t)).collect())
            assert got == want, (got, want)
        finally:
            q.stop()

    def test_agg_view_rejects_float_sum_cols_at_create(self, spark, tmp_path):
        """BIGINT-exact additivity is the maintenance contract: a DOUBLE
        sum column would silently accumulate float error across refreshes
        — create must fail loudly with the cents-rule guidance, and
        unknown columns fail as well."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        V.create(spark, t, spark.createDataFrame(
            [(1, "a", 1.5)], "id long, grp string, v double"))
        with pytest.raises(TypeError, match="cents"):
            MV.create_agg_view(spark, t, str(tmp_path / "x"), key="id",
                               group_cols=["grp"], sum_cols=["v"])
        with pytest.raises(ValueError, match="nope"):
            MV.create_agg_view(spark, t, str(tmp_path / "y"), key="id",
                               group_cols=["grp"], sum_cols=["nope"])
        # integral columns (and no sums at all) still create fine
        MV.create_agg_view(spark, t, str(tmp_path / "z"), key="id",
                           group_cols=["grp"])

    def test_topk_view_incremental_equals_recompute(self, spark, tmp_path):
        """Maintained per-group top-k: after appends (k-bounded re-rank,
        incl. rows that don't make the cut), deletes of ranked rows
        (affected-group recompute must RESURFACE the previously-evicted
        row), and an update moving a row between groups, the view equals
        the direct window recompute."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "src")
        vw = str(tmp_path / "view")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, score long")
        V.create(spark, t, mk([(1, "a", 10), (2, "a", 8), (3, "a", 6),
                               (4, "b", 5), (5, None, 3)]))
        MV.create_topk_view(spark, t, vw, key="id", group_cols=["grp"],
                            score_col="score", k=2)

        def check():
            got = sorted(
                ((r.grp, r.rnk, r.id, r.score) for r in
                 V.read(spark, vw).collect()),
                key=lambda x: (x[0] is None, x[0] or "", x[1]))
            want = sorted(
                ((r.grp, r.rnk, r.id, r.score) for r in
                 MV._topk_of(V.read(spark, t), ["grp"], "id", "score", 2)
                 .collect()),
                key=lambda x: (x[0] is None, x[0] or "", x[1]))
            assert got == want, (got, want)

        check()  # id 3 (score 6) is evicted from 'a' at create
        # insert beats rank 1 of 'a'; another insert misses the cut
        V.append(spark, t, mk([(6, "a", 99), (7, "a", 1), (8, "c", 2)]))
        MV.refresh_topk_view(spark, vw, recompute_fraction=None)
        check()
        # delete 'a's top row: recompute must pull id 2 back to rank 2
        # (and the long-evicted id 3 stays out only if it should)
        V.delete_rows(spark, t, [6, 1], "id")
        MV.refresh_topk_view(spark, vw, recompute_fraction=None)
        check()
        ranks_a = {(r.rnk, r.id) for r in V.read(spark, vw).collect()
                   if r.grp == "a"}
        assert ranks_a == {(1, 2), (2, 3)}  # evicted id 3 resurfaced
        # update moves id 4 from 'b' to the NULL group with a new score
        V.upsert(spark, t, mk([(4, None, 9)]), "id")
        MV.refresh_topk_view(spark, vw, recompute_fraction=None)
        check()
        # idempotent when fresh; cursor at head
        v = V.current_version(vw)
        assert MV.refresh_topk_view_with_retry(spark, vw, recompute_fraction=None) == v
        m = V._manifest(vw, v)
        assert m["app"]["kv_source_version"] == V.current_version(t)

    def test_occ_true_concurrent_writers_all_land(self, spark, tmp_path):
        """REAL concurrency (not a monkeypatched race): four threads each
        push three upserts through the retry loop against one table. The
        os.link commit point must arbitrate every collision so that ALL
        twelve updates land exactly once and the version chain is gapless."""
        import threading

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(0, "base")]))
        errors = []

        def writer(wid: int):
            try:
                for j in range(3):
                    upd = self._df(spark,
                                   [(100 * (wid + 1) + j, f"w{wid}j{j}")])
                    V.upsert_with_retry(spark, t, upd, "id", max_retries=20)
            except Exception as exc:  # surfaced after join
                errors.append((wid, exc))

        threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        got = {r.id: r.val for r in V.read(spark, t).collect()}
        assert len(got) == 13  # base + 12 concurrent upserts, none lost
        assert got[0] == "base"
        for w in range(4):
            for j in range(3):
                assert got[100 * (w + 1) + j] == f"w{w}j{j}"
        versions = [h["version"] for h in V.history(t)]
        assert versions == list(range(1, 14))  # gapless commit chain

    def test_vacuum_retention_protects_recent_versions(self, spark, tmp_path):
        """The reader-drain guard: retain_seconds keeps a just-expired
        version's manifest and segments alive even outside keep_last, so
        an in-flight reader that resolved it still completes."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a")]))
        V.overwrite(spark, t, self._df(spark, [(2, "b")]))
        V.overwrite(spark, t, self._df(spark, [(3, "c")]))
        reader = V.read(spark, t, 2)  # in-flight reader holding v2
        # all manifests were just written — a 1h retention keeps everything
        assert V.vacuum(t, keep_last=1, retain_seconds=3600.0) == []
        assert [tuple(r) for r in reader.collect()] == [(2, "b")]
        # with no retention the old versions are reaped as before
        deleted = V.vacuum(t, keep_last=1)
        assert len(deleted) == 2

    def test_vacuum_keeps_window_drops_rest(self, spark, tmp_path):
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a")]))
        V.overwrite(spark, t, self._df(spark, [(2, "b")]))
        V.overwrite(spark, t, self._df(spark, [(3, "c")]))
        deleted = V.vacuum(t, keep_last=1)
        assert len(deleted) == 2  # v1's and v2's segments
        assert [tuple(r) for r in V.read(spark, t).collect()] == [(3, "c")]
        with pytest.raises(FileNotFoundError):
            V.read(spark, t, 1)


def test_spark_bucketed_table_join_and_agg_shuffle_free(spark, tmp_path, embeddings):
    """Native bucketBy tables: a join of two tables bucketed on the same
    key/count and a groupBy on the bucket key both plan with ZERO
    Exchange — the at-rest co-location that makes repeated big joins
    shuffle-free. Results must match the plain-join oracle exactly."""
    a = embeddings.select("vec_id", "label")
    b = embeddings.select("vec_id", F.col("label").alias("label2"))
    writer.write_spark_bucketed_table(spark, a, "t_bt_a", "vec_id", 8,
                                      path=str(tmp_path / "a"))
    writer.write_spark_bucketed_table(spark, b, "t_bt_b", "vec_id", 8,
                                      path=str(tmp_path / "b"))
    try:
        j = (spark.table("t_bt_a").hint("merge")
             .join(spark.table("t_bt_b").hint("merge"), "vec_id"))
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan and "Exchange" not in plan
        # parity with the unbucketed join
        want = a.join(b, "vec_id").count()
        assert j.count() == want
        g = spark.table("t_bt_a").groupBy("vec_id").count()
        gplan = g._sc._jvm.PythonSQLUtils.explainString(
            g._jdf.queryExecution(), "formatted")
        assert "Exchange" not in gplan
        assert g.count() == a.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bt_a")
        spark.sql("DROP TABLE IF EXISTS t_bt_b")


class TestVersionedBucketed:
    """The versioned-manifest × bucketed-layout composition
    (sources/versioned.create_bucketed &c): bounded-rewrite MERGE with an
    atomic cross-bucket commit, snapshot isolation during the rewrite, and
    time travel on a bucketed table — the round-4 verdict's gap #3."""

    KEY = "id"

    @staticmethod
    def _df(spark, rows):
        return spark.createDataFrame(rows, ["id", "val"])

    def _base(self, spark):
        return self._df(spark, [(i, f"v{i}") for i in range(200)])

    def test_create_read_parity_with_flat(self, spark, tmp_path):
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "vb")
        assert V.create_bucketed(spark, t, self._base(spark), "id",
                                 n_buckets=8) == 1
        got = sorted(map(tuple, V.read_bucketed(spark, t).collect()))
        assert got == sorted(map(tuple, self._base(spark).collect()))
        # no layout column leaks into the read
        assert V.read_bucketed(spark, t).columns == ["id", "val"]

    def test_upsert_bounded_rewrite_and_atomic_commit(self, spark, tmp_path):
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "vb")
        V.create_bucketed(spark, t, self._base(spark), "id", n_buckets=8)
        m1 = V._manifest(t, 1)
        upd = self._df(spark, [(3, "X"), (4, "Y"), (999, "new")])
        before_segs = {d for d in os.listdir(t) if d.startswith("seg-")}
        assert V.upsert_bucketed(spark, t, upd) == 2
        m2 = V._manifest(t, 2)
        # only the touched buckets' manifest entries changed; untouched
        # buckets keep their exact segment names (never read or written)
        changed = [b for b in m2["buckets"]
                   if m2["buckets"][b] != m1["buckets"].get(b)]
        n_new_segs = len(
            {d for d in os.listdir(t) if d.startswith("seg-")} - before_segs
        )
        assert len(changed) == n_new_segs <= 3  # <= one bucket per update key
        # row semantics match the flat upsert
        got = dict(
            (r.id, r.val) for r in V.read_bucketed(spark, t).collect()
        )
        assert got[3] == "X" and got[4] == "Y" and got[999] == "new"
        assert got[5] == "v5" and len(got) == 201

    def test_reader_isolation_during_bucketed_upsert(self, spark, tmp_path):
        """The verdict's acceptance test: a reader resolves v1, an upsert
        commits v2, the reader's result is UNCHANGED — the raw per-bucket
        swap in writer.py cannot give this (it unlinks the old directory
        under the reader)."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "vb")
        V.create_bucketed(spark, t, self._base(spark), "id", n_buckets=8)
        snapshot = V.read_bucketed(spark, t)  # resolves v1's segments
        V.upsert_bucketed(spark, t, self._df(spark, [(3, "X")]))
        got = dict((r.id, r.val) for r in snapshot.collect())
        assert got[3] == "v3"  # pre-upsert value: v1 segments are immutable
        # head reader sees the new state; v1 stays reachable by time travel
        assert dict(
            (r.id, r.val) for r in V.read_bucketed(spark, t).collect()
        )[3] == "X"
        assert dict(
            (r.id, r.val) for r in V.read_bucketed(spark, t, version=1).collect()
        )[3] == "v3"

    def test_append_bucketed_is_zero_rewrite(self, spark, tmp_path):
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "vb")
        V.create_bucketed(spark, t, self._base(spark), "id", n_buckets=8)
        m1 = V._manifest(t, 1)
        V.append_bucketed(spark, t, self._df(spark, [(1000, "a"), (1001, "b")]))
        m2 = V._manifest(t, 2)
        # every v1 segment is still referenced — nothing was rewritten,
        # the touched buckets just grew an extra segment
        for b, segs in m1["buckets"].items():
            assert set(segs) <= set(m2["buckets"][b])
        assert V.read_bucketed(spark, t).count() == 202
        # compaction folds multi-segment buckets back to one, as a commit
        v = V.compact_bucketed(spark, t)
        assert v == 3
        assert all(len(s) == 1 for s in V._manifest(t, 3)["buckets"].values())
        assert V.read_bucketed(spark, t).count() == 202
        # old versions still reachable until vacuum
        assert V.read_bucketed(spark, t, version=1).count() == 200

    def test_point_lookup_prunes_to_one_bucket(self, spark, tmp_path):
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "vb")
        V.create_bucketed(spark, t, self._base(spark), "id", n_buckets=8)
        df = V.point_lookup_bucketed(spark, t, 42)
        assert [(r.id, r.val) for r in df.collect()] == [(42, "v42")]
        # the plan's input files come from exactly ONE bucket's segment —
        # all other buckets' segments are never named (pruned at manifest
        # resolution, the at-rest partition filter)
        m = V._manifest(t, 1)
        segs_in_plan = {
            f.split("/" + "seg-")[1].split("/")[0]
            for f in df.inputFiles()
        }
        owning = [b for b, ss in m["buckets"].items()
                  if any(s.removeprefix("seg-") in segs_in_plan for s in ss)]
        assert len(owning) == 1

    def test_occ_conflict_and_rebase_retry(self, spark, tmp_path, monkeypatch):
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "vb")
        V.create_bucketed(spark, t, self._base(spark), "id", n_buckets=8)
        fired = {"done": False}
        orig = V._write_bucket_segments

        def racing(df_b, path, touched):
            segs = orig(df_b, path, touched)
            if not fired["done"]:
                fired["done"] = True
                V.append_bucketed(spark, t, self._df(spark, [(500, "zzz")]))
            return segs

        monkeypatch.setattr(V, "_write_bucket_segments", racing)
        v = V.upsert_bucketed_with_retry(
            spark, t, self._df(spark, [(3, "X")])
        )
        monkeypatch.undo()
        assert v == 3  # create=1, competitor append=2, rebased upsert=3
        got = dict((r.id, r.val) for r in V.read_bucketed(spark, t).collect())
        assert got[3] == "X" and got[500] == "zzz"  # BOTH writers' changes

    def test_table_changes_append_only_is_delta_read(self, spark, tmp_path):
        """CDC fast path: an append-only interval's change set is exactly
        the new segments' rows — the plan reads O(delta), touching no
        pre-existing segment."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a"), (2, "b")]))
        V.append(spark, t, self._df(spark, [(3, "c")]))
        V.append(spark, t, self._df(spark, [(4, "d"), (5, "e")]))
        ch = V.table_changes(spark, t, from_version=1)
        got = sorted((r.id, r.val, r._change_type) for r in ch.collect())
        assert got == [(3, "c", "insert"), (4, "d", "insert"),
                       (5, "e", "insert")]
        # O(delta): the v1 segment is not in the plan's input files
        v1_segs = set(V._manifest(t, 1)["segments"])
        touched = {f.split("/seg-")[1].split("/")[0]
                   for f in ch.inputFiles()}
        assert all(s.removeprefix("seg-") not in touched for s in v1_segs)
        # bucketed append-only interval takes the same fast path
        tb = str(tmp_path / "vb")
        V.create_bucketed(spark, tb, self._base(spark), "id", n_buckets=8)
        V.append_bucketed(spark, tb, self._df(spark, [(1000, "x")]))
        chb = V.table_changes(spark, tb, from_version=1)
        assert [(r.id, r.val, r._change_type) for r in chb.collect()] == [
            (1000, "x", "insert")]

    def test_zone_map_segment_pruning(self, spark, tmp_path):
        """Manifest-level zone maps: per-segment min/max recorded at commit
        time; a range read keeps only overlapping segments — decided from
        the KB-sized manifest, zero file opens — and all-NULL segments are
        skipped for range predicates. Result parity with filter-after-scan
        is exact."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        mk = lambda rows: spark.createDataFrame(rows, "id long, val long")
        V.create(spark, t, mk([(i, i) for i in range(0, 100)]),
                 stat_cols=["val"])
        V.append(spark, t, mk([(i, i) for i in range(100, 200)]))
        V.append(spark, t, mk([(i, i) for i in range(200, 300)]))
        V.append(spark, t, mk([(300, None), (301, None)]))  # all-NULL seg
        df = V.read_pruned(spark, t, "val", lo=120, hi=180)
        # exactly one segment (the 100..200 one) enters the plan
        m = V._manifest(t, V.current_version(t))
        in_plan = {f.split("/seg-")[1].split("/")[0] for f in df.inputFiles()}
        assert len(in_plan) == 1
        # values match the unpruned filter exactly
        got = sorted(r.val for r in df.collect())
        assert got == list(range(120, 181))
        # a range outside every segment reads nothing
        assert V.read_pruned(spark, t, "val", lo=1000).count() == 0
        # stats survive an upsert (recomputed for the merged segment)
        V.upsert(spark, t, mk([(150, 5000)]), "id")
        assert sorted(
            r.val for r in V.read_pruned(spark, t, "val", lo=4000).collect()
        ) == [5000]
        # and time travel prunes against the OLD manifest's stats
        assert V.read_pruned(spark, t, "val", lo=4000, version=4).count() == 0

    def test_zone_map_multi_column_conjunction(self, spark, tmp_path):
        """Multi-predicate pruning: a segment must overlap EVERY range to
        survive; each tracked column can only prune further."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        mk = lambda rows: spark.createDataFrame(rows, "id long, a long, b long")
        V.create(spark, t, mk([(i, i, 0) for i in range(100)]),
                 stat_cols=["a", "b"])
        V.append(spark, t, mk([(i, i, 1) for i in range(100, 200)]))
        V.append(spark, t, mk([(i, i, 2) for i in range(200, 300)]))
        # a in [120,280] overlaps segs 2+3; b <= 1 overlaps segs 1+2;
        # the conjunction survives only seg 2
        df = V.read_pruned(spark, t, ranges={"a": (120, 280), "b": (None, 1)})
        segs = {f.split("/seg-")[1].split("/")[0] for f in df.inputFiles()}
        assert len(segs) == 1
        got = sorted(r.a for r in df.collect())
        assert got == list(range(120, 200))

    def test_manifest_row_counts(self, spark, tmp_path):
        """Per-segment row counts are recorded at commit time from parquet
        footers; table_row_count answers any version's size with zero
        Spark jobs."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(i, "x") for i in range(50)]))
        V.append(spark, t, self._df(spark, [(i, "y") for i in range(50, 80)]))
        V.upsert(spark, t, self._df(spark, [(0, "Z"), (999, "n")]), "id")
        sc = spark.sparkContext
        sc.setJobGroup("manifest-rowcount-test", "metadata only")
        try:
            assert V.table_row_count(t, 1) == 50
            assert V.table_row_count(t, 2) == 80
            assert V.table_row_count(t) == 81  # post-upsert head
            assert sc.statusTracker().getJobIdsForGroup(
                "manifest-rowcount-test") == []
        finally:
            sc.setJobGroup("", "")

    def test_table_changes_snapshot_diff_on_upsert(self, spark, tmp_path):
        """CDC general path: an interval containing an upsert falls back to
        the key-based snapshot diff — inserts, updates, and deletes are
        classified exactly; a keyless call fails loudly."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "v")
        V.create(spark, t, self._df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        V.upsert(spark, t, self._df(spark, [(2, "B"), (9, "new")]), "id")
        V.overwrite(spark, t, self._df(spark, [(1, "a"), (2, "B"), (9, "new")]))
        with pytest.raises(ValueError, match="key column is required"):
            V.table_changes(spark, t, from_version=1)
        ch = V.table_changes(spark, t, from_version=1, key="id")
        got = sorted((r.id, r.val, r._change_type) for r in ch.collect())
        assert got == [(2, "B", "update_post"), (3, "c", "delete"),
                       (9, "new", "insert")]

    def test_vacuum_on_bucketed_table(self, spark, tmp_path):
        import os

        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "vb")
        V.create_bucketed(spark, t, self._base(spark), "id", n_buckets=8)
        V.upsert_bucketed(spark, t, self._df(spark, [(3, "X")]))
        deleted = V.vacuum(t, keep_last=1)
        # exactly the replaced buckets' v1 segments are reaped; shared
        # (untouched) segments survive because v2 still references them
        assert len(deleted) >= 1
        assert V.read_bucketed(spark, t).count() == 200
        with pytest.raises(FileNotFoundError):
            V.read_bucketed(spark, t, version=1)


@pytest.mark.parametrize("layout", ["flat", "bucketed"])
def test_versioned_verbs_serve_both_layouts(spark, tmp_path, layout):
    """read, compact, cluster_zorder, add_column and append_exactly_once
    are one verb each: the table's manifest picks the layout, so no
    caller has to branch on it. Covers the exactly-once replay of a
    non-empty and of an empty batch (an empty batch still commits its
    id, so its replay is skipped too)."""
    from rclip_server_spark.sources import versioned as V

    flat = layout == "flat"
    t = str(tmp_path / layout)
    base = spark.createDataFrame([(i, i % 7) for i in range(40)],
                                 "id bigint, val bigint")
    if flat:
        V.create(spark, t, base)
    else:
        V.create_bucketed(spark, t, base, "id", n_buckets=4)
    want = sorted(map(tuple, base.collect()))

    def rows():
        return sorted(map(tuple, V.read(spark, t).collect()))

    def last_op():
        return V.history(t)[-1]["op"]

    assert rows() == want

    batch = spark.createDataFrame([(900, 1), (901, 2)], base.schema)
    v = V.current_version(t)
    assert V.append_exactly_once(spark, t, batch, batch_id=5) == v + 1
    assert V.append_exactly_once(spark, t, batch, batch_id=5) is None
    assert V.append_exactly_once(spark, t, batch.limit(0), 6) == v + 2
    assert V.append_exactly_once(spark, t, batch.limit(0), 6) is None
    assert V.current_version(t) == v + 2
    assert {5, 6} <= V.committed_batch_ids(t)
    # zero rewrite: every existing segment is carried, only new ones added
    assert V._manifest_segments(V._manifest(t, v)) <= \
        V._manifest_segments(V._manifest(t, v + 1))
    assert last_op() == ("stream-append" if flat
                         else "stream-append-bucketed")
    want = sorted(want + [(900, 1), (901, 2)])
    assert rows() == want

    assert V.compact(spark, t) == v + 3
    assert last_op() == ("compact" if flat else "compact-bucketed")
    assert rows() == want

    assert V.cluster_zorder(spark, t, "id", "val") == v + 4
    assert last_op() == ("cluster-zorder" if flat else "zorder-bucketed")
    assert rows() == want

    assert V.add_column(spark, t, "bonus", "bigint") == v + 5
    df = V.read(spark, t)
    assert df.columns == ["id", "val", "bonus"]
    assert df.where("bonus IS NOT NULL").count() == 0
    assert sorted((r.id, r.val) for r in df.collect()) == want


def test_stream_versioned_append_exactly_once_under_crash_replay(
    spark, tmp_path, embeddings
):
    """The versioned sink's EXACT exactly-once claim: the first run commits
    batch 1's segment (manifest records batch_id=1), then dies before Spark
    commits the offset. The restarted query replays batch 1 — the sink must
    find its id in the log and SKIP, so no row is appended twice and the
    history shows each batch exactly once."""
    from rclip_server_spark.sources import versioned as V
    from rclip_server_spark.streaming import sink

    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    table = str(tmp_path / "vtable")
    ckpt = str(tmp_path / "ckpt")

    b0 = embeddings.select(F.col("vec_id").alias("id")).limit(60)
    b1 = embeddings.select((F.col("vec_id") + 100000).alias("id")).limit(40)
    import time as _time
    now = _time.time()
    for i, df in enumerate([b0, b1]):
        sub = os.path.join(src_dir, f"b{i}.parquet")
        df.coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + 10 * i, now + 10 * i))
        os.utime(sub, (now + 10 * i, now + 10 * i))

    V.create(spark, table, b0.limit(0))  # empty versioned table, v1

    stream_def = (
        spark.readStream.schema("id bigint").option("maxFilesPerTrigger", 1)
    )

    def _append_crashing(batch_df, batch_id):
        V.append_exactly_once(spark, table, batch_df, batch_id)
        if batch_id == 1:
            raise RuntimeError("injected crash after commit, before offset")

    q = (
        stream_def.parquet(src_dir + "/*.parquet")
        .writeStream.foreachBatch(_append_crashing)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    except Exception:
        pass
    finally:
        q.stop()
    assert q.exception() is not None

    q2 = sink.start_stream_append_versioned(
        stream_def.parquet(src_dir + "/*.parquet"), spark, table,
        checkpoint_dir=ckpt,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    # exactly once: 100 distinct rows, no batch committed twice
    got = V.read(spark, table)
    assert got.count() == 100
    assert got.select("id").distinct().count() == 100
    batch_commits = [h for h in V.history(table) if h["op"] == "stream-append"]
    assert len(batch_commits) == 2
    assert V.committed_batch_ids(table) == {0, 1}


def test_streaming_windowed_histogram_equals_batch(spark, events, events_stream_dir):
    """The per-window value histogram: one definition, two runtimes —
    streaming (watermarked, sketch-sized state) must emit exactly the
    batch/oracle cells."""
    batch = {
        (r.window_start_us, r.bin): r.cnt
        for r in SW.windowed_value_histogram(
            events, value_col="value", size="1 day", lo=0.0, hi=500.0, n_bins=20
        ).collect()
    }
    stream = SW.read_events_stream(spark, events_stream_dir)
    SW.run_stream_to_memory(
        SW.windowed_value_histogram(
            stream, value_col="value", size="1 day", lo=0.0, hi=500.0, n_bins=20
        ),
        "t_win_hist",
    )
    got = {
        (r.window_start_us, r.bin): r.cnt
        for r in spark.table("t_win_hist").collect()
    }
    assert got == batch
    # and the per-day cells feed histogram_drift directly: two days of the
    # fixture have nonzero drift but share the bin space
    days = sorted({k[0] for k in batch})
    assert len(days) >= 2


def test_drift_between_versioned_snapshots(spark, tmp_path, documents):
    """Composition story: ingest mutates a versioned table, then the drift
    report compares two SNAPSHOTS of it — time travel supplies both sides
    from one table path, no copies kept by hand."""
    from rclip_server_spark.operators import sketches
    from rclip_server_spark.sources import versioned as V

    t = str(tmp_path / "corpus_v")
    base = documents.select("doc_id", F.length("text").cast("double").alias("v"))
    V.create(spark, t, base)
    # v2: append a burst of short documents (a distribution shift)
    burst = spark.createDataFrame(
        [(10_000 + i, 5.0) for i in range(200)], "doc_id bigint, v double"
    )
    V.append(spark, t, burst)

    rep = sketches.histogram_drift(
        V.read(spark, t, 1), V.read(spark, t, 2), "v", 0.0, 1000.0, 32
    ).collect()
    assert rep and 0.0 < rep[0].tv_distance < 1.0
    # the shift direction is visible: the lowest bin gained exactly the burst
    low = {r.bin: (r.cnt_old, r.cnt_new) for r in rep}[0]
    assert low[1] == low[0] + 200


def test_versioned_upsert_retry_rebases_on_conflict(spark, tmp_path, monkeypatch):
    """The optimistic-concurrency retry loop: a competing writer steals the
    version between our read and commit; the retry must RE-BASE (merge
    against the competitor's state), landing both writers' changes."""
    from rclip_server_spark.sources import versioned as V

    t = str(tmp_path / "v")
    V.create(spark, t, spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"]))

    competitor = spark.createDataFrame([(3, "c")], ["id", "val"])
    fired = {"done": False}
    orig_commit = V._commit

    def racing_commit(path, version, segments, op, batch_id=None, **kw):
        if not fired["done"] and op == "upsert":
            fired["done"] = True
            # the competitor appends FIRST, taking this version number
            V.append(spark, path, competitor)
        return orig_commit(path, version, segments, op, batch_id, **kw)

    monkeypatch.setattr(V, "_commit", racing_commit)
    v = V.upsert_with_retry(
        spark, t, spark.createDataFrame([(2, "B")], ["id", "val"]), "id"
    )
    assert v == 3  # create=1, competitor append=2, rebased upsert=3
    got = sorted(map(tuple, V.read(spark, t).collect()))
    assert got == [(1, "a"), (2, "B"), (3, "c")]  # BOTH writers' changes


def test_anti_join_skip_bloom_path_equivalent(spark, embeddings):
    """B8 with use_bloom=True must produce the identical row set as the
    broadcast path (the Bloom is a router, not an approximation)."""
    new = embeddings.select(F.col("vec_id").alias("id")).where(F.col("id") < 400)
    done = embeddings.select(F.col("vec_id").alias("id")).where(F.col("id") % 3 == 0)
    a = sorted(r.id for r in writer.anti_join_skip(new, done, "id").collect())
    b = sorted(r.id for r in writer.anti_join_skip(new, done, "id",
                                                   use_bloom=True).collect())
    assert a == b and len(a) > 0
    import pytest as _pt
    with _pt.raises(ValueError):
        writer.anti_join_skip(new, done, ["id", "id"], use_bloom=True)


class TestJoinViewRound8:
    """Round-8 join-view surface: composite (multi-column) equi-keys,
    LEFT-outer maintained aggregates, and cost-based refresh-vs-
    recompute dispatch."""

    def _mk(self, spark, tmp_path):
        from rclip_server_spark.sources import versioned as V

        lt, rt = str(tmp_path / "l"), str(tmp_path / "r")
        mko = lambda rows: spark.createDataFrame(
            rows, "o_id long, nat string, yr long, amount long")
        mkc = lambda rows: spark.createDataFrame(
            rows, "c_id long, nat string, yr long, seg string")
        V.create(spark, lt, mko([
            (1, "FR", 95, 5), (2, "FR", 95, 7), (3, "FR", 96, 11),
            (4, "DE", 95, 13), (5, None, 95, 17), (6, "US", 95, 19)]))
        V.create(spark, rt, mkc([
            (100, "FR", 95, "A"), (101, "FR", 96, "B"),
            (102, "DE", 95, "A"), (103, "DE", 96, "C"),
            (104, None, 95, "Z")]))
        return lt, rt, mko, mkc

    def test_join_view_composite_key(self, spark, tmp_path):
        """Composite equi-key (nat, yr) join view — the Q7-style
        nation-pair shape — maintained through left appends, a right
        delete+append rewrite, and a both-sides interval; each state
        must equal the direct two-column join+groupBy of the heads.
        NULL key components never pair (SQL equality on the tuple)."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt, rt, mko, mkc = self._mk(spark, tmp_path)
        vw = str(tmp_path / "vw")
        MV.create_join_view(spark, lt, rt, vw, on=["nat", "yr"],
                            left_key="o_id", right_key="c_id",
                            group_cols=["seg"], sum_cols=["amount"])

        def check():
            got = sorted(
                ((r.seg, r.cnt, r.sum_amount) for r in
                 V.read(spark, vw).collect()),
                key=lambda x: (x[0] is None, x[0]))
            want = sorted(
                ((r.seg, r.cnt, r.sum_amount) for r in
                 V.read(spark, lt).join(V.read(spark, rt), ["nat", "yr"])
                 .groupBy("seg").agg(
                     F.count(F.lit(1)).alias("cnt"),
                     F.sum("amount").alias("sum_amount")).collect()),
                key=lambda x: (x[0] is None, x[0]))
            assert got == want, (got, want)

        check()
        V.append(spark, lt, mko([(7, "DE", 96, 23), (8, "FR", 95, 29),
                                 (9, None, 96, 31)]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # right rewrite interval: delete one match + append a new one
        V.delete_rows(spark, rt, [100], "c_id")
        V.append(spark, rt, mkc([(105, "US", 95, "D")]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # both sides advance; ΔL⋈ΔR composite pair must land exactly once
        V.append(spark, lt, mko([(10, "JP", 99, 37)]))
        V.append(spark, rt, mkc([(106, "JP", 99, "E")]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        assert ("E", 1) in {(r.seg, r.cnt)
                            for r in V.read(spark, vw).collect()}

    def test_join_table_view_composite_key(self, spark, tmp_path):
        """Row-level join TABLE view on a composite key: maintained
        rows equal the direct tuple-join after an update that MOVES one
        key component (delete-vector + append path)."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt, rt, mko, mkc = self._mk(spark, tmp_path)
        vw = str(tmp_path / "jt")
        MV.create_join_table_view(spark, lt, rt, vw, on=["nat", "yr"],
                                  left_key="o_id", right_key="c_id")

        def check():
            got = sorted((r.o_id, r.c_id) for r in
                         V.read(spark, vw).select("o_id", "c_id")
                         .collect())
            want = sorted(
                (r.o_id, r.c_id) for r in
                V.read(spark, lt).join(V.read(spark, rt), ["nat", "yr"])
                .select("o_id", "c_id").collect())
            assert got == want, (got, want)

        check()
        # move customer 101 from (FR,96) to (FR,95): old pairs retract,
        # new pairs appear — the netted vector+append path
        V.upsert(spark, rt, mkc([(101, "FR", 95, "B")]), "c_id")
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        check()
        V.append(spark, lt, mko([(11, "FR", 96, 41)]))
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        check()

    def test_left_join_view_maintained(self, spark, tmp_path):
        """LEFT-outer maintained join view (the Q13 shape): unmatched
        left rows aggregate null-extended and every refresh must equal
        the direct LEFT JOIN groupBy of the heads — through a left
        append (matched + unmatched + NULL-key rows), a right append
        that gives a key its FIRST match (null-extensions retract), a
        right delete that ORPHANS left rows (null-extensions appear),
        and a both-sides interval."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt, rt, mko, mkc = self._mk(spark, tmp_path)
        vw = str(tmp_path / "lvw")
        MV.create_join_view(spark, lt, rt, vw, on=["nat", "yr"],
                            left_key="o_id", right_key="c_id",
                            group_cols=["seg"], sum_cols=["amount"],
                            minmax_cols=["amount"], how="left")

        def check():
            got = sorted(
                ((r.seg, r.cnt, r.sum_amount, r.min_amount, r.max_amount)
                 for r in V.read(spark, vw).collect()),
                key=lambda x: (x[0] is None, x[0] or ""))
            want = sorted(
                ((r.seg, r.cnt, r.sum_amount, r.min_amount, r.max_amount)
                 for r in V.read(spark, lt)
                 .join(V.read(spark, rt), ["nat", "yr"], "left")
                 .groupBy("seg").agg(
                     F.count(F.lit(1)).alias("cnt"),
                     F.sum("amount").alias("sum_amount"),
                     F.min("amount").alias("min_amount"),
                     F.max("amount").alias("max_amount")).collect()),
                key=lambda x: (x[0] is None, x[0] or ""))
            assert got == want, (got, want)

        check()  # initial state: o5 (NULL nat) and o6 (US) unmatched
        # left append: one matched, one unmatched, one NULL-component
        V.append(spark, lt, mko([(7, "FR", 96, 23), (8, "BR", 90, 29),
                                 (9, "FR", None, 31)]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # right append gives (US,95) its FIRST match: o6's
        # null-extension must RETRACT (term-B flip, sign -1)
        V.append(spark, rt, mkc([(105, "US", 95, "D")]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # right delete orphans (FR,95): o1/o2/o8-keys flip TO
        # null-extended (term-B flip, sign +1)
        V.delete_rows(spark, rt, [100], "c_id")
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # delete an UNMATCHED left row (its null-extension retracts via
        # term A) and a matched one in the same interval
        V.delete_rows(spark, lt, [8, 3], "o_id")
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # both sides advance in one interval: new left rows against a
        # right state that simultaneously loses (DE,95) and gains (BR,90)
        V.append(spark, lt, mko([(12, "BR", 90, 43), (13, "DE", 95, 47)]))
        V.delete_rows(spark, rt, [102], "c_id")
        V.append(spark, rt, mkc([(107, "BR", 90, "F")]))
        MV.refresh_join_view(spark, vw, recompute_fraction=None)
        check()
        # idempotent when fresh
        v = V.current_version(vw)
        assert MV.refresh_join_view(spark, vw, recompute_fraction=None) == v

    def test_left_join_table_view_maintained(self, spark, tmp_path):
        """LEFT-outer row-level join TABLE: unmatched left rows live
        null-extended with a (left_key, NULL-sentinel) pair key; a
        right append that gives a key its first match REPLACES the
        null-extension with the matched pair (vector+append — even
        though both sources only appended), and a right delete that
        orphans left rows restores their null-extensions."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt, rt, mko, mkc = self._mk(spark, tmp_path)
        vw = str(tmp_path / "ljt")
        MV.create_join_table_view(spark, lt, rt, vw, on=["nat", "yr"],
                                  left_key="o_id", right_key="c_id",
                                  how="left")

        def check():
            cols = ["o_id", "c_id", "amount", "seg"]
            got = sorted(
                (tuple(r[c] for c in cols) for r in
                 V.read(spark, vw).select(*cols).collect()),
                key=lambda t: tuple((x is None, x) for x in t))
            want = sorted(
                (tuple(r[c] for c in cols) for r in
                 V.read(spark, lt)
                 .join(V.read(spark, rt), ["nat", "yr"], "left")
                 .select(*cols).collect()),
                key=lambda t: tuple((x is None, x) for x in t))
            assert got == want, (got, want)

        check()  # o5 (NULL nat) and o6 (US,95) start null-extended
        # left append-only + right unchanged: the delete-free fast path
        V.append(spark, lt, mko([(7, "FR", 96, 23), (8, "BR", 90, 29)]))
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        check()
        # right APPEND gives (US,95) its first match: o6's null-ext row
        # must be REPLACED (not duplicated) — no fast path despite
        # append-only intervals on both sources
        V.append(spark, rt, mkc([(105, "US", 95, "D")]))
        v_before = V.current_version(vw)
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        m = V._manifest(vw, V.current_version(vw))
        assert m["op"] != "append", "right append must not take the " \
            "delete-free fast path on a LEFT join table"
        check()
        # right delete orphans (FR,95): matched pairs retract, null-
        # extensions restore; a simultaneous left delete in the interval
        V.delete_rows(spark, rt, [100], "c_id")
        V.delete_rows(spark, lt, [3], "o_id")
        MV.refresh_join_table_view(spark, vw, recompute_fraction=None)
        check()
        assert v_before < V.current_version(vw)

    def test_left_join_view_validation(self, spark, tmp_path):
        from rclip_server_spark.sources import matview as MV

        lt, rt, _, _ = self._mk(spark, tmp_path)
        with pytest.raises(ValueError, match="how"):
            MV.create_join_view(spark, lt, rt, str(tmp_path / "x"),
                                on="nat", left_key="o_id",
                                right_key="c_id", group_cols=["seg"],
                                how="full")
        with pytest.raises(ValueError, match="unique"):
            MV.create_join_view(spark, lt, rt, str(tmp_path / "x"),
                                on=["nat", "nat"], left_key="o_id",
                                right_key="c_id", group_cols=["seg"])

    def test_refresh_dispatch_identical_results(self, spark, tmp_path,
                                                monkeypatch):
        """Cost-based dispatch: a rewriting interval whose manifest
        change bound exceeds head rows recomputes (no CDC read), an
        append-only interval stays incremental under the same fraction,
        and BOTH paths produce the identical committed state."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        src = str(tmp_path / "src")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, g string, v long")
        V.create(spark, src, mk([(i, "ab"[i % 2], i * 3) for i in range(40)]))
        v_inc = str(tmp_path / "v_inc")
        v_auto = str(tmp_path / "v_auto")
        MV.create_agg_view(spark, src, v_inc, key="id",
                           group_cols=["g"], sum_cols=["v"])
        MV.create_agg_view(spark, src, v_auto, key="id",
                           group_cols=["g"], sum_cols=["v"])

        calls = {"n": 0}
        real = MV._changes_since_cursor

        def counting(*a, **kw):
            calls["n"] += 1
            return real(*a, **kw)

        monkeypatch.setattr(MV, "_changes_since_cursor", counting)

        def states_equal():
            a = sorted((r.g, r.cnt, r.sum_v)
                       for r in V.read(spark, v_inc).collect())
            b = sorted((r.g, r.cnt, r.sum_v)
                       for r in V.read(spark, v_auto).collect())
            assert a == b and a, (a, b)

        # append-only interval: auto fraction must STAY incremental
        # (delta is a subset of the head — bound can never exceed it)
        V.append(spark, src, mk([(100 + i, "c", i) for i in range(10)]))
        MV.refresh_agg_view(spark, v_inc, recompute_fraction=None)
        n0 = calls["n"]
        MV.refresh_agg_view(spark, v_auto,
                            recompute_fraction=MV._RECOMPUTE_BOUND_FRACTION)
        assert calls["n"] == n0 + 1  # incremental path read the CDC
        states_equal()
        # rewriting interval (upsert): bound = old+new > head -> the
        # auto view recomputes (zero CDC reads), the pinned view stays
        # incremental; states identical
        V.upsert(spark, src, mk([(1, "b", 999), (200, "d", 7)]), "id")
        MV.refresh_agg_view(spark, v_inc, recompute_fraction=None)
        n1 = calls["n"]
        MV.refresh_agg_view(spark, v_auto,
                            recompute_fraction=MV._RECOMPUTE_BOUND_FRACTION)
        assert calls["n"] == n1  # recompute path: no CDC read
        states_equal()

    def test_join_view_dispatch_identical_results(self, spark, tmp_path,
                                                  monkeypatch):
        """Join-view dispatch: a small right rewrite against a larger
        left table stays incremental under the row-scan fraction (the
        bound sums both sides against both heads); forcing fraction 0
        recomputes — and both paths commit the identical state."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt, rt, mko, mkc = self._mk(spark, tmp_path)
        va = str(tmp_path / "va")
        vb = str(tmp_path / "vb")
        for vw in (va, vb):
            MV.create_join_view(spark, lt, rt, vw, on=["nat", "yr"],
                                left_key="o_id", right_key="c_id",
                                group_cols=["seg"], sum_cols=["amount"],
                                how="left")
        calls = {"n": 0}
        real = MV._changes_since_cursor

        def counting(*a, **kw):
            calls["n"] += 1
            return real(*a, **kw)

        monkeypatch.setattr(MV, "_changes_since_cursor", counting)
        V.upsert(spark, rt, mkc([(101, "FR", 95, "B")]), "c_id")
        MV.refresh_join_view(spark, va, recompute_fraction=None)
        assert calls["n"] > 0
        n1 = calls["n"]
        MV.refresh_join_view(spark, vb, recompute_fraction=0.0)
        assert calls["n"] == n1  # forced recompute: no CDC read
        a = sorted(((r.seg, r.cnt, r.sum_amount)
                    for r in V.read(spark, va).collect()),
                   key=lambda x: (x[0] is None, x[0] or ""))
        b = sorted(((r.seg, r.cnt, r.sum_amount)
                    for r in V.read(spark, vb).collect()),
                   key=lambda x: (x[0] is None, x[0] or ""))
        assert a == b and a


class TestAdviceR8Fixes:
    """Round-8 ADVICE.md closures: Bloom column-type guard, orphaned
    sidecar vacuum, chunked multiset expansion, byte-derived broadcast
    bound."""

    def test_bloom_rejects_nonindexable_types(self, spark, tmp_path):
        """Float/boolean/binary key columns render differently in
        Python str() and Spark CAST AS STRING — build and lookup must
        raise, not silently false-prune."""
        from rclip_server_spark.sources import bloomindex as B
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "t")
        V.create(spark, t, spark.createDataFrame(
            [(1, 0.5, True), (2, 1.5, False)],
            "id long, score double, flag boolean"))
        B.build_bloom_index(spark, t, "id")  # integral: fine
        with pytest.raises(TypeError, match="double"):
            B.build_bloom_index(spark, t, "score")
        with pytest.raises(TypeError, match="boolean"):
            B.build_bloom_index(spark, t, "flag")
        with pytest.raises(TypeError, match="boolean"):
            B.read_point_lookup(spark, t, "flag", ["true"])
        # value-side guard: bool/float lookup values never probe
        with pytest.raises(TypeError, match="bool"):
            B._py_probes(True, 8192, 4)
        with pytest.raises(TypeError, match="float"):
            B._py_probes(0.5, 8192, 4)

    def test_vacuum_reaps_orphaned_sidecars(self, spark, tmp_path):
        """A sidecar whose segment is gone (crashed earlier vacuum or a
        pre-guard era) is collected by the NEXT vacuum, not leaked."""
        from rclip_server_spark.sources import bloomindex as B
        from rclip_server_spark.sources import versioned as V
        import os

        t = str(tmp_path / "t")
        V.create(spark, t, spark.createDataFrame(
            [(i,) for i in range(10)], "id long"))
        V.append(spark, t, spark.createDataFrame(
            [(i,) for i in range(10, 20)], "id long"))
        B.build_bloom_index(spark, t, "id")
        col_dir = os.path.join(t, "_bloom", "id")
        # simulate an orphan: a sidecar for a segment that no longer
        # exists on disk nor in any manifest
        orphan = os.path.join(col_dir, "seg-deadbeef.json")
        with open(orphan, "w") as f:
            f.write("{}")
        live = set(os.listdir(col_dir)) - {"seg-deadbeef.json"}
        V.vacuum(t, keep_last=1)
        left = set(os.listdir(col_dir))
        assert "seg-deadbeef.json" not in left
        # live segments' sidecars survive
        m = V._manifest(t, V.current_version(t))
        for seg in V._manifest_segments(m):
            assert f"{seg}.json" in left

    def test_multiset_chunked_expansion_exact(self, spark, tmp_path):
        """Multiplicity expansion in bounded chunks must still emit
        EXACTLY |delta-mult| rows — including a multiplicity ABOVE the
        65536 chunk size (crosses the chunk boundary: 70000 = one full
        chunk + a 4464-element remainder)."""
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "t")
        rows = [("a",)] * 5 + [("b",)]
        V.create(spark, t, spark.createDataFrame(rows, "g string"))
        # overwrite: 'a' drops to mult 2 (delta -3), 'b' to 3 (delta +2),
        # 'c' appears with 70000 (delta +70000, > one chunk)
        big_c = spark.range(70000).select(F.lit("c").alias("g"))
        V.overwrite(spark, t, spark.createDataFrame(
            [("a",)] * 2 + [("b",)] * 3, "g string").unionByName(big_c))
        ch = V.table_changes_multiset(spark, t, from_version=1)
        got = {(r.g, r._change_type): r.n for r in
               ch.groupBy("g", "_change_type")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert got == {("a", "delete"): 3, ("b", "insert"): 2,
                       ("c", "insert"): 70000}

    def test_broadcast_bound_scales_with_key_width(self):
        from rclip_server_spark.sources import matview as MV

        one = MV._broadcast_bound_rows(1)
        four = MV._broadcast_bound_rows(4)
        assert one == 64 * 1024 * 1024 // 64  # ~the historical 1M rows
        assert four == one // 4


class TestHeadCheckpoint:
    """Manifest-log checkpointing: head resolution stays O(commits since
    the last checkpoint) — never an O(#versions) directory listing —
    across 1k retained commits, with vacuum keeping the hint fresh."""

    def test_head_resolution_flat_across_1k_commits(self, spark, tmp_path,
                                                    monkeypatch):
        from rclip_server_spark.sources import versioned as V

        t = str(tmp_path / "t")
        V.create(spark, t, spark.createDataFrame([(1,)], "id long"))
        segs = V._manifest(t, 1)["segments"]
        # 1k driver-side commits against the same immutable segment set
        # (commit cost only — the probe behavior under test is identical
        # to Spark-written segments, without 1k parquet jobs)
        for v in range(2, 1002):
            V._commit(t, v, segs, "append")
        listings = {"n": 0}
        real = V._manifest_versions

        def counting(path):
            listings["n"] += 1
            return real(path)

        monkeypatch.setattr(V, "_manifest_versions", counting)
        # steady state: every head resolution goes through the
        # checkpoint probe — ZERO full listings, over many calls
        for _ in range(5):
            assert V.current_version(t) == 1001
        assert listings["n"] == 0
        # probe distance is bounded by the checkpoint cadence
        hint = V._read_checkpoint(t)
        assert hint is not None and 1001 - hint <= V._CHECKPOINT_EVERY
        # a few more commits: probe walks forward, still no listing
        for v in range(1002, 1010):
            V._commit(t, v, segs, "append")
        assert V.current_version(t) == 1009
        assert listings["n"] == 0
        # vacuum refreshes the hint (an old hint could point at a reaped
        # manifest); vacuum itself lists (it is the maintenance op), but
        # head resolution stays probe-only afterwards
        V.vacuum(t, keep_last=10)
        listings["n"] = 0
        assert V.current_version(t) == 1009
        assert listings["n"] == 0
        assert V._read_checkpoint(t) == 1009
        # deleting the hint degrades to the always-correct full listing
        import os
        os.remove(os.path.join(t, "_snapshots", "_last_checkpoint"))
        assert V.current_version(t) == 1009
        assert listings["n"] > 0

    def test_checkpoint_hint_carries_no_correctness_weight(
            self, spark, tmp_path):
        """A corrupt or stale-beyond-head hint must fall back cleanly."""
        from rclip_server_spark.sources import versioned as V
        import os

        t = str(tmp_path / "t")
        V.create(spark, t, spark.createDataFrame([(1,)], "id long"))
        ck = os.path.join(t, "_snapshots", "_last_checkpoint")
        with open(ck, "w") as f:
            f.write("not json")
        assert V.current_version(t) == 1
        with open(ck, "w") as f:
            f.write('{"version": 999}')  # beyond head: manifest missing
        assert V.current_version(t) == 1


class TestRefreshCascade:
    """refresh_cascade: one call brings a whole view-composition chain
    to the base tables' heads, bottom-up over the manifest-declared
    source graph."""

    def test_cascade_three_hop_chain(self, spark, tmp_path):
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        base = str(tmp_path / "base")
        dim = str(tmp_path / "dim")
        tv = str(tmp_path / "tv")
        jt = str(tmp_path / "jt")
        jv = str(tmp_path / "jv")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, k long, v long")
        V.create(spark, base, mk([(i, i % 3, i * 7) for i in range(9)]))
        V.create(spark, dim, spark.createDataFrame(
            [(i, f"s{i % 2}") for i in range(3)], "k long, seg string"))

        def double(df):
            return df.select("id", "k", (F.col("v") * 2).alias("v2"))

        MV.create_transform_view(spark, base, tv, key="id",
                                 transform=double, name="double-v1")
        MV.create_join_table_view(spark, tv, dim, jt, on="k",
                                  left_key="id", right_key="k")
        MV.create_agg_view(spark, jt, jv, key="_pair_key",
                           group_cols=["seg"], sum_cols=["v2"])
        # advance the BASE only; one cascade call must ripple through
        # transform -> join table -> agg
        V.append(spark, base, mk([(100, 0, 11), (101, 2, 13)]))
        V.delete_rows(spark, base, [1], "id")
        order = MV.refresh_cascade(
            spark, jv, transforms={tv: (double, "double-v1")}, recompute_fraction=None)
        assert order == [tv, jt, jv]
        got = sorted((r.seg, r.cnt, r.sum_v2)
                     for r in V.read(spark, jv).collect())
        want = sorted(
            (r.seg, r.cnt, r.sum_v2) for r in
            double(V.read(spark, base)).join(V.read(spark, dim), "k")
            .groupBy("seg").agg(F.count(F.lit(1)).alias("cnt"),
                                F.sum("v2").alias("sum_v2")).collect())
        assert got == want and got
        # fresh everywhere -> cascade still returns the order but each
        # refresh is the no-op fast return
        assert MV.refresh_cascade(
            spark, jv, transforms={tv: (double, "double-v1")}, recompute_fraction=None) \
            == [tv, jt, jv]

    def test_cascade_requires_transform_fn(self, spark, tmp_path):
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        base = str(tmp_path / "b")
        tv = str(tmp_path / "t")
        V.create(spark, base, spark.createDataFrame(
            [(1, 2)], "id long, v long"))
        MV.create_transform_view(
            spark, base, tv, key="id",
            transform=lambda df: df.select("id", "v"), name="idy")
        V.append(spark, base, spark.createDataFrame(
            [(2, 3)], "id long, v long"))
        with pytest.raises(ValueError, match="transform"):
            MV.refresh_cascade(spark, tv, recompute_fraction=None)

    def test_refresh_view_dispatches_by_kind(self, spark, tmp_path):
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        base = str(tmp_path / "b")
        vw = str(tmp_path / "v")
        V.create(spark, base, spark.createDataFrame(
            [(1, "a", 2)], "id long, g string, v long"))
        MV.create_agg_view(spark, base, vw, key="id",
                           group_cols=["g"], sum_cols=["v"])
        V.append(spark, base, spark.createDataFrame(
            [(2, "a", 5)], "id long, g string, v long"))
        MV.refresh_view(spark, vw, recompute_fraction=None)
        [r] = V.read(spark, vw).collect()
        assert (r.g, r.cnt, r.sum_v) == ("a", 2, 7)
        with pytest.raises(ValueError, match="not a maintained view"):
            MV.refresh_view(spark, base, recompute_fraction=None)

    def test_view_cascade_refresh_stream(self, spark, tmp_path):
        """One streaming query tails the BASE tables of a 3-hop
        composition (transform -> join table -> agg) and cascades every
        base commit through the chain; the stream never tails its own
        intermediate commits."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        base = str(tmp_path / "cb")
        dim = str(tmp_path / "cd")
        tv = str(tmp_path / "ctv")
        jt = str(tmp_path / "cjt")
        jv = str(tmp_path / "cjv")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, k long, v long")
        V.create(spark, base, mk([(i, i % 3, i * 7) for i in range(6)]))
        V.create(spark, dim, spark.createDataFrame(
            [(i, f"s{i % 2}") for i in range(3)], "k long, seg string"))

        def double(df):
            return df.select("id", "k", (F.col("v") * 2).alias("v2"))

        MV.create_transform_view(spark, base, tv, key="id",
                                 transform=double, name="double-v1")
        MV.create_join_table_view(spark, tv, dim, jt, on="k",
                                  left_key="id", right_key="k")
        MV.create_agg_view(spark, jt, jv, key="_pair_key",
                           group_cols=["seg"], sum_cols=["v2"])
        assert MV.view_base_tables(jv) == sorted([base, dim])
        q = sink.start_view_cascade_refresh_stream(
            spark, jv, checkpoint_dir=str(tmp_path / "cp"),
            transforms={tv: (double, "double-v1")})
        try:
            V.append(spark, base, mk([(100, 1, 11), (101, 2, 13)]))
            import time as _time
            deadline = _time.time() + 60
            while _time.time() < deadline:
                q.processAllAvailable()
                if MV._spec_tv(tv)["tv_source_version"] \
                        == V.current_version(base) \
                        and MV._spec(jv)["mv_source_version"] \
                        == V.current_version(jt):
                    break
                _time.sleep(0.3)
        finally:
            q.stop()
        got = sorted((r.seg, r.cnt, r.sum_v2)
                     for r in V.read(spark, jv).collect())
        want = sorted(
            (r.seg, r.cnt, r.sum_v2) for r in
            double(V.read(spark, base)).join(V.read(spark, dim), "k")
            .groupBy("seg").agg(F.count(F.lit(1)).alias("cnt"),
                                F.sum("v2").alias("sum_v2")).collect())
        assert got == want and got

    def test_cascade_stream_validates_synchronously(self, spark,
                                                    tmp_path):
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        base = str(tmp_path / "vb")
        tv = str(tmp_path / "vt")
        V.create(spark, base, spark.createDataFrame(
            [(1, 2)], "id long, v long"))
        MV.create_transform_view(
            spark, base, tv, key="id",
            transform=lambda df: df.select("id", "v"), name="idy")
        with pytest.raises(ValueError, match="transform"):
            sink.start_view_cascade_refresh_stream(spark, tv)

    def test_cascade_stream_rejects_base_table(self, spark, tmp_path):
        from rclip_server_spark.sources import versioned as V
        from rclip_server_spark.streaming import sink

        base = str(tmp_path / "plain")
        V.create(spark, base, spark.createDataFrame([(1,)], "id long"))
        with pytest.raises(ValueError, match="not a maintained view"):
            sink.start_view_cascade_refresh_stream(spark, base)

    def test_refresh_view_survives_concurrent_commit(self, spark,
                                                     tmp_path):
        """refresh_view runs under the OCC retry loop: a racing manual
        refresher's commit must rebase, not surface
        ConcurrentWriteError (the cascade stream's liveness depends on
        this)."""
        import threading

        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        base = str(tmp_path / "b")
        vw = str(tmp_path / "v")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, g string, v long")
        V.create(spark, base, mk([(1, "a", 1)]))
        MV.create_agg_view(spark, base, vw, key="id",
                           group_cols=["g"], sum_cols=["v"])
        for j in range(4):
            V.append(spark, base, mk([(10 + j, "ab"[j % 2], j)]))
        errors = []

        def racer():
            try:
                MV.refresh_view(spark, vw, max_retries=20, recompute_fraction=None)
            except Exception as e:
                errors.append(e)

        threads = [threading.Thread(target=racer) for _ in range(3)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        got = sorted((r.g, r.cnt, r.sum_v)
                     for r in V.read(spark, vw).collect())
        want = sorted((r.g, r.cnt, r.sum_v) for r in
                      V.read(spark, base).groupBy("g").agg(
                          F.count(F.lit(1)).alias("cnt"),
                          F.sum("v").alias("sum_v")).collect())
        assert got == want

    def test_cascade_auto_compact_bounds_segments(self, spark, tmp_path):
        """An unattended cascade with auto_compact must bound the
        segment count of the accreting join-table node across many
        refresh cycles."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        base = str(tmp_path / "b")
        dim = str(tmp_path / "d")
        jt = str(tmp_path / "jt")
        jv = str(tmp_path / "jv")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, k long, v long")
        V.create(spark, base, mk([(0, 0, 1)]))
        V.create(spark, dim, spark.createDataFrame(
            [(0, "x"), (1, "y")], "k long, seg string"))
        MV.create_join_table_view(spark, base, dim, jt, on="k",
                                  left_key="id", right_key="k")
        MV.create_agg_view(spark, jt, jv, key="_pair_key",
                           group_cols=["seg"], sum_cols=["v"])
        for i in range(1, 9):
            V.append(spark, base, mk([(i, i % 2, i)]))
            MV.refresh_cascade(spark, jv, auto_compact=True,
                               compact_threshold=4, recompute_fraction=None)
        m = V._manifest(jt, V.current_version(jt))
        assert len(V._manifest_segments(m)) <= 4
        got = sorted((r.seg, r.cnt, r.sum_v)
                     for r in V.read(spark, jv).collect())
        want = sorted((r.seg, r.cnt, r.sum_v) for r in
                      V.read(spark, base).join(V.read(spark, dim), "k")
                      .groupBy("seg").agg(
                          F.count(F.lit(1)).alias("cnt"),
                          F.sum("v").alias("sum_v")).collect())
        assert got == want

    def test_topk_transform_dispatch_identical_results(self, spark,
                                                       tmp_path,
                                                       monkeypatch):
        """The dispatcher on the remaining view kinds: a rewriting
        interval recomputes top-k and transform views (zero CDC reads)
        with state identical to the pinned incremental path; the
        transform recompute commits an OVERWRITE (resets segment
        accretion for free)."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        src = str(tmp_path / "src")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, g string, v long")
        V.create(spark, src, mk([(i, "ab"[i % 2], i * 3) for i in range(20)]))
        tfn = lambda df: df.select("id", "g", (F.col("v") + 1).alias("w"))
        pairs = {}
        for flavor in ("inc", "auto"):
            kv = str(tmp_path / f"kv_{flavor}")
            tv = str(tmp_path / f"tv_{flavor}")
            MV.create_topk_view(spark, src, kv, key="id",
                                group_cols=["g"], score_col="v", k=3)
            MV.create_transform_view(spark, src, tv, key="id",
                                     transform=tfn, name="plus1")
            pairs[flavor] = (kv, tv)
        calls = {"n": 0}
        real = MV._changes_since_cursor

        def counting(*a, **kw):
            calls["n"] += 1
            return real(*a, **kw)

        monkeypatch.setattr(MV, "_changes_since_cursor", counting)
        V.upsert(spark, src, mk([(1, "b", 999), (50, "c", 7)]), "id")
        MV.refresh_topk_view(spark, pairs["inc"][0],
                             recompute_fraction=None)
        MV.refresh_transform_view(spark, pairs["inc"][1], tfn, "plus1",
                                  recompute_fraction=None)
        n0 = calls["n"]
        assert n0 >= 2
        MV.refresh_topk_view(spark, pairs["auto"][0],
                             recompute_fraction=1.0)
        MV.refresh_transform_view(spark, pairs["auto"][1], tfn, "plus1",
                                  recompute_fraction=1.0)
        assert calls["n"] == n0  # both recomputed: no CDC reads
        m = V._manifest(pairs["auto"][1],
                        V.current_version(pairs["auto"][1]))
        assert m["op"] == "overwrite"
        for getter in (
            lambda p: sorted((r.g, r.id, r.v, r.rnk)
                             for r in V.read(spark, p[0]).collect()),
            lambda p: sorted((r.id, r.g, r.w)
                             for r in V.read(spark, p[1]).collect()),
        ):
            assert getter(pairs["inc"]) == getter(pairs["auto"])

    def test_join_table_null_key_guard_single_job(self, spark, tmp_path):
        """The create-time NULL-identity guard still fires for either
        side (now as ONE Spark job over both probes)."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        lt = str(tmp_path / "l")
        rt = str(tmp_path / "r")
        V.create(spark, lt, spark.createDataFrame(
            [(1, 0), (None, 1)], "id long, k long"))
        V.create(spark, rt, spark.createDataFrame(
            [(7, 0)], "bid long, k long"))
        with pytest.raises(ValueError, match="left key 'id'"):
            MV.create_join_table_view(spark, lt, rt,
                                      str(tmp_path / "v"), on="k",
                                      left_key="id", right_key="bid")
        lt2 = str(tmp_path / "l2")
        rt2 = str(tmp_path / "r2")
        V.create(spark, lt2, spark.createDataFrame(
            [(1, 0)], "id long, k long"))
        V.create(spark, rt2, spark.createDataFrame(
            [(None, 0)], "bid long, k long"))
        with pytest.raises(ValueError, match="right key 'bid'"):
            MV.create_join_table_view(spark, lt2, rt2,
                                      str(tmp_path / "v2"), on="k",
                                      left_key="id", right_key="bid")

    def test_describe_cascade_reports_chain_freshness(self, spark,
                                                      tmp_path):
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        base = str(tmp_path / "b")
        dim = str(tmp_path / "d")
        jt = str(tmp_path / "jt")
        jv = str(tmp_path / "jv")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, k long, v long")
        V.create(spark, base, mk([(0, 0, 1)]))
        V.create(spark, dim, spark.createDataFrame(
            [(0, "x")], "k long, seg string"))
        MV.create_join_table_view(spark, base, dim, jt, on="k",
                                  left_key="id", right_key="k")
        MV.create_agg_view(spark, jt, jv, key="_pair_key",
                           group_cols=["seg"], sum_cols=["v"])
        V.append(spark, base, mk([(1, 0, 5)]))
        rep = MV.describe_cascade(jv)
        assert [r["view_kind"] for r in rep] == ["join_table", "agg"]
        # the join table lags its base by exactly the one new commit;
        # the agg view is fresh relative to the (stale) join table
        assert rep[0]["fresh"] is False
        assert rep[0]["sources"][0]["lag"] == 1
        assert rep[1]["fresh"] is True
        MV.refresh_cascade(spark, jv, recompute_fraction=None)
        rep = MV.describe_cascade(jv)
        assert all(r["fresh"] for r in rep)
        with pytest.raises(ValueError, match="not a maintained view"):
            MV.describe_cascade(base)

    def test_source_restore_named_error_and_self_heal(self, spark,
                                                      tmp_path):
        """restore() on a SOURCE leaves the view cursor ahead of the
        source head: the default refresh raises the NAMED error (not
        table_changes' interval ValueError); with dispatch enabled the
        refresh SELF-HEALS by recomputing from the restored head and
        resetting the cursor."""
        import os

        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        mk = lambda rows: spark.createDataFrame(
            rows, "id long, g string, v long")
        # versioned.restore() commits FORWARD (a new version mirroring
        # the old state), so a cursor can only get ahead of the head
        # through an OUT-OF-BAND rollback — an operator removing head
        # manifests (disaster recovery, a reverted replication). Build
        # exactly that.
        src2 = str(tmp_path / "s2")
        vw2 = str(tmp_path / "v2")
        V.create(spark, src2, mk([(1, "a", 1)]))
        for j in range(4):
            V.append(spark, src2, mk([(10 + j, "b", j)]))
        MV.create_agg_view(spark, src2, vw2, key="id",
                           group_cols=["g"], sum_cols=["v"])  # cursor v5
        for v in (4, 5):
            os.remove(V._snap_path(src2, v))
        V._write_checkpoint(src2, 3)
        assert V.current_version(src2) == 3
        with pytest.raises(RuntimeError, match="BEHIND the view cursor"):
            MV.refresh_agg_view(spark, vw2, recompute_fraction=None)
        v_new = MV.refresh_agg_view(spark, vw2, recompute_fraction=1.0)
        assert int(MV._spec(vw2)["mv_source_version"]) == 3
        got = sorted((r.g, r.cnt, r.sum_v)
                     for r in V.read(spark, vw2).collect())
        want = sorted((r.g, r.cnt, r.sum_v) for r in
                      V.read(spark, src2).groupBy("g").agg(
                          F.count(F.lit(1)).alias("cnt"),
                          F.sum("v").alias("sum_v")).collect())
        assert got == want and v_new > 0

    def test_vacuum_source_safely_respects_cursors(self, spark,
                                                   tmp_path):
        """vacuum_source_safely keeps the manifests a dependent view's
        cursor still needs (plain vacuum would reap them and break the
        next refresh), discovers the dependency through a composition
        chain, and ignores views that never read the source."""
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        src = str(tmp_path / "s")
        other = str(tmp_path / "o")
        vw = str(tmp_path / "v")
        ow = str(tmp_path / "ow")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, g string, v long")
        V.create(spark, src, mk([(1, "a", 1)]))
        V.create(spark, other, mk([(9, "z", 9)]))
        MV.create_agg_view(spark, src, vw, key="id",
                           group_cols=["g"], sum_cols=["v"])  # cursor v1
        MV.create_agg_view(spark, other, ow, key="id",
                           group_cols=["g"], sum_cols=["v"])
        # rewrites: the view's catch-up will need the v1 manifest
        V.upsert(spark, src, mk([(1, "a", 2)]), "id")
        V.upsert(spark, src, mk([(1, "a", 3)]), "id")
        V.upsert(spark, src, mk([(2, "b", 5)]), "id")
        # plain vacuum(keep_last=1) would reap v1..v3; the guard clamps
        MV.vacuum_source_safely(src, keep_last=1, views=[vw, ow])
        assert min(V._manifest_versions(src)) == 1
        MV.refresh_agg_view(spark, vw, recompute_fraction=None)  # refresh works after vacuum
        got = sorted((r.g, r.cnt, r.sum_v)
                     for r in V.read(spark, vw).collect())
        assert got == [("a", 1, 3), ("b", 1, 5)]
        # fresh cursor -> nothing clamps; old manifests reap normally
        MV.vacuum_source_safely(src, keep_last=1, views=[vw, ow])
        assert min(V._manifest_versions(src)) == V.current_version(src)
        # the unrelated view never constrained the unrelated source
        V.upsert(spark, other, mk([(9, "z", 1)]), "id")
        MV.vacuum_source_safely(other, keep_last=1, views=[vw])
        assert min(V._manifest_versions(other)) \
            == V.current_version(other)
