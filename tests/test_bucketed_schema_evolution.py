"""Schema evolution on the BUCKETED versioned layout (round 11).

ALTER ADD = a metadata-only ``add-column`` commit (no segment has a
natural bucket for zero rows, so the declaration lives in col_types
and ``read_bucketed`` reconciles the unwritten column as typed
NULLs). ALTER DROP = the same ``hidden_cols`` read projection flat
tables use, carried by every bucketed commit and MATERIALIZED by the
next full compact_bucketed pass (which then clears the list, letting
the name return). RESTORE is data-AND-schema time travel on both
layouts.
"""

import pytest
from pyspark.sql import functions as F  # noqa: F401

from rclip_server_spark.sources import versioned as V


def _mk(spark, path, n=12):
    V.create_bucketed(spark, str(path), spark.createDataFrame(
        [(i, f"n{i}", i * 10) for i in range(n)],
        "id INT, name STRING, val INT"), key="id", n_buckets=4)
    return str(path)


def test_add_column_is_metadata_only(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    m1 = V._manifest(t, 1)
    v2 = V.add_column(spark, t, "bonus", "bigint")
    m2 = V._manifest(t, v2)
    assert m2["buckets"] == m1["buckets"]  # zero segments written
    assert m2["col_types"]["bonus"] == "bigint"
    df = V.read_bucketed(spark, t)
    assert df.columns == ["id", "name", "val", "bonus"]
    assert df.where("bonus IS NOT NULL").count() == 0
    assert dict(df.dtypes)["bonus"] == "bigint"
    # writes WITH the column land; old rows still read NULL
    V.append(spark, t, spark.createDataFrame(
        [(50, "x", 1, 500)], "id INT, name STRING, val INT, bonus BIGINT"))
    got = {r.id: r.bonus for r in V.read_bucketed(spark, t).collect()}
    assert got[50] == 500 and got[0] is None
    # drift guard: the declared type is enforced on later batches
    with pytest.raises(V.SchemaDriftError):
        V.append(spark, t, spark.createDataFrame(
            [(51, "y", 1, "no")],
            "id INT, name STRING, val INT, bonus STRING"))


def test_add_column_guards(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="already exists"):
        V.add_column(spark, t, "NAME", "string")  # case-insensitive
    with pytest.raises(ValueError, match="bad column type"):
        V.add_column(spark, t, "z", "not_a_type<<")
    # the flat layout shares the verb, and with it the same guards
    flat = str(tmp_path / "flat")
    V.create(spark, flat, spark.createDataFrame([(1,)], "id INT"))
    with pytest.raises(ValueError, match="already exists"):
        V.add_column(spark, flat, "ID", "bigint")
    with pytest.raises(ValueError, match="bad column type"):
        V.add_column(spark, flat, "z", "not_a_type<<")


def test_drop_column_hidden_then_materialized(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v2 = V.drop_column(spark, t, "name")
    m2 = V._manifest(t, v2)
    assert m2["hidden_cols"] == ["name"]
    assert m2["buckets"] == V._manifest(t, 1)["buckets"]  # no rewrite
    assert V.read_bucketed(spark, t).columns == ["id", "val"]
    # time travel below the drop still shows the column
    assert "name" in V.read_bucketed(spark, t, version=1).columns
    # appends carry the hidden list; re-adding the name is refused
    V.append(spark, t, spark.createDataFrame([(50, 1)],
                                             "id INT, val INT"))
    with pytest.raises(ValueError, match="dropped"):
        V.add_column(spark, t, "name", "string")
    # the full compact pass materializes the drop and clears hidden
    v = V.compact_bucketed(spark, t)
    m = V._manifest(t, v)
    assert not m.get("hidden_cols")
    assert V.read_bucketed(spark, t).columns == ["id", "val"]
    # the name can return after materialization
    V.add_column(spark, t, "name", "string")
    assert "name" in V.read_bucketed(spark, t).columns


def test_drop_bucket_key_refused(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="bucket "):
        V.drop_column(spark, t, "id")


def test_evolution_composes_with_delete_vectors(spark, tmp_path):
    """ADD + conditional-DML + DROP + pending vectors, one table: the
    read path must apply vectors AND hidden AND reconciliation in one
    pass, and the rewrite materializes all three."""
    t = _mk(spark, tmp_path / "t")
    V.add_column(spark, t, "bonus", "bigint")
    upd = spark.createDataFrame([(3, "n3", 30, 333)],
                                "id INT, name STRING, val INT, "
                                "bonus BIGINT")
    V.delete_and_append(spark, t, upd.select("id"), "id", upd)
    V.delete_rows(spark, t, [7], "id")
    V.drop_column(spark, t, "name")
    df = V.read_bucketed(spark, t)
    assert df.columns == ["id", "val", "bonus"]
    got = {r.id: r.bonus for r in df.collect()}
    assert got[3] == 333 and 7 not in got and got[0] is None
    v = V.compact_bucketed(spark, t)
    m = V._manifest(t, v)
    assert not m.get("hidden_cols") and not m.get("delete_segs")
    df2 = V.read_bucketed(spark, t)
    assert sorted(tuple(r) for r in df2.collect()) == \
           sorted(tuple(r) for r in df.collect())


def test_restore_across_evolution(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    V.add_column(spark, t, "bonus", "bigint")
    v_pre_drop = V.current_version(t)
    V.drop_column(spark, t, "name")
    assert V.read_bucketed(spark, t).columns == ["id", "val", "bonus"]
    V.restore(spark, t, v_pre_drop)
    assert V.read_bucketed(spark, t).columns == \
           ["id", "name", "val", "bonus"]
    V.restore(spark, t, 1)
    assert V.read_bucketed(spark, t).columns == ["id", "name", "val"]


def test_reserved_bucket_column_refused(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="reserved routing column"):
        V.add_column(spark, t, "__bucket", "bigint")


def test_optimize_clears_drop_on_all_empty_table(spark, tmp_path):
    """Second-review fix: a pending DROP on an all-empty bucketed
    table still materializes (no bytes exist anywhere), so the name
    can return."""
    t = _mk(spark, tmp_path / "t")
    V.overwrite(spark, t, spark.createDataFrame(
        [], "id INT, name STRING, val INT"))  # buckets = {}
    V.drop_column(spark, t, "name")
    v = V.compact_bucketed(spark, t)
    assert not V._manifest(t, v).get("hidden_cols")
    V.add_column(spark, t, "name", "string")
    assert "name" in V.read_bucketed(spark, t).columns


def test_overwrite_bucketed_single_pass(spark, tmp_path):
    """Second-review fix: the bucketed overwrite must not execute the
    source plan twice — count the executions with an accumulator."""
    t = _mk(spark, tmp_path / "t", n=8)
    acc = spark.sparkContext.accumulator(0)

    def _tick(it):
        acc.add(1)
        return it

    src = (spark.createDataFrame([(i, f"z{i}", i) for i in range(8)],
                                 "id INT, name STRING, val INT")
           .repartition(1).rdd.mapPartitions(_tick).toDF(
               "id INT, name STRING, val INT"))
    V.overwrite(spark, t, src)
    assert sorted(r.id for r in V.read_bucketed(spark, t).collect()) \
        == list(range(8))
    assert acc.value == 1, f"source plan executed {acc.value} times"


def test_add_column_is_cdc_noop(spark, tmp_path):
    """add-column is metadata-only, so a CDC interval containing it
    takes the zero-insert fast path — no snapshot-diff recompute of
    an unchanged table, and downstream view refreshes see an empty
    delta instead of a rewriting interval."""
    t = _mk(spark, tmp_path / "t")
    v1 = V.current_version(t)
    V.add_column(spark, t, "bonus", "bigint")
    ch = V.table_changes(spark, t, v1)
    assert ch.count() == 0
    V.append(spark, t, spark.createDataFrame(
        [(50, "x", 1, 500)],
        "id INT, name STRING, val INT, bonus BIGINT"))
    ch2 = V.table_changes(spark, t, v1)
    assert ch2.count() == 1
    assert set(ch2.select("_change_type").distinct().toPandas()
               ["_change_type"]) == {"insert"}


def test_zorder_bucketed_within_bucket_clustering(spark, tmp_path):
    """OPTIMIZE ZORDER on the bucketed layout (r11): every non-empty
    bucket folds to ONE segment whose rows are Morton-sorted — the
    within-bucket ordering that makes parquet row-group stats
    selective. State preserved exactly; pending vectors materialized."""
    import os

    from rclip_server_spark.sources.writer import zorder_value

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 17, (i * 7) % 23) for i in range(400)],
        "id INT, x INT, y INT")
    V.create_bucketed(spark, t, df, key="id", n_buckets=4)
    V.append(spark, t, spark.createDataFrame(
        [(1000, 3, 4)], "id INT, x INT, y INT"))  # accreted segment
    V.delete_rows(spark, t, [7], "id")
    before = sorted(tuple(r) for r in V.read_bucketed(spark, t)
                    .collect())
    v = V.cluster_zorder_bucketed(spark, t, "x", "y")
    m = V._manifest(t, v)
    assert all(len(ss) == 1 for ss in m["buckets"].values() if ss)
    assert not m.get("delete_segs")
    after = sorted(tuple(r) for r in V.read_bucketed(spark, t)
                   .collect())
    assert after == before
    # physical ordering: each bucket segment's rows are z-nondecreasing
    for ss in m["buckets"].values():
        for s in ss:
            seg = spark.read.parquet(os.path.join(t, s))
            zs = [r.z for r in seg.select(zorder_value(
                F.col("x"), F.col("y"), 16).alias("z")).collect()]
            assert zs == sorted(zs), "bucket segment not z-sorted"
    # unknown column named
    with pytest.raises(ValueError, match="no column"):
        V.cluster_zorder_bucketed(spark, t, "x", "nope")
