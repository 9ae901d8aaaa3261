"""The ACID table's schema property (operators/acidtable): every commit
records the table's Spark schema from the footers it already opens,
every scan and the change feed are given it, and a write that changes
a column's type is refused. Also: copy-on-write writers keep working
while a snapshot of the table is cached.
"""

from __future__ import annotations

import datetime

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bitcoin_olap_spark.operators import acidtable as AT

from .conftest import jobs_started


def _batch(spark, lo, n, parts=1):
    """Rows lo..lo+n-1 of a ledger-shaped table (long key, long value,
    timestamp_ntz), in `parts` files."""
    return (
        spark.range(lo, lo + n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("v"),
            F.expr(
                "CAST(TIMESTAMP_NTZ'2024-01-01 00:00:00' + "
                "make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0)"
                " AS TIMESTAMP_NTZ)"
            ).alias("ts"),
        )
        .repartition(parts)
    )


def _prop(root, v=None):
    v = AT.current_version(root) if v is None else v
    s = AT._table_props(root, v).get("schema")
    return None if s is None else StructType.fromJson(s)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_acid_snapshot_reads_plan_without_a_job(spark, tmp_path):
    """snapshot() and snapshot_pruned() on a table with the schema
    property start no Spark job before execution, with and without
    deletion vectors: the scans are given the schema instead of
    inferring it."""
    root = str(tmp_path / "t")
    AT.init_table(spark, root, _batch(spark, 0, 600, parts=3), stats_cols=("k",))
    AT.append(spark, root, _batch(spark, 600, 200))

    assert jobs_started(spark, lambda: AT.snapshot(spark, root)) == 0
    assert (
        jobs_started(
            spark, lambda: AT.snapshot_pruned(spark, root, "k", 650, 700)
        )
        == 0
    )
    df, n_read, n_total = AT.snapshot_pruned(spark, root, "k", 650, 700)
    assert (n_read, n_total) == (1, 4)
    assert df.count() == 51

    # merge-on-read: the deletion-vector scans are given their fixed
    # schema too
    AT.delete_where_mor(spark, root, F.col("k") % 10 == 0)
    dvs = AT._resolve(root, AT.current_version(root))[2]
    assert dvs and spark.read.parquet(*dvs).schema == AT._DV_SCHEMA
    assert jobs_started(spark, lambda: AT.snapshot(spark, root)) == 0
    assert (
        jobs_started(
            spark, lambda: AT.snapshot_pruned(spark, root, "k", 650, 700)
        )
        == 0
    )
    assert AT.snapshot(spark, root).count() == 720
    df, _, _ = AT.snapshot_pruned(spark, root, "k", 650, 700)
    assert df.count() == 45


def test_acid_cow_writers_under_a_cached_snapshot(spark, tmp_path):
    """merge_upsert, delete_where and the bloom collection find the
    files they touch while the session caches a snapshot of exactly
    those files (Spark then answers the scan from the cache, where
    input_file_name() is '')."""
    root = str(tmp_path / "t")
    AT.init_table(spark, root, _batch(spark, 0, 1000, parts=4))

    def cached():
        snap = AT.snapshot(spark, root).cache()
        snap.count()
        return snap

    snap = cached()
    updates = spark.createDataFrame([(5, 100), (2000, 1)], "k long, v long")
    updates = updates.withColumn(
        "ts", F.lit(datetime.datetime(2030, 1, 1)).cast("timestamp_ntz")
    )
    AT.merge_upsert(spark, root, updates, ["k"])
    snap.unpersist()
    got = AT.snapshot(spark, root)
    assert got.count() == 1001
    assert _rows(got.filter(F.col("k").isin(5, 2000)).select("k", "v")) == [
        (5, 100),
        (2000, 1),
    ]

    snap = cached()
    AT.delete_where(spark, root, F.col("k") < 10)
    snap.unpersist()
    got = AT.snapshot(spark, root)
    assert got.count() == 991
    assert got.filter(F.col("k") < 10).count() == 0

    snap = cached()
    files = AT.read_manifest(root)["files"]
    blooms = AT.collect_file_blooms(spark, files, ("k",))
    # every file with rows gets its bloom under its own path
    assert set(blooms) == {f for f in files if pq.read_metadata(f).num_rows}
    # a bloom-collecting init_table while another table is cached
    other = str(tmp_path / "other")
    AT.init_table(spark, other, _batch(spark, 0, 300, parts=2), bloom_cols=("k",))
    snap.unpersist()
    df, n_read, n_total = AT.snapshot_bloom_lookup(spark, other, "k", 17)
    assert df.count() == 1 and n_read <= n_total == 2
    stats = AT._resolve(other, 0)[1]
    assert all("bloom:k" in stats[f] for f in AT.read_manifest(other)["files"])


def test_acid_schema_property_tracks_every_writer(spark, tmp_path):
    """After every writer the property is the schema Spark infers from
    the version's files; clone copies it and restore rewinds it."""
    root = str(tmp_path / "t")

    def check(r=root):
        files = AT.read_manifest(r)["files"]
        assert _prop(r) == spark.read.parquet(*files).schema

    AT.init_table(spark, root, _batch(spark, 0, 400, parts=2), stats_cols=("k",))
    check()
    AT.append(spark, root, _batch(spark, 400, 100))
    check()
    AT.merge_upsert(spark, root, _batch(spark, 450, 100), ["k"])
    check()
    AT.delete_where(spark, root, F.col("k") % 5 == 0)
    check()
    AT.optimize(spark, root, target_files=2)
    check()
    AT.optimize_zorder(spark, root, ["k", "v"], target_files=2)
    check()
    v_narrow = AT.current_version(root)

    AT.append(spark, root, _batch(spark, 900, 5).withColumn("tag", F.lit("x")))
    wide = _prop(root)
    assert wide.names == ["k", "v", "ts", "tag"]

    dest = str(tmp_path / "clone")
    AT.clone(root, dest)
    assert _prop(dest) == wide
    AT.restore(spark, root, v_narrow)
    check()
    assert _prop(root).names == ["k", "v", "ts"]
    assert AT.snapshot(spark, root).count() == 440


def test_acid_add_columns_snapshot_has_table_schema(spark, tmp_path):
    """After an append with an extra column, snapshot() reads the
    widened schema in table order (the new column last, whatever file
    sorts first), old rows NULL in the new column."""
    root = str(tmp_path / "t")
    AT.init_table(spark, root, _batch(spark, 0, 300, parts=3))
    wide = _batch(spark, 300, 4).select(F.lit("x").alias("tag"), "ts", "v", "k")
    AT.append(spark, root, wide)
    snap = AT.snapshot(spark, root)
    assert snap.columns == ["k", "v", "ts", "tag"]
    want = _rows(_batch(spark, 0, 300).withColumn("tag", F.lit(None)))
    want += _rows(wide.select(*snap.columns))
    assert _rows(snap) == sorted(want)
    # later writers keep the widened schema
    AT.append(spark, root, _batch(spark, 400, 2))
    assert AT.snapshot(spark, root).columns == ["k", "v", "ts", "tag"]


def test_acid_type_changing_write_is_refused(spark, tmp_path):
    """An append or a merge whose files change a column's type raises
    ValueError naming the column before anything is committed: the
    head stays, and snapshot() still reads its rows."""
    import pytest

    root = str(tmp_path / "t")
    AT.init_table(
        spark, root, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    )
    AT.append(spark, root, spark.createDataFrame([(3, 30)], "k long, v long"))
    head = AT.current_version(root)
    want = [(1, 10), (2, 20), (3, 30)]
    conflict = spark.createDataFrame([(2, "seven")], "k long, v string")
    with pytest.raises(ValueError, match="'v' from bigint to string"):
        AT.append(spark, root, conflict)
    assert AT.current_version(root) == head
    assert _rows(AT.snapshot(spark, root)) == want
    with pytest.raises(ValueError, match="'v' from bigint to string"):
        AT.merge_upsert(spark, root, conflict, ["k"])
    assert AT.current_version(root) == head
    assert _rows(AT.snapshot(spark, root)) == want
    assert _prop(root).simpleString() == "struct<k:bigint,v:bigint>"


def test_acid_widen_schema_needs_spark_footer(tmp_path):
    """A data file whose footer carries no Spark schema (written by a
    non-Spark writer) is refused: widening raises rather than leave
    the commit without a schema property."""
    import pyarrow as pa
    import pytest

    p = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), p)
    with pytest.raises(ValueError, match="Spark schema"):
        AT._widen_schema(AT._NO_FIELDS, pq.read_metadata(p))


def test_acid_bloom_collection_infers_no_schema(spark, tmp_path):
    """collect_file_blooms gives its one scan the schema the writer put
    in the footers: it starts no inference job, and a second bloom
    column costs no extra job."""
    root = str(tmp_path / "t")
    AT.init_table(spark, root, _batch(spark, 0, 400, parts=2))
    files = AT.read_manifest(root)["files"]
    one = jobs_started(spark, lambda: AT.collect_file_blooms(spark, files, ("k",)))
    two = jobs_started(
        spark, lambda: AT.collect_file_blooms(spark, files, ("k", "v"))
    )
    assert one == two <= 2
    # one aggregate for both columns gives each its own bitmaps
    both = AT.collect_file_blooms(spark, files, ("k", "v"))
    k = AT.collect_file_blooms(spark, files, ("k",))
    v = AT.collect_file_blooms(spark, files, ("v",))
    assert set(both) == set(files)
    assert both == {f: {**k[f], **v[f]} for f in files}


def test_cdf_feed_reads_the_snapshot_types(spark, tmp_path):
    """The change feed's table columns are the schema property: a
    TIMESTAMP_NTZ and an array column read with snapshot()'s types and
    values."""
    from bitcoin_olap_spark.sources.cdcfeed import register_cdcfeed

    root = str(tmp_path / "t")
    AT.init_table(
        spark,
        root,
        _batch(spark, 0, 20).withColumn("tags", F.array("k", "v")),
    )
    AT.append(
        spark, root, _batch(spark, 20, 5).withColumn("tags", F.array("v"))
    )
    register_cdcfeed(spark)
    feed = spark.read.format("acid_cdf").option("path", root).load()
    snap = AT.snapshot(spark, root)
    assert feed.drop("_change_type", "_commit_version").schema == snap.schema
    assert _rows(feed.select(*snap.columns)) == _rows(snap)
    assert {r[0] for r in feed.select("_change_type").collect()} == {"insert"}
