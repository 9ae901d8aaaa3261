"""The ACID table's schema property (operators/acidtable): every commit
records the table's Spark schema from the footers it already opens,
every scan is given it, and a table without it falls back to
inference. Also: copy-on-write writers keep working while a snapshot
of the table is cached.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

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

    AT.add_columns(
        spark, root, _batch(spark, 900, 5).withColumn("tag", F.lit("x"))
    )
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
    """After add_columns, snapshot() reads the widened schema in table
    order (the new column last, whatever file sorts first) with the
    same rows as snapshot_merged(), old rows NULL in the new column."""
    root = str(tmp_path / "t")
    AT.init_table(spark, root, _batch(spark, 0, 300, parts=3))
    AT.add_columns(
        spark,
        root,
        _batch(spark, 300, 4).select(F.lit("x").alias("tag"), "ts", "v", "k"),
    )
    snap = AT.snapshot(spark, root)
    assert snap.columns == ["k", "v", "ts", "tag"]
    merged = AT.snapshot_merged(spark, root)
    assert _rows(snap) == _rows(merged.select(*snap.columns))
    assert snap.filter(F.col("tag").isNull()).count() == 300
    # later writers keep the widened schema
    AT.append(spark, root, _batch(spark, 400, 2))
    assert AT.snapshot(spark, root).columns == ["k", "v", "ts", "tag"]


def test_acid_reads_fall_back_without_schema_property(spark, tmp_path):
    """A table whose manifests lack the property (written before it
    existed) reads, merges and appends correctly through inference,
    and its later commits record none; a type conflict between files
    also leaves a commit without one."""
    src = str(tmp_path / "src")
    AT.init_table(spark, src, _batch(spark, 0, 500, parts=2), stats_cols=("k",))
    AT.append(spark, src, _batch(spark, 500, 100))
    want = _rows(AT.snapshot(spark, src))

    old = str(tmp_path / "old")
    shutil.copytree(src, old)
    for f in os.listdir(os.path.join(old, "_log")):
        if f[0].isdigit():
            p = os.path.join(old, "_log", f)
            with open(p) as fh:
                m = json.load(fh)
            m.pop("schema", None)
            with open(p, "w") as fh:
                json.dump(m, fh)
    assert _prop(old) is None
    assert _rows(AT.snapshot(spark, old)) == want
    assert _rows(AT.snapshot_merged(spark, old)) == want
    df, _, _ = AT.snapshot_pruned(spark, old, "k", 100, 199)
    assert _rows(df) == [r for r in want if 100 <= r[0] <= 199]
    AT.merge_upsert(spark, old, _batch(spark, 590, 20), ["k"])
    assert _prop(old) is None
    assert AT.snapshot(spark, old).count() == 610

    conflict = spark.createDataFrame([(9000, "seven")], "k long, v string")
    AT.append(spark, src, conflict)
    assert _prop(src) is None
    assert "schema" not in AT._read_raw(src, AT.current_version(src))


def test_acid_widen_schema_needs_spark_footer(tmp_path):
    """A data file whose footer carries no Spark schema (written by a
    non-Spark writer) leaves the commit without a property."""
    import pyarrow as pa

    p = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), p)
    assert AT._widen_schema(AT._NO_FIELDS, pq.read_metadata(p)) is None
