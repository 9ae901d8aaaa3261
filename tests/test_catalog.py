"""The file-identity memo (operators/cacheutil.memo) and its users:
catalog tables, shard copies and the trained IVF quantizer; and the
CDF feed's schema, which follows the table's head. Files are
rewritten in place at a fixed path, as a re-export does, and every
read after the rewrite must see the new bytes. Also: catalog.table
opens a table with no Spark job, given the schema read from a parquet
footer, which equals the schema Spark infers."""

from __future__ import annotations

import datetime
import decimal
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bitcoin_olap_spark import catalog
from bitcoin_olap_spark.catalog import SHARD_MIN_ROWS, TABLES, table
from bitcoin_olap_spark.operators import cacheutil as CU

from .conftest import SF_TEST, jobs_started
from .oracle import compare

#: explicit mtimes (ns), so no test depends on the filesystem's
#: timestamp granularity
T0, T1 = 10**18, 10**18 + 10**9


def _write_ledger(path: str, value: int, mtime_ns: int) -> None:
    n = SHARD_MIN_ROWS
    pq.write_table(
        pa.table({"k": pa.array(range(n)), "v": pa.array([value] * n)}), path
    )
    os.utime(path, ns=(mtime_ns, mtime_ns))


def _sum_v(spark, sf: str, spread: bool) -> int:
    return table(spark, sf, "ledger", spread).agg(F.sum("v")).first()[0]


def test_memo_one_entry_per_key():
    builds = []

    def build(v):
        builds.append(v)
        return [v]

    key = ("test.memo", "one-entry")
    n_before = len(CU._MEMO)
    a = CU.memo(key, 1, lambda: build(1))
    assert CU.memo(key, 1, lambda: build(99)) is a  # hit: no build
    b = CU.memo(key, 2, lambda: build(2))
    assert b == [2] and builds == [1, 2]
    assert CU.memo(key, 2, lambda: build(99)) is b  # replaced entry
    for t in range(3, 13):
        CU.memo(key, t, lambda: build(t))
    assert builds == list(range(1, 13))
    assert len(CU._MEMO) == n_before + 1
    assert CU._MEMO[key] == (12, [12])
    with pytest.raises(ZeroDivisionError):
        CU.memo(key, 13, lambda: 1 // 0)
    assert CU._MEMO[key] == (12, [12])  # a failed build keeps the entry


def test_memo_builds_each_key_once_under_thread_stress():
    """More threads than cores and a short switch interval: each key
    is built once and every thread gets the same object."""
    import sys
    import time

    builds = {}

    def build(k):
        builds[k] = builds.get(k, 0) + 1
        time.sleep(0.001)
        return object()

    keys = [("test.stress", i) for i in range(4)]

    def worker(_):
        return [CU.memo(k, 0, lambda k=k: build(k)) for k in keys]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            got = list(pool.map(worker, range(64), timeout=60))
    finally:
        sys.setswitchinterval(old)
    assert builds == {k: 1 for k in keys}
    assert all(all(a is b for a, b in zip(r, got[0])) for r in got)


def test_cdf_feed_schema_follows_head(spark, tmp_path):
    """The feed's schema is the head version's: appends keep it, and
    an append with an extra column widens it."""
    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.sources.cdcfeed import register_cdcfeed

    register_cdcfeed(spark)
    root = str(tmp_path / "tbl")

    def columns():
        feed = spark.read.format("acid_cdf").option("path", root).load()
        return feed.schema.simpleString()

    AT.init_table(spark, root, spark.range(0, 5).select("id"))
    for i in range(3):
        AT.append(spark, root, spark.range(10 * i, 10 * i + 5).select("id"))
        assert columns() == (
            "struct<id:bigint,_change_type:string,_commit_version:bigint>"
        )
    AT.append(spark, root, spark.range(90, 95).selectExpr("id", "'x' AS note"))
    assert columns() == (
        "struct<id:bigint,note:string,_change_type:string,"
        "_commit_version:bigint>"
    )


def test_table_sees_in_place_rewrite(spark, tmp_path):
    """A table rewritten at the same path is read afresh, spread or
    not: the DataFrame memo and the shard copy both follow the file."""
    sf = str(tmp_path)
    path = os.path.join(sf, "ledger.parquet")
    _write_ledger(path, 1, T0)
    assert _sum_v(spark, sf, False) == SHARD_MIN_ROWS
    assert _sum_v(spark, sf, True) == SHARD_MIN_ROWS
    assert table(spark, sf, "ledger") is table(spark, sf, "ledger")
    _write_ledger(path, 2, T1)
    assert _sum_v(spark, sf, False) == 2 * SHARD_MIN_ROWS
    assert _sum_v(spark, sf, True) == 2 * SHARD_MIN_ROWS


def test_spread_table_on_a_directory(spark, tmp_path):
    """A table stored as a directory of parquet files loads with
    spread=True, and a file added to the directory is seen."""
    sf = str(tmp_path)
    d = os.path.join(sf, "ledger.parquet")
    os.makedirs(d)
    _write_ledger(os.path.join(d, "part-0.parquet"), 1, T0)
    assert _sum_v(spark, sf, True) == SHARD_MIN_ROWS
    _write_ledger(os.path.join(d, "part-1.parquet"), 3, T0)
    assert _sum_v(spark, sf, True) == 4 * SHARD_MIN_ROWS
    assert _sum_v(spark, sf, False) == 4 * SHARD_MIN_ROWS


def test_spread_first_touch_from_two_threads_shards_once(
    spark, tmp_path, monkeypatch
):
    """Two threads that touch one spread table for the first time at
    once write the shard copy once and get the same DataFrame."""
    sf = str(tmp_path)
    _write_ledger(os.path.join(sf, "ledger.parquet"), 1, T0)
    real_write = pq.write_table
    written = []

    def slow_write(tbl, where, **kw):
        written.append(where)
        threading.Event().wait(0.1)
        return real_write(tbl, where, **kw)

    monkeypatch.setattr(pq, "write_table", slow_write)
    start = threading.Barrier(2, timeout=60)

    def touch():
        start.wait()
        return table(spark, sf, "ledger", spread=True)

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(touch) for _ in range(2)]
        a, b = [f.result(timeout=300) for f in futures]
    assert a is b
    shard_dir = os.path.dirname(written[0])
    assert len(written) == len(os.listdir(shard_dir)) > 1
    assert a.agg(F.sum("v")).first()[0] == SHARD_MIN_ROWS


def test_ivf_retrains_on_rewritten_embeddings(spark, tmp_path):
    """sim_topk_ivf on an embeddings file rewritten in place matches
    the DuckDB oracle on the new file: the memoized quantizer is
    retrained, not reused. The rewrite renumbers the vectors, so the
    query set and the lowest-id centroid seeds both change."""
    import duckdb

    from bitcoin_olap_spark.queries.llmdata import sim_topk_ivf
    from bitcoin_olap_spark.registry import REGISTRY

    sf = str(tmp_path)
    path = os.path.join(sf, "embeddings.parquet")
    emb = pq.read_table(os.path.join(SF_TEST, "embeddings.parquet"))
    pq.write_table(emb, path)
    os.utime(path, ns=(T0, T0))
    sim_topk_ivf(spark, sf).collect()  # trains and memoizes centroids
    ids = emb.column("vec_id").to_pylist()
    emb = emb.set_column(
        0, "vec_id", pa.array([max(ids) - i for i in ids], pa.int64())
    )
    pq.write_table(emb, path)
    os.utime(path, ns=(T1, T1))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    want = con.execute(REGISTRY["sim_topk_ivf"].oracle).df()
    compare(sim_topk_ivf(spark, sf), want, "sim_topk_ivf")


def _write_table_dir(d: str, n_files: int) -> None:
    os.makedirs(d)
    for i in range(n_files):
        _write_ledger(os.path.join(d, f"part-{i}.parquet"), i, T0)


@pytest.mark.parametrize(
    "layout", ["file", "shard_copy", "directory", "spark_written", "glob"]
)
def test_table_starts_no_job(spark, tmp_path, layout):
    """catalog.table plans a single-file table, the spread shard copy
    of one and a directory table without starting a Spark job, and
    catalog.read_parquet plans a directory Spark wrote (part files
    beside `_SUCCESS` and `.crc` files) and a glob pattern over files
    the same way."""
    sf = str(tmp_path)
    path = os.path.join(sf, "ledger.parquet")
    if layout == "glob":
        _write_ledger(os.path.join(sf, "ledger-b.parquet"), 1, T0)
        _write_ledger(os.path.join(sf, "ledger-a.parquet"), 2, T0)
        path = os.path.join(sf, "ledger-*.parquet")
        load = lambda: catalog.read_parquet(spark, path)  # noqa: E731
    elif layout == "spark_written":
        rows = spark.range(SHARD_MIN_ROWS).selectExpr("id AS k", "1L AS v")
        rows.write.parquet(path)
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        load = lambda: catalog.read_parquet(spark, path)  # noqa: E731
    else:
        if layout == "directory":
            _write_table_dir(path, 3)
        else:
            _write_ledger(path, 1, T0)
        spread = layout == "shard_copy"
        load = lambda: table(spark, sf, "ledger", spread)  # noqa: E731
    assert jobs_started(spark, load) == 0
    df = load()
    assert df.schema == spark.read.parquet(path).schema
    want = {"directory": 3, "glob": 3}.get(layout, 1) * SHARD_MIN_ROWS
    assert df.agg(F.sum("v")).first()[0] == want


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_matches_inference_on_testdata(spark, name):
    path = os.path.join(SF_TEST, f"{name}.parquet")
    got = catalog._footer_schema(spark, path)
    assert got is not None
    assert got == spark.read.parquet(path).schema


def _synthetic_columns() -> pa.Table:
    """One column per parquet type whose Spark mapping depends on the
    converter or the session's conf."""
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    return pa.table(
        {
            "ts_nanos": pa.array([10**18 + 7], pa.timestamp("ns")),
            "ts_nanos_utc": pa.array([10**18 + 7], pa.timestamp("ns", "UTC")),
            "ts_micros": pa.array([ts], pa.timestamp("us")),
            "ts_micros_utc": pa.array([ts], pa.timestamp("us", "UTC")),
            "ts_millis_utc": pa.array([ts], pa.timestamp("ms", "UTC")),
            "day": pa.array([datetime.date(2024, 1, 2)], pa.date32()),
            "dec_small": pa.array([decimal.Decimal("1.25")], pa.decimal128(5, 2)),
            "dec_big": pa.array(
                [decimal.Decimal("123456789012345678.901")],
                pa.decimal128(30, 3),
            ),
            "vec": pa.array([[1.0, 2.5]], pa.list_(pa.float32())),
            "rec": pa.array(
                [{"a": 1, "b": "x"}],
                pa.struct([("a", pa.int32()), ("b", pa.string())]),
            ),
            "tags": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
            "i8": pa.array([-3], pa.int8()),
            "i16": pa.array([300], pa.int16()),
            "u8": pa.array([200], pa.uint8()),
            "blob": pa.array([b"\x00\xff"], pa.binary()),
            "text": pa.array(["t"], pa.string()),
            "flag": pa.array([True], pa.bool_()),
            "f64": pa.array([0.5], pa.float64()),
        }
    )


def test_footer_schema_matches_inference_on_synthetic_files(spark, tmp_path):
    """The footer schema equals the inferred one for the parquet types
    the converter maps by the session's conf (TIMESTAMP(NANOS) under
    nanosAsLong, micros with and without UTC adjustment), for nested
    and narrow types, with and without the dictionary, and for a
    Spark-written file, whose footer carries Spark's own row schema."""
    tbl = _synthetic_columns()
    files = {}
    for i, kw in enumerate(
        [
            {"coerce_timestamps": None, "version": "2.6"},
            {"coerce_timestamps": None, "use_dictionary": False},
        ]
    ):
        files[i] = str(tmp_path / f"pa{i}.parquet")
        pq.write_table(tbl, files[i], **kw)
    out = str(tmp_path / "spark_written")
    spark.range(3).selectExpr(
        "id",
        "CAST(id AS TINYINT) AS i8",
        "CAST(id AS DECIMAL(12, 4)) AS dec",
        "TIMESTAMP'2024-01-01 00:00:00' AS ts",
        "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts_ntz",
        "array(CAST(id AS FLOAT)) AS vec",
        "named_struct('x', id, 'y', map('k', id)) AS rec",
        "CAST(id AS STRING) AS s",
    ).coalesce(1).write.parquet(out)
    files["spark"] = next(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    for f in files.values():
        got = catalog._footer_schema(spark, f)
        assert got is not None, f
        assert got == spark.read.parquet(f).schema, f
    # the nanos columns are longs only because the session reads them
    # as such (session.RUNTIME_CONF)
    got = catalog._footer_schema(spark, files[0])
    assert got["ts_nanos"].dataType.typeName() == "long"


def test_unreadable_footer_keeps_sparks_error(spark, tmp_path):
    """A file whose footer the driver cannot read or convert gets no
    footer schema, so Spark's inference reports it as before: a
    file that is not parquet, and TIMESTAMP(NANOS) with nanosAsLong
    off, which Spark cannot map."""
    bad = str(tmp_path / "bad.parquet")
    with open(bad, "wb") as f:
        f.write(b"not a parquet file")
    assert catalog._footer_schema(spark, bad) is None
    with pytest.raises(Exception):
        catalog.read_parquet(spark, bad).schema

    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1], pa.timestamp("ns"))}),
        nanos,
        coerce_timestamps=None,
        version="2.6",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert catalog._footer_schema(spark, nanos) is None
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            catalog.read_parquet(spark, nanos).schema
    finally:
        spark.conf.set(key, old)
    assert catalog._footer_schema(spark, nanos).names == ["ts"]


def test_directory_with_common_metadata(spark, tmp_path):
    """A directory whose `_common_metadata` summary names a column no
    data file has: the schema comes from the summary, as inference
    takes it, and the table opens with no job."""
    sf = str(tmp_path)
    d = os.path.join(sf, "ledger.parquet")
    os.makedirs(d)
    pq.write_table(
        pa.table({"k": [1, 2], "v": [10, 20]}), os.path.join(d, "p0.parquet")
    )
    pq.write_table(
        pa.table({"k": [3], "v": [30]}), os.path.join(d, "p1.parquet")
    )
    pq.write_metadata(
        pa.schema([("k", pa.int64()), ("v", pa.int64()), ("z", pa.float32())]),
        os.path.join(d, "_common_metadata"),
    )
    assert catalog._inference_file(d)[0] == os.path.join(d, "_common_metadata")
    assert jobs_started(spark, lambda: table(spark, sf, "ledger")) == 0
    df = table(spark, sf, "ledger")
    assert df.schema == spark.read.parquet(d).schema
    assert df.schema.names == ["k", "v", "z"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, 10, None),
        (2, 20, None),
        (3, 30, None),
    ]


def test_partitioned_directory(spark, tmp_path):
    """A `k=v` partitioned directory opens with no job and the inferred
    schema (data columns, then the partition column). When a partition
    column is also a file column, a given schema would reorder and
    retype it, so that layout keeps Spark's inference."""
    sf = str(tmp_path)
    d = os.path.join(sf, "ledger.parquet")
    for day in (2, 1):
        os.makedirs(os.path.join(d, f"day={day}"))
        pq.write_table(
            pa.table({"v": [day * 10, day * 10 + 1]}),
            os.path.join(d, f"day={day}", "p.parquet"),
        )
    os.makedirs(os.path.join(d, "_temporary", "0"))
    assert jobs_started(spark, lambda: table(spark, sf, "ledger")) == 0
    df = table(spark, sf, "ledger")
    assert df.schema == spark.read.parquet(d).schema
    assert df.schema.names == ["v", "day"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (10, 1),
        (11, 1),
        (20, 2),
        (21, 2),
    ]

    both = os.path.join(sf, "both.parquet")
    for day in (1, 2):
        os.makedirs(os.path.join(both, f"day={day}"))
        pq.write_table(
            pa.table({"day": [day], "v": [day]}),
            os.path.join(both, f"day={day}", "p.parquet"),
        )
    assert catalog._footer_schema(spark, both) is None
    got = table(spark, sf, "both")
    assert got.schema == spark.read.parquet(both).schema
    assert sorted(tuple(r) for r in got.collect()) == [(1, 1), (2, 2)]
