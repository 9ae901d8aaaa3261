"""The file-identity memo (operators/cacheutil.memo) and its users:
catalog tables and shard copies, the trained IVF quantizer and the CDF
feed DDL. Files are rewritten in place at a fixed path, as a re-export
does, and every read after the rewrite must see the new bytes."""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bitcoin_olap_spark.catalog import SHARD_MIN_ROWS, table
from bitcoin_olap_spark.operators import cacheutil as CU

from .conftest import SF_TEST
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


def test_cdf_ddl_memo_holds_one_entry_per_table(spark, tmp_path):
    """The feed DDL memo keeps one entry per table root however many
    versions are committed, and serves the DDL of the current head."""
    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.sources.cdcfeed import _table_ddl

    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(0, 5).select("id"))
    _table_ddl(root)
    n_before = len(CU._MEMO)
    for i in range(3):
        AT.append(spark, root, spark.range(10 * i, 10 * i + 5).select("id"))
        assert _table_ddl(root) == "id bigint"
    AT.add_columns(
        spark, root, spark.range(90, 95).selectExpr("id", "'x' AS note")
    )
    assert _table_ddl(root) == "id bigint, note string"
    assert len(CU._MEMO) == n_before
    token = CU._MEMO[("cdcfeed.ddl", os.path.realpath(root))][0]
    assert token == (AT.table_id(root), AT.current_version(root))


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
