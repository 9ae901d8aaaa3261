"""`blockfeed`: a custom batch data source modeling a block-by-block
chain feed (the BitcoinETL direction of README.md:3, SURVEY.md §2.9).

Implements the PySpark Python Data Source API (pyspark.sql.datasource):
the driver plans one InputPartition per contiguous block range, and
each executor synthesizes its range independently — embarrassingly
parallel, no driver bottleneck, exactly how a real feed reader would
shard block heights across a cluster. Content is a deterministic
function of the block number, which is what makes the source
oracle-checkable (DuckDB reconstructs the same rows from range()).

Options:
  n_blocks      total blocks to emit (default 1000)
  n_partitions  input partitions to plan (default 8)
  disorder      "true": DISORDERED-ARRIVAL mode (streaming) — the
                Kafka-shaped feed a real ingest sees. Arrival slots
                deliver blocks out of order by a deterministic rule
                (every 7th slot ~5 s stale — inside a 30 s watermark
                delay; every 50th slot from 425 on ~390 s stale —
                beyond it), plus one far-future terminal flush row
                that drives the final watermark past every real
                window. Deterministic, so a DuckDB oracle can state
                the exact keep/drop set per micro-batch. Schema gains
                (slot, ts); chunk controls the micro-batch size the
                keep/drop arithmetic keys on.
"""

from __future__ import annotations

import datetime
import hashlib

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

SCHEMA = "block_number bigint, block_hash string, n_tx bigint, fee_sat bigint"
SCHEMA_DISORDER = (
    "slot bigint, block_number bigint, ts timestamp, "
    "n_tx bigint, fee_sat bigint"
)

#: event-time epoch of the disordered feed (naive; sessions run UTC)
BASE_TS = datetime.datetime(2021, 1, 1)


def disorder_row(a: int, n_blocks: int) -> tuple:
    """Deterministic disordered delivery: arrival slot `a` carries
    block b(a) with event time BASE_TS + b seconds.

      a == n_blocks            -> terminal FLUSH row (block -1, event
                                  time +100000 s): its watermark update
                                  closes every real window; its own
                                  window stays open and never emits
      a %% 50 == 25, a >= 425  -> b = a - 390 (~2 micro-batches stale
                                  at chunk=200: behind even the LAGGED
                                  late-event watermark — the must-DROP
                                  witnesses; 525/575 land just inside
                                  it and pin the keep boundary)
      a %% 7 == 3, a >= 5      -> b = a - 5 (slightly stale: inside
                                  the delay — the must-KEEP witnesses,
                                  including cross-batch stragglers at
                                  chunk boundaries)
      otherwise                -> b = a (in order)

    The drop witnesses are TWO batches stale because Spark keeps two
    watermarks (SPARK-24634): late-event FILTERING uses the previous
    trigger's watermark while state EVICTION uses the current one —
    measured on this feed (a one-batch-stale row whose window the
    current watermark had passed was still merged and emitted). Rows
    only one batch stale are therefore always kept, and no window can
    emit twice (a row passing the filter has, by the same lag, a
    window not yet evicted).

    Duplicates and gaps are intentional (a replaced slot's natural
    block simply never arrives; the late block arrives twice) — real
    feeds have both, and the oracle reproduces the same multiset."""
    if a == n_blocks:
        ts = BASE_TS + datetime.timedelta(seconds=n_blocks + 100_000)
        return (a, -1, ts, 0, 0)
    if a % 50 == 25 and a >= 425:
        b = a - 390
    elif a % 7 == 3 and a >= 5:
        b = a - 5
    else:
        b = a
    return (
        a,
        b,
        BASE_TS + datetime.timedelta(seconds=b),
        (b * 7) % 100,
        (b * 31) % 100_000,
    )


def block_row(b: int) -> tuple[int, str, int, int]:
    """Deterministic synthetic block: md5 id, formulaic tx count/fees.
    DuckDB twin (over range(n)):
      md5(CAST(r AS VARCHAR)), (r*7)%100, (r*31)%100000."""
    return (
        b,
        hashlib.md5(str(b).encode()).hexdigest(),
        (b * 7) % 100,
        (b * 31) % 100_000,
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _BlockFeedReader(DataSourceReader):
    def __init__(self, options):
        self.n_blocks = int(options.get("n_blocks", 1000))
        self.n_partitions = int(options.get("n_partitions", 8))

    def partitions(self):
        n, p = self.n_blocks, max(1, self.n_partitions)
        step = (n + p - 1) // p or 1
        return [
            _RangePartition(lo, min(lo + step, n))
            for lo in range(0, n, step)
        ]

    def read(self, partition: _RangePartition):
        for b in range(partition.start, partition.end):
            yield block_row(b)


class BlockFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "blockfeed"

    def schema(self) -> str:
        if str(self.options.get("disorder", "")).lower() == "true":
            return SCHEMA_DISORDER
        return SCHEMA

    def reader(self, schema) -> _BlockFeedReader:
        return _BlockFeedReader(self.options)

    def simpleStreamReader(self, schema) -> "_BlockFeedStreamReader":
        return _BlockFeedStreamReader(self.options)


def register_blockfeed(spark) -> None:
    """Register the source with a session. Spark replaces an earlier
    registration of the same name, so a repeat call is harmless."""
    spark.dataSource.register(BlockFeedDataSource)


try:  # SimpleDataSourceStreamReader: pyspark >= 4.0
    from pyspark.sql.datasource import SimpleDataSourceStreamReader
except ImportError:  # pragma: no cover - batch-only fallback
    SimpleDataSourceStreamReader = object


class _BlockFeedStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader over the same deterministic feed: offsets are
    block heights, each `read` advances one chunk. Replays are exact —
    `readBetweenOffsets` regenerates any offset range — which is the
    Python-source contract for end-to-end exactly-once recovery (the
    engine persists offsets in the checkpoint and re-asks for the
    range after a failure)."""

    def __init__(self, options):
        self.n_blocks = int(options.get("n_blocks", 1000))
        self.chunk = int(options.get("chunk", 250))
        self.disorder = (
            str(options.get("disorder", "")).lower() == "true"
        )
        # disordered feeds append the terminal flush slot
        self.n_slots = self.n_blocks + (1 if self.disorder else 0)

    def initialOffset(self):
        return {"b": 0}

    def _rows(self, s: int, e: int) -> list:
        if self.disorder:
            return [disorder_row(a, self.n_blocks) for a in range(s, e)]
        return [block_row(b) for b in range(s, e)]

    def read(self, start):
        s = int(start["b"])
        e = min(s + self.chunk, self.n_slots)
        return iter(self._rows(s, e)), {"b": e}

    def readBetweenOffsets(self, start, end):
        return iter(self._rows(int(start["b"]), int(end["b"])))
