"""`acid_cdf`: change-data-feed reads of the versioned ACID table as
a PySpark Python Data Source — batch (`spark.read.format("acid_cdf")`)
and streaming (`spark.readStream.format("acid_cdf")`), the engine's
re-derivation of Delta Lake's public `readChangeFeed` design.

Why this scales where a read-time diff cannot: commits that remove
files materialize their change rows AT WRITE TIME (delete_where /
merge_upsert with cdf=True write `_change_data/v{N}` parquet — the
writer already holds both sides of the change in the relations it is
rewriting, so materialization costs O(touched files)); commits that
only ADD files need nothing — their added data files ARE the insert
rows, tagged at read time. A CDF read is therefore a pure file scan:
the driver walks the commit log (metadata only, O(log entries)) and
plans one input partition per change file; executors scan their file
with pyarrow and emit Arrow record batches. No join, no shuffle, no
state — embarrassingly parallel at any table size, and a late
subscriber replays the identical feed from closed immutable files.

Streaming offsets are table VERSIONS: `latestOffset` polls the head
(one metadata read), each micro-batch covers (start_version,
end_version], and because manifests and change files are immutable
the replay contract (same offsets -> same rows) holds exactly — the
checkpointed-offset half of end-to-end exactly-once.

Schema = the head version's schema property (the table's columns,
typed as `snapshot()` reads them) + `_change_type` string +
`_commit_version` bigint (Delta's CDF vocabulary: insert / delete /
update_preimage / update_postimage). Opening the feed reads one
manifest and no data-file footer.

Options:
  path             ACID table root (required)
  startingVersion  stream: first version to emit, inclusive
                   (default 0 — the init commit reads as inserts)
  v_from / v_to    batch: emit changes of versions (v_from, v_to]
                   (defaults: -1 -> head, i.e. the whole feed)
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructType


class _ChangeFilePartition(InputPartition):
    """One immutable change-carrying file: either a materialized
    _change_data file (ctype=None — the file carries its own
    `_change_type` column) or an added data file of an append-shaped
    commit (ctype='insert', derived at read time)."""

    def __init__(self, path: str, ctype: str | None, version: int):
        self.path, self.ctype, self.version = path, ctype, version


def _read_change_file(part: _ChangeFilePartition, fields: list[tuple]):
    """Executor-side scan of one change file -> Arrow record batches
    aligned to the output schema (`fields` = [(name, arrow_type)]).
    Missing table columns (a change file written before an append
    added them) fill with typed nulls, mirroring how snapshot reads
    widen old data files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(part.path)
    n = t.num_rows
    cols = []
    for name, typ in fields:
        if name == "_commit_version":
            # pa.repeat is C-level; pa.array([v] * n) builds an n-element
            # Python list first (guide §4.2 — vectorized construction)
            cols.append(pa.repeat(pa.scalar(part.version, pa.int64()), n))
        elif name == "_change_type" and part.ctype is not None:
            cols.append(pa.repeat(pa.scalar(part.ctype, pa.string()), n))
        elif name in t.column_names:
            cols.append(t.column(name).cast(typ))
        else:
            cols.append(pa.nulls(n, typ))
    out = pa.table(cols, names=[name for name, _ in fields])
    yield from out.to_batches()


class _CdcBatchReader(DataSourceReader):
    def __init__(self, options, fields: list[tuple]):
        self.root = options["path"]
        self.v_from = int(options.get("v_from", -1))
        v_to = int(options.get("v_to", -1))
        self.v_to = None if v_to < 0 else v_to
        self.fields = fields

    def partitions(self):
        from ..operators.acidtable import change_inventory

        return [
            _ChangeFilePartition(f, ctype, v)
            for f, ctype, v in change_inventory(
                self.root, self.v_from, self.v_to
            )
        ]

    def read(self, partition: _ChangeFilePartition):
        return _read_change_file(partition, self.fields)


class _CdcStreamReader(DataSourceStreamReader):
    """Micro-batch CDF subscriber. Offsets are versions ('the last
    version already emitted'); each batch plans the (start, end] file
    inventory — driver metadata only — and executors scan. Immutable
    manifests + change files make every offset range exactly
    replayable, so a checkpoint-restarted stream re-emits the identical
    rows (the source half of exactly-once; pair with an idempotent or
    foreachBatch sink for end-to-end)."""

    def __init__(self, options, fields: list[tuple]):
        self.root = options["path"]
        self.start_v = int(options.get("startingVersion", 0))
        self.fields = fields

    def initialOffset(self):
        return {"version": self.start_v - 1}

    def latestOffset(self):
        from ..operators.acidtable import current_version

        return {"version": current_version(self.root)}

    def partitions(self, start, end):
        from ..operators.acidtable import change_inventory

        return [
            _ChangeFilePartition(f, ctype, v)
            for f, ctype, v in change_inventory(
                self.root, int(start["version"]), int(end["version"])
            )
        ]

    def read(self, partition: _ChangeFilePartition):
        return _read_change_file(partition, self.fields)

    def commit(self, end):
        pass  # nothing to reclaim: change files are table-owned


class CdcFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "acid_cdf"

    def schema(self) -> StructType:
        from ..operators import acidtable as AT

        root = self.options["path"]
        props = AT._table_props(root, AT.current_version(root))
        return (
            StructType.fromJson(props["schema"])
            .add("_change_type", StringType())
            .add("_commit_version", LongType())
        )

    def _fields(self, schema) -> list[tuple]:
        from pyspark.sql.pandas.types import to_arrow_type

        return [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]

    def reader(self, schema) -> _CdcBatchReader:
        return _CdcBatchReader(self.options, self._fields(schema))

    def streamReader(self, schema) -> _CdcStreamReader:
        return _CdcStreamReader(self.options, self._fields(schema))


def register_cdcfeed(spark) -> None:
    """Register the source with a session. Spark replaces an earlier
    registration of the same name, so a repeat call is harmless."""
    spark.dataSource.register(CdcFeedDataSource)
