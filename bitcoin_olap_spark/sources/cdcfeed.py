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

Schema = table columns + `_change_type` string + `_commit_version`
bigint (Delta's CDF vocabulary: insert / delete / update_preimage /
update_postimage).

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

DDL_BY_ARROW = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "bool": "boolean",
    "string": "string",
    "large_string": "string",
    "binary": "binary",
    "date32[day]": "date",
}


def _table_ddl(root: str) -> str:
    """Table-column DDL derived from the UNION of the head snapshot's
    data-file footers (driver-side, metadata-only — O(files) footer
    reads, the same cost Spark's mergeSchema pays). Memoized per root
    with one entry, valid while the head is the same version of the
    same table incarnation: manifests and data files are immutable, so
    repeated feed opens (every readStream start, every batch load) skip
    the footer sweep, and table_id stops a table dropped and recreated
    at the same root, at the same head version, with a different schema
    from being served the stale DDL. A single-footer derivation would
    be wrong after add-column evolution: path order can put a
    pre-evolution narrow file first, silently dropping the evolved
    columns from the whole feed, contradicting _read_change_file's
    null-fill widening. Field order: first file's order, later-seen
    columns appended — mirroring snapshot reads' mergeSchema
    semantics."""
    import os

    from ..operators import acidtable as AT
    from ..operators.cacheutil import memo

    head = AT.current_version(root)
    return memo(
        ("cdcfeed.ddl", os.path.realpath(root)),
        (AT.table_id(root), head),
        lambda: _footer_ddl(AT._resolve_files(root, head), root),
    )


def _footer_ddl(files: list, root: str) -> str:
    import pyarrow.parquet as pq

    if not files:
        raise ValueError(f"acid_cdf: table at {root} has no data files")
    merged: list = []
    seen: set[str] = set()
    for path in files:
        for f in pq.read_schema(path):
            if f.name not in seen:
                seen.add(f.name)
                merged.append(f)
    cols = []
    for f in merged:
        t = str(f.type)
        if t.startswith("timestamp"):
            ddl = "timestamp"
        elif t.startswith("decimal"):
            ddl = t.replace("decimal128", "decimal").replace(
                "decimal256", "decimal"
            )
        else:
            ddl = DDL_BY_ARROW.get(t)
        if ddl is None:
            raise ValueError(
                f"acid_cdf: unsupported column type {t} for {f.name}"
            )
        cols.append(f"{f.name} {ddl}")
    return ", ".join(cols)


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
    Missing table columns (a change file written before add-column
    evolution) fill with typed nulls, mirroring how snapshot reads
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

    def schema(self) -> str:
        return (
            _table_ddl(self.options["path"])
            + ", _change_type string, _commit_version bigint"
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
