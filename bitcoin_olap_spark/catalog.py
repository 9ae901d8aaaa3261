"""Testdata catalog: parquet table loaders.

The driver testdata (TESTDATA.md) is one parquet file per table under
/root/testdata/sf{0.001,0.01,0.1}/. At 100 TB each "table" is a
partitioned parquet/Delta dataset; `spark.read.parquet` takes files and
directories identically, so these helpers are scale-transparent — the
vectorized reader gives split-per-rowgroup parallelism, and filters /
projections expressed on the returned DataFrame push down into the scan
(verify with .explain: PushedFilters / ReadSchema).

A table opens without a Spark job: `read_parquet` reads the schema
from one parquet footer on the driver, through Spark's own converter,
and the reader is given it instead of inferring it. The package reads
back the parquet it writes itself the same way.
"""

from __future__ import annotations

import glob
import json
import os

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .operators.cacheutil import file_token, memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Columns stored as parquet TIMESTAMP(NANOS): Spark has no nanosecond
#: timestamp type, so the session reads them as long (nanosAsLong) and
#: we convert to microsecond timestamps here — integer DIV, not double
#: division (epoch-nanos exceed 2^53 so float math would lose precision).
_NANO_TS_COLS = {"events": ("ts",)}

#: Row-count threshold above which a spread table is sharded on disk
#: rather than repartitioned in-plan (below it the exchange is cheap).
SHARD_MIN_ROWS = 20_000


def _convert_nano_ts(df: DataFrame, name: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for c in _NANO_TS_COLS.get(name, ()):
        if c in df.columns and isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000"))
            )
    return df


#: parquet summary files, which carry a footer and no rows
_SUMMARIES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps a file or directory named
    `name` (InMemoryFileIndex.shouldFilterOutPathName): hidden `_x`
    and `.x` names and `._COPYING_` files are skipped, except the
    parquet summary files and `_k=v` directories."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(_SUMMARIES)


def _inference_file(path: str) -> tuple[str, set[str]] | None:
    """The file whose footer Spark's schema inference reads for `path`
    (ParquetUtils.inferSchema without mergeSchema), with the partition
    column names of a `k=v` directory layout. A file is its own.
    Of a directory's leaf files, or of the files a glob pattern
    matches, sorted by path: the first `_common_metadata`, else the
    first `_metadata`, else the first data file. None for an empty
    directory, for one with a subdirectory that is not a `k=v`
    partition, and for a pattern that matches nothing, matches a
    directory or a hidden name, or uses syntax Python's glob reads
    differently from Hadoop's (`{`, `\\`, negated `[` classes)."""
    if any(c in path for c in "*?["):
        if any(t in path for t in ("{", "\\", "[!", "[^")):
            return None
        leaves = sorted(glob.glob(path, include_hidden=True))
        if not all(
            os.path.isfile(f) and _listed(os.path.basename(f)) for f in leaves
        ):
            return None
        parts: set[str] = set()
    elif not os.path.isdir(path):
        return path, set()
    else:
        leaves, parts = [], set()
        for dirpath, dirs, files in os.walk(path, followlinks=True):
            if dirpath != path:
                key, eq, _ = os.path.basename(dirpath).partition("=")
                if not eq:
                    return None
                parts.add(key.lower())
            dirs[:] = [d for d in dirs if _listed(d)]
            leaves += [os.path.join(dirpath, f) for f in files if _listed(f)]
        leaves.sort()
    names = [os.path.basename(f) for f in leaves]
    for summary in _SUMMARIES:
        if summary in names:
            return leaves[names.index(summary)], parts
    data = [f for f, n in zip(leaves, names) if n not in _SUMMARIES]
    return (data[0], parts) if data else None


#: py4j handles of the JVM classes the footer read calls, resolved
#: once per gateway (each segment of a `spark._jvm.org.apache...`
#: chain, and each static-member lookup, is one py4j round trip)
_HANDLES: tuple | None = None


def _footer_handles(spark: SparkSession) -> tuple:
    global _HANDLES
    jvm = spark._jvm
    got = _HANDLES
    if got is None or got[0] is not jvm:
        from py4j.java_gateway import JavaClass

        def cls(fqn):
            return JavaClass(fqn, jvm._gateway_client)

        pq = "org.apache.spark.sql.execution.datasources.parquet."
        got = _HANDLES = (
            jvm,
            cls("org.apache.hadoop.fs.Path"),
            cls("org.apache.parquet.hadoop.Footer"),
            cls(pq + "ParquetToSparkSchemaConverter"),
            cls("org.apache.parquet.hadoop.ParquetFileReader").readFooter,
            cls(
                "org.apache.parquet.format.converter.ParquetMetadataConverter"
            ).NO_FILTER,
            getattr(cls(pq + "ParquetFileFormat$"), "MODULE$"),
        )
    return got[1:]


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema `spark.read.parquet(path)` infers, read on the driver
    from the footer inference would read (`_inference_file`) by
    Spark's own converter under the session's SQL conf: nanosAsLong,
    timestamp NTZ inference and the footer's Spark row schema apply
    as they do in inference, but no job runs. None where the result
    could differ from inference: mergeSchema on for a directory, a
    partition column that is also a file column, a layout
    `_inference_file` does not follow, or a footer the driver cannot
    read or convert (inference then raises its own error)."""
    found = _inference_file(path)
    if found is None:
        return None
    src, parts = found
    path_cls, footer_cls, converter_cls, read_footer, no_filter, fmt = (
        _footer_handles(spark)
    )
    state = spark._jsparkSession.sessionState()
    conf = state.conf()
    if src != path and conf.isParquetSchemaMergingEnabled():
        return None
    jpath = path_cls(src)
    try:
        meta = read_footer(state.newHadoopConf(), jpath, no_filter)
        jschema = fmt.readSchemaFromFooter(
            footer_cls(jpath, meta), converter_cls(conf)
        )
    except (Py4JJavaError, CapturedException):
        return None
    # a file relation's data schema is all-nullable, as inferred
    schema = StructType.fromJson(json.loads(jschema.asNullable().json()))
    if any(n.lower() in parts for n in schema.names):
        return None
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, given the footer schema when
    `_footer_schema` has one (about 10 py4j calls and a few ms), so
    planning it starts no job; else Spark infers it (one job). The
    one reader for parquet the package loads or writes itself."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _sharded_copy(src: str, n_shards: int) -> str | None:
    """Rewrite of the single-file table `src` into `n_shards` parquet
    files on tmpfs, memoized per file version; returns the directory,
    or None for tables too small to bother.

    The driver testdata packs each table into ONE parquet row group,
    which is indivisible — a physical artifact of the generator, not a
    property of the workload. A production table at any real size is
    thousands of row groups across many files, and split planning
    parallelizes the scan for free. The shard copy restores that shape
    (identical rows, identical types — pyarrow round-trip with no
    timestamp coercion) so scans and everything fused into the scan
    stage (partial aggregation, Expand, regex/explode maps) parallelize
    the way they would on real storage. Cost: one read+write of the
    (small) table per file version, paid once, off the per-query clock
    — the same role a lakehouse compaction/ingest job plays. Each
    version goes to a fresh directory, so a DataFrame still scanning
    an older copy never sees its files overwritten."""
    return memo(
        ("catalog.shards", src),
        file_token(src),
        lambda: _write_shards(src, n_shards),
    )


def _write_shards(src: str, n_shards: int) -> str | None:
    import tempfile

    import pyarrow.parquet as pq

    from .session import scratch_root

    if pq.ParquetFile(src).metadata.num_rows < SHARD_MIN_ROWS:
        return None
    tbl = pq.read_table(src)
    out_dir = tempfile.mkdtemp(
        prefix="-".join(src.split(os.sep)[-2:]) + "-",
        dir=scratch_root("shards"),
    )
    n = tbl.num_rows
    per = -(-n // n_shards)
    for i in range(n_shards):
        lo = i * per
        if lo >= n:
            break
        pq.write_table(
            tbl.slice(lo, per),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
            # no timestamp coercion: NANOS columns stay NANOS so the
            # sharded copy is type-identical to the source
            coerce_timestamps=None,
            version="2.6",
        )
    return out_dir


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one testdata table, `<sf_dir>/<name>.parquet`: a file or a
    directory of parquet files.

    The DataFrame is memoized per (path, spread) and reused while the
    application and the files under the path are unchanged, and a
    suite run calls table() hundreds of times. Building one is cheap:
    `read_parquet` gives the reader the schema it reads from a
    footer on the driver (about 4 ms), so the load starts no Spark
    job. Left to infer the schema, `spark.read.parquet` started one
    job per load (SchemaMergeUtils.mergeSchemasInParallel, about
    50 ms on 4 vCPUs, even for one file). Only the LOGICAL plan is
    kept — every action still scans the parquet data — the reuse a
    metastore catalog gives a production session. A rewrite of the
    files, or a new application, builds a fresh DataFrame.

    spread=True parallelizes the scan stage. For a single-file table
    above SHARD_MIN_ROWS this reads the sharded copy (`_sharded_copy`)
    — many files => many splits => the scan AND everything Spark fuses
    into it run wide, with no exchange at all. Smaller files and
    directories fall back to an in-plan round-robin repartition (one
    cheap exchange). Queries with real per-row compute opt in; a
    production many-row-group table needs neither — split planning
    already saturates the cluster — which is why it is opt-in rather
    than the default, and why trivial scan-project queries (whose
    output IS the table) never set it."""
    sf_dir = os.path.abspath(sf_dir)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return memo(
        ("catalog.table", sf_dir, name, spread),
        (spark.sparkContext.applicationId, file_token(path)),
        lambda: _load(spark, sf_dir, name, path, spread),
    )


def _load(
    spark: SparkSession, sf_dir: str, name: str, path: str, spread: bool
) -> DataFrame:
    if not spread:
        return _convert_nano_ts(read_parquet(spark, path), name)
    n = spark.sparkContext.defaultParallelism
    shard_dir = None if os.path.isdir(path) else _sharded_copy(path, n)
    if shard_dir is None:
        return table(spark, sf_dir, name).repartition(n)
    return _convert_nano_ts(read_parquet(spark, shard_dir), name)
