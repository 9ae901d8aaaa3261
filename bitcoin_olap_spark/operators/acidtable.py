"""Minimal ACID table format: versioned manifests + copy-on-write data.

The reference's dedup maintenance DELETEs rows in place
(btcolap.sql:1-15, dupedeleter.sql:1); plain parquet has no in-place
delete, and no lakehouse format (Delta/Iceberg) ships in this
environment — so this module implements the essential subset of their
PUBLIC design (Delta's _delta_log JSON commits, Iceberg's snapshot
manifests) from first principles:

- A table is a directory: `data/` holds immutable parquet files,
  `_log/` holds one JSON manifest per version (`00000003.json`).
  Manifests are DELTAS: each lists only the files ADDED and REMOVED
  relative to the previous version, so the per-commit metadata write
  is O(changed files) — at 100 TB (1e6+ live files) an append or a
  targeted DELETE commits a few-hundred-byte manifest, not a
  megabytes-long full listing. Every ``CHECKPOINT_EVERY``-th version
  additionally materializes the resolved snapshot as a sidecar
  (`00000016.checkpoint.json`), Delta's checkpoint-parquet pattern,
  so resolving any snapshot replays a bounded number of deltas. A
  checkpoint holds the snapshot's files, their statistics, its
  deletion-vector set and every op tag committed up to it (Delta
  keeps streaming transaction ids there too), so vacuum, which
  checkpoints its cutoff before unlinking older manifests, loses none
  of them.
- Readers resolve a snapshot by manifest — never by listing `data/`
  — so concurrent writers never corrupt a read (files are immutable,
  manifests are immutable, a version is a closed file list: nearest
  checkpoint at-or-below + delta replay forward). Reading an old
  version IS time travel.
- Writers follow copy-on-write at FILE granularity: a DELETE
  identifies the files that contain matching rows (the scan's hidden
  `_metadata.file_path` column — one filtered scan), rewrites ONLY
  those files without the deleted rows, and commits a new manifest =
  untouched files + rewritten files. On a 100 TB table where a
  predicate touches 0.1% of files, the delete rewrites 0.1% of the
  data and the commit is a metadata operation for the rest — the
  property that makes ACID maintenance feasible at scale.
- Commits are atomic + optimistic: the manifest is written to a temp
  name and `os.link`-ed (fails if the target exists) into place, so
  two concurrent writers racing to version N+1 cannot both win;
  the loser re-reads and retries — Delta's optimistic concurrency
  protocol, single-writer-wins per version.

Scale note: the manifest holds file PATHS, i.e. metadata bounded by
file count, not data size; Spark reads the listed files with the
ordinary vectorized parquet reader, so all pushdown/pruning behavior
is unchanged.

File statistics are a TABLE PROPERTY: `init_table(stats_cols=...)`
names the indexed columns once, in the version-0 manifest (Delta's
`dataSkippingNumIndexedCols`), and every later manifest repeats it.
Each commit records per-file min/max of those columns for the files
it adds, read on the driver from the parquet footers Spark has just
written — no extra Spark job, and no writer can leave them out.
Checkpoints carry the merged statistics, so snapshot_pruned resolves
them from the same bounded checkpoint-plus-deltas walk as the files.

The Spark schema is a table property too (Delta's
`metaData.schemaString`), recorded in every version: each commit reads
it from the same footers (the key Spark's own schema inference reads)
and widens the previous version's with the added files' new top-level
columns, in order — an append with extra columns is schema evolution.
A write that changes a column's type is refused before its commit
(Delta's schema enforcement). Every scan of the table passes the
property (`_scan`), so planning a read, merge, delete or optimize
starts no schema-inference job.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def _log_dir(root: str) -> str:
    return os.path.join(root, "_log")


def _data_dir(root: str) -> str:
    return os.path.join(root, "data")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:08d}.json")


def _checkpoint_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:08d}.checkpoint.json")


#: full-listing checkpoint cadence (Delta writes a checkpoint parquet
#: every 10 commits for the same reason): snapshot resolution replays
#: at most this many delta manifests past the nearest checkpoint.
CHECKPOINT_EVERY = 16


def _log_versions(root: str) -> list[int]:
    """Versions whose delta manifest is in the log (vacuum removes
    those below its cutoff). O(#versions) listing of the log only."""
    log = _log_dir(root)
    if not os.path.isdir(log):
        return []
    return [
        int(f.split(".")[0])
        for f in os.listdir(log)
        if f.endswith(".json")
        and ".checkpoint." not in f
        and f.split(".")[0].isdigit()
    ]


def current_version(root: str) -> int:
    """Highest committed version, or -1 for an empty/uninitialized
    table."""
    return max(_log_versions(root), default=-1)


def _read_raw(root: str, version: int) -> dict:
    """One version's manifest as written (delta: op + add/remove) —
    O(changed files), no snapshot resolution."""
    if version < 0:
        raise FileNotFoundError(f"no committed version in {root}")
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def _apply_delta(
    files: set[str], stats: dict, dvs: set[str], ops: set[str], m: dict
) -> None:
    """Step a snapshot state forward by delta manifest `m`, in place —
    the one place a manifest key's meaning is applied. Stats ride with
    their files: a removed file drops its entry, an added file brings
    its commit's entry. Vectors are add-only until a 'dv_reset'
    replaces the set; ones targeting since-removed files are inert,
    not invalid (the anti-join simply never matches them). Op tags
    only accumulate."""
    files.difference_update(m["remove"])
    files.update(m["add"])
    for f in m["remove"]:
        stats.pop(f, None)
    stats.update(m.get("stats") or {})
    if "dv_reset" in m:
        dvs.clear()
        dvs.update(m["dv_reset"])
    dvs.update(m.get("dv", ()))
    ops.add(m["op"])


def _resolve(
    root: str, version: int
) -> tuple[list[str], dict, list[str], set[str]]:
    """Snapshot `version` as (data files, per-file stats, deletion-
    vector files, op tags committed up to it): walk back to the
    nearest checkpoint (or version 0) at-or-below, then replay the
    delta manifests forward (_apply_delta). Bounded by
    CHECKPOINT_EVERY deltas after the first checkpoint exists."""
    deltas: list[dict] = []
    v = version
    while True:
        if v < 0:
            raise FileNotFoundError(
                f"no checkpoint or base manifest at or below version "
                f"{version} in {root}"
            )
        cp = _checkpoint_path(root, v)
        if os.path.exists(cp):
            with open(cp) as f:
                c = json.load(f)
            state = set(c["files"]), c["stats"], set(c["dvs"]), set(c["ops"])
            break
        deltas.append(_read_raw(root, v))
        if v == 0:  # version 0's delta is against the empty table
            state = set(), {}, set(), set()
            break
        v -= 1
    for m in reversed(deltas):  # oldest first: resets must apply in order
        _apply_delta(*state, m)
    files, stats, dvs, ops = state
    return sorted(files), stats, sorted(dvs), ops


def _resolve_files(root: str, version: int) -> list[str]:
    """The closed data-file list of snapshot `version`."""
    return _resolve(root, version)[0]


def read_manifest(
    root: str, version: int | None = None, resolve: bool = True
) -> dict:
    """Manifest of `version` (latest if None). With resolve=True the
    snapshot's full file list is materialized under "files"/"n_files"
    (checkpoint + delta replay); resolve=False returns the raw delta
    record (op/add/remove) in O(changed files) — the cheap path for
    log scans that only need commit metadata."""
    v = current_version(root) if version is None else version
    m = _read_raw(root, v)
    if resolve:
        files = _resolve_files(root, v)
        m["files"] = files
        m["n_files"] = len(files)
    return m


def write_checkpoint(root: str, version: int | None = None) -> int:
    """Materialize the resolved snapshot of `version` (latest if None)
    as a checkpoint sidecar — atomic via temp-file + os.replace, so a
    concurrent reader never sees a partial listing. Idempotent."""
    v = current_version(root) if version is None else version
    # the dvs union, the merged file stats and the op tags ride in
    # every checkpoint, so merge-on-read deletes, data skipping and
    # exactly-once history survive vacuum (the cutoff checkpoint is
    # written before the delta manifests carrying them are dropped)
    files, stats, dvs, ops = _resolve(root, v)
    _replace_json(
        _checkpoint_path(root, v),
        {
            "version": v,
            "files": files,
            "dvs": dvs,
            "stats": stats,
            "ops": sorted(ops),
        },
    )
    return v


def _replace_json(path: str, obj) -> None:
    """Write a log sidecar atomically (temp file + os.replace): a
    concurrent reader sees the old file or the new one, never part."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _earliest_version(root: str) -> int:
    """Lowest version whose manifest still exists in the log. 0 on a
    never-vacuumed or empty table."""
    return min(_log_versions(root), default=0)


def _vacuum_marker_path(root: str) -> str:
    return os.path.join(_log_dir(root), "_last_vacuum.json")


def _record_vacuum_cutoff(root: str, cutoff: int) -> None:
    """Durably record vacuum's cutoff (atomic replace, monotone): any
    version below it may have had its data files physically removed,
    so restore() must refuse such targets."""
    prev = vacuum_cutoff(root)
    if cutoff <= prev:
        return
    _replace_json(_vacuum_marker_path(root), {"cutoff": cutoff})


def vacuum_cutoff(root: str) -> int:
    """Earliest version guaranteed restorable: versions below this may
    reference physically vacuumed data files. 0 if never vacuumed."""
    p = _vacuum_marker_path(root)
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(json.load(f)["cutoff"])


def _commit(
    root: str,
    version: int,
    op: str,
    *,
    add: list[str] = (),
    remove: list[str] = (),
    stats: dict | None = None,
    stats_cols: tuple = (),
    props: dict | None = None,
    cdc: list[str] | None = None,
    dv: list[str] | None = None,
    dv_reset: list[str] | None = None,
) -> None:
    """Atomically publish `version` as a DELTA manifest — only the
    files added/removed vs version-1, so the commit write is
    O(changed files) no matter how large the table is. os.link fails
    with EEXIST if a concurrent writer already committed this version
    — optimistic concurrency, loser retries against the new snapshot.
    Every CHECKPOINT_EVERY-th version also writes a full checkpoint
    sidecar AFTER the commit point (crash between the two is safe:
    resolution just walks back to the previous checkpoint).

    Statistics and the schema are recorded HERE, for every writer,
    from the added files' footers. Each added file gets footer min/max
    of the table's statistics columns — at version 0 `stats_cols` (the
    property: init_table), later version-1's plus `stats_cols` for
    this commit only (optimize_zorder). `stats` holds entries already
    known for added files (blooms; a restore's resolved ones); footers
    fill the columns they lack. The schema property is version-1's
    (empty at version 0) widened by each added file's footer schema
    (_widen_schema), which raises ValueError before anything is
    published when a file changes a column's type or carries no Spark
    schema; the files already written are then orphans for vacuum.
    `props`, when given, is this version's table properties verbatim
    (clone, restore: a known snapshot's), and no footer schema is
    read."""
    import pyarrow.parquet as pq

    os.makedirs(_log_dir(root), exist_ok=True)
    widen = props is None
    if not widen:
        props = dict(props)
    elif version == 0:
        props = {"stats_cols": list(stats_cols), "schema": _NO_FIELDS}
    else:
        try:
            props = _table_props(root, version - 1)
        except FileNotFoundError:  # vacuumed, so a newer head exists
            raise ConcurrentCommitError(f"version {version} is stale")
    table_cols = props.get("stats_cols", [])
    cols = list(dict.fromkeys([*table_cols, *stats_cols]))
    stats = dict(stats or {})
    for f in add:
        have = stats.get(f, {})
        need = not all(c in have for c in cols)
        if not (need or widen):
            continue
        md = pq.read_metadata(f)
        if need:
            stats[f] = {**_footer_stats(md, cols), **have}
        if widen:
            props["schema"] = _widen_schema(props["schema"], md)
    manifest = {
        "version": version,
        "op": op,
        "add": sorted(add),
        "remove": sorted(remove),
    }
    # the properties repeat in every manifest, so a writer or reader
    # takes them from one small read of its version, and vacuum can
    # never drop them
    if table_cols:
        manifest["stats_cols"] = table_cols
    manifest["schema"] = props["schema"]
    if stats:
        # OPTIONAL per-file column min/max for data skipping —
        # readers that ignore this key stay correct (a file without
        # stats is simply never skipped), so old manifests and new
        # readers interoperate in both directions
        manifest["stats"] = stats
    if cdc is not None:
        # OPTIONAL write-time materialized change data (Delta's
        # _change_data design): same compatibility posture as stats —
        # snapshot readers never look at it, CDF readers require it
        # only for commits that removed files
        manifest["cdc"] = sorted(cdc)
    if dv is not None:
        # deletion-vector files this commit adds (merge-on-read
        # DELETE); snapshot readers subtract the accumulated union
        manifest["dv"] = sorted(dv)
    if dv_reset is not None:
        # REPLACE the accumulated vector set as of this commit —
        # restore rewinds it to the target version's set (else deletes
        # committed after the target would survive the rewind), and
        # layout rewrites (optimize) empty it, since their fresh files
        # made every old vector inert
        manifest["dv_reset"] = sorted(dv_reset)
    tmp = os.path.join(_log_dir(root), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, _manifest_path(root, version))
    except FileExistsError:
        raise ConcurrentCommitError(
            f"version {version} already committed in {root}"
        )
    finally:
        os.unlink(tmp)
    if version % CHECKPOINT_EVERY == 0:
        write_checkpoint(root, version)


class ConcurrentCommitError(RuntimeError):
    """Another writer won the race to this version number."""


def _strip_uri(p: str) -> str:
    """Reduce an executor-reported file URI (_metadata.file_path,
    "file:/x" or "file:///x", possibly with a query suffix) to a
    plain absolute path. URIs are percent-encoded (a table root
    containing a space arrives as %20), so the path is unquoted AFTER
    the scheme/query handling."""
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    return urllib.parse.unquote(p.split("?")[0])


def _manifest_form(
    uris, manifest_files: list[str], strict: bool = True
) -> set[str]:
    """Map executor-reported file URIs back to the EXACT path strings
    the manifest stores. _metadata.file_path values are always
    absolute, but manifests keep paths as the table root was given,
    so every comparison goes through realpath on both sides.
    In strict mode (scan-derived URIs) a miss is a protocol violation
    — the scan read a file the snapshot does not own — and raises
    instead of silently committing an empty 'affected' set.
    strict=False INTERSECTS (deletion-vector targets: a live vector
    may target a since-removed file, which is inert)."""
    by_real = {os.path.realpath(f): f for f in manifest_files}
    out: set[str] = set()
    for u in uris:
        rp = os.path.realpath(_strip_uri(u))
        hit = by_real.get(rp)
        if hit is None:
            if not strict:
                continue
            raise ValueError(
                f"acid: scanned file {u!r} (realpath {rp!r}) is not in "
                f"the snapshot manifest ({len(manifest_files)} files) — "
                "URI decoding mismatch or concurrent table mutation"
            )
        out.add(hit)
    return out


def _write_parquet(df: DataFrame, sub: str) -> list[str]:
    """Write df as immutable parquet files into the fresh directory
    `sub` (mode error: files are never overwritten) and return their
    paths."""
    df.write.mode("error").parquet(sub)
    return [
        os.path.join(sub, f)
        for f in os.listdir(sub)
        if f.endswith(".parquet")
    ]


def _write_data_files(df: DataFrame, root: str) -> list[str]:
    """Data files of one write, in a fresh UUID-named subdirectory of
    data/."""
    return _write_parquet(df, os.path.join(_data_dir(root), uuid.uuid4().hex))


def _stat_encode(v):
    """JSON-safe encoding for a manifest min/max value. Timestamps and
    dates become zero-padded ISO strings — ORDER-PRESERVING under the
    plain string comparison the probe uses, so no decode is needed for
    them. Decimals become exact strings (the probe decodes them back
    to Decimal — string order is NOT numeric order). Bytes become hex
    (order-preserving: fixed two digits per byte). Everything JSON
    already handles passes through, including None for an all-NULL
    file, which the probe treats as 'no stats'."""
    if isinstance(v, datetime.date):  # datetime.datetime included
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _probe_coerce(lo, hi):
    """Coerce the caller's probe bounds to the manifests' encoded
    domain, returning (lo, hi, decode) where decode maps a STORED
    value back into the comparison domain. For ISO-encoded types the
    encoded strings compare correctly, so the bounds are encoded and
    decode is identity; for Decimal the stored strings are decoded
    back to Decimal instead."""
    probe = lo if lo is not None else hi
    if isinstance(probe, (datetime.datetime, datetime.date)):
        # Compare in the DATETIME domain, never the encoded-string
        # one: a date probe against a TIMESTAMP column's stats (or a
        # datetime probe against a DATE column's) mixes 10-char and
        # 19+-char ISO encodings, and plain string order then FALSELY
        # PRUNES boundary files — a stored min '2024-01-31T00:00:00'
        # sorts after the 10-char hi '2024-01-31' even though its
        # midnight rows satisfy the exact filter (SQL casts the date
        # bound to midnight). Decoding both sides to datetime makes
        # the boundary compare equal instead of skipped.
        def _to_dt(v):
            if isinstance(v, datetime.datetime):
                return v
            return datetime.datetime(v.year, v.month, v.day)

        return (
            _to_dt(lo) if lo is not None else None,
            _to_dt(hi) if hi is not None else None,
            lambda s: datetime.datetime.fromisoformat(s),
        )
    if isinstance(probe, (bytes, bytearray)):
        return _stat_encode(lo), _stat_encode(hi), lambda s: s
    if isinstance(probe, decimal.Decimal):
        return lo, hi, lambda s: decimal.Decimal(s)
    if isinstance(probe, (int, float)) and not isinstance(probe, bool):
        # the STORED stat decides the decode branch too: a DECIMAL
        # column's stats are exact strings ('9.50'), and an int/float
        # probe falling through to identity would compare str-vs-number
        # (TypeError) instead of pruning
        return (
            lo,
            hi,
            lambda s: decimal.Decimal(s) if isinstance(s, str) else s,
        )
    return lo, hi, lambda s: s


def _table_props(root: str, version: int) -> dict:
    """The table's properties as of `version`, each repeated in every
    manifest: "stats_cols" (its statistics columns, set at version 0,
    recorded when there are any) and "schema" (its Spark schema as
    JSON)."""
    m = _read_raw(root, version)
    return {k: m[k] for k in ("stats_cols", "schema") if k in m}


#: the schema property a table starts from before its first file
_NO_FIELDS = {"type": "struct", "fields": []}

#: the footer key where Spark writes a data file's Spark schema (JSON);
#: Spark's own parquet schema inference reads the same key
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_NULL_FLAGS = ("nullable", "containsNull", "valueContainsNull")


def _nullable(t):
    """Spark type JSON `t` with every nullability flag set: a file
    source reads every field as nullable, so the property is what a
    read infers, and files differing only in nullability agree."""
    if isinstance(t, list):
        return [_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    out = {}
    for k, v in t.items():
        if k in _NULL_FLAGS:
            v = True
        elif k != "metadata":  # field metadata is opaque user data
            v = _nullable(v)
        out[k] = v
    return out


def _widen_schema(schema: dict, md) -> dict:
    """Schema property `schema` widened by the Spark schema in a data
    file's footer `md` (pyarrow FileMetaData): the file's top-level
    fields that are new append in the file's order. ValueError when
    the footer carries no Spark schema or a field changes type, which
    no reader of the table could read."""
    raw = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        raise ValueError("acid: a data file without a Spark schema footer")
    fields = list(schema["fields"])
    known = {f["name"]: f for f in fields}
    for f in _nullable(json.loads(raw))["fields"]:
        was = known.setdefault(f["name"], f)
        if was is f:
            fields.append(f)
        elif was["type"] != f["type"]:
            a, b = StructType.fromJson({"fields": [was, f]}).fields
            raise ValueError(
                f"acid: a write may not change column {f['name']!r} from "
                f"{a.dataType.simpleString()} to {b.dataType.simpleString()}"
            )
    return {"type": "struct", "fields": fields}


def _scan(
    spark: SparkSession, root: str, version: int, files: list[str]
) -> DataFrame:
    """Parquet scan of data files `files` of snapshot `version`, given
    the table's schema property, so planning it starts no inference
    job (files missing a column read it as NULL)."""
    schema = StructType.fromJson(_table_props(root, version)["schema"])
    return spark.read.schema(schema).parquet(*files)


def _footer_decoder(col):
    """Decoder from a parquet footer's raw min/max (pyarrow
    Statistics.min_raw / max_raw) of column `col` (a ColumnSchema) to
    the Python value Spark's collect() returns for it, so _stat_encode
    encodes both alike. None for a type with no order-safe decode,
    whose files then carry no stats for the column."""
    lt = json.loads(col.logical_type.to_json())
    kind, phys = lt["Type"], col.physical_type
    if kind == "Decimal":
        # INT32/INT64 hold the unscaled int, (FIXED_LEN_)BYTE_ARRAY its
        # big-endian two's complement; a string-built Decimal is exact
        def dec(raw):
            if not isinstance(raw, int):
                raw = int.from_bytes(raw, "big", signed=True)
            return decimal.Decimal(f"{raw}e-{lt['scale']}")

        return dec
    if kind == "Date":
        return lambda raw: datetime.date(1970, 1, 1) + datetime.timedelta(raw)
    if kind == "Timestamp":
        unit = {"milliseconds": 1000, "microseconds": 1}.get(lt["timeUnit"])
        if unit is None:
            return None
        if lt["isAdjustedToUTC"]:  # TIMESTAMP: as PySpark's fromInternal
            return lambda raw: datetime.datetime.fromtimestamp(
                raw * unit // 1_000_000
            ).replace(microsecond=raw * unit % 1_000_000)
        # TIMESTAMP_NTZ: wall-clock time, no zone
        return lambda raw: datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=raw * unit
        )
    if kind == "String":
        return lambda raw: raw.decode("utf-8")
    plain = kind == "None"
    if kind == "Int" and lt["isSigned"] or plain and phys in (
        "BOOLEAN", "INT32", "INT64"
    ):
        return lambda raw: raw
    if plain and phys in ("FLOAT", "DOUBLE"):
        # a NaN bound (Spark orders NaN above every number) is no bound
        return lambda raw: None if raw != raw else raw
    if plain and phys in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
        return bytes
    # unsigned ints (they order wrongly past the signed range), INT96
    # and anything newer
    return None


def _footer_stats(footer, cols) -> dict:
    """{col: [lo, hi]} for a data file (its path, or its footer as
    pyarrow FileMetaData), from the parquet footer alone (no data
    read, no Spark job): each column's row-group min/max
    decoded and merged, then encoded as _stat_encode encodes the
    Spark aggregate. Row groups that are entirely NULL are skipped.
    A column left out — all NULL, not in the file, or a row group
    without min/max (Spark's INT96 timestamps have none) — has 'no
    stats', so its file is never skipped for it."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(footer) if isinstance(footer, str) else footer
    out: dict = {}
    for j in range(md.num_columns):
        col = md.schema.column(j)
        decode = _footer_decoder(col) if col.path in cols else None
        if decode is None:
            continue
        lo = hi = None
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            st = rg.column(j).statistics
            if st is not None and st.has_null_count:
                if st.null_count == rg.num_rows:
                    continue
            mn = mx = None
            if st is not None and st.has_min_max:
                mn, mx = decode(st.min_raw), decode(st.max_raw)
            if mn is None or mx is None:
                lo = hi = None
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if lo is not None:
            out[col.path] = [_stat_encode(lo), _stat_encode(hi)]
    return out


def init_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    stats_cols: tuple = (),
    bloom_cols: tuple = (),
) -> int:
    """Create version 0 from df. Errors if the table already exists.
    stats_cols: the table's statistics columns — a table property:
    every commit from now on records its files' footer min/max for
    them, for data skipping (snapshot_pruned). bloom_cols: columns
    whose per-file bloom bitmaps land in this commit's manifest too
    (snapshot_bloom_lookup)."""
    if current_version(root) >= 0:
        raise FileExistsError(f"table already initialized at {root}")
    missing = [c for c in stats_cols if c not in df.columns]
    if missing:
        raise ValueError(f"init_table: stats_cols {missing} not in df")
    files = _write_data_files(df, root)
    blooms = (
        collect_file_blooms(spark, files, bloom_cols) if bloom_cols else None
    )
    _commit(
        root, 0, "init", add=files, stats=blooms, stats_cols=tuple(stats_cols)
    )
    return 0


def snapshot_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
):
    """Range read with FILE SKIPPING: resolve the snapshot's file
    list, drop every file whose manifest [min, max] for `col` cannot
    intersect [lo, hi] (files without stats always read), scan only
    the survivors, and apply the exact filter to the survivors' rows.
    This is the table-format half of pruning — partition pruning's
    sibling that works on UNPARTITIONED layout, and the reason
    Delta/Iceberg record write-side stats: at 100 TB a range query
    over a range-clustered table opens O(matching files), not
    O(table). Returns (DataFrame, n_files_read, n_files_total)."""
    v = current_version(root) if version is None else version
    files, stats, dvs, _ = _resolve(root, v)
    lo_c, hi_c, decode = _probe_coerce(lo, hi)
    kept = []
    for f in files:
        s = stats.get(f, {}).get(col)
        # a null min or max means the file's column is entirely NULL
        # (or stats were unrecorded) — 'no stats', never skipped: the
        # exact row filter below still excludes its rows, so keeping
        # it is only less selective, never wrong
        if s is None or s[0] is None or s[1] is None:
            kept.append(f)
        elif decode(s[0]) <= hi_c and decode(s[1]) >= lo_c:
            kept.append(f)
    pred = (F.col(col) >= lo) & (F.col(col) <= hi)
    return _read_kept(spark, root, v, kept, files, dvs, pred)


def _read_kept(spark, root, version, kept, files, dvs, pred):
    """(rows of the `kept` files of snapshot `version` that satisfy
    `pred`, n kept, n files): the exact filter after file skipping."""
    df = (
        _apply_dvs(spark, _scan(spark, root, version, kept), dvs).filter(pred)
        if kept
        else _scan(spark, root, version, files).filter(F.lit(False))
    )
    return df, len(kept), len(files)


def append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    op: str = "append",
    stats_cols: tuple = (),
) -> int:
    """ACID append: write new immutable files, commit a delta manifest
    listing ONLY them — O(batch) commit cost at any table size (the
    shape a streaming sink needs). An append semantically conflicts
    with nothing, so losing the optimistic version race just rebases:
    re-read the head and re-commit the same file list (Delta's
    blind-append concurrency rule; the data files were already
    durable, only the metadata pointer moves). Returns the committed
    version. The commit records footer statistics for the table's
    stats_cols (see init_table); passing `stats_cols` here only checks
    they are among them, and a column the table does not index raises
    ValueError."""
    if stats_cols:
        head = current_version(root)
        own = (
            _table_props(root, head).get("stats_cols", [])
            if head >= 0
            else []
        )
        extra = [c for c in stats_cols if c not in own]
        if extra:
            raise ValueError(
                f"append: {extra} are not statistics columns of {root} "
                f"(it indexes {own}; see init_table(stats_cols=...))"
            )
    files = _write_data_files(df, root)
    while True:
        v = current_version(root) + 1
        try:
            _commit(root, v, op, add=files)
            return v
        except ConcurrentCommitError:
            continue


def clone(root: str, dest: str, version: int | None = None) -> int:
    """SHALLOW CLONE (Delta's CLONE TABLE): dest's version 0 is one
    delta manifest whose add-list is the source snapshot's resolved
    data files — ZERO data movement, O(files) metadata, at any table
    size. Because data files are immutable and every write lands in a
    fresh UUID directory, the two tables diverge freely afterwards:
    appends/deletes/optimize on either side never touch files the
    other references. The documented caveat is Delta's own: VACUUM on
    the SOURCE does not know about clone references — vacuum only
    unlinks files the source's retained versions no longer list, so a
    cloned-then-deleted file can be vacuumed away under the clone;
    production policy is vacuum-after-clone-retirement (same contract
    as Delta shallow clones)."""
    if current_version(dest) >= 0:
        raise FileExistsError(f"table already initialized at {dest}")
    v = current_version(root) if version is None else version
    files, stats, dvs, _ = _resolve(root, v)
    os.makedirs(_data_dir(dest), exist_ok=True)
    # deletion vectors are part of the snapshot's logical content —
    # a clone that dropped them would resurrect MoR-deleted rows. The
    # table properties and the files' resolved stats carry over.
    _commit(
        dest,
        0,
        f"clone:{root}@{v}",
        add=files,
        stats=stats,
        props=_table_props(root, v),
        dv=dvs or None,
    )
    return 0


def committed_ops(root: str) -> set:
    """The set of op tags ever committed to the table: the head
    snapshot's (_resolve), so one walk back to the nearest checkpoint
    reads at most CHECKPOINT_EVERY manifests. Checkpoints carry the
    tags of every version at or below them, so the exactly-once
    history survives vacuum. A vacuum running concurrently may unlink
    a manifest mid-walk; it checkpoints its cutoff before unlinking
    anything, so one more walk from the new head stops there."""
    if current_version(root) < 0:
        return set()
    try:
        return _resolve(root, current_version(root))[3]
    except FileNotFoundError:
        return _resolve(root, current_version(root))[3]


def append_idempotent(
    spark: SparkSession, root: str, df: DataFrame, op: str
) -> int | None:
    """EXACTLY-ONCE append keyed by `op` — the streaming-sink commit
    protocol (a batch id rides in `op`, so a replayed foreachBatch
    sees its id already committed and skips; no sink-side dedup
    state). Returns the committed version, or None when this op was
    already durable.

    Race behavior, pinned by tests/test_properties.py: losing the
    optimistic version race to a FOREIGN commit rebases onto the new
    head and retries — another writer's commit never silently drops
    this batch; losing it to a retry of THIS op (its id now in the
    log) reclaims our just-written files as orphans and skips. The
    op-dedup check runs at the TOP of every retry iteration (not only
    in the conflict handler), so a concurrent duplicate that commits
    between our head read and link is caught on the next pass.

    Residual window: if two writers carry the SAME op concurrently,
    one can pass the loop-top check, compute head+1, and link before
    the other's commit becomes visible to it — check-then-link cannot
    be fully closed without a log-wide lock. True exactly-once
    therefore assumes at most ONE in-flight writer per op id (the
    foreachBatch contract: one query instance replays a batch id
    sequentially, never two live instances of the same batch)."""
    if op in committed_ops(root):
        return None  # retried batch: its version is already durable
    new_files = _write_data_files(df, root)
    while True:
        # re-check BEFORE picking a target version: a duplicate of
        # this op that committed since the last check must win here,
        # otherwise our os.link lands on a fresh version number with
        # no conflict and the batch is durable twice. committed_ops
        # reads at most CHECKPOINT_EVERY manifests, so this is cheap.
        if op in committed_ops(root):
            for f in new_files:
                if os.path.exists(f):
                    os.unlink(f)
            return None
        try:
            # delta commit: the manifest lists ONLY this batch's
            # files — O(batch), not O(table)
            v = current_version(root) + 1
            _commit(root, v, op, add=new_files)
            return v
        except ConcurrentCommitError:
            continue


def snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """The table AS OF `version` (latest if None) — time travel is
    just resolving an older version's closed file list, minus any
    accumulated deletion vectors (merge-on-read deletes; a no-op
    branch when the table has none)."""
    v = current_version(root) if version is None else version
    files, _, dvs, _ = _resolve(root, v)
    return _apply_dvs(spark, _scan(spark, root, v, files), dvs)


def table_changes(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """CHANGE-DATA-FEED read: the row-level diff between two snapshots
    of a keyed CoW table — (key, change in insert/update/delete,
    old_<col>, new_<col> per non-key column), unchanged keys omitted.
    The inverse of a CDC APPLY (operators-level twin of Delta's
    `table_changes` / CDF): downstream consumers subscribe to the diff
    instead of re-scanning the table.

    The scale property comes from the manifest log, not the data: a
    file present in BOTH versions is immutable, so its rows are
    bit-identical on both sides and can never produce a change row —
    only the manifest-level file DIFFERENCE (added XOR removed between
    the two versions) is scanned. Old rows come from removed files,
    new rows from added files, and ONE full-outer join on the key
    classifies every survivor: old-only = delete, new-only = insert,
    both-with-different-values = update (rows a copy-on-write rewrite
    carried verbatim into a new file join equal and are filtered).
    On a 100 TB table where a day's commits touch 0.1% of files, the
    diff reads 0.2% of the data and the join is keyed on the same
    columns the table is clustered by. Requires both snapshots to
    share the key schema; non-key columns are taken from the newer
    snapshot, whose schema property both sides are read with (a
    column added since v_from reads NULL in old rows, which null-safe
    compare treats as a change — the CDF convention)."""
    v_to = current_version(root) if v_to is None else v_to
    for v in range(v_from + 1, v_to + 1):
        m = _read_raw(root, v)
        # a merge-on-read delete — or a restore rewinding the vector
        # set — changes rows WITHOUT changing the file sets this diff
        # compares; silently missing those rows would be wrong, so
        # refuse and point at the feed. Layout rewrites' empty resets
        # are content-identical and stay diffable.
        if m.get("dv") or (
            m.get("dv_reset") is not None
            and not str(m.get("op", "")).startswith("optimize")
        ):
            raise ChangeDataUnavailable(
                f"version {v} changed rows via deletion vectors; the "
                "file-difference diff cannot see MoR changes — use "
                "the CDF feed (cdf=True writers) instead"
            )
    f_from = set(_resolve_files(root, v_from))
    f_to = set(_resolve_files(root, v_to))
    removed = sorted(f_from - f_to)
    added = sorted(f_to - f_from)

    def side(files: list[str]) -> DataFrame:
        # an empty side is no rows of the newer snapshot's schema
        if files:
            return _scan(spark, root, v_to, files)
        return _scan(spark, root, v_to, sorted(f_to)).filter(F.lit(False))

    new_rows = side(added)
    cols = list(new_rows.columns)
    val_cols = [c for c in cols if c not in key_cols]
    # presence markers, not key-null checks: a legitimately-NULL key
    # value must not misclassify its row (eqNullSafe matches NULLs)
    old = side(removed).select(
        *[F.col(c).alias(f"__o_{c}") for c in cols],
        F.lit(1).alias("__in_old"),
    )
    new = new_rows.select(
        *[F.col(c).alias(f"__n_{c}") for c in cols],
        F.lit(1).alias("__in_new"),
    )
    on = None
    for k in key_cols:
        cond = old[f"__o_{k}"].eqNullSafe(new[f"__n_{k}"])
        on = cond if on is None else (on & cond)
    joined = old.join(new, on, "full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    differs = F.lit(False)
    for c in val_cols:
        differs = differs | ~F.col(f"__o_{c}").eqNullSafe(
            F.col(f"__n_{c}")
        )
    out_keys = [
        F.coalesce(F.col(f"__o_{k}"), F.col(f"__n_{k}")).alias(k)
        for k in key_cols
    ]
    out_vals = [
        e
        for c in val_cols
        for e in (
            F.col(f"__o_{c}").alias(f"old_{c}"),
            F.col(f"__n_{c}").alias(f"new_{c}"),
        )
    ]
    return (
        joined.withColumn("change", change)
        .filter((F.col("change") != "update") | differs)
        .select(*out_keys, F.col("change"), *out_vals)
    )


def _change_dir(root: str, version: int) -> str:
    """Per-commit-ATTEMPT materialized change-data directory (the
    design of Delta's `_change_data` folder): rows describing what
    commit `version` did, written BY the commit, so CDF reads are pure
    file scans with no read-time join. The uuid suffix makes the dir
    per-attempt: under the optimistic-concurrency protocol two racers
    can both target version N — a fixed vN dir would let the loser's
    rmtree-and-rewrite destroy files the eventual winner's committed
    manifest references (same reason _write_data_files uses a fresh
    uuid subdir per write). Orphans from lost attempts are
    garbage-collected by vacuum's referenced-by-no-surviving-manifest
    sweep."""
    return os.path.join(root, "_change_data", f"v{version}-{uuid.uuid4().hex}")


def _write_change_files(df: DataFrame, root: str, version: int) -> list[str]:
    """Persist change rows for `version` under _change_data/ (outside
    data/, so they are never part of any snapshot)."""
    return _write_parquet(df, _change_dir(root, version))


class ChangeDataUnavailable(RuntimeError):
    """A commit in the requested CDF range rewrote files without
    materializing change data (cdf=False) — same contract as Delta's
    'change data was not recorded' error. Point-to-point diffs are
    still available via the join-based table_changes()."""


def change_inventory(
    root: str, v_from: int, v_to: int | None = None
) -> list[tuple[str, str | None, int]]:
    """Driver-side (metadata-only) plan of a CDF read over versions
    (v_from, v_to]: one (file, derived_change_type, version) task per
    change file. Commits that only ADD files (init/append/ingest, an
    add-only restore) need no materialized change data — their added
    data files ARE the insert rows, tagged at read time (Delta's
    exact optimization). ANY commit that removed files (delete, merge,
    a typical restore) must have been written with cdf=True, else
    ChangeDataUnavailable — never a silently wrong feed. Layout-only
    commits (optimize / optimize_zorder) record an EMPTY change set
    (cdc=[]), which the feed skips (Delta: OPTIMIZE emits no events).
    Cost: O(log entries) driver metadata; every yielded task is an
    independent file scan, with NO read-time join."""
    v_to = current_version(root) if v_to is None else v_to
    out: list[tuple[str, str | None, int]] = []
    for v in range(v_from + 1, v_to + 1):
        m = _read_raw(root, v)
        cdc = m.get("cdc")
        if cdc is not None:
            out += [(f, None, v) for f in sorted(cdc)]
        elif (
            not m.get("remove")
            and not m.get("dv")
            and m.get("dv_reset") is None
        ):
            out += [(f, "insert", v) for f in sorted(m.get("add", ()))]
        else:
            # removed files OR deletion vectors: rows changed in a way
            # the added files alone cannot describe
            raise ChangeDataUnavailable(
                f"version {v} ({m.get('op')}) changed rows without "
                "materialized change data; re-run the writer with "
                "cdf=True or use table_changes() for a join-based diff"
            )
    return out


# ------------------------------------------- deletion vectors (MoR)
#
# Merge-on-read DELETE: instead of rewriting every touched file
# (copy-on-write), the commit records the deleted rows' POSITIONS —
# (file, row_index) pairs, the public design of Iceberg v2 positional
# delete files and Delta deletion vectors — and readers subtract them
# with one broadcast anti-join. Write cost collapses from O(touched
# files' rows) to O(deleted positions); the read pays the anti-join
# until OPTIMIZE materializes the vectors into compacted files (after
# which the old vectors reference removed files and become inert).


class DeletionVectorsPending(RuntimeError):
    """A copy-on-write rewrite (delete_where / merge_upsert / clone)
    was asked to run against files that live deletion vectors still
    target: the raw rewrite would copy vector-hidden rows into fresh
    files, resurrecting them. Run optimize() first to materialize the
    vectors."""


def _dv_dir(root: str, version: int) -> str:
    # per-attempt uuid dir, same rationale as _change_dir: a racing
    # loser must never clobber files the winner's manifest references
    return os.path.join(root, "_deletes", f"v{version}-{uuid.uuid4().hex}")


def _write_dv_files(df: DataFrame, root: str, version: int) -> list[str]:
    return _write_parquet(df, _dv_dir(root, version))


def _dv_row_count(dvs: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in dvs)


#: Schema of the deletion-vector files `_write_dv_files` writes: each
#: deleted row's data file and row index. Scans are given it, so
#: planning a merge-on-read snapshot starts no inference job.
_DV_SCHEMA = StructType(
    [StructField("_dv_file", StringType()), StructField("_dv_pos", LongType())]
)

#: above this many positions the anti-join side is left un-hinted so
#: AQE can pick a shuffle join instead of an oversized broadcast
DV_BROADCAST_MAX_ROWS = 5_000_000


def _live_positions(
    spark: SparkSession, df: DataFrame, dvs: list[str]
) -> DataFrame:
    """A RAW file scan (df must be the scan itself so the _metadata
    pseudo-column binds) with each row's (_dv_file, _dv_pos) position,
    minus the rows deletion vectors `dvs` delete: one anti-join on
    (file, position). Vectors are bounded by deleted-not-yet-compacted
    rows, so the delete side broadcasts below DV_BROADCAST_MAX_ROWS (a
    production format would pack them as roaring bitmaps; the parquet
    pair relation keeps the oracle compare and the join shape
    identical)."""
    stamped = df.select(
        F.col("_metadata.file_path").alias("_dv_file"),
        F.col("_metadata.row_index").alias("_dv_pos"),
        "*",
    )
    if not dvs:
        return stamped
    dv = spark.read.schema(_DV_SCHEMA).parquet(*dvs)
    if _dv_row_count(dvs) <= DV_BROADCAST_MAX_ROWS:
        dv = F.broadcast(dv)
    return stamped.join(dv, ["_dv_file", "_dv_pos"], "left_anti")


def _apply_dvs(spark: SparkSession, df: DataFrame, dvs: list[str]) -> DataFrame:
    """Subtract deletion vectors from a RAW file scan."""
    if not dvs:
        return df
    return _live_positions(spark, df, dvs).drop("_dv_file", "_dv_pos")


def _live_dv_targets(files: list[str], dvs: list[str]) -> set[str]:
    """The snapshot data `files` that some deletion vector in `dvs`
    still targets (plain paths). Metadata-cheap: one footer-column read
    per vector file."""
    if not dvs:
        return set()
    import pyarrow.parquet as pq

    targets: set[str] = set()
    for f in dvs:
        targets.update(
            str(p)
            for p in pq.read_table(f, columns=["_dv_file"]).column(0)
        )
    # _manifest_form realpath-normalizes BOTH sides, so a relative root
    # cannot empty the intersection and disable the DV-pending
    # interlock; intersection mode, because a vector targeting a
    # since-removed file is inert on the read path too
    return _manifest_form(targets, files, strict=False)


def delete_where_mor(
    spark: SparkSession, root: str, cond, cdf: bool = False
) -> int:
    """ACID DELETE via MERGE-ON-READ deletion vectors: no data file is
    rewritten — the commit stores the matching rows' (file, row_index)
    positions under _deletes/ and readers subtract them. Write cost is
    O(matching positions) regardless of how many files they live in,
    the trade Iceberg v2 positional deletes / Delta deletion vectors
    make for delete-heavy workloads; reads pay one anti-join until
    optimize() materializes the vectors. Positions already covered by
    earlier vectors are not re-recorded (idempotent under re-matching
    predicates). cdf=True also materializes the deleted rows as
    change data, so the CDF feed sees MoR deletes exactly like CoW
    ones. Returns the committed version."""
    base = current_version(root)
    files, _, prior, _ = _resolve(root, base)
    live = _live_positions(spark, _scan(spark, root, base, files), prior)
    hits = live.filter(F.coalesce(cond, F.lit(False)))
    dv_files = _write_dv_files(
        hits.select("_dv_file", "_dv_pos"), root, base + 1
    )
    change_files: list[str] = []
    if cdf:
        deleted = hits.drop("_dv_file", "_dv_pos").withColumn(
            "_change_type", F.lit("delete")
        )
        change_files = _write_change_files(deleted, root, base + 1)
    _commit(
        root,
        base + 1,
        "delete-mor",
        dv=dv_files,
        cdc=change_files if cdf else None,
    )
    return base + 1


def _check_unique_keys(updates: DataFrame, key_cols: list[str], who: str):
    """SQL MERGE (and Delta) error when multiple source rows match one
    target key; appending duplicates verbatim would silently corrupt
    key uniqueness — enforce the same contract here, with ONE
    aggregate over `updates`. The keys are counted as a struct so a
    NULL key part still counts as a key (count(DISTINCT a, b) would
    skip the row)."""
    n_updates, n_keys = updates.agg(
        F.count(F.lit(1)), F.count_distinct(F.struct(*key_cols))
    ).first()
    if n_updates != n_keys:
        raise ValueError(
            f"{who}: updates contain {n_updates - n_keys} "
            f"duplicate rows for {key_cols}; pre-deduplicate on the "
            "merge key (one source row per target key, as SQL MERGE "
            "requires)"
        )


def _merge_changes(
    matched: DataFrame | None, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Write-time change rows of a MERGE in Delta's CDF vocabulary:
    the `matched` old rows as update_preimage, the update rows that
    replace them as update_postimage, the other update rows as insert
    (all of them when nothing matched: `matched` is None)."""

    def tag(df, change):
        return df.withColumn("_change_type", F.lit(change))

    if matched is None:
        return tag(updates, "insert")
    old_keys = matched.select(*key_cols).distinct()
    return (
        tag(matched, "update_preimage")
        .unionByName(
            tag(updates.join(old_keys, key_cols, "left_semi"),
                "update_postimage")
        )
        .unionByName(
            tag(updates.join(old_keys, key_cols, "left_anti"), "insert")
        )
    )


def merge_upsert_mor(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key_cols: list[str],
    cdf: bool = False,
) -> int:
    """ACID MERGE (upsert) via MERGE-ON-READ: matched target rows are
    deletion-vectored by position and ALL update rows append as new
    files — no existing file is ever rewritten. Write cost is
    O(updates + matched positions), the Iceberg v2 MoR MERGE trade
    (copy-on-write merge_upsert pays O(touched files' rows) instead);
    reads pay the same position anti-join as delete_where_mor until
    optimize() compacts. Enforces the one-source-row-per-key MERGE
    contract. cdf=True materializes update_preimage / update_postimage
    / insert change rows so the CDF feed sees the merge exactly like
    the CoW path's. Returns the committed version."""
    base = current_version(root)
    files, _, prior, _ = _resolve(root, base)
    _check_unique_keys(updates, key_cols, "merge_upsert_mor")
    keys = updates.select(*key_cols).distinct()
    live = _live_positions(spark, _scan(spark, root, base, files), prior)
    # matched old rows: still-live rows whose key is in the update set
    matched = live.join(F.broadcast(keys), key_cols, "left_semi")
    dv_files = _write_dv_files(
        matched.select("_dv_file", "_dv_pos"), root, base + 1
    )
    new_files = _write_data_files(updates, root)
    change_files = None
    if cdf:
        change_files = _write_change_files(
            _merge_changes(
                matched.drop("_dv_file", "_dv_pos"), updates, key_cols
            ),
            root,
            base + 1,
        )
    _commit(
        root,
        base + 1,
        "merge-mor",
        add=new_files,
        dv=dv_files,
        cdc=change_files,
    )
    return base + 1


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """DESCRIBE HISTORY as a relation (Delta's public command): one
    row per commit from the surviving log — version, op, and what the
    commit carried (adds / removes / materialized change data /
    deletion vectors, as booleans plus file counts). Metadata-only:
    the driver reads O(log entries) JSON manifests and never touches
    a data file — the audit read every lakehouse ships."""
    first_v = _earliest_version(root)
    head = current_version(root)
    rows = []
    for v in range(first_v, head + 1):
        m = _read_raw(root, v)
        add = m["add"]
        rows.append(
            (
                v,
                str(m.get("op", "")),
                len(add),
                len(m.get("remove", ())),
                bool(add),
                bool(m.get("remove")),
                m.get("cdc") is not None,
                bool(m.get("dv")),
            )
        )
    return spark.createDataFrame(
        rows,
        "version bigint, op string, n_added int, n_removed int, "
        "has_adds boolean, has_removes boolean, has_cdc boolean, "
        "has_dv boolean",
    )


def _cow_base(root: str, what: str) -> tuple[int, list[str]]:
    """(head version, its data files) for a copy-on-write rewrite,
    refused while live deletion vectors target those files: the raw
    rewrite would resurrect the rows they hide."""
    base = current_version(root)
    files, _, dvs, _ = _resolve(root, base)
    if _live_dv_targets(files, dvs):
        raise DeletionVectorsPending(
            f"copy-on-write {what} on a table with live deletion "
            "vectors; run optimize() first to materialize them"
        )
    return base, files


def _source_files(uris: DataFrame, files: list[str]) -> set[str]:
    """Manifest paths of the files named by the one-column relation
    `uris` of `_metadata.file_path` values. The hidden column names
    the real file even where Spark answers the scan from a cached
    snapshot of the table."""
    return _manifest_form((r[0] for r in uris.distinct().collect()), files)


def delete_where(spark: SparkSession, root: str, cond, cdf: bool = False) -> int:
    """ACID DELETE via file-level copy-on-write: only files that
    contain at least one matching row are rewritten (without their
    matching rows); every other file carries over into the new
    manifest untouched. Returns the committed version.

    cdf=True additionally materializes the deleted rows (plus a
    `_change_type='delete'` column) under _change_data/ and records
    them in the manifest — write-time CDC. The change scan reads the
    SAME affected files the rewrite already reads (one extra filtered
    pass over O(touched files), never the table), and downstream CDF
    reads become pure parallel file scans with no join at all."""
    base, files = _cow_base(root, "DELETE")
    # one filtered scan finds the affected files; the predicate pushes
    # into the parquet scan, so unaffected files are mostly skipped by
    # row-group stats before they are even read
    affected = _source_files(
        _scan(spark, root, base, files)
        .filter(cond)
        .select(F.col("_metadata.file_path")),
        files,
    )
    new_files: list[str] = []
    if affected:
        # DELETE removes rows where cond is TRUE only; under three-
        # valued logic ~NULL is NULL (filtered out), which would
        # silently drop NULL-predicate rows from rewritten files while
        # identical rows in untouched files survive — data loss that
        # depends on file co-location. coalesce pins NULL -> keep.
        rewritten = _scan(spark, root, base, sorted(affected)).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        new_files = _write_data_files(rewritten, root)
    change_files: list[str] = []
    if cdf and affected:
        deleted = (
            _scan(spark, root, base, sorted(affected))
            .filter(F.coalesce(cond, F.lit(False)))
            .withColumn("_change_type", F.lit("delete"))
        )
        change_files = _write_change_files(deleted, root, base + 1)
    # delta commit: untouched files carry over implicitly — the
    # manifest write is O(affected files), not O(table files)
    _commit(
        root,
        base + 1,
        "delete",
        add=new_files,
        remove=sorted(affected),
        cdc=change_files if cdf else None,
    )
    return base + 1


#: head re-reads vacuum makes before giving up on a table whose
#: writers keep committing during its log scan (guard (a) in vacuum)
VACUUM_RESCANS = 8


def vacuum(
    root: str,
    keep_versions: int = 1,
    orphan_retention_s: float = 7 * 24 * 3600,
) -> int:
    """Physically remove data files referenced ONLY by manifests older
    than the newest `keep_versions` (and those manifests). Returns the
    number of files removed. The destructive companion op every CoW
    format needs — separated from delete_where so time travel works
    until the user explicitly gives it up. The cutoff version is
    checkpointed before anything is unlinked, so it stays resolvable
    and keeps the op tags of the dropped versions (committed_ops).

    Also reclaims ORPHANS: data files under data/ referenced by NO
    surviving manifest at all — the debris of (a) a writer killed
    after its data-file write but before its manifest link landed
    (the commit point), and (b) commit-race losers, whose rewrite
    files were abandoned when ConcurrentCommitError sent them back to
    retry from the new head. Neither kind is reachable through the
    log, so the reference-counted dropped-minus-live pass can never
    see them. Delta's VACUUM rule applies: an unreferenced file is
    deleted only once it is older than `orphan_retention_s` (default
    7 days) — an IN-FLIGHT healthy writer also has data files on disk
    with no manifest yet, and the age gate is what keeps a concurrent
    vacuum from destroying its commit-in-progress. Stale `.tmp-*`
    droppings in _log (a killed writer's unlinked manifest/checkpoint
    temps) are swept under the same age gate. Tests pass
    orphan_retention_s=0 after quiescing writers.

    Writer coordination: the live set comes from a point-in-time log
    scan, so a writer committing DURING the scan (including a
    `restore()` to an old version, which re-adds that version's files
    to the head) could reference a file this pass is about to unlink.
    Two guards close the race: (a) after computing the live set the
    head is re-read, and if new versions appeared the scan restarts
    against the new head (up to VACUUM_RESCANS times, then raises);
    (b) `restore()` refuses targets below the last vacuum cutoff — a
    restore that wins the re-scan race still cannot resurrect dropped
    manifests. Concurrent vacuum+vacuum remains single-maintainer
    (unlink is idempotent here, but run one at a time)."""
    for _ in range(VACUUM_RESCANS):
        latest = current_version(root)
        # a caller asking to keep more history than exists is a no-op,
        # not a crash: clamp so the live-file loop never sees a
        # negative version
        cutoff = max(latest - keep_versions + 1, 0)
        # single forward replay from the earliest surviving version (a
        # prior vacuum left it checkpointed): accumulate the union of
        # files referenced by dropped versions vs kept versions, and
        # the change-data and deletion-vector files the kept versions
        # reference (_apply_delta, as _resolve steps) — O(total delta
        # entries), never versions x files
        first_v = _earliest_version(root)
        files, stats, dvs, ops = _resolve(root, first_v)
        files, dvs = set(files), set(dvs)
        dropped: set[str] = set()
        live: set[str] = set()
        live_aux: set[str] = set()
        for v in range(first_v, latest + 1):
            m = _read_raw(root, v)
            if v > first_v:
                _apply_delta(files, stats, dvs, ops, m)
            if v < cutoff:
                dropped |= files
            else:
                live |= files
                live_aux |= dvs
                live_aux.update(m.get("cdc") or ())
        # durably record the cutoff BEFORE the head re-check (guard
        # (b)): a restore() racing this pass either commits before the
        # re-check — the head moved, we rescan — or commits after it,
        # by which point the marker is already visible and restore
        # refuses pre-cutoff targets. Recording it earlier than the
        # decision to proceed is safe: the marker is monotone and only
        # ever CONSERVATIVE (it refuses restores, never allows one).
        if cutoff > first_v:
            _record_vacuum_cutoff(root, cutoff)
        # re-read the head AFTER the scan: if a writer committed while
        # we replayed the log, the live set may be stale — rescan
        if current_version(root) == latest:
            break
    else:
        raise ConcurrentCommitError(
            "vacuum: table head kept moving across "
            f"{VACUUM_RESCANS} rescans; retry when writers quiesce"
        )
    # the cutoff version must stay resolvable once older manifests are
    # gone: checkpoint it before deleting anything. The checkpoint
    # carries the dropped manifests' op tags too, so committed_ops (and
    # append_idempotent's dedup) never forgets them.
    if cutoff > first_v:
        write_checkpoint(root, cutoff)
    removed = 0
    # table-root containment (Delta's rule: VACUUM only ever deletes
    # files under the table directory): a shallow clone's manifests
    # reference the SOURCE table's absolute paths, so an uncontained
    # unlink here would let delete/merge-then-vacuum on the CLONE
    # physically destroy source-owned data files. Foreign files simply
    # drop out of the clone's manifests; their lifecycle belongs to
    # the table that owns them.
    # realpath (not abspath) on BOTH sides: a table opened via a
    # symlinked root stores manifest paths under the symlink while the
    # data dir resolves elsewhere (or vice versa) — abspath comparison
    # would then skip unlinking the table's OWN dead files, a silent
    # storage leak with `removed` undercounting
    own_data = os.path.realpath(_data_dir(root)) + os.sep
    for f in sorted(dropped - live):
        if not os.path.realpath(f).startswith(own_data):
            continue
        if os.path.exists(f):
            os.unlink(f)
            removed += 1
    for v in range(first_v, cutoff):
        for path in (_manifest_path(root, v), _checkpoint_path(root, v)):
            if os.path.exists(path):
                os.unlink(path)
    # Orphan reclaim (crash / lost-race debris): any parquet under
    # data/ that no SURVIVING manifest references and that is older
    # than the retention gate. `live` is exactly the union of the
    # kept versions' resolved file sets (computed in the replay
    # above), so after the dropped-file unlinks everything legitimate
    # on disk is in it; what is not is either an in-flight commit's
    # fresh write (protected by age) or debris. The age gate is
    # mtime-based, same as Delta VACUUM's retention check.
    now = time.time()
    live_real = {os.path.realpath(f) for f in live}
    ddir = _data_dir(root)
    if os.path.isdir(ddir):
        for sub in sorted(os.listdir(ddir)):
            subp = os.path.join(ddir, sub)
            if not os.path.isdir(subp):
                continue
            for fn in sorted(os.listdir(subp)):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(subp, fn)
                if os.path.realpath(p) in live_real:
                    continue
                try:
                    if now - os.path.getmtime(p) < orphan_retention_s:
                        continue
                    os.unlink(p)
                    removed += 1
                except FileNotFoundError:
                    pass  # a concurrent maintainer got there first
    # a killed writer's manifest/checkpoint temp never reached its
    # `finally: os.unlink` — sweep aged .tmp-* droppings from _log
    log = _log_dir(root)
    if os.path.isdir(log):
        for fn in sorted(os.listdir(log)):
            if not fn.startswith(".tmp-"):
                continue
            p = os.path.join(log, fn)
            try:
                if now - os.path.getmtime(p) >= orphan_retention_s:
                    os.unlink(p)
            except FileNotFoundError:
                pass
    # Garbage-collect _change_data and _deletes by the same
    # dropped-minus-live pattern as data files: a dir survives iff a
    # surviving manifest (cdc/dv key) or a surviving version's resolved
    # DV set still references one of its files. This reclaims (a)
    # dropped versions' change data — CDF history shares time travel's
    # retention window (Delta's rule), (b) DV files a dv_reset
    # (optimize/restore) orphaned once no surviving version resolves
    # them, and (c) per-attempt uuid dirs abandoned by lost commit
    # races. Dirs whose encoded version exceeds the head observed at
    # scan time are kept — they may belong to an in-flight commit
    # racing this vacuum (the winner's manifest lands after our scan).
    # Always under this table's own root, so no containment question
    # arises.
    live_aux = {os.path.realpath(p) for p in live_aux}
    for aux_name in ("_change_data", "_deletes"):
        adir = os.path.join(root, aux_name)
        if not os.path.isdir(adir):
            continue
        for sub in sorted(os.listdir(adir)):
            p = os.path.join(adir, sub)
            if not os.path.isdir(p) or not sub.startswith("v"):
                continue
            v_str = sub[1:].split("-", 1)[0]
            if v_str.isdigit() and int(v_str) > latest:
                continue
            referenced = any(
                os.path.realpath(os.path.join(p, f)) in live_aux
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
            if not referenced:
                shutil.rmtree(p, ignore_errors=True)
    # drop now-empty data subdirectories
    ddir = _data_dir(root)
    if os.path.isdir(ddir):
        for sub in os.listdir(ddir):
            p = os.path.join(ddir, sub)
            if os.path.isdir(p) and not any(
                f.endswith(".parquet") for f in os.listdir(p)
            ):
                shutil.rmtree(p, ignore_errors=True)
    return removed


def merge_upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key_cols: list[str],
    cdf: bool = False,
) -> int:
    """ACID MERGE (upsert) via the same file-level copy-on-write as
    delete_where: files containing a matched key are rewritten with
    those rows replaced by their update; unmatched update rows append
    as new files; untouched files carry over by reference. The matched-
    file probe is one semi-join keyed scan (update keys are typically
    tiny vs the table, so AQE broadcasts them), and the rewrite reads
    ONLY affected files — O(touched files + updates), never O(table).
    Returns the committed version.

    cdf=True materializes write-time change data under _change_data/:
    matched old rows as `update_preimage`, their replacement update
    rows as `update_postimage`, unmatched update rows as `insert` —
    Delta's exact CDF row vocabulary. The split reuses relations the
    merge already computes (affected-file rows + the updates), so the
    extra cost is O(touched files + updates); CDF reads then never
    join at all."""
    base, base_files = _cow_base(root, "MERGE")
    _check_unique_keys(updates, key_cols, "merge_upsert")
    keys = updates.select(*key_cols).distinct()
    # stamp the file path BEFORE joining the update keys: the join's
    # output no longer carries the scan's hidden _metadata column
    stamped = _scan(spark, root, base, base_files).withColumn(
        "__f", F.col("_metadata.file_path")
    )
    affected = _source_files(
        stamped.join(keys, key_cols, "left_semi").select("__f"), base_files
    )
    new_files: list[str] = []
    matched = None
    if affected:
        old_rows = _scan(spark, root, base, sorted(affected))
        survivors = old_rows.join(keys, key_cols, "left_anti")
        new_files += _write_data_files(survivors, root)
        matched = old_rows.join(keys, key_cols, "left_semi")
    # matched updates replace their old rows; unmatched updates insert
    new_files += _write_data_files(updates, root)
    change_files = None
    if cdf:
        change_files = _write_change_files(
            _merge_changes(matched, updates, key_cols), root, base + 1
        )
    # delta commit: O(touched files + updates) metadata, not O(table)
    _commit(
        root,
        base + 1,
        "merge",
        add=new_files,
        remove=sorted(affected),
        cdc=change_files,
    )
    return base + 1


def optimize(
    spark: SparkSession, root: str, target_files: int = 4
) -> int:
    """OPTIMIZE: rewrite the current snapshot's many small files into
    `target_files` compacted ones as a NEW version — content-identical,
    layout-only (the lakehouse maintenance command; Delta OPTIMIZE /
    Iceberg rewrite_data_files). Because it commits through the same
    manifest protocol, readers of older versions are untouched and a
    concurrent writer conflict is detected, not silently lost. A table
    with statistics columns is range-clustered on the first of them,
    so the compacted files keep narrow min/max ranges and
    snapshot_pruned keeps skipping them; otherwise rows spread round-
    robin. Returns the committed version."""
    base = current_version(root)
    old_files, _, dvs, _ = _resolve(root, base)
    # DV-aware read: compaction MATERIALIZES merge-on-read deletes —
    # vector-hidden rows never enter the compacted files, after which
    # the old vectors target only removed files and are inert
    snap = _apply_dvs(spark, _scan(spark, root, base, old_files), dvs)
    cluster = _table_props(root, base).get("stats_cols", [])[:1]
    snap = (
        snap.repartitionByRange(target_files, *cluster)
        if cluster
        else snap.repartition(target_files)
    )
    files = _write_data_files(snap, root)
    # layout-only: content-identical rewrites have no row-level delta,
    # so the commit records an EMPTY change set (cdc=[]) — a CDF feed
    # skips it instead of erroring (Delta: OPTIMIZE emits no events)
    _commit(
        root,
        base + 1,
        "optimize",
        add=files,
        remove=old_files,
        cdc=[],
        # every old file is gone, so every vector is inert: empty the
        # set so readers skip the anti-join branch entirely (recorded
        # only when there was anything to empty)
        dv_reset=[] if dvs else None,
    )
    return base + 1


def zorder_key(cols: list[str], bits: int = 8):
    """Z-ORDER (Morton) key of `cols` as a Column over `df` — the
    multi-dimensional clustering kernel behind Delta's OPTIMIZE
    ZORDER BY: each column min/max-normalizes to a `bits`-bit bucket
    (integer-exact: ((x - mn) * 2^bits) div (mx - mn + 1), all
    int64), and the buckets' bits INTERLEAVE (col k contributes bit i
    to z-bit i*n_cols + k), so nearby z-values are nearby in EVERY
    dimension at once. Sorting a table by z and cutting it into
    range-contiguous files gives each file a tight min/max envelope
    on ALL the clustered columns — the property that lets per-file
    stats skipping (snapshot_pruned) prune range queries on any of
    them, where a single-column sort serves only its own column. The
    min/max normalization needs one tiny aggregate; pass its 1-row
    relation in by crossJoin before calling (see optimize_zorder) —
    the z expression itself is pure JVM bit arithmetic, reproducible
    in ANSI SQL for the oracle. Returns the Column; caller aliases.
    2 cols x 8 bits = 16-bit z (int64-safe to 4 cols x 15 bits)."""
    z = F.lit(0).cast("long")
    n = len(cols)
    for i in range(bits):
        for k, c in enumerate(cols):
            bit = F.shiftright(F.col(f"_zb_{c}"), i).bitwiseAND(
                F.lit(1)
            )
            z = z + F.shiftleft(bit, i * n + k)
    return z


def optimize_zorder(
    spark: SparkSession,
    root: str,
    cols: list[str],
    target_files: int = 8,
    bits: int = 8,
) -> int:
    """OPTIMIZE ZORDER BY: rewrite the current snapshot clustered on
    the interleaved z-key of `cols` and re-commit with fresh per-file
    min/max stats on those columns — content-identical, layout-only,
    through the same manifest protocol as optimize(). After it, a
    range predicate on ANY clustered column prunes files via
    snapshot_pruned (~sqrt locality per dimension for 2 columns),
    where a plain range-partitioned layout prunes only its sort
    column — at 100 TB this is the difference between opening
    O(matching) and O(all) files for the second dimension
    (property-tested: tests/test_properties.py). One pass: a 1-row
    min/max aggregate broadcasts onto the scan, rows range-partition
    by z (contiguous z-interval per output file) and sort within
    partitions, and the rewrite commits as remove(old)+add(new).
    Returns the committed version."""
    base = current_version(root)
    old_files, _, dvs, _ = _resolve(root, base)
    # DV-aware, like optimize: clustering must not resurrect
    # vector-hidden rows
    snap = _apply_dvs(spark, _scan(spark, root, base, old_files), dvs)
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"_mn_{c}"))
        aggs.append(F.max(c).cast("long").alias(f"_mx_{c}"))
    mm = snap.agg(*aggs)
    j = snap.crossJoin(F.broadcast(mm))
    for c in cols:
        j = j.withColumn(
            f"_zb_{c}",
            F.expr(
                f"(( (CAST({c} AS BIGINT) - _mn_{c}) * {1 << bits} )"
                f" div (_mx_{c} - _mn_{c} + 1))"
            ),
        )
    j = j.withColumn("_z", zorder_key(cols, bits))
    helper = [f"_mn_{c}" for c in cols] + [f"_mx_{c}" for c in cols] + [
        f"_zb_{c}" for c in cols
    ]
    clustered = (
        j.repartitionByRange(target_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *helper)
    )
    files = _write_data_files(clustered, root)
    _commit(
        root,
        base + 1,
        "optimize-zorder",
        add=files,
        remove=old_files,
        stats_cols=tuple(cols),
        cdc=[],  # layout-only, like optimize: no row-level delta
        dv_reset=[] if dvs else None,
    )
    return base + 1


def restore(spark: SparkSession, root: str, version: int) -> int:
    """RESTORE the table to an earlier version AS A NEW COMMIT
    (Delta's RESTORE TABLE ... VERSION AS OF): the delta manifest
    removes every file the current head references that the target
    doesn't, and re-adds every target file the head dropped — pure
    metadata, no data movement, and the mistaken versions stay in the
    log for audit until vacuum. The inverse of nothing: restoring is
    itself undoable by another restore. Returns the new version.

    Targets below the last vacuum cutoff are refused: their data files
    may already be physically gone (or mid-unlink by a concurrent
    vacuum), so a restore there would commit a snapshot referencing
    deleted data."""
    cut = vacuum_cutoff(root)
    if version < cut:
        raise ValueError(
            f"restore: version {version} is below the vacuum cutoff "
            f"{cut}; its data files may have been physically removed"
        )
    head = current_version(root)
    cur, _, cur_dvs, _ = _resolve(root, head)
    tgt, tgt_stats, tgt_dvs, _ = _resolve(root, version)
    add = sorted(set(tgt) - set(cur))
    # the deletion-vector set rewinds WITH the file set: vectors
    # committed after the target would otherwise keep hiding rows the
    # restored snapshot must show. Recorded only when it actually
    # changes, so DV-free restores stay file-diffable. Re-added files
    # bring back their stats (blooms included), and the table its
    # properties (the target's schema).
    _commit(
        root,
        head + 1,
        f"restore-v{version}",
        add=add,
        remove=sorted(set(cur) - set(tgt)),
        stats={f: tgt_stats[f] for f in add if f in tgt_stats},
        props=_table_props(root, version),
        dv_reset=tgt_dvs if tgt_dvs != cur_dvs else None,
    )
    return head + 1


# --------------------------------------------------------------- blooms

BLOOM_BITS = 4096
BLOOM_K = 5


def _bloom_positions(col_expr, bits: int, k: int):
    """k bit positions for one value: xxhash64 under k seeds, pmod to
    the bit-array width. Lives as a Spark expression so the write and
    probe sides share the exact JVM hash (never re-implemented driver-
    side in Python)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(col_expr, F.lit(s)), F.lit(bits))
            for s in range(k)
        ]
    )


def collect_file_blooms(
    spark: SparkSession,
    files: list[str],
    cols: tuple,
    bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> dict:
    """Per-file BLOOM FILTER of `cols` over just-written files — the
    point-lookup complement of the footer min/max stats: on an
    UNCLUSTERED layout every file's [min, max] spans the whole domain
    and range stats skip nothing, but a per-file bloom still answers
    'is key X definitely absent from this file'. ONE distributed
    aggregate at write time, for every column: each row explodes to
    its k bit positions per column map-side, bits OR together grouped
    on (file, column, word-index), and the driver assembles the sparse
    word map {path: {'bloom:col': {'b': bits, 'k': k,
    'w': {word_idx: int64}}}} — entries ride the manifest's existing
    per-file stats dict, so resolution, vacuum, and old readers need
    no changes (unknown keys are ignored; files without blooms are
    never skipped). Cost is one scan of the committed batch, given the
    Spark schema its writer put in the first file's footer (no
    inference job); the bitmap is bits/8 bytes per file per column
    (512 B at the 4096 default — manifest-weight like Delta's)."""
    import pyarrow.parquet as pq

    schema = _widen_schema(_NO_FIELDS, pq.read_metadata(files[0]))
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("_c"),
                _bloom_positions(F.col(c), bits, k).alias("_ps"),
            )
            for c in cols
        ]
    )
    words = (
        spark.read.schema(StructType.fromJson(schema))
        .parquet(*files)
        .select(F.col("_metadata.file_path").alias("_f"), F.inline(per_col))
        .select("_f", "_c", F.explode("_ps").alias("_p"))
        .select(
            "_f",
            "_c",
            (F.col("_p") / 64).cast("long").alias("_w"),
            F.expr("shiftleft(1L, CAST(_p % 64 AS INT))").alias("_b"),
        )
        .groupBy("_f", "_c", "_w")
        .agg(F.bit_or("_b").alias("_m"))
        .collect()
    )
    by_real = {os.path.realpath(f): f for f in files}
    out: dict = {}
    for r in words:
        # stats dict keys must be the manifest's OWN path strings
        # (relative under a relative root), else the probe never
        # matches
        path = by_real.get(
            os.path.realpath(_strip_uri(r["_f"])), _strip_uri(r["_f"])
        )
        ent = out.setdefault(path, {}).setdefault(
            f"bloom:{r['_c']}", {"b": bits, "k": k, "w": {}}
        )
        ent["w"][str(r["_w"])] = r["_m"]
    return out


def snapshot_bloom_lookup(
    spark: SparkSession,
    root: str,
    col,
    value,
    version: int | None = None,
):
    """Point-lookup read with BLOOM file skipping: resolve the
    snapshot's files, probe each file's manifest bloom for `value`
    (files without a bloom always read — same safety posture as
    snapshot_pruned), scan only the maybe-present files, and apply
    the exact equality filter. False positives cost one extra file
    scan; false negatives cannot happen because the probe uses the
    IDENTICAL Spark-side xxhash64 expression the write side folded
    into the bitmap (one 1-row JVM job per distinct (bits, k) config,
    never a Python re-implementation of the hash). Returns
    (DataFrame, n_files_read, n_files_total)."""
    v = current_version(root) if version is None else version
    files, stats, dvs, _ = _resolve(root, v)
    key = f"bloom:{col}"
    configs = {
        (e["b"], e["k"])
        for f in files
        for e in [stats.get(f, {}).get(key)]
        if e is not None
    }
    # xxhash64 is TYPE-sensitive (hashing 0 as INT != as BIGINT), so
    # the probe literal must carry the stored column's exact type
    probe_lit = F.lit(value).cast(
        StructType.fromJson(_table_props(root, v)["schema"])[col].dataType
    )
    pos_by_cfg = {}
    for bits, k in configs:
        pos_by_cfg[(bits, k)] = (
            spark.range(1)
            .select(_bloom_positions(probe_lit, bits, k).alias("p"))
            .collect()[0]["p"]
        )
    kept = []
    for f in files:
        e = stats.get(f, {}).get(key)
        if e is None:
            kept.append(f)
            continue
        w = e["w"]
        hit = all(
            (int(w.get(str(p // 64), 0)) >> (p % 64)) & 1
            for p in pos_by_cfg[(e["b"], e["k"])]
        )
        if hit:
            kept.append(f)
    return _read_kept(spark, root, v, kept, files, dvs, F.col(col) == value)
