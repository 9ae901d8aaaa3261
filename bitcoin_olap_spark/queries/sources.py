"""Sources and sinks (SURVEY.md §2.1).

Covers: catalog/table scan, parquet glob scan, schema-checked NDJSON
dimension load, CTAS materialization, DELETE-as-rewrite dedup, and the
toPandas driver handoff.

Scale notes: all reads go through the vectorized parquet reader with
predicate pushdown; CTAS-style materialization writes partitioned
parquet (at 100 TB the write would add `.partitionBy(date)` — the
ledger plan in plans/ledger.py does). DELETE on plain parquet is
rewritten as dedup-filter + overwrite (SURVEY.md §2.1 snk_delete_where)
— an ACID table format (Delta/Iceberg) would make it a metadata op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..catalog import read_parquet, table
from ..functions import exact_sum, oracle_exact_sum
from ..registry import query

#: per-process scratch root: two engine processes (e.g. a bench run and
#: a test session) must never overwrite each other's materializations
from ..session import scratch_root

_TMP_ROOT = scratch_root("sink")


def _tmp(name: str) -> str:
    os.makedirs(_TMP_ROOT, exist_ok=True)
    return os.path.join(_TMP_ROOT, name)


@query(
    "src_table_scan",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def src_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog table scan (reference scans named BigQuery tables,
    btcolap.sql:52)."""
    return table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "src_parquet_glob",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity >= 30
    """,
)
def src_parquet_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-file parquet dataset scan by wildcard path (mirrors
    `'...pre_location-*.parquet'` at btc_logregression_pre.py:17).

    The filter + 3-column projection push into the scan: .explain shows
    PushedFilters [GreaterThanOrEqual(l_quantity,30.0)] and a 3-column
    ReadSchema — at 100 TB that is the difference between reading 3
    columns' rowgroups and the whole table.
    """
    glob = os.path.join(sf_dir, "lineitem*.parquet")
    return (
        read_parquet(spark, glob)
        .filter(F.col("l_quantity") >= 30)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query(
    "src_json_dim",
    oracle="""
    SELECT n_name AS wallet, r_name AS location, CAST(NULL AS VARCHAR) AS note
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def src_json_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON dimension load with an explicit schema, including a dirty
    mostly-null junk column (mirrors wallet_location2.ndjson:1's
    pandas-exported `"Unnamed: 2"` column; loaded per SURVEY.md §1.3
    with explicit StructType, not inference).

    Round-trips a wallet->location-shaped dim derived from
    nation x region through NDJSON on disk.
    """
    dim = (
        table(spark, sf_dir, "nation")
        .join(
            F.broadcast(table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("n_name").alias("wallet"),
            F.col("r_name").alias("location"),
            F.lit(None).cast("string").alias("note"),
        )
    )
    path = _tmp("wallet_location_dim.ndjson")
    dim.coalesce(1).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("wallet", T.StringType()),
            T.StructField("location", T.StringType()),
            T.StructField("note", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@query(
    "snk_ctas",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {oracle_exact_sum('o_totalprice', 'total_price')}
    FROM orders GROUP BY o_orderstatus
    """,
)
def snk_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE AS SELECT: materialize a pipeline stage as parquet
    and read it back (the reference materializes 13 CTAS stages,
    btcolap.sql:35...433; SURVEY.md §3.1 keeps intermediates lazy and
    materializes only real handoff points)."""
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", "total_price"),
        )
    )
    path = _tmp("ctas_orders_by_status.parquet")
    agg.write.mode("overwrite").parquet(path)
    return read_parquet(spark, path)


@query(
    "snk_delete_where",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY l_orderkey, l_linenumber
            ORDER BY l_quantity, l_extendedprice) AS rn
        FROM (
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem
        )
    ) WHERE rn = 1
    """,
)
def snk_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM ... WHERE duplicate-rank > 1, rewritten for plain
    parquet as dedup-filter + overwrite (reference deletes dupes in
    place, btcolap.sql:1-15, :289-298; no in-place delete exists on
    parquet, so the engine rewrites — Delta would make this a real
    DELETE).

    Duplicates are synthesized by self-union (FIXTURES.md §B), the
    "table" is materialized ONCE per (process, sf_dir) — the fixture is
    setup, not the operator; re-writing it per call would time the
    synthetic dirty-table build instead of the delete-rewrite (same
    exists-guard pattern as join_bucketed_colocate) — then the delete
    rewrites it and the surviving rows are returned.
    """
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    path = _tmp(f"delete_where_table_{abs(hash(sf_dir)) % 10**8}.parquet")
    if not os.path.isdir(path):
        li = table(spark, sf_dir, "lineitem").select(*cols)
        li.unionAll(li).write.mode("overwrite").parquet(path)

    stored = read_parquet(spark, path)
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_quantity", "l_extendedprice"
    )
    cleaned = (
        stored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    out = _tmp(f"delete_where_clean_{abs(hash(sf_dir)) % 10**8}.parquet")
    cleaned.write.mode("overwrite").parquet(out)
    return read_parquet(spark, out)


@query(
    "snk_to_pandas",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def snk_to_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated result -> pandas driver frame -> back to Spark
    (Arrow-backed toPandas, the reference's exit surface: `.df()` at
    btc_logregression_pre.py:26). Only ever done on post-aggregation,
    driver-sized results."""
    pdf = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    return spark.createDataFrame(pdf)


@query(
    "join_bucketed_colocate",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_quantity >= 45
    """,
)
def join_bucketed_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join via bucketing: both tables are written
    bucketed by the join key (8 buckets, sorted), so the join plans
    with NO Exchange on either side — bucket i joins bucket i in place.
    This is the 100 TB strategy for repeated fact-fact joins (bucket
    `transactions` and the txo tables by transaction_hash once, join
    shuffle-free forever, SURVEY.md §4); the plan-shape test pins the
    exchange-free property. Results are row-identical to the plain
    join, which is what the oracle states."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # bucket ONCE per (process, sf_dir) — the point of bucketing is
    # paying the clustered write a single time and joining shuffle-free
    # forever after, so repeated calls (bench warm+timed passes, test
    # reruns) must not re-write; the scratch root is already per-process
    suffix = abs(hash(sf_dir)) % 10**8
    names = {}
    for base, df, key in (
        ("bkt_lineitem", li, "l_orderkey"),
        ("bkt_orders", o, "o_orderkey"),
    ):
        name = f"{base}_{suffix}"
        names[base] = name
        if not spark.catalog.tableExists(name):
            (
                df.write.mode("overwrite")
                .format("parquet")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", _tmp(name))
                .saveAsTable(name)
            )
    bl = spark.table(names["bkt_lineitem"]).filter(F.col("l_quantity") >= 45)
    bo = spark.table(names["bkt_orders"])
    return bl.join(bo, bl.l_orderkey == bo.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_quantity", "o_totalprice"
    )


def _events_by_day(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as a date-partitioned parquet table, once per
    (process, sf_dir) — the layout snk_partitioned_prune (static
    pruning) and flt_dpp_join (dynamic pruning) both scan."""
    suffix = abs(hash(sf_dir)) % 10**8
    out = _tmp(f"events_by_day_{suffix}")
    if not os.path.isdir(out):
        (
            table(spark, sf_dir, "events")
            .withColumn("day", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(out)
        )
    return out


@query(
    "snk_partitioned_prune",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n,
           {oracle_exact_sum('value', 'total')}
    FROM events
    WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE)
          BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
    GROUP BY 1
    """,
)
def snk_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned parquet write + partition-pruned read-back:
    the ledger layout that subsumes the reference's manual pre/post-
    SAFE table split (btcolap.sql:322 vs :370, SURVEY.md §4). The
    3-day filter on the partition column prunes at PLANNING time — the
    scan lists 3 of ~30 day directories and reads nothing else, the
    property that makes a 100 TB date-partitioned ledger queryable.
    Written once per (process, sf_dir), like real ledgers are."""
    out = _events_by_day(spark, sf_dir)
    got = read_parquet(spark, out).filter(
        F.col("day").between(
            F.lit("2024-01-10").cast("date"), F.lit("2024-01-12").cast("date")
        )
    )
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), exact_sum("value", "total")
    )


@query(
    "src_custom_datasource",
    oracle="""
    SELECT CAST(r AS BIGINT) AS block_number,
           md5(CAST(r AS VARCHAR)) AS block_hash,
           (CAST(r AS BIGINT) * 7) % 100 AS n_tx,
           (CAST(r AS BIGINT) * 31) % 100000 AS fee_sat
    FROM range(1000) t(r)
    WHERE (CAST(r AS BIGINT) * 7) % 100 >= 50
    """,
)
def src_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (sources/blockfeed.py): the BitcoinETL
    block-feed seam (README.md:3) as a registered Spark source —
    `spark.read.format("blockfeed")` plans one InputPartition per block
    range and executors synthesize rows in parallel. The busy-block
    filter is applied through the DataFrame API on top of the custom
    scan like any other source. Content is a deterministic function of
    block height, which DuckDB's range() reconstructs for the oracle."""
    from ..sources import register_blockfeed

    register_blockfeed(spark)
    feed = (
        spark.read.format("blockfeed")
        .option("n_blocks", 1000)
        .option("n_partitions", 8)
        .load()
    )
    return feed.filter(F.col("n_tx") >= 50)


@query(
    "snk_merge_upsert",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
    ), updates AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 97 = 5
    )
    SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
           COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
    FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
)
def snk_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert): apply a change batch — updated totals for
    matched keys, brand-new rows for unmatched keys — to the orders
    table and materialize the merged result (the other half of the
    reference's mutation surface next to DELETE, btcolap.sql:1-15; on
    plain parquet MERGE rewrites, exactly like snk_delete_where; Delta
    would make it an ACID MERGE with file-level pruning).

    Spark-first MERGE = one full-outer join on the key + COALESCE per
    column, update rows winning over base — the join is the only
    shuffle, and at 100 TB it is key-partitioned on both sides (a
    bucketed/Z-ordered base table joins without re-shuffling its side).
    The change batch is derived deterministically from orders itself
    (keys %10=3 update, %97=5 insert with shifted keys), so the oracle
    states the identical relation."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 5).select(
                (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    b, u = o.alias("b"), updates.alias("u")
    merged = b.join(
        u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer"
    ).select(
        *[
            F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
            for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        ]
    )
    path = _tmp(f"merge_upsert_{abs(hash(sf_dir)) % 10**8}.parquet")
    merged.write.mode("overwrite").parquet(path)
    return read_parquet(spark, path)


@query(
    "src_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source: write customer to headered CSV, read it back
    with an EXPLICIT schema (inference is a second full scan and a
    type-drift hazard — production readers always pin the schema), and
    return the round-tripped relation. Doubles survive exactly: Spark
    writes shortest-round-trip decimal strings, and parsing one back
    yields the identical IEEE double (the oracle compares against the
    original parquet values with no tolerance). Write once per
    (process, sf_dir) like every scratch materialization here; the
    timed portion is the CSV scan — a splittable, parallel read."""
    out = _tmp(f"csv_customer_{os.path.basename(sf_dir)}")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"]
    if not os.path.isdir(out):
        (
            table(spark, sf_dir, "customer")
            .select(*cols)
            .write.mode("overwrite")
            .option("header", True)
            .csv(out)
        )
    return spark.read.schema(
        "c_custkey long, c_name string, c_nationkey long, "
        "c_acctbal double, c_mktsegment string"
    ).option("header", True).csv(out)


@query(
    "src_jsonl_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
)
def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source: write events to JSONL (the lingua
    franca of LLM training-data interchange), read back with an
    explicit schema, return the relation. Same posture as the CSV
    twin: schema pinned (no inference scan), doubles round-trip
    bit-exact through shortest-repr JSON numbers, write happens once
    per (process, sf_dir), and the JSONL scan is splittable by line.
    Timestamps are excluded: JSON has no timestamp type, and the
    string round-trip convention (ISO-8601, UTC) is fn_timestamp_cast's
    domain — a data-interchange decision, not a reader default."""
    out = _tmp(f"jsonl_events_{os.path.basename(sf_dir)}")
    cols = ["event_id", "user_id", "event_type", "value"]
    if not os.path.isdir(out):
        (
            table(spark, sf_dir, "events")
            .select(*cols)
            .write.mode("overwrite")
            .json(out)
        )
    return spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(out)


@query(
    "snk_compact_files",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
)
def snk_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every
    streaming/partitioned sink eventually needs (a micro-batch ingest
    leaves hundreds of KB-sized files; scans then pay per-file open +
    footer + task-schedule cost). Setup (once per process/sf): fragment
    events into 64 small files. The operator: read the fragmented
    table, `repartition` to the target file count (a full round-robin
    shuffle — the price of perfect output sizing; `coalesce` would
    avoid the shuffle but can only merge co-located partitions and
    starves parallelism upstream), write back, return the compacted
    read. Content is preserved exactly — the oracle reads the original
    relation. Delta/Iceberg OPTIMIZE is this operation with a
    transaction around it."""
    frag = _tmp(f"frag_events_{os.path.basename(sf_dir)}")
    compact = _tmp(f"compact_events_{os.path.basename(sf_dir)}")
    cols = ["event_id", "user_id", "event_type", "value"]
    if not os.path.isdir(frag):
        (
            table(spark, sf_dir, "events")
            .select(*cols)
            .repartition(64)
            .write.mode("overwrite")
            .parquet(frag)
        )
    (
        read_parquet(spark, frag)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(compact)
    )
    return read_parquet(spark, compact)


@query(
    "snk_scd2",
    oracle="""
    WITH obs AS (
        SELECT o_custkey, o_orderpriority,
               CAST(o_orderdate AS TIMESTAMP) AS ts, o_orderkey,
               lag(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS TIMESTAMP), o_orderkey
               ) AS prev_prio
        FROM orders
    ),
    changes AS (
        SELECT o_custkey, o_orderpriority, ts, o_orderkey
        FROM obs
        WHERE prev_prio IS NULL OR o_orderpriority <> prev_prio
    )
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
           ts AS valid_from,
           lead(ts) OVER (
               PARTITION BY o_custkey ORDER BY ts, o_orderkey
           ) AS valid_to,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY ts, o_orderkey
           ) AS BIGINT) AS version
    FROM changes
    """,
)
def snk_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 from an observation stream: the
    per-customer history of order-priority values as versioned validity
    intervals — (custkey, priority, valid_from, valid_to, version),
    valid_to NULL on the current row. This is the warehouse pattern
    behind every `dim_*_history` table; snk_merge_upsert is its Type-1
    (overwrite) sibling.

    Change detection is lag() over (custkey, date, orderkey) — a run of
    equal consecutive values collapses to its first observation — then
    lead() turns change timestamps into half-open intervals and
    row_number stamps versions. Every window is PARTITIONed by the
    dimension key, so the whole derivation is one custkey shuffle
    reused by all three windows (identical partitioning + ordering);
    unique (date, orderkey) tiebreaks make the history deterministic on
    both engines."""
    w = Window.partitionBy("o_custkey").orderBy("ts", "o_orderkey")
    # alias o_orderdate -> ts BEFORE the first window so BOTH windows
    # order by the identical (ts, o_orderkey) attributes: Catalyst then
    # proves the post-filter child ordering satisfies the second
    # window's sort and elides the second Sort node entirely (with the
    # pre-alias form the lag window sorted on o_orderdate while the
    # lead/version window sorted on its alias ts — same data, but alias
    # equivalence is invisible to SortOrder matching, so the plan paid
    # a second full sort; measured sf3: 1.13 -> 0.94 s)
    w0 = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    obs = w0.withColumn("prev_prio", F.lag("o_orderpriority").over(w))
    changes = obs.filter(
        F.col("prev_prio").isNull()
        | (F.col("o_orderpriority") != F.col("prev_prio"))
    )
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
    )


@query(
    "snk_dynamic_overwrite",
    oracle="""
    SELECT event_id, user_id, event_type,
           CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE)
                     BETWEEN DATE '2024-01-05' AND DATE '2024-01-06'
                THEN value * 2 ELSE value END AS value,
           CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS TIMESTAMP) AS day
    FROM events
    """,
)
def snk_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill primitive:
    rewrite ONLY the date partitions present in the incoming batch
    (partitionOverwriteMode=dynamic), leaving every other partition's
    files untouched. Static overwrite mode would TRUNCATE the whole
    table first; without the setting, a correct backfill needs
    delete-then-append bookkeeping. Here a 2-day correction batch
    (values doubled for Jan 5-6) lands in a ~30-day table; the oracle
    states the expected post-overwrite content of the WHOLE table,
    proving the other partitions survived. The batch is derived from
    the immutable source (not the sink), so re-running is idempotent —
    the retry-safety a production backfill requires."""
    suffix = abs(hash(sf_dir)) % 10**8
    out = _tmp(f"events_dyn_overwrite_{suffix}")
    cols = ["event_id", "user_id", "event_type", "value", "day"]
    base = (
        table(spark, sf_dir, "events")
        .withColumn("day", F.to_date("ts"))
        .select(*cols)
    )
    if not os.path.isdir(out):
        base.write.mode("overwrite").partitionBy("day").parquet(out)
    lo, hi = F.lit("2024-01-05").cast("date"), F.lit("2024-01-06").cast("date")
    batch = (
        base.filter(F.col("day").between(lo, hi))
        .withColumn("value", F.col("value") * 2)
        .select(*cols)
    )
    (
        batch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(out)
    )
    # midnight-TIMESTAMP convention (ORACLE_DAY): the partition column
    # stays DATE on disk, but the projection casts it — DATE cells
    # canonicalize differently per engine/pandas bridge (datetime.date
    # vs datetime64), TIMESTAMP cells identically.
    return read_parquet(spark, out).select(
        "event_id", "user_id", "event_type", "value",
        F.col("day").cast("timestamp").alias("day"),
    )


@query(
    "src_schema_evolution",
    oracle="""
    SELECT event_id, user_id, value,
           CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-15'
                THEN NULL ELSE event_type END AS event_type
    FROM events
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution via mergeSchema: the table grew a
    column mid-history (files before Jan 16 lack `event_type`; later
    files carry it). A plain read would take the first file's footer
    and silently drop the new column; `mergeSchema=true` reconciles all
    footers into the superset schema and null-fills the early files —
    exactly how a long-lived 100 TB ledger absorbs additive schema
    change without rewriting history. Setup writes the two epochs once
    per (process, sf_dir); the operator is the read path. At scale
    mergeSchema's footer sweep is the cost knob — production pins the
    merged schema in a metastore instead; the null-fill semantics are
    identical."""
    suffix = abs(hash(sf_dir)) % 10**8
    out = _tmp(f"events_schema_evo_{suffix}")
    e = table(spark, sf_dir, "events")
    cut = F.to_date("ts") <= F.lit("2024-01-15").cast("date")
    if not os.path.isdir(out):
        (
            e.filter(cut)
            .select("event_id", "user_id", "value")
            .write.mode("overwrite")
            .parquet(out)
        )
        (
            e.filter(~cut)
            .select("event_id", "user_id", "value", "event_type")
            .write.mode("append")
            .parquet(out)
        )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("event_id", "user_id", "value", "event_type")
    )


@query(
    "snk_cdc_apply",
    oracle="""
    WITH log AS (
        SELECT l_partkey AS key,
               l_orderkey * 10 + l_linenumber AS seq,
               CASE WHEN l_quantity >= 48 THEN 'D' ELSE 'U' END AS op,
               l_extendedprice AS new_price
        FROM lineitem
        UNION ALL
        SELECT l_partkey + 1000000,
               l_orderkey * 10 + l_linenumber,
               'I',
               l_extendedprice
        FROM lineitem WHERE l_suppkey % 10 = 0
    ),
    last AS (
        SELECT key, op, new_price FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY key ORDER BY seq DESC) AS rn
            FROM log
        ) WHERE rn = 1
    )
    SELECT COALESCE(l.key, s.p_partkey) AS key,
           COALESCE(l.new_price, s.p_retailprice) AS price,
           COALESCE(l.op, 'KEEP') AS last_op
    FROM part s FULL OUTER JOIN last l ON s.p_partkey = l.key
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
)
def snk_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply: fold an ordered insert/update/delete log
    onto a snapshot — the consumer side of every change-data-capture
    feed (Debezium-style), and the general form of snk_merge_upsert
    (which handles a single-op batch) with ordering and delete
    semantics added. The log is synthesized deterministically from
    lineitem (U/D on existing part keys by quantity, I on fresh keys);
    per key the HIGHEST sequence number wins, a delete removes the row,
    an insert/update upserts the new price, untouched snapshot rows
    pass through tagged KEEP.

    Plan shape: last-op-per-key is row_number DESC over the key
    partition — at scale the log shard is far smaller than the
    snapshot, and the one-key-partitioned window plus the full-outer
    join are the only shuffles, both on the same key (Catalyst reuses
    the exchange). This is exactly how a daily CDC compaction job runs
    at 100 TB: the snapshot stays partitioned by key, the day's log is
    windowed to last-op, and the join is key-co-located."""
    li = table(spark, sf_dir, "lineitem")
    upd = li.select(
        F.col("l_partkey").alias("key"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.when(F.col("l_quantity") >= 48, "D").otherwise("U").alias("op"),
        F.col("l_extendedprice").alias("new_price"),
    )
    ins = li.filter(F.col("l_suppkey") % 10 == 0).select(
        (F.col("l_partkey") + 1000000).alias("key"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.lit("I").alias("op"),
        F.col("l_extendedprice").alias("new_price"),
    )
    log = upd.unionByName(ins)
    w = Window.partitionBy("key").orderBy(F.desc("seq"))
    last = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "op", "new_price")
    )
    snap = table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice"
    )
    joined = snap.join(
        last, snap["p_partkey"] == last["key"], "full_outer"
    )
    return joined.filter(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        F.coalesce(F.col("key"), F.col("p_partkey")).alias("key"),
        F.coalesce(F.col("new_price"), F.col("p_retailprice")).alias(
            "price"
        ),
        F.coalesce(F.col("op"), F.lit("KEEP")).alias("last_op"),
    )


@query(
    "src_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    """,
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source: write supplier to ORC, read it back, return
    the round-tripped relation — completing the columnar-interchange
    surface next to the CSV/JSONL text twins (src_csv_roundtrip,
    src_jsonl_roundtrip). ORC is the other splittable columnar format
    a warehouse migration meets (Hive-era tables); Spark's vectorized
    ORC reader gives the same pushdown/pruning behavior as parquet, so
    the relation participates in Catalyst optimization identically.
    Values round-trip bit-exact (typed columnar encoding, no text
    parsing); the oracle compares against the original parquet values
    with no tolerance. Write once per (process, sf_dir); the timed
    portion is the ORC scan."""
    out = _tmp(f"orc_supplier_{os.path.basename(sf_dir)}")
    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    if not os.path.isdir(out):
        (
            table(spark, sf_dir, "supplier")
            .select(*cols)
            .write.mode("overwrite")
            .orc(out)
        )
    return spark.read.orc(out).select(*cols)


_Z_BITS = 16

_ZVAL_SQL = " | ".join(
    f"(((l_partkey >> {i}) & 1) << {2 * i})"
    f" | (((l_suppkey >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


def _morton(x, y):
    """Interleave the low 16 bits of two integer Columns into a 32-bit
    Morton (Z-order) value — pure JVM bit arithmetic, exact on both
    engines."""
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(_Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(x.cast("long"), i).bitwiseAND(one), 2 * i
            )
        )
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(y.cast("long"), i).bitwiseAND(one), 2 * i + 1
            )
        )
    return z


@query(
    "snk_zorder_layout",
    oracle=f"""
    WITH z AS (
        SELECT l_partkey, l_suppkey,
               {_ZVAL_SQL} AS zval
        FROM lineitem
    )
    SELECT CAST(zval >> {2 * _Z_BITS - 4} AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM z GROUP BY 1
    """,
)
def snk_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) multidimensional data layout — the clustering
    pass a lakehouse runs (Delta OPTIMIZE ZORDER BY, Iceberg sort
    orders) so min/max footer stats prune on EITHER predicate column.
    Interleaving the bit patterns of (l_partkey, l_suppkey) makes
    z-adjacent rows adjacent in BOTH dimensions, so each written file
    covers a bounded rectangle of the key space instead of a full
    stripe — a filter on either column then skips most files, where a
    single-column sort only serves its own column. Files here are the
    top-4-bit z-buckets (deterministic fixed-width ranges; production
    uses repartitionByRange on zval for equal-size files — sampled
    boundaries, same layout property, not bit-reproducible). The
    returned per-bucket min/max rectangles ARE the skipping index the
    layout buys; the oracle recomputes them from the same bit
    arithmetic. Write once per (process, sf_dir); layout is map-only +
    one bucket exchange at any scale."""
    zd = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        _morton(F.col("l_partkey"), F.col("l_suppkey")).alias("zval"),
    ).withColumn(
        "bucket", F.shiftright("zval", 2 * _Z_BITS - 4).cast("long")
    )
    out = _tmp(f"zorder_lineitem_{os.path.basename(sf_dir)}")
    if not os.path.isdir(out):
        (
            zd.repartition("bucket")
            .sortWithinPartitions("zval")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
    # partition-directory columns read back as INT by default; the
    # oracle states BIGINT
    got = read_parquet(spark, out).withColumn(
        "bucket", F.col("bucket").cast("long")
    )
    return got.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_partkey").alias("min_part"),
        F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"),
        F.max("l_suppkey").alias("max_supp"),
    )


#: incremental-rollup split point: history strictly before, delta on or
#: after. Mid-range of the events table's ~January span so both sides
#: are non-trivial.
_IVM_CUT = "2024-01-20 00:00:00"


def _rollup_base(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the HISTORY side's daily rollup once per (process,
    sf_dir) — the stored materialized view the incremental pass
    maintains. Totals are stored as DECIMAL partials, not doubles:
    decimal addition is exact and associative, so merging a stored
    partial with a delta partial is bit-identical to aggregating the
    raw union — the algebra incremental view maintenance rests on."""
    from ..functions import day

    suffix = os.path.basename(os.path.abspath(sf_dir))
    out = _tmp(f"rollup_base_{suffix}")
    if not os.path.isdir(out):
        e = table(spark, sf_dir, "events")
        (
            e.filter(F.col("ts") < F.lit(_IVM_CUT).cast("timestamp"))
            .groupBy(
                day("ts").alias("day"), F.col("event_type")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias(
                    "total_dec"
                ),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
    return out


@query(
    "snk_incremental_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
           event_type,
           COUNT(*) AS n,
           {oracle_exact_sum('value', 'total')}
    FROM events
    GROUP BY 1, 2
    """,
)
def snk_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a stored daily rollup
    (history side, written once — _rollup_base) is brought up to date
    by aggregating ONLY the delta batch (events on/after the cut) and
    merging partials — sum-of-counts and sum-of-decimal-partials are
    associative, so the merge is bit-identical to the full recompute
    the oracle states, while the incremental cost is O(delta) + O(view)
    and NEVER rescans raw history. This is the aggregate-level sibling
    of snk_cdc_apply's row-level upsert and the batch form of
    stream_daily_agg's accumulating windows; at 100 TB it is the
    difference between a nightly 5-minute delta merge and a full-table
    re-aggregation. The merge shuffles on the same (day, event_type)
    key as the view itself, so co-partitioning carries through."""
    from ..functions import day

    base = read_parquet(spark, _rollup_base(spark, sf_dir))
    e = table(spark, sf_dir, "events")
    delta = (
        e.filter(F.col("ts") >= F.lit(_IVM_CUT).cast("timestamp"))
        .groupBy(day("ts").alias("day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total_dec"),
        )
    )
    merged = (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("total_dec").alias("total_dec"),
        )
    )
    return merged.select(
        "day",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total_dec").cast("double").alias("total"),
    )


from ..operators import acidtable as AT  # noqa: E402


def _fixture_ready(root: str, final_version: int, final_op: str) -> bool:
    """True iff the fixture table at `root` reached its FINAL expected
    commit (head version == final_version AND that commit's op matches
    final_op). A crash between init_table and the later steps leaves a
    half-built table that a mere existence check (current_version >= 0)
    would silently accept — producing wrong results vs the oracle — so
    any other state is torn down here for a from-scratch rebuild."""
    import shutil

    head = AT.current_version(root)
    if head < 0:
        return False
    if head == final_version:
        op = str(AT.read_manifest(root, head, resolve=False).get("op", ""))
        if op == final_op or op.startswith(final_op):
            return True
    shutil.rmtree(root, ignore_errors=True)
    return False


def _acid_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Once per (process, sf_dir): init an ACID table at version 0 from
    lineitem (range-partitioned on l_orderkey so data files cover
    disjoint key ranges), then commit version 1 = predicate DELETE of
    the low-orderkey range. Because the predicate is aligned with the
    file layout, the delete rewrites ONLY the file(s) containing
    matching rows — the other files carry into version 1 untouched
    (file-level copy-on-write, asserted in tests)."""
    root = _tmp(f"acid_lineitem_{os.path.basename(os.path.abspath(sf_dir))}")
    if not _fixture_ready(root, 1, "delete"):
        li = (
            table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
            )
            .repartitionByRange(8, "l_orderkey")
        )
        AT.init_table(spark, root, li)
        AT.delete_where(spark, root, F.col("l_orderkey") < 3000)
    return root


@query(
    "snk_acid_delete",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS total_qty
    FROM lineitem
    WHERE NOT (l_orderkey < 3000)
    GROUP BY 1
    """,
)
def snk_acid_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID DELETE on a versioned copy-on-write table
    (operators/acidtable — Delta/Iceberg's public design re-derived:
    immutable data files, JSON manifest per version, atomic
    link-based commit with optimistic concurrency). The DELETE finds
    affected files with one `_metadata.file_path` scan and rewrites only
    those; the new manifest lists rewritten + untouched files. Unlike
    snk_delete_where's whole-table rewrite, the cost is proportional
    to the files the predicate TOUCHES — on a 100 TB table with a
    range-aligned predicate that is a metadata-only commit for 99.9%
    of the data. Readers resolve snapshots by manifest, so this query
    returns the post-delete table no matter what a concurrent writer
    is doing."""
    root = _acid_fixture(spark, sf_dir)
    snap = AT.snapshot(spark, root)  # latest = post-delete
    return snap.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("l_quantity", "total_qty"),
    )


@query(
    "snk_acid_delete_dv",
    oracle="""
    WITH kept AS (
        SELECT l_returnflag, l_quantity FROM lineitem
        WHERE NOT (l_orderkey < 2000) AND NOT (l_quantity > 45)
    ),
    agg AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_qty
        FROM kept GROUP BY 1
    )
    SELECT 'mor' AS phase, * FROM agg
    UNION ALL
    SELECT 'materialized', * FROM agg
    """,
)
def snk_acid_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID DELETE via MERGE-ON-READ deletion vectors
    (operators/acidtable.delete_where_mor — Iceberg v2 positional
    delete files / Delta deletion vectors, the public designs,
    re-derived): two successive deletes commit ONLY the matching
    rows' (file, row_index) positions — zero data files rewritten,
    write cost O(deleted positions) however many files they touch
    (the inverse trade of snk_acid_delete's copy-on-write, which
    pays O(touched files' rows) to keep reads join-free). Readers
    subtract the accumulated vectors with one broadcast anti-join on
    the position key; OPTIMIZE then materializes the vectors into
    compacted files and retires the read-time join. The query reads
    the SAME logical content through BOTH paths — phase 'mor'
    (anti-join read, live vectors) and phase 'materialized'
    (post-compaction plain scan) — and the oracle states one
    relation twice: any disagreement between the two physical read
    strategies hash-fails. Vector durability across vacuum
    (checkpointed dv union), CoW/MoR interlock, and CDF/diff refusal
    semantics are property-tested."""
    root = _tmp(f"acid_dv_{os.path.basename(os.path.abspath(sf_dir))}")
    if not _fixture_ready(root, 3, "optimize"):
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
        )
        AT.init_table(spark, root, li.repartition(8))
        AT.delete_where_mor(spark, root, F.col("l_orderkey") < 2000)
        AT.delete_where_mor(spark, root, F.col("l_quantity") > 45)
        AT.optimize(spark, root, target_files=4)

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("l_quantity", "total_qty"),
        ).select(F.lit(phase).alias("phase"), "*")

    mor = agg(AT.snapshot(spark, root, version=2), "mor")
    mat = agg(AT.snapshot(spark, root, version=3), "materialized")
    return mor.unionByName(mat)


@query(
    "src_table_history",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS version, 'init' AS op,
           TRUE AS has_adds, FALSE AS has_removes,
           FALSE AS has_cdc, FALSE AS has_dv
    UNION ALL
    SELECT 1, 'delete', TRUE, TRUE, TRUE, FALSE
    UNION ALL
    SELECT 2, 'merge', TRUE, TRUE, TRUE, FALSE
    """,
)
def src_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY (operators/acidtable.table_history — Delta's
    audit command re-derived): the commit log of the cdf-enabled
    fixture as a relation, one row per version with the commit's op
    and payload flags (adds / removes / change data / deletion
    vectors). Metadata-only — O(log entries) JSON reads on the
    driver, no data file opened — which is what makes the history
    read constant-cost on a 100 TB table. File COUNTS are layout-
    dependent (range-partitioner sampling), so the oracle pins the
    layout-independent projection: versions, ops, and payload
    booleans."""
    root = _diff_fixture(spark, sf_dir, cdf=True)
    return AT.table_history(spark, root).select(
        "version", "op", "has_adds", "has_removes", "has_cdc", "has_dv"
    )


@query(
    "snk_acid_merge_dv",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               MAX(l_quantity) AS qty, MAX(l_returnflag) AS flag
        FROM lineitem GROUP BY 1, 2
    ),
    alive AS (
        SELECT * FROM base WHERE NOT (l_orderkey < 3000)
    ),
    updates AS (
        SELECT l_orderkey, l_linenumber, qty + 100 AS qty, flag
        FROM base WHERE l_orderkey >= 2000 AND l_orderkey < 5000
        UNION ALL
        SELECT l_orderkey + 10000000, l_linenumber,
               CAST(999.0 AS DOUBLE), 'Z'
        FROM base WHERE l_orderkey % 97 = 0
    ),
    final AS (
        SELECT * FROM alive a
        WHERE NOT EXISTS (
            SELECT 1 FROM updates u
            WHERE u.l_orderkey = a.l_orderkey
              AND u.l_linenumber = a.l_linenumber)
        UNION ALL
        SELECT * FROM updates
    ),
    agg AS (
        SELECT flag,
               COUNT(*) AS n,
               CAST(SUM(CAST(qty AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_qty
        FROM final GROUP BY 1
    )
    SELECT 'mor' AS phase, * FROM agg
    UNION ALL
    SELECT 'materialized', * FROM agg
    """,
)
def snk_acid_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID MERGE via MERGE-ON-READ (operators/acidtable
    merge_upsert_mor — Iceberg v2's MoR MERGE shape): matched target
    rows are deletion-vectored BY POSITION and all update rows append
    as fresh files — zero rewrites, write cost O(updates + matched
    positions) vs the CoW merge's O(touched files' rows). Composed ON
    TOP of a live MoR DELETE: the update range [2000, 5000) overlaps
    the deleted range (< 3000), so keys in [2000, 3000) are unmatched
    against the CURRENT (vector-subtracted) snapshot and come back as
    INSERTS — MERGE's matched/unmatched contract evaluated through
    the vectors, which is exactly what distinguishes a position-aware
    merge from a blind append. Phase 'mor' reads through the stacked
    delete+merge vectors; phase 'materialized' reads the
    post-OPTIMIZE compaction; the oracle states one relation twice so
    the two physical strategies must agree."""
    root = _tmp(f"acid_mdv_{os.path.basename(os.path.abspath(sf_dir))}")
    keys = ["l_orderkey", "l_linenumber"]
    if not _fixture_ready(root, 3, "optimize"):
        base = (
            table(spark, sf_dir, "lineitem")
            .groupBy(*keys)
            .agg(
                F.max("l_quantity").alias("qty"),
                F.max("l_returnflag").alias("flag"),
            )
            .repartitionByRange(8, "l_orderkey")
        )
        AT.init_table(spark, root, base)
        AT.delete_where_mor(spark, root, F.col("l_orderkey") < 3000)
        updates = base.filter(
            (F.col("l_orderkey") >= 2000) & (F.col("l_orderkey") < 5000)
        ).select(
            "l_orderkey",
            "l_linenumber",
            (F.col("qty") + 100).alias("qty"),
            "flag",
        )
        inserts = base.filter(F.col("l_orderkey") % 97 == 0).select(
            (F.col("l_orderkey") + 10000000).alias("l_orderkey"),
            "l_linenumber",
            F.lit(999.0).alias("qty"),
            F.lit("Z").alias("flag"),
        )
        AT.merge_upsert_mor(
            spark, root, updates.unionByName(inserts), keys
        )
        AT.optimize(spark, root, target_files=4)

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.groupBy("flag").agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("qty", "total_qty"),
        ).select(F.lit(phase).alias("phase"), "*")

    mor = agg(AT.snapshot(spark, root, version=2), "mor")
    mat = agg(AT.snapshot(spark, root, version=3), "materialized")
    return mor.unionByName(mat)


@query(
    "src_time_travel",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS total_qty
    FROM lineitem
    GROUP BY 1
    """,
)
def src_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read: the SAME table snk_acid_delete just deleted
    from, read AS OF version 0 — bit-identical to the pre-delete
    content because versions are closed, immutable file lists (the
    deleted rows' files still exist until vacuum() reclaims them).
    The audit/reproducibility primitive every lakehouse format sells,
    here in ~30 lines of manifest resolution."""
    root = _acid_fixture(spark, sf_dir)
    v0 = AT.snapshot(spark, root, version=0)
    return v0.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("l_quantity", "total_qty"),
    )


@query(
    "snk_acid_merge",
    oracle="""
    WITH updates AS (
        SELECT l_orderkey, l_linenumber,
               MAX(l_quantity + 100) AS l_quantity,
               MAX(l_returnflag) AS l_returnflag
        FROM lineitem WHERE l_orderkey < 2000
        GROUP BY 1, 2
        UNION ALL
        SELECT -1, 1, 999.0, 'Z'
    ),
    base AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem WHERE NOT (l_orderkey < 3000)
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS total_qty
    FROM (
        SELECT * FROM base b
        WHERE NOT EXISTS (
            SELECT 1 FROM updates u
            WHERE u.l_orderkey = b.l_orderkey
              AND u.l_linenumber = b.l_linenumber)
        UNION ALL
        SELECT * FROM updates
    )
    GROUP BY 1
    """,
)
def snk_acid_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID MERGE (upsert) on the versioned CoW table: a batch of
    updated rows (bumped quantities for low orderkeys, one brand-new
    key) merges into the post-delete snapshot — matched keys replace
    their rows inside rewritten copies of ONLY the files that held
    them, the new key appends, every other file carries over by
    reference. The oracle states MERGE's standard semantics
    (anti-join survivors + updates). Note the update keys overlap the
    deleted range (< 3000): rows the DELETE removed come back as
    INSERTS — exactly MERGE's matched/unmatched contract on the
    CURRENT snapshot, which is what distinguishes a versioned table
    from an overwrite."""
    root = _acid_fixture(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    # MERGE requires ONE source row per target key (merge_upsert
    # enforces it); the synthetic lineitem is not unique on the PK, so
    # the updates batch deduplicates with a deterministic max-pick
    updates = (
        li.filter(F.col("l_orderkey") < 2000)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.max(F.col("l_quantity") + 100).alias("l_quantity"),
            F.max("l_returnflag").alias("l_returnflag"),
        )
        .unionByName(
            li.sparkSession.createDataFrame(
                [(-1, 1, 999.0, "Z")],
                "l_orderkey long, l_linenumber int, l_quantity double,"
                " l_returnflag string",
            )
        )
    )
    merged_root = root + "_merge"
    if not _fixture_ready(merged_root, 1, "merge"):
        # fork the fixture's post-delete snapshot into its own table so
        # snk_acid_delete/src_time_travel keep their version history
        AT.init_table(
            spark,
            merged_root,
            AT.snapshot(spark, root).repartitionByRange(8, "l_orderkey"),
        )
        AT.merge_upsert(
            spark, merged_root, updates, ["l_orderkey", "l_linenumber"]
        )
    snap = AT.snapshot(spark, merged_root)
    return snap.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("l_quantity", "total_qty"),
    )


@query(
    "snk_acid_restore",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS total_qty
    FROM lineitem
    GROUP BY 1
    """,
)
def snk_acid_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... VERSION AS OF: fork the acid fixture's
    post-delete snapshot history and roll it back to version 0 as a
    NEW commit — the delta manifest re-adds the files the DELETE
    rewrote away and drops its rewrites; no data file moves or
    copies, and the mistaken version stays in the log for audit. The
    restored head must equal the original pre-delete table exactly
    (the oracle states full-lineitem content), which fails loudly if
    restore resolution loses or duplicates any file."""
    root = _acid_fixture(spark, sf_dir)
    restored_root = root + "_restore"
    if not _fixture_ready(restored_root, 2, "restore-v0"):
        # replay the fixture's init + delete into a fork, then RESTORE
        AT.init_table(
            spark,
            restored_root,
            AT.snapshot(spark, root, version=0).repartitionByRange(
                8, "l_orderkey"
            ),
        )
        AT.delete_where(
            spark, restored_root, F.col("l_orderkey") < 3000
        )
        AT.restore(spark, restored_root, 0)
    snap = AT.snapshot(spark, restored_root)
    return snap.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("l_quantity", "total_qty"),
    )


def _diff_fixture(
    spark: SparkSession, sf_dir: str, cdf: bool = False
) -> str:
    """Once per (process, sf_dir): a keyed CoW table with three
    versions — v0 = lineitem deduplicated to one row per
    (l_orderkey, l_linenumber) (max-pick, the same PK contract
    snk_acid_merge uses), v1 = DELETE of the low-orderkey range,
    v2 = MERGE of bumped quantities for [3000, 5000) plus fresh
    +10M-offset keys — so the v0 -> v2 diff exercises all three
    change kinds at once. cdf=True builds the same log at a separate
    root with write-time change data materialized (the acid_cdf
    source's fixture)."""
    tag = "acid_cdf" if cdf else "acid_diff"
    root = _tmp(f"{tag}_{os.path.basename(os.path.abspath(sf_dir))}")
    if not _fixture_ready(root, 2, "merge"):
        base = (
            table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey", "l_linenumber")
            .agg(
                F.max("l_quantity").alias("qty"),
                F.max("l_returnflag").alias("flag"),
            )
            .repartitionByRange(8, "l_orderkey")
        )
        AT.init_table(spark, root, base)
        AT.delete_where(
            spark, root, F.col("l_orderkey") < 3000, cdf=cdf
        )
        updates = base.filter(
            (F.col("l_orderkey") >= 3000) & (F.col("l_orderkey") < 5000)
        ).select(
            "l_orderkey",
            "l_linenumber",
            (F.col("qty") + 100).alias("qty"),
            "flag",
        )
        inserts = base.filter(F.col("l_orderkey") % 97 == 0).select(
            (F.col("l_orderkey") + 10000000).alias("l_orderkey"),
            "l_linenumber",
            F.lit(999.0).alias("qty"),
            F.lit("Z").alias("flag"),
        )
        AT.merge_upsert(
            spark,
            root,
            updates.unionByName(inserts),
            ["l_orderkey", "l_linenumber"],
            cdf=cdf,
        )
    return root


@query(
    "snk_table_diff",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               MAX(l_quantity) AS qty, MAX(l_returnflag) AS flag
        FROM lineitem GROUP BY 1, 2
    ),
    v2 AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_orderkey >= 3000 AND l_orderkey < 5000
                    THEN qty + 100 ELSE qty END AS qty,
               flag
        FROM base WHERE l_orderkey >= 3000
        UNION ALL
        SELECT l_orderkey + 10000000, l_linenumber,
               CAST(999.0 AS DOUBLE), 'Z'
        FROM base WHERE l_orderkey % 97 = 0
    )
    SELECT COALESCE(o.l_orderkey, n.l_orderkey) AS l_orderkey,
           COALESCE(o.l_linenumber, n.l_linenumber) AS l_linenumber,
           CASE WHEN o.l_orderkey IS NULL THEN 'insert'
                WHEN n.l_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           o.qty AS old_qty, n.qty AS new_qty,
           o.flag AS old_flag, n.flag AS new_flag
    FROM base o FULL OUTER JOIN v2 n
      ON o.l_orderkey = n.l_orderkey
     AND o.l_linenumber = n.l_linenumber
    WHERE o.l_orderkey IS NULL OR n.l_orderkey IS NULL
       OR o.qty IS DISTINCT FROM n.qty
       OR o.flag IS DISTINCT FROM n.flag
    """,
)
def snk_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE-DATA-FEED read between two ACID snapshots
    (operators/acidtable.table_changes — the public design of Delta's
    `table_changes`/CDF re-derived): the v0 -> v2 row-level diff of
    the keyed CoW fixture, classifying every changed key as
    insert / update / delete with old/new values side by side —
    the producer half of CDC, whose consumer half snk_cdc_apply
    already covers. The oracle states the full-relational semantic
    (both snapshots reconstructed from lineitem, full-outer join,
    value-distinct filter).

    The engine never joins snapshot-vs-snapshot: files present in
    both manifests are immutable and cannot contribute changes, so
    table_changes scans ONLY the manifest-level file difference
    (removed files = old rows, added files = new rows) and runs one
    keyed full-outer join over that subset — cost proportional to
    what the commits touched, never to the table. On a 100 TB table
    where a day's commits rewrite 0.1% of files this is the only
    CDC-read shape that works; the carried-verbatim rows a CoW
    rewrite copies into new files join equal and are filtered by the
    null-safe value compare."""
    root = _diff_fixture(spark, sf_dir)
    return AT.table_changes(
        spark, root, ["l_orderkey", "l_linenumber"], v_from=0
    )


@query(
    "snk_cdc_feed",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               MAX(l_quantity) AS qty, MAX(l_returnflag) AS flag
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_orderkey, l_linenumber, 'delete' AS change,
           qty AS old_qty, CAST(NULL AS DOUBLE) AS new_qty,
           flag AS old_flag, CAST(NULL AS VARCHAR) AS new_flag,
           CAST(1 AS BIGINT) AS version
    FROM base WHERE l_orderkey < 3000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'update',
           qty, qty + 100, flag, flag, 2
    FROM base WHERE l_orderkey >= 3000 AND l_orderkey < 5000
    UNION ALL
    SELECT l_orderkey + 10000000, l_linenumber, 'insert',
           CAST(NULL AS DOUBLE), CAST(999.0 AS DOUBLE),
           CAST(NULL AS VARCHAR), 'Z', 2
    FROM base WHERE l_orderkey % 97 = 0
    """,
)
def snk_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL change feed from the commit log: one
    table_changes(v-1, v) relation PER COMMIT, tagged with its
    version — the producer loop of a streaming CDF source (Delta's
    readStream CDF resolves new log versions on the driver, metadata
    only, and schedules each commit's file-difference scan as a
    micro-batch; this is that loop unrolled over the fixture's log).
    Completes the CDC triangle: snk_cdc_apply consumes a feed,
    snk_table_diff reads one point-to-point diff, this emits the
    per-commit feed a downstream subscriber replays — and version ids
    make consumption idempotent (the exactly-once offset contract).

    The oracle states the expected feed literally: commit 1 (the
    range DELETE) emits only deletes, commit 2 (the MERGE) emits only
    updates and inserts. Scale inventory is per-commit, not
    per-table: each union term scans that commit's added+removed
    files and joins on the key — a day of commits on a 100 TB table
    costs the day's touched files, replayed from closed immutable
    manifests so a late subscriber reconstructs the identical feed."""
    root = _diff_fixture(spark, sf_dir)
    head = AT.current_version(root)
    keys = ["l_orderkey", "l_linenumber"]
    feed = None
    for v in range(1, head + 1):
        d = AT.table_changes(
            spark, root, keys, v_from=v - 1, v_to=v
        ).withColumn("version", F.lit(v).cast("long"))
        feed = d if feed is None else feed.unionByName(d)
    return feed


_CDF_ORACLE_CHANGES = """
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               MAX(l_quantity) AS qty, MAX(l_returnflag) AS flag
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_orderkey, l_linenumber, qty, flag,
           'delete' AS "_change_type", CAST(1 AS BIGINT) AS "_commit_version"
    FROM base WHERE l_orderkey < 3000
    UNION ALL
    SELECT l_orderkey, l_linenumber, qty, flag, 'update_preimage', 2
    FROM base WHERE l_orderkey >= 3000 AND l_orderkey < 5000
    UNION ALL
    SELECT l_orderkey, l_linenumber, qty + 100, flag, 'update_postimage', 2
    FROM base WHERE l_orderkey >= 3000 AND l_orderkey < 5000
    UNION ALL
    SELECT l_orderkey + 10000000, l_linenumber, CAST(999.0 AS DOUBLE),
           'Z', 'insert', 2
    FROM base WHERE l_orderkey % 97 = 0
"""


@query(
    "src_cdf_batch",
    oracle=_CDF_ORACLE_CHANGES,
)
def src_cdf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-TIME-MATERIALIZED change-data-feed, batch read:
    `spark.read.format("acid_cdf")` over the cdf-enabled fixture's
    versions (0, 2] (sources/cdcfeed.py; Delta's `readChangeFeed`
    design re-derived). delete_where/merge_upsert with cdf=True
    persist their change rows under _change_data/ AT COMMIT TIME —
    the writer already holds both sides of every change in the
    relations it rewrites, so materialization costs O(touched files)
    — and the read becomes a pure parallel file scan: the driver walks
    the commit log (metadata only) and plans one Arrow-batched
    partition per change file. NO read-time join, unlike
    snk_table_diff's reconstruction path — the difference is exactly
    Delta's documented cdf-enabled vs point-diff trade. Emits Delta's
    CDF vocabulary (insert / delete / update_preimage /
    update_postimage) + the commit version."""
    from ..sources.cdcfeed import register_cdcfeed

    root = _diff_fixture(spark, sf_dir, cdf=True)
    register_cdcfeed(spark)
    return (
        spark.read.format("acid_cdf")
        .option("path", root)
        .option("v_from", 0)
        .load()
    )


@query(
    "stream_cdf_feed",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               MAX(l_quantity) AS qty, MAX(l_returnflag) AS flag
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_orderkey, l_linenumber, qty, flag,
           'insert' AS "_change_type", CAST(0 AS BIGINT) AS "_commit_version"
    FROM base
    UNION ALL
    SELECT l_orderkey, l_linenumber, qty, flag, 'delete', 1
    FROM base WHERE l_orderkey < 3000
    UNION ALL
    SELECT l_orderkey, l_linenumber, qty, flag, 'update_preimage', 2
    FROM base WHERE l_orderkey >= 3000 AND l_orderkey < 5000
    UNION ALL
    SELECT l_orderkey, l_linenumber, qty + 100, flag, 'update_postimage', 2
    FROM base WHERE l_orderkey >= 3000 AND l_orderkey < 5000
    UNION ALL
    SELECT l_orderkey + 10000000, l_linenumber, CAST(999.0 AS DOUBLE),
           'Z', 'insert', 2
    FROM base WHERE l_orderkey % 97 = 0
    """,
)
def stream_cdf_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING change-data-feed subscription:
    `spark.readStream.format("acid_cdf")` from startingVersion=0, so
    the init commit's data files replay as tagged inserts (Delta's
    derived-insert optimization — append-shaped commits never
    materialize change rows) followed by the materialized delete and
    merge changes. Offsets are table VERSIONS: `latestOffset` is one
    metadata poll, each micro-batch plans (start, end]'s change-file
    inventory on the driver and scans it on executors as Arrow
    batches — per-batch cost is the commits' touched files, never the
    table, and immutable manifests + change files make every offset
    range exactly replayable (the checkpointed-source half of
    end-to-end exactly-once; tests replay a version range and a
    restart). The oracle states the full feed a late subscriber must
    reconstruct."""
    from ..sources.cdcfeed import register_cdcfeed
    from ..streaming.pipeline import run_to_batch

    root = _diff_fixture(spark, sf_dir, cdf=True)
    register_cdcfeed(spark)
    feed = (
        spark.readStream.format("acid_cdf")
        .option("path", root)
        .option("startingVersion", 0)
        .load()
    )
    # Land micro-batches EXECUTOR-SIDE through the streaming file
    # sink (run_to_batch sink='parquet'): the r7/r8 sf1 measurements
    # blamed the feed's >2x ratio on the memory sink's driver collect.
    # The file sink's _spark_metadata commit log makes the landing
    # exactly-once — a replayed batch or a failed attempt's partial
    # part-files are never visible to the read-back, unlike a
    # foreachBatch mode('append') write, which is at-least-once
    # (ADVICE r9).
    return run_to_batch(feed, spark, sink="parquet")


@query(
    "stream_cdf_apply",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               MAX(l_quantity) AS qty, MAX(l_returnflag) AS flag
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey >= 3000 AND l_orderkey < 5000
                THEN qty + 100 ELSE qty END AS qty,
           flag
    FROM base WHERE l_orderkey >= 3000
    UNION ALL
    SELECT l_orderkey + 10000000, l_linenumber,
           CAST(999.0 AS DOUBLE), 'Z'
    FROM base WHERE l_orderkey % 97 = 0
    """,
)
def stream_cdf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC REPLICATION: subscribe to the source table's
    streaming change feed (stream_cdf_feed's acid_cdf source), LAND
    each micro-batch's change rows exactly-once into a changelog ACID
    table (op-tagged append_idempotent — a replayed batch commits
    nothing twice), then FOLD the landed log into the replica
    relation: per key, the highest-(version, change-priority) change
    wins (postimage > insert > delete > preimage), survivors are the
    rows whose last change materializes them — the snk_cdc_apply
    window shape driven by a real subscription instead of a handed-in
    changelog. The oracle states the source head's content, so the
    replica must equal the table it mirrors exactly.

    Scale inventory: per-batch cost is the source commits' touched
    files (the CDF contract); the landing append is O(batch); the
    fold is ONE key-partitioned window over the changelog — and an
    incremental replica would merge_upsert each batch instead of
    re-folding, using the identical per-key winner rule."""
    from ..sources.cdcfeed import register_cdcfeed

    src = _diff_fixture(spark, sf_dir, cdf=True)
    fixture = _tmp(f"cdf_apply_{os.path.basename(os.path.abspath(sf_dir))}")
    land = os.path.join(fixture, "changelog")
    ckpt = os.path.join(fixture, "ckpt")
    register_cdcfeed(spark)

    complete = (
        AT.current_version(land) >= 1
        and "cdf-land-b0" in AT.committed_ops(land)
    )
    if not complete:
        import shutil

        shutil.rmtree(fixture, ignore_errors=True)
        feed_schema = (
            spark.read.format("acid_cdf").option("path", src).load().schema
        )
        AT.init_table(spark, land, spark.createDataFrame([], feed_schema))

        def land_batch(batch: DataFrame, batch_id: int) -> None:
            AT.append_idempotent(
                spark, land, batch, op=f"cdf-land-b{batch_id}"
            )

        (
            spark.readStream.format("acid_cdf")
            .option("path", src)
            .option("startingVersion", 0)
            .load()
            .writeStream.foreachBatch(land_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    chg = AT.snapshot(spark, land)
    prio = (
        F.when(F.col("_change_type") == "update_postimage", 3)
        .when(F.col("_change_type") == "insert", 2)
        .when(F.col("_change_type") == "delete", 1)
        .otherwise(0)
    )
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        F.desc("_commit_version"), F.desc("__prio")
    )
    last = (
        chg.withColumn("__prio", prio)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return last.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("l_orderkey", "l_linenumber", "qty", "flag")


@query(
    "snk_acid_optimize",
    oracle="""
    WITH full_t AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
               CAST(NULL AS VARCHAR) AS note
        FROM lineitem
        UNION ALL
        SELECT -1, 1, 999.0, 'Z', 'wide'
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS total_qty,
           COUNT(note) AS n_noted
    FROM full_t
    GROUP BY 1
    """,
)
def snk_acid_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse MAINTENANCE lifecycle on the versioned CoW table,
    end-to-end through the delta-manifest log: a fragmented init, two
    small APPENDS (each commits a delta manifest listing ONLY its own
    files — O(batch) metadata however large the table), an OPTIMIZE
    compaction (content-identical, layout-only: the delta removes
    every old file and adds the compacted ones), then add-column
    schema EVOLUTION (an append of one wide batch widens the table's
    schema property; old files never rewrite). The final snapshot
    must equal lineitem plus the wide row exactly — the oracle states
    that content identity, so compaction or resolution dropping or
    duplicating any row hash-fails. Exercises checkpoint + delta
    replay on the read path (operators/acidtable._resolve_files)."""
    root = _tmp(
        f"acid_opt_{os.path.basename(os.path.abspath(sf_dir))}"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    if not _fixture_ready(root, 4, "add-columns"):
        AT.init_table(
            spark, root, li.filter(F.col("l_orderkey") % 4 != 0).repartition(8)
        )
        AT.append(
            spark, root, li.filter(F.col("l_orderkey") % 8 == 0), op="a1"
        )
        AT.append(
            spark, root, li.filter(F.col("l_orderkey") % 8 == 4), op="a2"
        )
        AT.optimize(spark, root, target_files=4)
        AT.append(
            spark,
            root,
            spark.createDataFrame(
                [(-1, 1, 999.0, "Z", "wide")],
                "l_orderkey long, l_linenumber int, l_quantity double,"
                " l_returnflag string, note string",
            ),
            op="add-columns",
        )
    snap = AT.snapshot(spark, root)
    return snap.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("l_quantity", "total_qty"),
        F.count("note").alias("n_noted"),
    )


@query(
    "snk_acid_clone",
    oracle="""
    WITH src AS (
        SELECT l_returnflag FROM lineitem WHERE NOT (l_orderkey < 3000)
    ), cl AS (
        SELECT l_returnflag FROM src
        UNION ALL
        SELECT l_returnflag FROM lineitem WHERE l_orderkey < 1000
    )
    SELECT 'src' AS side, l_returnflag, COUNT(*) AS n
    FROM src GROUP BY 2
    UNION ALL
    SELECT 'clone' AS side, l_returnflag, COUNT(*) AS n
    FROM cl GROUP BY 2
    """,
)
def snk_acid_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE on the versioned ACID table
    (operators/acidtable.clone — Delta's CLONE TABLE): the clone's
    version 0 is ONE delta manifest referencing the source snapshot's
    immutable data files — zero data copied at any table size — and
    the tables then diverge freely. The query clones the acid
    fixture's post-delete head, APPENDS a batch (the l_orderkey<1000
    slice) to the CLONE only, and returns both sides' per-flag counts
    in one result: the oracle states that the source still shows
    exactly the post-delete content (the append did not leak through
    the shared files) while the clone shows post-delete + batch —
    the zero-interference contract of immutable files + per-table
    logs, checked in both directions."""
    root = _acid_fixture(spark, sf_dir)
    dest = root + "_clone"
    if not _fixture_ready(dest, 1, "append"):
        AT.clone(root, dest)
        AT.append(
            spark,
            dest,
            table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
            )
            .filter(F.col("l_orderkey") < 1000),
        )
    src = AT.snapshot(spark, root)
    cl = AT.snapshot(spark, dest)
    return (
        src.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("src").alias("side"), "l_returnflag", "n")
        .unionByName(
            cl.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("clone").alias("side"), "l_returnflag", "n")
        )
    )


@query(
    "snk_acid_skipping",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS total_qty
    FROM lineitem
    WHERE l_orderkey >= 300 AND l_orderkey <= 900
    GROUP BY 1
    """,
)
def snk_acid_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SKIPPING on the versioned ACID table: per-file column
    min/max recorded at COMMIT time (read from the parquet footers
    Spark just wrote, for the table's stats_cols) land in the
    manifest; a range read then opens only files whose [min, max] can
    intersect the predicate (operators/acidtable.snapshot_pruned) —
    partition pruning's sibling that needs no partitioning, just
    range-clustered layout. The fixture is range-partitioned on
    l_orderkey so the skip genuinely bites (property-tested:
    files_read < files_total); files without stats are never
    skipped, so the optimization is always safe. Oracle = the plain
    full-scan filter."""
    root = _tmp(
        f"acid_skip_{os.path.basename(os.path.abspath(sf_dir))}"
    )
    if not _fixture_ready(root, 0, "init"):
        li = (
            table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
            )
            .repartitionByRange(8, "l_orderkey")
        )
        AT.init_table(spark, root, li, stats_cols=("l_orderkey",))
    pruned, n_read, n_total = AT.snapshot_pruned(
        spark, root, "l_orderkey", 300, 900
    )
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("l_quantity", "total_qty"),
    )


@query(
    "src_binary_files",
    oracle="""
    SELECT n_name || '.bin' AS fname,
           CAST(length(repeat(n_name || ':'
                              || CAST(n_nationkey AS VARCHAR) || ';',
                              50)) AS BIGINT) AS nbytes,
           md5(repeat(n_name || ':'
                      || CAST(n_nationkey AS VARCHAR) || ';', 50))
               AS content_md5
    FROM nation
    """,
)
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` datasource — the ingestion seam for every opaque
    multimodal payload (images, audio, model shards): one row per
    file with path, length, and the raw bytes as a BINARY column.
    This is how a 100 TB curation pipeline first touches non-parquet
    blobs; downstream the bytes flow into the mm_* Arrow-batched
    decode operators. The fixture is 25 deterministic ASCII payloads
    constructed from the nation table (written once per process,
    driver-side — 25 bounded rows, not a distributed write, since
    binaryFile is a read-only format); the oracle restates each
    file's length and md5 from the same construction, so the check
    proves the source delivers bytes verbatim. The scan itself is
    parallel: binaryFile lists files into splits like any
    file-based source (one task per file up to maxPartitionBytes),
    and pushes path filters down via pathGlobFilter."""
    out = _tmp("binary_files_fixture")
    marker = os.path.join(out, "_done")
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        for r in (
            table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .collect()
        ):
            payload = (f"{r['n_name']}:{r['n_nationkey']};" * 50).encode()
            with open(os.path.join(out, f"{r['n_name']}.bin"), "wb") as f:
                f.write(payload)
        with open(marker, "w") as f:
            f.write("ok")
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("length").cast("long").alias("nbytes"),
            F.md5("content").alias("content_md5"),
        )
    )


@query(
    "snk_bloom_index",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_orderkey = 1
    """,
)
def snk_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER file skipping on the versioned ACID table — the
    point-lookup complement of snk_acid_skipping's min/max ranges:
    the fixture is HASH-distributed (repartition(8), no clustering),
    so every file's [min, max] spans the whole key domain and range
    stats can skip NOTHING; the per-file bloom bitmap written at
    commit time (operators/acidtable.collect_file_blooms — one
    distributed aggregate per batch, 512 B of manifest weight per
    file) still answers 'key 1 is definitely absent here', and the
    point read opens only the maybe-present files
    (snapshot_bloom_lookup). The probe reuses the IDENTICAL Spark
    xxhash64 expression the writer folded into the bitmap, so false
    negatives are impossible by construction and the read is always
    exact (the equality filter still runs on survivors); pruning is
    property-tested (files_read < files_total on the multi-file
    fixture, zero lost rows vs the full scan). Oracle = the plain
    point lookup."""
    root = _tmp(
        f"acid_bloom_{os.path.basename(os.path.abspath(sf_dir))}"
    )
    if not _fixture_ready(root, 0, "init"):
        li = (
            table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
            )
            .repartition(8)
        )
        AT.init_table(spark, root, li, bloom_cols=("l_orderkey",))
    pruned, n_read, n_total = AT.snapshot_bloom_lookup(
        spark, root, "l_orderkey", 1
    )
    return pruned.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def _zorder_interleave_sql(bits: int = 8) -> str:
    """DuckDB twin of operators/acidtable.zorder_key for two columns
    bp/bs: bit i of each bucket lands at z-bit 2i / 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"(((bp >> {i}) & 1) << {2 * i})")
        terms.append(f"(((bs >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
    WITH mm AS (
        SELECT CAST(MIN(l_partkey) AS BIGINT) AS mn_p,
               CAST(MAX(l_partkey) AS BIGINT) AS mx_p,
               CAST(MIN(l_suppkey) AS BIGINT) AS mn_s,
               CAST(MAX(l_suppkey) AS BIGINT) AS mx_s
        FROM lineitem
    ), b AS (
        SELECT l_partkey, l_suppkey,
               ((CAST(l_partkey AS BIGINT) - mn_p) * 256)
                   // (mx_p - mn_p + 1) AS bp,
               ((CAST(l_suppkey AS BIGINT) - mn_s) * 256)
                   // (mx_s - mn_s + 1) AS bs
        FROM lineitem, mm
    ), z AS (
        SELECT l_partkey, l_suppkey,
               {_zorder_interleave_sql()} AS zv
        FROM b
    )
    SELECT zv // 256 AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_partkey) AS BIGINT) AS mn_part,
           CAST(MAX(l_partkey) AS BIGINT) AS mx_part,
           CAST(MIN(l_suppkey) AS BIGINT) AS mn_supp,
           CAST(MAX(l_suppkey) AS BIGINT) AS mx_supp
    FROM z GROUP BY 1
"""


@query("snk_zorder_cluster", oracle=_ZORDER_ORACLE)
def snk_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering kernel (Delta's OPTIMIZE ZORDER BY) over
    (l_partkey, l_suppkey): min/max-normalize each column to an 8-bit
    bucket (integer-exact floor division off ONE broadcast 1-row
    min/max aggregate), interleave the bucket bits into a 16-bit
    Morton key (operators/acidtable.zorder_key — pure JVM bit
    arithmetic, replayed bit-for-bit by the SQL twin), and return the
    per-z-bucket histogram with each bucket's min/max envelope on
    BOTH columns. The envelopes are the point: files cut from
    contiguous z-ranges carry tight per-file stats on EVERY clustered
    dimension, so snapshot_pruned prunes range queries on any of them
    — the table-level behavior is optimize_zorder
    (operators/acidtable.py), property-tested to read ~sqrt-fraction
    files on the SECOND dimension where a single-column sort reads
    all of them (tests/test_properties.py). Scale: one fact scan, one
    broadcast, one bucket-grain aggregate; the rewrite itself is one
    range exchange — exactly Delta's OPTIMIZE cost shape.
    Scale classification (r8, min of 3): DUCK-FLOOR row — duck
    0.136 s sf0.1 -> 0.106 s sf1 (vectorized Morton arithmetic never
    leaves the sub-0.15 s scan floor) while Spark is flat
    0.60 -> 0.46 s; the 4.4x sf0.1 ratio is an absolute ~0.35 s
    scheduling floor, not a scaling defect."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    mm = li.agg(
        F.min("l_partkey").cast("long").alias("_mn_p"),
        F.max("l_partkey").cast("long").alias("_mx_p"),
        F.min("l_suppkey").cast("long").alias("_mn_s"),
        F.max("l_suppkey").cast("long").alias("_mx_s"),
    )
    j = (
        li.crossJoin(F.broadcast(mm))
        .withColumn(
            "_zb_p",
            F.expr(
                "(((CAST(l_partkey AS BIGINT) - _mn_p) * 256)"
                " div (_mx_p - _mn_p + 1))"
            ),
        )
        .withColumn(
            "_zb_s",
            F.expr(
                "(((CAST(l_suppkey AS BIGINT) - _mn_s) * 256)"
                " div (_mx_s - _mn_s + 1))"
            ),
        )
    )
    from ..operators.acidtable import zorder_key

    return (
        j.withColumn("_z", zorder_key(["p", "s"]))
        .withColumn("zbucket", F.expr("_z div 256"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("l_partkey").cast("long").alias("mn_part"),
            F.max("l_partkey").cast("long").alias("mx_part"),
            F.min("l_suppkey").cast("long").alias("mn_supp"),
            F.max("l_suppkey").cast("long").alias("mx_supp"),
        )
    )


_FP_SQL = (
    "md5(trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"
)

_INGEST_ORACLE = f"""
    WITH corpus AS (
        SELECT DISTINCT {_FP_SQL} AS fp
        FROM documents WHERE doc_id % 10 != 0
    ), batch AS (
        SELECT doc_id, {_FP_SQL} AS fp
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 100000, {_FP_SQL}
        FROM documents WHERE doc_id % 20 = 1
        UNION ALL
        SELECT doc_id + 200000, {_FP_SQL}
        FROM documents WHERE doc_id % 30 = 0
    ), cls AS (
        SELECT b.doc_id, b.fp,
               MIN(b.doc_id) OVER (PARTITION BY b.fp) AS min_id,
               CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END AS inc
        FROM batch b LEFT JOIN corpus c ON c.fp = b.fp
    )
    SELECT doc_id, fp AS fingerprint,
           CASE WHEN inc = 1 THEN 'dup_corpus'
                WHEN doc_id > min_id THEN 'dup_batch'
                ELSE 'insert' END AS action
    FROM cls
"""


@query("snk_ingest_dedup", oracle=_INGEST_ORACLE)
def snk_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE INGEST-DEDUP LOOP — the composite every production
    pipeline runs on arrival, closing the loop between the dedup tier
    and the ACID table: an arriving batch (fresh docs + planted exact
    clones of corpus docs under shifted ids + a clone of a batch doc)
    is classified against the STORED corpus fingerprint index AS OF
    the pre-batch version (time travel — replays must see the
    snapshot the batch was ingested against, or a replayed batch
    reclassifies its own inserts as dup_corpus; an acidtable holding
    one md5 fingerprint per corpus doc, the operators/text.fingerprint
    kernel dedup_exact uses) into
    'insert' / 'dup_corpus' (fingerprint already in the index) /
    'dup_batch' (a smaller-id batch doc carries the same fingerprint),
    and ONLY the inserts append to the index via append_idempotent
    keyed by a batch op tag — a replayed batch (driver warm pass +
    timed passes, a restarted job, a foreachBatch retry) classifies
    identically and the append SKIPS, so the index advances exactly
    once per batch id (property-tested: two runs, one committed
    version). Work inventory: fingerprints are map-side; the corpus
    probe is ONE equi-join on the 32-char fingerprint against the
    index snapshot (AQE broadcasts the small batch); batch-internal
    dedup is one fingerprint-partitioned window over the batch; the
    index append is O(inserts). Nothing re-pairs or re-reads the
    corpus text — at 100 TB the corpus appears only as its stored
    fingerprint index scan, the asymmetric posture of
    sim_dedup_incremental applied to the exact tier."""
    from ..operators.text import fingerprint

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_fp = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 20 == 1).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 30 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
        .select("doc_id", fingerprint("text").alias("fp"))
    )
    root = _tmp(
        f"acid_ingest_{os.path.basename(os.path.abspath(sf_dir))}"
    )
    # fixture states: v0 = freshly built index, v1 = index after this
    # batch's exactly-once ingest (a prior pass in this process).
    # Anything else is a torn build — rebuild from scratch.
    head = AT.current_version(root)
    ok0 = head == 0 and AT.read_manifest(root, 0, resolve=False)[
        "op"
    ] == "init"
    ok1 = head == 1 and AT.read_manifest(root, 1, resolve=False)[
        "op"
    ].startswith("ingest-")
    if not (ok0 or ok1):
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        AT.init_table(spark, root, corpus_fp)
    # classify against the PRE-BATCH snapshot (version 0) — time
    # travel makes replays see the index state this batch was ingested
    # against, so a doc inserted by pass 1 does not reclassify as
    # dup_corpus on the replay (Delta's txn-version reading discipline)
    idx = AT.snapshot(spark, root, 0).select("fp").distinct()
    # classify: corpus probe flag + batch-internal min-id survivor
    flagged = batch.join(
        idx.withColumn("_inc", F.lit(1)), "fp", "left"
    )
    min_id = F.min("doc_id").over(Window.partitionBy("fp"))
    cls = flagged.select(
        "doc_id",
        F.col("fp").alias("fingerprint"),
        F.when(F.col("_inc").isNotNull(), F.lit("dup_corpus"))
        .when(F.col("doc_id") > min_id, F.lit("dup_batch"))
        .otherwise(F.lit("insert"))
        .alias("action"),
    )
    # exactly-once index advance: only the inserts' fingerprints land,
    # keyed by the batch tag — replays skip (acidtable.append_idempotent)
    AT.append_idempotent(
        spark,
        root,
        cls.filter(F.col("action") == "insert").select(
            F.col("fingerprint").alias("fp")
        ),
        op=f"ingest-{os.path.basename(os.path.abspath(sf_dir))}-batch0",
    )
    return cls
