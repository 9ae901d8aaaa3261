"""Streaming queries (SURVEY.md §2.9 — the reference's stated
BitcoinETL direction, README.md:3 — re-expressed as Structured
Streaming).

Each query builds a genuinely streaming plan (file source, watermark,
event-time windows / bounded-state dedup) and executes it to
completion with trigger(availableNow=True), handing the driver a batch
result. On static input every one of them is equivalent to a batch
query, which is exactly what makes them oracle-checkable: the DuckDB
SQL states the batch semantics the stream must converge to.

Aggregations run in complete output mode — on a finite input the
watermark never passes the last open window, so append mode would
swallow the trailing windows.
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ORACLE_DAY, oracle_exact_sum
from ..registry import query
from ..streaming import (
    daily_window_agg,
    purchase_view_join,
    dedup_stream,
    dedup_within_watermark,
    ingest_to_parquet,
    run_to_batch,
    running_user_sequence,
    sessionize,
    sliding_window_agg,
    stream_events,
    upsert_foreachbatch,
)

_DAY = ORACLE_DAY.format(col="CAST(ts AS TIMESTAMP)")


@query(
    "stream_daily_agg",
    oracle=f"""
    SELECT {_DAY} AS day, event_type,
           {oracle_exact_sum('value', 'total_value')},
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-day window aggregation — the streaming
    twin of agg_daily_sum. 1-day UTC windows align to date_trunc, so
    the converged stream result equals the batch daily GROUP BY."""
    return run_to_batch(
        daily_window_agg(stream_events(spark, sf_dir)), spark, mode="complete"
    )


@query(
    "stream_sessionize",
    oracle=f"""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           {oracle_exact_sum('value', 'session_value')}
    FROM sess
    GROUP BY user_id, sid
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows per user (30-min gap) under a watermark —
    the stateful merging-window operator. The oracle states the same
    semantics relationally (lag + gap flag + running sum), which is
    well-defined because session membership is tie-insensitive."""
    return run_to_batch(
        sessionize(stream_events(spark, sf_dir)), spark, mode="complete"
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value, props
    FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup: the stream is doubled by
    self-union (every event arrives twice), dropDuplicates on
    (event_id, ts) restores exactly the original rows — the streaming
    form of the reference's dedup-DELETE maintenance
    (btcolap.sql:1-15)."""
    ev = stream_events(spark, sf_dir)
    return run_to_batch(
        dedup_stream(ev.unionByName(ev)), spark, sink="parquet"
    )


@query(
    "stream_stateful_seq",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
    FROM events
    """,
)
def stream_stateful_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running sequence numbers carried in GroupState across batches. On
    the finite input this converges to the per-user row_number the
    oracle states — but the streaming form keeps numbering correctly
    as new micro-batches arrive, which no batch window can.

    State partitions follow spark.sql.shuffle.partitions: the core
    count locally, sized by the deployment on a cluster, as Spark's
    state-store docs prescribe."""
    return run_to_batch(
        running_user_sequence(stream_events(spark, sf_dir)),
        spark,
        sink="parquet",
    )


@query(
    "stream_ingest_partitioned",
    oracle=f"""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value, props, {_DAY} AS day
    FROM events
    """,
)
def stream_ingest_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion into a date-partitioned parquet ledger
    (append + partitionBy(day) => partition-pruned downstream scans;
    replaces the reference's manual pre/post-SAFE split, btcolap.sql:322
    vs :370). Returns the read-back dataset."""
    from ..session import scratch_root

    out_dir = tempfile.mkdtemp(prefix="stream_ingest_", dir=scratch_root("sink"))
    got = ingest_to_parquet(stream_events(spark, sf_dir), spark, out_dir)
    return got.withColumn("day", F.col("day").cast("timestamp"))


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS p_id, p.user_id,
           CAST(p.ts AS TIMESTAMP) AS p_ts,
           v.event_id AS v_id,
           CAST(v.ts AS TIMESTAMP) AS v_ts
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.user_id = p.user_id
     AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
     AND CAST(v.ts AS TIMESTAMP) >=
         CAST(p.ts AS TIMESTAMP) - INTERVAL '30 minutes'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked inner join (streaming/pipeline.py
    purchase_view_join): purchases correlated with the same user's
    views within a 30-minute event-time bound. Both sides buffer state
    only up to watermark + bound; the oracle states the converged batch
    interval join."""
    ev = stream_events(spark, sf_dir)
    return run_to_batch(purchase_view_join(ev), spark, sink="parquet")


@query(
    "stream_upsert_foreachbatch",
    oracle="""
    SELECT user_id,
           arg_max(CAST(ts AS TIMESTAMP),
                   printf('%020d-%012d',
                          epoch_us(CAST(ts AS TIMESTAMP)),
                          event_id)) AS last_ts,
           arg_max(value,
                   printf('%020d-%012d',
                          epoch_us(CAST(ts AS TIMESTAMP)),
                          event_id)) AS last_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE via foreachBatch (streaming/pipeline.py
    upsert_foreachbatch): maintain a per-user state table — latest
    event + running count — upserted each micro-batch with a
    full-outer newest-wins merge into plain parquet (the callback
    Delta's MERGE INTO would slot into). Batch-split-invariant by
    construction (max over a total (ts, event_id) order, additive
    counts), so the converged state equals the batch last-per-user
    aggregate the oracle states."""
    from ..session import scratch_root

    target = tempfile.mkdtemp(
        prefix="stream_upsert_", dir=scratch_root("sink")
    )
    return upsert_foreachbatch(stream_events(spark, sf_dir), spark, target)


@query(
    "stream_custom_datasource",
    oracle="""
    SELECT r AS block_number, md5(CAST(r AS VARCHAR)) AS block_hash,
           (r * 7) % 100 AS n_tx, (r * 31) % 100000 AS fee_sat
    FROM range(600) t(r)
    WHERE (r * 7) % 100 >= 50
    """,
)
def stream_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blockfeed Python Data Source consumed as a STREAM
    (sources/blockfeed._BlockFeedStreamReader): offsets are block
    heights, 2 micro-batches of 300 blocks each, replayable via
    readBetweenOffsets — the exactly-once contract for custom Python
    sources. Same deterministic content as the batch path, so the same
    DuckDB range() oracle applies; filter pushed into the stream
    projection. Runs under a continuous trigger +
    processAllAvailable (availableNow would snapshot only the first
    chunk's offset — a pull-based simple reader advances its offset one
    `read` at a time), stopping once the feed stops advancing."""
    from ..sources.blockfeed import register_blockfeed
    from ..streaming.pipeline import _MEMSINK_SEQ, _drain_memory_sink

    register_blockfeed(spark)
    feed = (
        spark.readStream.format("blockfeed")
        .option("n_blocks", 600)
        .option("chunk", 300)
        .load()
    )
    name = f"stream_sink_{next(_MEMSINK_SEQ)}"
    q = (
        feed.filter(F.col("n_tx") >= 50)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return _drain_memory_sink(spark, name)


@query(
    "stream_watermark_disorder",
    oracle="""
    WITH d AS (
        SELECT r AS a,
               CASE WHEN r % 50 = 25 AND r >= 425 THEN r - 390
                    WHEN r % 7 = 3 AND r >= 5 THEN r - 5
                    ELSE r END AS b
        FROM range(0, 600) t(r)
    ), mx AS (
        SELECT a // 200 AS batch, MAX(b) AS mxb FROM d GROUP BY 1
    ), wm AS (
        SELECT batch,
               MAX(mxb) OVER (ORDER BY batch
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 2 PRECEDING) - 30 AS wm_s
        FROM mx
    ), kept AS (
        SELECT d.b
        FROM d JOIN wm ON wm.batch = d.a // 200
        WHERE wm.wm_s IS NULL OR ((d.b // 60) * 60 + 60) > wm.wm_s
    )
    SELECT CAST('2021-01-01' AS TIMESTAMP)
               + ((b // 60) * 60) * INTERVAL 1 SECOND AS w_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((b * 31) % 100000) AS BIGINT) AS fees
    FROM kept GROUP BY 1
    """,
)
def stream_watermark_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK SEMANTICS UNDER DISORDER (VERDICT r9 ask #7): the
    blockfeed source in disordered-arrival mode — every 7th slot ~5 s
    stale (inside the 30 s delay), every 50th slot from 425 on ~390 s
    stale (beyond it, the must-drop witnesses), duplicates and gaps
    included — aggregated into 60 s tumbling windows under
    withWatermark('ts', '30 seconds') in APPEND mode, 200-slot
    micro-batches, with a terminal far-future flush row whose
    watermark update closes every real window (its own window stays
    open and never emits).

    The oracle states Spark's exact TWO-WATERMARK contract
    (SPARK-24634), measured on this feed before being written down:
    late-event FILTERING in micro-batch i uses the PREVIOUS trigger's
    watermark — max(event time over batches <= i-2) - 30 s, the
    `2 PRECEDING` running MAX over per-batch maxima (per-batch maxima,
    not a slot formula, because disorder can displace a batch's
    natural maximum) — while state EVICTION uses the current one.
    A first oracle draft used the current watermark for filtering and
    mis-predicted 4 drops that Spark (correctly, per its contract)
    merged into still-open state; the committed oracle drops a row iff
    its window end is behind the LAGGED filter watermark. The lag also
    implies no window can emit twice: a row passing the filter has a
    window the eviction watermark (one batch fresher) had not yet
    closed at the previous batch. Row counts AND fee sums hash-match,
    so a single wrongly kept/dropped row breaks the compare.
    Cross-batch stragglers at chunk boundaries (e.g. slot 203
    delivering block 198 into batch 1) pin the keep side; slots
    425/475 (windows long closed) pin the drop side; 525/575 land just
    inside the lagged filter and pin the boundary.

    Scale posture: watermark state is O(open windows), the source is
    offset-replayable (readBetweenOffsets), and the aggregation is the
    standard watermarked shuffle — the fixture's 601 slots exercise
    the semantics; volume rides the same plan as stream_daily_agg."""
    from ..sources.blockfeed import register_blockfeed
    from ..streaming.pipeline import _MEMSINK_SEQ, _drain_memory_sink

    register_blockfeed(spark)
    feed = (
        spark.readStream.format("blockfeed")
        .option("disorder", "true")
        .option("n_blocks", 600)
        .option("chunk", 200)
        .load()
    )
    agg = (
        feed.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "60 seconds"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("fee_sat").cast("long").alias("fees"),
        )
        .select(F.col("window.start").alias("w_start"), "n", "fees")
    )
    name = f"stream_sink_{next(_MEMSINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # the no-data eviction batch races processAllAvailable's
    # return — wait until a progress entry reports the
    # flush-driven watermark before stopping
    import time as _time

    deadline = _time.time() + 60
    wmk = ""
    while _time.time() < deadline:
        p = q.lastProgress
        wmk = (p or {}).get("eventTime", {}).get("watermark", "")
        if wmk >= "2021-01-02":
            break
        _time.sleep(0.3)
        q.processAllAvailable()
    else:
        # the final windows may not have been evicted: say so
        # rather than return a possibly short result silently
        logging.getLogger(__name__).warning(
            "stream_watermark_disorder: gave up after 60 s waiting "
            "for the flush watermark; last watermark seen %r",
            wmk,
        )
    q.processAllAvailable()
    q.stop()
    return _drain_memory_sink(spark, name)


@query(
    "stream_sliding_window",
    oracle=f"""
    WITH ks AS (SELECT unnest(range(4)) AS k)
    SELECT make_timestamp(
               ((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) - k)
               * 1800000000) AS win_start,
           event_type,
           {oracle_exact_sum('value', 'total_value')},
           COUNT(*) AS n_events
    FROM events CROSS JOIN ks
    GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour/30-minute windows per event_type under a
    watermark — the overlapping-window kind (tumbling: stream_daily_agg;
    session: stream_sessionize). The oracle states the expansion
    arithmetically: every event belongs to exactly the 4 epoch-aligned
    30-minute slots covering it (integer epoch_us floor-division —
    identical to Spark's window alignment), then the same exact-decimal
    aggregate."""
    return run_to_batch(
        sliding_window_agg(stream_events(spark, sf_dir)),
        spark,
        mode="complete",
    )


@query(
    "stream_dropdup_watermark",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value
    FROM events
    """,
)
def stream_dropdup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on the business key alone: the
    stream is doubled with a RESTATED copy (props rewritten — a
    metadata change dropDuplicates' full-row keying would treat as a
    distinct row), and within-watermark dedup on event_id collapses
    the pair while keeping state bounded by watermark eviction. The
    duplicate differs only in the dropped props column, so the
    surviving row's projection is deterministic either way."""
    ev = stream_events(spark, sf_dir)
    restated = ev.withColumn("props", F.lit("{}"))
    return run_to_batch(
        dedup_within_watermark(ev.unionByName(restated)),
        spark,
        sink="parquet",
    )


@query(
    "stream_acid_sink",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_acid_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the versioned ACID table
    (operators/acidtable): each micro-batch commits ONE new manifest
    version appending its immutable data files — the foreachBatch +
    transaction-log pattern Delta's streaming sink implements. The
    batch id rides in the manifest `op`, making retried batches
    IDEMPOTENT: a replayed foreachBatch sees its id already committed
    and skips — exactly-once sink semantics from the commit protocol
    alone, with no sink-side dedup state. Readers meanwhile resolve
    whole versions only, so a concurrent reader never observes a
    half-written batch. Converged content = the whole events table
    (the oracle); every intermediate version remains time-travelable
    until vacuum. The stream runs once per (process, sf_dir) — like
    every write-fixture sink, the timed portion of repeat calls is the
    snapshot read."""
    import os

    from ..operators import acidtable as AT
    from ..session import scratch_root

    cols = ["event_id", "user_id", "event_type", "value"]
    root = os.path.join(
        scratch_root("sink"),
        f"acid_stream_{os.path.basename(os.path.abspath(sf_dir))}",
    )
    if AT.current_version(root) < 0:
        ev = stream_events(spark, sf_dir).select(*cols)
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in ev.schema.fields
        )
        AT.init_table(spark, root, spark.createDataFrame([], schema))

        def commit_batch(batch: DataFrame, batch_id: int) -> None:
            # exactly-once from the commit protocol alone: the batch
            # id keys the idempotent append (rebase on foreign
            # version-race losses, orphan reclaim when a retry of this
            # id already landed) — extracted to
            # acidtable.append_idempotent so the race branches are
            # property-tested directly (tests/test_properties.py)
            AT.append_idempotent(
                spark, root, batch, op=f"append-batch-{batch_id}"
            )
        (
            ev.writeStream.foreachBatch(commit_batch)
            .option(
                "checkpointLocation",
                # scoped per sf_dir like the table root: reusing one
                # checkpoint (source offsets / seen-files log) across
                # DIFFERENT source directories is unsupported in
                # Structured Streaming and can skip batches
                os.path.join(
                    scratch_root("ckpt"),
                    "acid_stream_"
                    + os.path.basename(os.path.abspath(sf_dir)),
                ),
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return AT.snapshot(spark, root).select(*cols)


@query(
    "stream_topn_trending",
    oracle="""
    WITH w AS (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900
                 AS win_s,
               event_type,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    )
    SELECT win_s, event_type, CAST(n AS BIGINT) AS n,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY win_s ORDER BY n DESC, event_type) AS rnk
        FROM w
    ) WHERE rnk <= 3
    """,
)
def stream_topn_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items detection: top-3 event types per 15-minute
    tumbling window. Two phases, because Structured Streaming forbids
    rank windows on a stream: the STREAMING phase maintains the
    watermarked per-(window, type) counts — the only state that must
    live on the cluster, bounded by watermark x type cardinality —
    and the ranking runs BATCH-side on the converged counts (in
    production, per micro-batch via foreachBatch over the sink table,
    which is exactly what run_to_batch's memory sink stands in for).
    Window starts are emitted as epoch SECONDS (exact integers
    divisible by 900) so the compare carries no timestamp-flavor
    risk. The oracle states the batch semantics the stream converges
    to on finite input."""
    from pyspark.sql.window import Window

    from ..functions import epoch_us

    ev = stream_events(spark, sf_dir)
    counts = (
        ev.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "15 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (epoch_us(F.col("win.start")) / 1_000_000)
            .cast("long")
            .alias("win_s"),
            "event_type",
            "n",
        )
    )
    converged = run_to_batch(counts, spark, mode="complete")
    rnk = F.row_number().over(
        Window.partitionBy("win_s").orderBy(
            F.desc("n"), F.asc("event_type")
        )
    )
    return converged.select(
        "win_s", "event_type", F.col("n").cast("long").alias("n"),
        rnk.cast("long").alias("rnk"),
    ).filter(F.col("rnk") <= 3)
