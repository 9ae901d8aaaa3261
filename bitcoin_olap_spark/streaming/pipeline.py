"""Streaming pipeline building blocks over the `events` table.

Each builder takes a *streaming* DataFrame and returns a streaming
DataFrame; `run_to_batch` executes any of them to completion with
`trigger(availableNow=True)` into a memory sink and returns the batch
result — the bridge between the streaming operators and the driver's
batch-oracle contract.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet
from ..functions import exact_sum

#: gap that closes a session (native session_window semantics: an event
#: extends its session to ts + gap; a later event merges iff it starts
#: strictly before that end).
SESSION_GAP = "30 minutes"

_MEMSINK_SEQ = itertools.count()


def _drain_memory_sink(spark: SparkSession, name: str) -> DataFrame:
    """Compact memory sink `name` into checkpoint blocks, drop its
    table and return the blocks. MemorySink holds its rows as
    driver-heap Row arrays for the session's lifetime, and a suite
    that runs many streaming queries accumulates hundreds of MB of
    them — measured as multi-second GC spikes hitting whichever query
    runs next. Checkpoint blocks are GC'd once the returned DataFrame
    goes out of scope."""
    out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    return out


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of the events table: the stand-in for
    the BitcoinETL feed (README.md:3). The schema is read from the
    file's footer (catalog.read_parquet: streaming file sources
    require an explicit schema — inference would race with new files);
    nanosecond parquet timestamps surface as long and convert with
    integer DIV exactly like catalog.table."""
    path = os.path.join(sf_dir, "events.parquet")
    schema = read_parquet(spark, path).schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(raw.schema["ts"].dataType, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(raw.schema["ts"].dataType, TimestampNTZType):
        # withWatermark requires TIMESTAMP (LTZ); the session timezone
        # is pinned to UTC so the NTZ->LTZ cast is value-preserving
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def daily_window_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-day event-time window with a 1-day watermark: the
    streaming twin of agg_daily_sum (daily signed flow,
    btc_logregression_pre.py:14-26). Watermark bounds state; the window
    shuffle partitions by (window, event_type) like the batch groupBy."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "1 day").alias("win"),
            F.col("event_type"),
        )
        .agg(
            exact_sum("value", "total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("win.start").alias("day"),
            "event_type",
            "total_value",
            "n_events",
        )
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Native session windows per user (gap = SESSION_GAP) — the
    custom stateful operator a tick/flow pipeline needs, expressed with
    the built-in session_window (merging-window state machine in the
    engine, no Python state management)."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "session_value"),
        )
        .select(
            F.col("user_id"),
            F.col("sw.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state:
    the streaming form of the reference's dedup-DELETE maintenance
    (btcolap.sql:1-15). Keys older than the watermark are evicted, so
    state is bounded by (arrival skew x key rate), not by history."""
    return events.withWatermark("ts", "1 day").dropDuplicates(
        ["event_id", "ts"]
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """Sliding 2-hour window with a 30-minute slide per event_type —
    the overlapping-window kind (tumbling and session are covered by
    daily_window_agg / sessionize). Each event lands in exactly
    duration/slide = 4 windows; Spark expands it to those window rows
    map-side, then the aggregate shuffles by (window, event_type) like
    any keyed agg. Both engines align window starts to the epoch, so
    the converged result is the batch 4-way window expansion the
    oracle states arithmetically."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "2 hours", "30 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(
            exact_sum("value", "total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "total_value",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dedup on the BUSINESS key only (event_id) via
    dropDuplicatesWithinWatermark — the restatement-tolerant sibling of
    dedup_stream. dropDuplicates keys state on every listed column and
    can only evict when the event-time column is part of the key;
    WithinWatermark keys on event_id alone and still evicts state once
    the watermark passes a key's last-seen event time, so replayed or
    restated rows (same id, any metadata) collapse while state stays
    bounded. Duplicates here differ only in a column the projection
    drops, keeping whichever-arrives-first semantics deterministic."""
    return (
        events.withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def running_user_sequence(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event sequence numbers that persist ACROSS
    micro-batches (GroupState carries the per-user count forward —
    semantics dropDuplicates/window aggs can't express because the
    output is per-event, not per-window).

    Emits (user_id, event_id, ts, seq) where seq numbers the user's
    events in (ts, event_id) order. State per user is one integer —
    bounded by user cardinality, the canonical keyed-state shape.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    import numpy as np

    def assign(key, pdfs, state):
        # r11: the fold avoids pandas' per-call overhead (no concat
        # for the common single-chunk case, np.lexsort instead of
        # sort_values, output built once from numpy views). Measured
        # at sf3: noise-level vs the pandas form (~10.2 s both, min
        # of 6) — the operator's floor is the Arrow transfer + state
        # machinery, NOT per-group pandas; kept because it is never
        # slower and removes the per-group allocation churn that
        # WOULD dominate at higher group-per-partition densities.
        start = state.get[0] if state.exists else 0
        frames = [
            pdf[["user_id", "event_id", "ts"]] for pdf in pdfs if len(pdf)
        ]
        if not frames:
            return
        batch = frames[0] if len(frames) == 1 else pd.concat(frames)
        ev = batch["event_id"].to_numpy()
        ts = batch["ts"].to_numpy()
        order = np.lexsort((ev, ts))
        n = len(order)
        state.update((start + n,))
        yield pd.DataFrame(
            {
                "user_id": batch["user_id"].to_numpy()[order],
                "event_id": ev[order],
                "ts": ts[order],
                "seq": np.arange(start + 1, start + 1 + n, dtype="int64"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        assign,
        outputStructType="user_id long, event_id long, ts timestamp, seq long",
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def purchase_view_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's views in the preceding 30 minutes. The canonical two-stream
    correlation shape — both sides carry watermarks and the join
    condition bounds event-time distance, so each side's buffered state
    is evicted once the other side's watermark passes the bound (state
    stays O(rate x bound), not O(history)).

    On finite availableNow input this converges to the equivalent batch
    interval join, which is what the oracle states."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 day")
    )
    cond = (
        (purchases.user_id == views.v_user)
        & (views.v_ts <= purchases.p_ts)
        & (views.v_ts >= purchases.p_ts - F.expr("INTERVAL 30 MINUTES"))
    )
    return purchases.join(views, cond, "inner").select(
        "p_id", "user_id", "p_ts", "v_id", "v_ts"
    )


def run_to_batch(
    sdf: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    sink: str = "memory",
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow);
    return the batch result. Aggregations pass mode='complete' so
    windows still open at end-of-stream (watermark never passes the
    final window on a finite input) are emitted. State partitions
    follow spark.sql.shuffle.partitions at the query's first start.

    sink='parquet' (append mode only) lands micro-batches
    EXECUTOR-SIDE and returns a distributed read-back — the right
    shape for ROW-GRAIN outputs: the memory sink materializes every
    output row on the driver heap, which the r9 sf1 campaign measured
    as the entire gap on stream_dedup (13.4 s at sf1, 9.1x — the
    deduped stream is fact-sized; the dedup state machine itself is
    watermark-bounded and flat). Aggregated outputs stay on the
    memory sink: they are small by construction and complete mode
    needs a table sink."""
    if sink == "parquet":
        if mode != "append":
            raise ValueError("parquet landing requires append mode")
        from ..session import scratch_root

        root = tempfile.mkdtemp(
            prefix="stream_land_", dir=scratch_root("sink")
        )
        data = os.path.join(root, "data")
        q = (
            sdf.writeStream.format("parquet")
            .option("path", data)
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # an all-filtered / empty stream writes no data files — detect
        # that case explicitly rather than catching read errors, which
        # would silently turn a corrupt/evicted landing into an empty
        # result (r9 review catch)
        if not os.path.isdir(data) or not any(
            f.endswith(".parquet") for f in os.listdir(data)
        ):
            return spark.createDataFrame([], sdf.schema)
        return read_parquet(spark, data)
    name = f"stream_sink_{next(_MEMSINK_SEQ)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _drain_memory_sink(spark, name)


def ingest_to_parquet(
    events: DataFrame, spark: SparkSession, out_dir: str
) -> DataFrame:
    """Streaming ingestion into a date-partitioned parquet ledger
    (append mode + partitionBy day => downstream partition pruning for
    free; replaces the reference's manual pre/post-SAFE split). Runs to
    completion with availableNow and returns the read-back dataset."""
    with_day = events.withColumn("day", F.to_date("ts"))
    q = (
        with_day.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .partitionBy("day")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_parquet(spark, out_dir)


def upsert_foreachbatch(
    events: DataFrame, spark: SparkSession, target_dir: str
) -> DataFrame:
    """Streaming upsert via foreachBatch — the micro-batch MERGE
    pattern: each batch reduces to one row per user (latest event by
    (ts, event_id)), then merges into the running parquet state with a
    full-outer + newest-wins coalesce, accumulating event counts. This
    is how Structured Streaming maintains a dimension/state table on a
    sink with no native MERGE (plain parquet here; Delta's MERGE INTO
    slots into the same callback). Deterministic regardless of how the
    engine splits micro-batches: max by the total (ts, event_id) order
    and count addition are both associative across batches.

    Scale: per-batch work is one user-keyed aggregate plus a key-
    partitioned merge join against the state table — state is
    user-cardinality, not event-cardinality."""
    state_path = os.path.join(target_dir, "state")
    key = F.struct("ts", "event_id")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        agg = batch.groupBy("user_id").agg(
            F.max_by(F.struct("ts", "event_id", "value"), key).alias("last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        if os.path.isdir(state_path):
            cur = read_parquet(batch.sparkSession, state_path)
            newer = F.struct(
                F.col("n.last.ts"), F.col("n.last.event_id")
            ) > F.struct(F.col("c.last.ts"), F.col("c.last.event_id"))
            merged = (
                agg.alias("n")
                .join(cur.alias("c"), "user_id", "full_outer")
                .select(
                    "user_id",
                    F.when(
                        F.col("c.last").isNull()
                        | (F.col("n.last").isNotNull() & newer),
                        F.col("n.last"),
                    )
                    .otherwise(F.col("c.last"))
                    .alias("last"),
                    (
                        F.coalesce(F.col("n.n_events"), F.lit(0))
                        + F.coalesce(F.col("c.n_events"), F.lit(0))
                    ).alias("n_events"),
                )
            )
            # two-phase: parquet cannot overwrite a path while reading it
            tmp = state_path + ".next"
            merged.write.mode("overwrite").parquet(tmp)
            final = read_parquet(batch.sparkSession, tmp)
            final.write.mode("overwrite").parquet(state_path)
        else:
            agg.write.mode("overwrite").parquet(state_path)

    q = (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(target_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = read_parquet(spark, state_path)
    return got.select(
        "user_id",
        F.col("last.ts").alias("last_ts"),
        F.col("last.value").alias("last_value"),
        F.col("n_events").cast("long").alias("n_events"),
    )
