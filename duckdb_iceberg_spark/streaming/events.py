"""Structured Streaming over the events table.

The reference has no streaming surface (SURVEY.md §2B: "none in
reference") — this is the north-star extension. Batch twins of each
aggregation live in __spark_entry__ with DuckDB oracles; here the
same logic runs as a real stream (file source + watermark + windowed
state), verified in tests via trigger(availableNow=True) equivalence
with the batch result.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.iceberg import _local_df


def read_events_files(spark: SparkSession, sf_dir: str, names: tuple = ("events.parquet",)) -> DataFrame:
    """File-source stream over the events parquet, delivered as one
    micro-batch per entry in ``names`` (the same file symlinked twice
    = two at-least-once deliveries — the dedup-test shape). On a real
    pipeline this is a Kafka source with identical downstream code.

    The fixture's physical ``ts`` type has drifted across driver
    regens (TIMESTAMP(NANOS)->long under nanosAsLong, then plain
    micros with isAdjustedToUTC=false->TIMESTAMP_NTZ), so the stream
    schema is sniffed from a batch read of the same file and ``ts``
    normalized to a session-TZ timestamp (UTC-pinned session) — a
    hardcoded schema here silently produced 1970-era timestamps after
    one regen.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    batch_schema = spark.read.parquet(path).schema
    src_dir = tempfile.mkdtemp(prefix="events_stream_")
    for name in names:
        os.symlink(path, os.path.join(src_dir, name))
    raw = spark.readStream.schema(batch_schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    from ..session import normalize_event_ts

    return normalize_event_ts(raw)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-delivery events stream (see read_events_files)."""
    return read_events_files(spark, sf_dir)


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h window x event_type: count + sum(value).

    With a watermark, state for closed windows is dropped — bounded
    memory on an unbounded stream.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    # exact-cents policy: per-element ROUND(value*100) -> long is
    # deterministic in every engine; the long sum is order-independent
    # (unlike a double sum, whose rounding could flip with task order),
    # and one double division at output is IEEE-exact. See
    # __spark_entry__ module doc.
    cents = F.round(F.col("value") * 100).cast("long")
    aggs = [
        F.count("*").alias("n_events"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("sum_value"),
    ]
    if events.isStreaming:
        # streaming needs the window struct: watermark eviction keys on it
        return (
            src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(*aggs)
            .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
        )
    # batch: date_trunc('hour') is the same epoch-aligned tumbling
    # bucket with one timestamp conversion instead of window()'s
    # struct-of-start/end build (value-identical, asserted in tests).
    # Under a UTC session the truncation is pure integer epoch math —
    # no per-row timezone resolution (-16% on the sf10 rollup); any
    # other zone keeps date_trunc (a :30/:45-offset zone's hour
    # boundaries are not epoch-hour multiples).
    spark = src.sparkSession
    if spark is not None and spark.conf.get("spark.sql.session.timeZone", "") in ("UTC", "Etc/UTC", "GMT"):
        # floor(), not cast: cast truncates toward zero, which would
        # round pre-1970 timestamps UP to the next hour instead of
        # flooring like date_trunc (1969-12-31 23:30 -> hour 00:00).
        hour = F.timestamp_micros(
            F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000)).cast("long")
            * F.lit(3_600_000_000)
        )
    else:
        hour = F.date_trunc("hour", F.col("ts"))
    return (
        src.groupBy(hour.alias("hour_start"), "event_type")
        .agg(*aggs)
        .select("hour_start", "event_type", "n_events", "sum_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based), count + duration."""
    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_user_stats(events: DataFrame, timeout_min: int = 120) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count, value sum, and last-seen timestamp,
    maintained across micro-batches in Arrow-batched Python state.

    This is the escape hatch for semantics Spark's built-in windowed
    aggregations can't express (per-key custom state machines); state
    is per-user and dropped after ``timeout_min`` of event-time
    inactivity, so memory is bounded on an unbounded stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double, last_seen timestamp"
    # value is accumulated as exact integer cents (round(v*100)) so the
    # running sum is order- and batching-independent; /100.0 at emit.
    state_schema = "n long, s long, last long"

    def update(key, pdfs, state: GroupState):
        n, s, last = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += int((pdf["value"] * 100).round().sum())
            mx = pd.to_datetime(pdf["ts"]).max()
            if pd.notna(mx):
                last = max(last, int(mx.value // 1000))
        state.update((n, s, last))
        # timeout = inactivity horizon, clamped above the current
        # watermark (a user's last event may already be older than it)
        state.setTimeoutTimestamp(
            max(last // 1000 + timeout_min * 60 * 1000, state.getCurrentWatermarkMs() + 60_000)
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s / 100.0],
                "last_seen": [pd.Timestamp(last, unit="us")],
            }
        )

    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
    )


def dedup_stream(events: DataFrame, key_cols: tuple = ("event_id",), within: str = "2 hours") -> DataFrame:
    """Streaming exactly-once dedup: drop re-deliveries of the same
    key across micro-batches. State is bounded by the watermark —
    a key is remembered only `within` of event time, which is exactly
    the at-least-once re-delivery horizon of sources like Kafka.
    Batch twin: plain dropDuplicates."""
    if not events.isStreaming:
        return events.dropDuplicates(list(key_cols))
    return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(list(key_cols))


def click_purchase_join(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks in the preceding `horizon`. Both sides carry
    watermarks so join state is evicted once the time bound passes —
    the canonical funnel/attribution shape. Works identically on a
    batch DataFrame (the time predicate is the same expression)."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("c_ts", "2 hours")
        purchases = purchases.withWatermark("p_ts", "2 hours")
    else:
        # batch on a user_id-bucketed layout: hash join beats
        # sort-merge (no per-bucket sort of the click side; the range
        # predicate is evaluated post-match either way). With bucketed
        # inputs this compiles to zero Exchanges — plan-asserted in
        # tests/test_plan_shapes.py.
        clicks = clicks.hint("SHUFFLE_HASH")
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("p_user", "p_ts", "p_value", "c_ts")


def enrich_with_dim(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static enrichment: join a stream against a static
    dimension table. The static side is broadcast — every micro-batch
    joins map-side with NO shuffle and NO state (stream-static inner
    joins are stateless by definition: the dim is re-resolvable at any
    time). The canonical Kafka-enrichment shape; identical expression
    works on a batch DataFrame, which is how the oracle checks it."""
    return events.join(F.broadcast(dim), on, "inner")


def write_stream_to_iceberg(stream_df: DataFrame, table_path: str, checkpoint: str | None = None):
    """Streaming ingestion into a native Iceberg table: each
    micro-batch is appended as one Iceberg snapshot via foreachBatch —
    the lakehouse ingestion shape (Kafka -> Iceberg) with per-batch
    atomic commits and time travel across batches.
    """
    from ..writer import IcebergTable

    ckpt = checkpoint or tempfile.mkdtemp(prefix="ice_stream_ckpt_")

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not os.path.exists(os.path.join(table_path, "metadata")):
            IcebergTable.create(spark, table_path, batch_df)
        else:
            IcebergTable(spark, table_path).append(batch_df)

    return (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_parquet(stream_df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drain a stream with availableNow through an EXECUTOR-PARALLEL
    parquet sink (foreachBatch append) and return the result read back
    as a batch DataFrame.

    The memory sink collects every output row to the DRIVER — one
    collect per micro-batch — which is fine for dashboard-sized
    complete-mode results but is a §5 driver bottleneck for
    data-proportional append/update outputs: at sf10 (10M events
    delivered twice) the dedup entry reads 156.3 s through the memory
    sink vs 16.2 s through this sink on the same data
    (bench_results/exp_streaming_sink_sf10.jsonl). Rows are identical:
    foreachBatch receives exactly the per-batch rows the memory sink
    would collect, and append-mode parquet accumulates their union
    (update-mode deltas append too, matching the memory sink's
    update-mode history).

    The sink directory is keyed on ``name`` and replaced on each call —
    the same replace-on-restart semantics the memory sink's temp view
    has. A zero-batch stream leaves no files; that case returns an
    empty DataFrame with the stream's schema.
    """
    import shutil

    spark = stream_df.sparkSession
    out_dir = os.path.join(tempfile.gettempdir(), f"stream_pq_{name}")
    shutil.rmtree(out_dir, ignore_errors=True)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(out_dir)
            )
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if not os.path.isdir(out_dir):
        return _local_df(spark, [], stream_df.schema)
    return spark.read.schema(stream_df.schema).parquet(out_dir)


def run_stream_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drain a stream with availableNow into an in-memory sink and
    return the materialized result (test/verification harness; for
    data-proportional append/update outputs use
    :func:`run_stream_to_parquet` — the memory sink collects every
    output row to the driver)."""
    spark = stream_df.sparkSession
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
