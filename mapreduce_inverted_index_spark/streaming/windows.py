"""Structured Streaming operators over the ``events`` stream:
watermarked tumbling / sliding / session windows and stateful
processing, executed deterministically with ``Trigger.AvailableNow``
so results are reproducible (and, for the window aggregations,
oracle-checkable against batch SQL).

Design notes:
  * The stream source is the same parquet the batch engine reads
    (``readStream.schema(...).parquet``) — at production scale this
    is a Kafka/file-arrival source with identical downstream code.
  * Every aggregation declares ``withWatermark`` — on a real
    unbounded stream that bounds state; with AvailableNow's single
    batch nothing is late, so results equal the batch computation
    (which is exactly what makes the oracle comparison valid).
  * Memory-sink query names are process-unique via a counter: rerun
    safety inside one session.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "events_stream",
    "tumbling_counts",
    "sliding_avg_value",
    "session_windows",
    "stream_dedup_events",
    "stream_dedup_within_watermark",
    "stream_attribution_join",
    "stream_attribution_join_outer",
    "stream_enriched_segment_counts",
]

_SINK_IDS = itertools.count()

# Stateful streaming operators instantiate one state-store per
# shuffle partition PER MICRO-BATCH — near-fixed overhead that
# dwarfs the work on modest streams (measured 3x wall on the
# correctness fixtures at the session's 32). 8 covers the fixture
# volumes; a production stream sizes this to sustained load
# (state bytes / partition target), not to the session default.
STATE_PARTITIONS = 8

# Stream-stream joins buffer BOTH sides in per-partition stores (a
# left and a right buffer each), so their fixed per-partition cost is
# ~2x an aggregation's and the sweet spot sits lower. Measured on the
# sf0.1 fixtures (min-of-2): 8 -> 6.1 s, 4 -> 3.5 s, 2 -> 4.0 s,
# 16 -> 5.9 s; the two file-stream source scans account for only
# ~2 s, so the rest is store instantiation — hence 4. Production
# sizes this to buffered-state bytes per partition, not this floor.
JOIN_STATE_PARTITIONS = 4

# Parquet streaming sources need an explicit schema. ``ts`` has
# shipped in two fixture encodings (see sources.tables._load_events):
# INT64 nanoseconds (read as LongType + integer-division convert) or
# a plain microsecond TIMESTAMP (read directly). The stream schema
# must match the file's physical type, so events_stream probes the
# batch reader's view of the footer and picks the right variant —
# keeping stream and batch ts semantics identical by construction.


def _events_raw_schema(ts_is_long: bool) -> StructType:
    from pyspark.sql.types import TimestampType

    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if ts_is_long else TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # footer probe (no data read): nanos fixtures surface ts as bigint,
    # micro fixtures as timestamp.
    ts_is_long = (
        dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts")
        == "bigint"
    )
    # the file stream source requires a directory path; filter the
    # listing down to the events table.
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_is_long))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_is_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def _run_to_table(
    stream_df: DataFrame,
    mode: str = "complete",
    state_partitions: int | None = STATE_PARTITIONS,
) -> DataFrame:
    """Execute a streaming aggregation with AvailableNow into a memory
    sink; block until done; return the sink as a DataFrame.

    ``state_partitions`` overrides ``spark.sql.shuffle.partitions``
    for the query's lifetime (state-store count is pinned at the
    FIRST start of a stream; see ``STATE_PARTITIONS``). ``None``
    keeps the session value.
    """
    spark = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(conf_key)
    if state_partitions is not None:
        spark.conf.set(conf_key, str(state_partitions))
    try:
        name = f"mii_stream_sink_{next(_SINK_IDS)}"
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set(conf_key, orig)
    return spark.table(name)


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type: count + exact-decimal
    value sum. Output: window_start, window_end, event_type,
    n_events, sum_value."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    out = _run_to_table(agg)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def sliding_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding every hour: mean event value. Each event
    lands in exactly two windows. Output: window_start, event_type,
    avg_value (engine-stable decimal mean)."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            (
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double")
                / F.count("value")
            ).alias("avg_value")
        )
    )
    out = _run_to_table(agg)
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "avg_value"
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization: events closer than 30 minutes merge
    into one session; the session closes 30 minutes after its last
    event.
    Output: user_id, session_start, session_end, n_events."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = _run_to_table(agg)
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each click joins the
    same user's purchases landing within one hour after it — the
    canonical attribution query, and the streaming operator family
    (two buffered sides + event-time range condition) that windowed
    aggs can't express.

    State bounds: BOTH sides carry a watermark and the join condition
    bounds purchase_ts to (click_ts, click_ts + 1 hour], so Spark
    can evict buffered rows once the watermark passes — state is
    O(events within watermark + horizon), not O(stream). With a
    single AvailableNow batch nothing is late, so the result equals
    the batch interval join, which is what makes the operator fully
    oracle-checkable. Output: ``user_id, click_id, purchase_id,
    lag_us`` (microseconds from click to purchase).
    """
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts > click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 hour"
        ),
    )
    out = _run_to_table(
        joined, mode="append", state_partitions=JOIN_STATE_PARTITIONS
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def stream_attribution_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked stream-stream interval join: every click
    emits — matched ones per qualifying purchase, unmatched ones ONCE
    with NULL purchase columns *after the watermark passes their join
    window* (the state-eviction point: Spark can only declare "no
    purchase will ever match" once no future input can land inside
    (click_ts, click_ts + 1 hour]).

    The outer side is the semantics batch joins get for free but
    streams must EARN through watermarks, and it is exactly the shape
    attribution pipelines need ("clicks that never converted"). Rows
    whose window the final watermark never passes are withheld — on
    an unbounded stream they'd still be waiting for a match, and the
    AvailableNow run faithfully reproduces that: the oracle restricts
    NULL rows to clicks with ``click_ts + 1 hour < min(max click ts,
    max purchase ts) - delay`` (the two-source global watermark under
    the default min policy). Output: ``user_id, click_id,
    purchase_id (nullable), lag_us (nullable)``.
    """
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts > click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 hour"
        ),
        "left_outer",
    )
    out = _run_to_table(
        joined, mode="append", state_partitions=JOIN_STATE_PARTITIONS
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` on (user_id, event_type): the
    bounded-state dedup for streams whose duplicates arrive within a
    known delay of each other (retries, at-least-once sources). Unlike
    ``dropDuplicates`` — whose per-key state lives FOREVER unless the
    event-time key includes the watermark column — this evicts each
    key ``delay`` after first sight, so state is O(keys per window),
    the only shape that survives an unbounded 100 TB/day stream.

    With one AvailableNow batch every duplicate is trivially "within
    the watermark", so the output keyset equals batch DISTINCT. Which
    physical row survives per key is nondeterministic (first-seen in
    partition order), so only the dedup KEYS are projected — the
    deterministic contract.
    """
    ev = events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_table(deduped, mode="append")


def stream_enriched_segment_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static enrichment: the events stream joins the static
    customer dimension (broadcast — the stream side never shuffles
    for the join), then aggregates per (event_type, market segment).

    This is the third streaming join family next to the interval join
    and windowed aggs: the dimension is read fresh per micro-batch
    (so slowly-changing dims pick up updates), no state is kept for
    the join itself, and only the tiny running aggregate is stateful.
    Output: ``event_type, c_mktsegment, n_events, sum_value``.
    """
    from mapreduce_inverted_index_spark.sources.tables import load_table

    ev = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
        .groupBy("event_type", "c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    return _run_to_table(agg, mode="complete")


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-once dedup on event_id within the watermark
    horizon (``dropDuplicates`` keeps per-key state bounded by the
    watermark on a real stream). Output: per-type distinct counts."""
    ev = events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    # append-mode sink for the stateful dedup; the count on top is a
    # batch aggregation over the sink table.
    out = _run_to_table(deduped, mode="append")
    return out.groupBy("event_type").agg(F.count("*").alias("n_unique_events"))
