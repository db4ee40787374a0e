"""Streaming operators: windowed aggregation, sessionization, and the
incremental-ingest cursor the reference's replication metadata enables.

The reference is pure batch, but its header carries the osmosis
replication cursor (timestamp / sequence / base_url —
``osmpbf/src/block.rs:59-85``), which exists precisely to support
incremental diff ingestion. ``replication_cursor`` exposes it;
``incremental_transcode`` turns a directory of arriving PBF files into an
append-only parquet stream via ``foreachBatch`` (the PBF source isn't a
native streaming source, so arrival detection is file-listing based —
the same mechanism Spark's file stream source uses).

Event-stream operators run on the ``events`` table shape: watermarked
tumbling-window counts and stateful sessionization
(``applyInPandasWithState``).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # µs, tz-naive (testdata)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over events parquet; exposes ``ts_us`` (epoch µs,
    long) and ``event_time`` (TIMESTAMP) for watermarking. The session tz
    is UTC (session.py), so the NTZ→TS cast reads wall-clock as UTC and
    epoch math matches the batch path (plans.relational.t)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    return stream.withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    ).withColumn("event_time", F.timestamp_micros(F.col("ts_us")))


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type — late rows
    beyond the watermark are dropped, state is bounded (the core
    correctness property for an unbounded stream)."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )


SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("session_count", T.IntegerType()),
        T.StructField("events_in_session", T.IntegerType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_count", T.IntegerType()),
        T.StructField("events_in_current", T.IntegerType()),
    ]
)


def sessionize_stateful(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Custom stateful operator: per-user session counting with
    ``applyInPandasWithState`` — the engine's example of semantics the
    built-in operators can't express (evolving per-key state across
    micro-batches)."""

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.exists:
            last_us, session_count, in_session = state.get
        else:
            last_us, session_count, in_session = -1, 0, 0
        gap_us = gap_s * 1_000_000
        # collect EVERY chunk before sorting: a group arrives as multiple
        # Arrow chunks with no cross-chunk ordering guarantee — sorting
        # per chunk would let an earlier-timestamped later chunk regress
        # last_us and merge genuinely separate sessions
        all_us: list[int] = []
        for pdf in pdfs:
            all_us.extend(int(t) for t in pdf["ts_us"])
        for us in sorted(all_us):
            if last_us < 0 or us - last_us > gap_us:
                session_count += 1
                in_session = 1
            else:
                in_session += 1
            last_us = us
        state.update((last_us, session_count, in_session))
        yield pd.DataFrame(
            {"user_id": [user_id], "session_count": [session_count],
             "events_in_current": [in_session]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def dedupe_stream(events: DataFrame, key="event_id",
                  watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: drop duplicate keys (a column name or a
    list of them) within the watermark horizon
    (``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes, so state is bounded — the streaming analog of
    ``operators.dedup.exact_dedup``). At-least-once upstream delivery
    becomes exactly-once rows downstream for any key that repeats within
    the horizon."""
    keys = [key] if isinstance(key, str) else list(key)
    return events.withWatermark("event_time", watermark) \
        .dropDuplicatesWithinWatermark(keys)


def enrich_stream(events: DataFrame, dim: DataFrame, on: str = "user_id",
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension; the broadcast hint keeps it a map-side hash join
    (no shuffle of the stream, no state store — the static side is
    re-resolved per batch, so slowly-changing dims can be swapped by
    replacing the underlying table)."""
    return events.join(F.broadcast(dim), on, how)


def attribute_purchases(events: DataFrame, horizon: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream interval join: attribute each purchase
    to every click by the same user within the preceding ``horizon``.

    Both sides carry watermarks and the join condition bounds event time
    in BOTH directions, so the state store provably expires rows (Spark
    derives the state retention from watermark + interval — without the
    time bound the join state would grow unboundedly)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", watermark)
    )
    # explicit aliases: both sides derive from the same parent stream
    # (self-join), where bare attribute references are ambiguous
    return (
        purchases.alias("p")
        .join(
            clicks.alias("c"),
            F.expr(
                f"p.user_id = c.user_id AND "
                f"purchase_time >= click_time AND "
                f"purchase_time <= click_time + INTERVAL {horizon}"
            ),
        )
        .select(
            F.col("p.user_id").alias("user_id"), "purchase_id",
            "purchase_value", "purchase_time", "click_id", "click_time",
        )
    )


# --- incremental OSM ingestion -----------------------------------------------


def replication_cursor(pbf_path: str) -> dict:
    """The osmosis replication cursor from a PBF header — the watermark
    for incremental diff ingestion (block.rs:59-85 parity)."""
    from ..sources.pbf_source import read_pbf_header

    header = read_pbf_header(pbf_path) or {}
    return {
        "timestamp": header.get("osmosis_replication_timestamp"),
        "sequence": header.get("osmosis_replication_sequence_number"),
        "base_url": header.get("osmosis_replication_base_url"),
    }


def incremental_transcode(
    spark: SparkSession, watch_dir: str, out_dir: str, state_path: str,
) -> list[str]:
    """One incremental tick: transcode PBF files not yet ingested,
    append them to the partitioned parquet output, advance the cursor
    file. Batch-driven (call per trigger); returns newly ingested paths.

    This is the honest Spark shape for a non-native streaming source:
    file-listing + append, the same contract as ``foreachBatch``. The
    whole batch runs as ONE fused parse+write job (the multi-file
    task groups span every file; ``sinks.native_sink`` — run-token
    scoped commit, so append jobs can never disturb earlier ticks'
    files), and the processed-set advances only after that job commits.
    A mid-job failure leaves no committed files of this tick and the
    next tick retries the batch — at-least-once across crash windows (a
    crash BETWEEN commit and the state write re-appends the batch),
    exactly once otherwise."""
    from ..sinks.native_sink import transcode_pbf

    seen: set[str] = set()
    if os.path.exists(state_path):
        with open(state_path) as f:
            seen = {line.strip() for line in f if line.strip()}
    new = sorted(
        os.path.join(watch_dir, f)
        for f in os.listdir(watch_dir)
        if f.endswith(".pbf") and os.path.join(watch_dir, f) not in seen
    )
    if new:
        transcode_pbf(spark, new, out_dir, mode="append")
        with open(state_path, "a") as f:
            f.write("\n".join(new) + "\n")
    return new
