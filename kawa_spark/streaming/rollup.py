"""Incrementally-maintained rollup tables (continuous aggregates).

The production form of stream_tumbling_count: a parquet rollup table
that stays current as events arrive, maintained by UPDATE-mode
streaming aggregation + per-partition overwrite in foreachBatch.

Mechanics:
* the streaming aggregation keeps per-window state; update mode emits
  only windows CHANGED by each microbatch;
* the flush overwrites exactly those windows' partition directories
  (partitionBy window_start, dynamic overwrite) — an idempotent write,
  so a replayed batch (crash before commit) converges to the same
  table: exactly-once table contents from at-least-once batches;
* a watermark bounds the state: windows older than the horizon stop
  updating and their partitions go cold.

At 100 TB this is the pattern that replaces "re-aggregate the world
nightly": cost per batch is O(changed windows), not O(history).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kawa_spark.functions.exact import dec
from kawa_spark.session import checkpoint_conf, scoped_conf


def hourly_rollup(events: DataFrame) -> DataFrame:
    """The rollup relation: hourly × event_type counts and sums."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def start_incremental_rollup(
    spark: SparkSession,
    events: DataFrame,
    path: str,
    checkpoint: str,
    trigger: str | None = None,
    available_now: bool = False,
    state_partitions: int | None = None,
) -> StreamingQuery:
    """Maintain ``path`` as the materialized hourly rollup of the
    events stream.

    ``state_partitions`` sizes the stateful shuffle for THIS query
    (Spark locks shuffle partitions into the checkpoint at first
    batch). State volume here is hours × event types — thousands of
    rows, not billions — so a handful of state stores is right at any
    corpus size; each extra partition is a RocksDB instance spun up
    per batch for no data. Callers with genuinely huge window×key
    spaces pass a bigger number. None = session default."""

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        # Partition the table by window DATE and merge-per-partition:
        # update emissions carry only the (window, type) groups this
        # batch changed, so the affected dates' current rows are read
        # back, losers evicted (anti-join on the group key), and the
        # union rewritten — dynamic overwrite touches only those date
        # directories. Cost per batch: O(changed dates × rows/date),
        # with rows/date bounded at 24 windows × |event types|.
        # (A directory per (hour, type) group — the obvious layout —
        # creates thousands of tiny partitions at any real time range:
        # measured 26 s for one availableNow batch at sf0.1, and a
        # file-metadata storm at scale. Per-date dirs + merge is the
        # standard continuous-aggregate compaction pattern.)
        changed = batch_df.withColumn("dt", F.to_date("window_start"))
        dates = [r[0] for r in changed.select("dt").distinct().collect()]
        # availableNow appends a no-data microbatch for watermark
        # bookkeeping; in update mode it emits no group changes —
        # zero touched dates means the read-back + anti-join +
        # partition rewrite would be a ~1 s no-op per trigger. The
        # dates collect above is the emptiness probe (already paid).
        if not dates:
            return
        merged = changed
        # Merge only when the table demonstrably exists (first batch it
        # doesn't). An explicit existence probe — NOT a blanket
        # try/except around the read: swallowing a transient read
        # failure here would degrade `merged` to the changed rows only
        # and the partition overwrite would then silently drop every
        # untouched group in the affected dates. Any read error past
        # this gate propagates and fails the streaming query loudly.
        if os.path.isdir(path) and any(
            e.startswith(("dt=", "part-", "_SUCCESS")) for e in os.listdir(path)
        ):
            existing = batch_df.sparkSession.read.parquet(path).where(
                F.col("dt").isin(dates)
            )
            keep = existing.join(
                changed.select("window_start", "event_type"),
                ["window_start", "event_type"],
                "left_anti",
            )
            merged = changed.unionByName(keep)
        # dynamic partition overwrite as a WRITER option: only the
        # date directories present in ``merged`` are replaced, and the
        # session's own overwrite mode is left alone
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("dt").parquet(path)

    conf = checkpoint_conf(spark, checkpoint)
    if state_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(state_partitions)
    # the query snapshots the session conf at start(), so the scope
    # only needs to cover start()
    with scoped_conf(spark, conf):
        writer = (
            hourly_rollup(events)
            .writeStream.outputMode("update")
            .foreachBatch(flush)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger:
            writer = writer.trigger(processingTime=trigger)
        return writer.start()


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Current rollup contents: each (window, type) partition holds
    exactly its latest emission, so this is a plain read."""
    return spark.read.parquet(path).select(
        "window_start", "event_type", "n_events", "total_value"
    )
