"""Streaming-mode semantics: the event-time operators from
kawa_spark/queries/events.py run as actual Structured Streaming
queries (availableNow drain) and agree with their batch twins.
"""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from kawa_spark.io import table
from kawa_spark.queries.streaming_mode import _drain
from kawa_spark.streaming.listener import Watchdog

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark):
    """The events table as a bounded stream."""
    from kawa_spark.io import stream_table

    def make():
        return stream_table(spark, SF, "events")

    return make


def test_stream_tumbling_matches_batch(spark, events_stream):
    agg = (
        events_stream()
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    out = _drain(agg, spark, mode="complete")
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in out.collect()
    }
    batch = (
        table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    want = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    assert got == want


def test_stream_watermark_dedup(spark, events_stream):
    """dropDuplicates on the stream with a watermark: event_ids unique
    ⇒ row count preserved; duplicated input ⇒ deduped."""
    src = events_stream()
    doubled = src.unionByName(src)  # every event twice
    dedup = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id")
    )
    out = _drain(dedup, spark, mode="append")
    n = out.count()
    assert n == table(spark, SF, "events").count()


def test_stream_session_window_runs(spark, events_stream):
    """session_window executes incrementally with a watermark."""
    agg = (
        events_stream()
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    out = _drain(agg, spark, mode="append")
    # append mode emits only watermark-closed sessions; bounded input +
    # availableNow closes all but the tail. Compare against batch twin
    # modulo the final watermark horizon: counts must be a subset.
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in out.collect()
    }
    batch = (
        table(spark, SF, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    want = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()
    }
    assert got.items() <= want.items()
    assert len(got) > 0


def test_graceful_stop(spark):
    """StopTimeout/drain parity (batcher.go:380-400): stop() waits for
    the in-flight batch; the query ends cleanly, no zombie stream."""
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1000")
        .load()
        .writeStream.format("noop")
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()
    q.awaitTermination(30)
    assert not q.isActive
    assert q.exception() is None


def test_watchdog_listener(spark, events_stream):
    """Watchdog parity (batcher.go:296-339): progress tracked, no
    false stall while batches advance."""
    wd = Watchdog(stall_seconds=3600)
    spark.streams.addListener(wd)
    try:
        agg = events_stream().groupBy("event_type").count()
        _drain(agg, spark, mode="complete")
        assert wd.check() == set()
    finally:
        spark.streams.removeListener(wd)


def test_first_seen_min_converges_out_of_order(spark, tmp_path):
    """stream_exec_first_seen's claim: streaming MIN is
    order-insensitive, so a LATE microbatch carrying an EARLIER
    timestamp for an already-seen pair must still converge to the
    batch MIN (first-seen re-attributed to the earlier day). Two
    parquet files + maxFilesPerTrigger=1 force the late arrival into
    a second microbatch."""
    import pandas as pd

    DAY = 86_400
    # batch 1: pair (1,'click') first seen day 5; pair (2,'view') day 3
    rows1 = [(1, 1, "click", 5 * DAY), (2, 2, "view", 3 * DAY)]
    # batch 2: LATE arrival for (1,'click') on day 1 (re-attributes
    # its first-seen), plus a brand-new pair (3,'click') on day 5
    rows2 = [(3, 1, "click", 1 * DAY), (4, 3, "click", 5 * DAY)]
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    for rows in [rows1, rows2]:
        pdf = pd.DataFrame(
            [
                (e, u, t, pd.Timestamp(s, unit="s"))
                for e, u, t, s in rows
            ],
            columns=["event_id", "user_id", "event_type", "ts"],
        )
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.select(
            "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
        )
        .groupBy("user_id", "event_type")
        .agg(F.min("ts_us").alias("first_us"))
    )
    out = _drain(agg, spark, mode="complete")
    pairs = {
        (r["user_id"], r["event_type"]): r["first_us"]
        for r in out.collect()
    }
    assert pairs == {
        (1, "click"): 1 * DAY * 1_000_000,  # the LATE day-1 arrival won
        (2, "view"): 3 * DAY * 1_000_000,
        (3, "click"): 5 * DAY * 1_000_000,
    }
    from kawa_spark.queries.security import first_seen_curve

    curve = {
        (r["event_type"], r["day"]): (r["n_new"], r["cum_new"])
        for r in first_seen_curve(out).collect()
    }
    assert curve == {
        ("click", 1): (1, 1),
        ("click", 5): (1, 2),
        ("view", 3): (1, 1),
    }


def test_anomaly_mad_counts_converge_out_of_order(spark, tmp_path):
    """stream_exec_anomaly_mad's claim: a streaming COUNT is
    order-insensitive (unlike the gap kernels), so a late microbatch
    carrying events for an already-counted day must still converge to
    the batch daily counts — and through mad_scores, to the same
    median/MAD verdicts."""
    import pandas as pd

    from kawa_spark.functions.exact import floordiv
    from kawa_spark.queries.events import DAY_US, mad_scores

    DAY = 86_400
    # batch 1: type 'a' has 2 events day 0, 1 event day 1
    rows1 = [("a", 10), ("a", 20), ("a", DAY + 10)]
    # batch 2: LATE events for day 0 (one more 'a') and a new type
    rows2 = [("a", 30), ("b", DAY + 50)]
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_type string, ts_us long"
    for rows in [rows1, rows2]:
        spark.createDataFrame(
            pd.DataFrame(
                [(t, s * 1_000_000) for t, s in rows],
                columns=["event_type", "ts_us"],
            ),
            schema,
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    daily = (
        stream.groupBy(
            "event_type", floordiv(F.col("ts_us"), DAY_US).alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"am_{uuid.uuid4().hex[:8]}"
    q = (
        daily.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["event_type"], r["day"]): (r["n"], r["med"], r["is_spike"])
        for r in mad_scores(
            spark.table(name).localCheckpoint()
        ).collect()
    }
    # day-0 'a' count = 3 (the late row folded in); 'a' median over
    # [1,3] is 1 (value at index floor((2-1)*0.5)=0), its devs [0,2]
    # give mad=0, so day 0 spikes: (3-1) > 3*0
    assert got == {
        ("a", 0): (3, 1, True),
        ("a", 1): (1, 1, False),
        ("b", 1): (1, 1, False),
    }
