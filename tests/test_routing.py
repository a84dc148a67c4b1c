"""Content-based routing sink: rows reach exactly the sink their
route column selects; unmatched and null rows land in the default.
Each distinct sink gets one write per batch (route values sharing a
sink are filtered together) and nothing is cached to do it."""

from __future__ import annotations

import json

from kawa_spark.sinks import RoutingSink


class _Collector:
    """Records each write_batch call's rows, and whether the session's
    cache was empty while the routed write ran."""

    def __init__(self):
        self.rows = []
        self.calls = []
        self.cache_empty = []

    def write_batch(self, df):
        cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
        self.cache_empty.append(cache.isEmpty())
        rows = [r.asDict() for r in df.collect()]
        self.calls.append(rows)
        self.rows.extend(rows)


SHARED_ROWS = [
    ("ERROR", "e1"),
    ("INFO", "i1"),
    ("FATAL", "f1"),
    ("ERROR", "e2"),
    (None, "n1"),
    ("WARN", "w1"),
]


def _shared_router():
    errors, rest = _Collector(), _Collector()
    sink = RoutingSink(
        route_col="level", routes={"ERROR": errors, "FATAL": errors}, default=rest
    )
    return sink, errors, rest


def _assert_one_write_per_sink(errors, rest):
    """One batch: both route values' rows arrive in ONE call; null and
    unmatched rows reach the default exactly once; no cache."""
    assert len(errors.calls) == 1
    assert len(rest.calls) == 1
    assert sorted(r["payload"] for r in errors.rows) == ["e1", "e2", "f1"]
    assert sorted(r["payload"] for r in rest.rows) == ["i1", "n1", "w1"]
    assert errors.cache_empty == rest.cache_empty == [True]


def test_routing_batch(spark):
    df = spark.createDataFrame(
        [
            ("error", "e1"),
            ("click", "c1"),
            ("error", "e2"),
            ("signup", "s1"),
            (None, "n1"),
        ],
        "event_type string, payload string",
    )
    errors, clicks, rest = _Collector(), _Collector(), _Collector()
    sink = RoutingSink(
        route_col="event_type",
        routes={"error": errors, "click": clicks},
        default=rest,
    )
    sink.write_batch(df)
    assert sorted(r["payload"] for r in errors.rows) == ["e1", "e2"]
    assert [r["payload"] for r in clicks.rows] == ["c1"]
    assert sorted(r["payload"] for r in rest.rows) == ["n1", "s1"]


def test_routing_stream(spark, tmp_path):
    drop = tmp_path / "in"
    drop.mkdir()
    for i, t in enumerate(["error", "click", "error"]):
        (drop / f"{i}.txt").write_text(f"{t}|p{i}\n")
    from pyspark.sql import functions as F

    src = (
        spark.readStream.format("text")
        .load(str(drop))
        .select(
            F.split_part(F.col("value"), F.lit("|"), F.lit(1)).alias("event_type"),
            F.split_part(F.col("value"), F.lit("|"), F.lit(2)).alias("payload"),
        )
    )
    dropped = _Collector()
    coll_e = _Collector()
    q = RoutingSink(
        route_col="event_type", routes={"error": coll_e}, default=dropped
    ).start_stream(src, checkpoint=str(tmp_path / "cp"), available_now=True)
    assert q.awaitTermination(60)
    assert sorted(r["payload"] for r in coll_e.rows) == ["p0", "p2"]
    assert [r["payload"] for r in dropped.rows] == ["p1"]


def test_shared_sink_one_write_per_batch(spark):
    spark.catalog.clearCache()
    df = spark.createDataFrame(SHARED_ROWS, "level string, payload string")
    sink, errors, rest = _shared_router()
    sink.write_batch(df)
    _assert_one_write_per_sink(errors, rest)


def test_shared_sink_one_write_per_batch_stream(spark, tmp_path):
    spark.catalog.clearCache()
    drop = tmp_path / "in"
    drop.mkdir()
    with open(drop / "batch.json", "w") as fh:
        for level, payload in SHARED_ROWS:
            fh.write(json.dumps({"level": level, "payload": payload}) + "\n")
    src = spark.readStream.schema("level string, payload string").json(str(drop))
    sink, errors, rest = _shared_router()
    q = sink.start_stream(src, checkpoint=str(tmp_path / "cp"), available_now=True)
    assert q.awaitTermination(60)
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) == 1
    _assert_one_write_per_sink(errors, rest)
