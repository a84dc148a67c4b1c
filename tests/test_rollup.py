"""Incremental rollup: the materialized table converges to the batch
aggregate across multiple microbatches and a query restart."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kawa_spark.queries.streaming_mode import _await
from kawa_spark.sources.replay import register_replay_source
from kawa_spark.streaming.rollup import read_rollup, start_incremental_rollup


def _emit(log, eid, ts, typ, val):
    with open(log, "a") as f:
        f.write(
            json.dumps(
                {"event_id": eid, "ts": ts, "event_type": typ, "value": val}
            )
            + "\n"
        )


def _drain(spark, log, out, cp):
    raw = (
        spark.readStream.format("kawa_replay")
        .option("path", str(log))
        .load()
        .select(
            F.from_json(
                "value",
                "event_id long, ts timestamp, event_type string, value double",
            ).alias("v")
        )
        .select("v.*")
    )
    _await(
        start_incremental_rollup(spark, raw, out, cp, available_now=True),
        "rollup drain",
    )


def _state(spark, out):
    return {
        (r["window_start"].day, r["window_start"].hour, r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in read_rollup(spark, out).collect()
    }


def test_rollup_converges_across_restarts(spark, tmp_path):
    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    out = str(tmp_path / "rollup")
    cp = str(tmp_path / "cp")

    _emit(log, 1, "2024-01-01 10:05:00", "click", 1.0)
    _emit(log, 2, "2024-01-01 10:15:00", "click", 2.0)
    _emit(log, 3, "2024-01-01 10:20:00", "error", 5.0)
    _drain(spark, log, out, cp)
    state1 = _state(spark, out)
    assert state1[(1, 10, "click")] == (2, 3.0)
    assert state1[(1, 10, "error")] == (1, 5.0)

    # restart with more data: same window updated, new window appears,
    # untouched (10, error) partition must survive
    _emit(log, 4, "2024-01-01 10:40:00", "click", 4.0)
    _emit(log, 5, "2024-01-01 11:02:00", "click", 7.0)
    _drain(spark, log, out, cp)
    state2 = _state(spark, out)
    assert state2[(1, 10, "click")] == (3, 7.0)
    assert state2[(1, 10, "error")] == (1, 5.0)
    assert state2[(1, 11, "click")] == (1, 7.0)


def test_rollup_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic partition overwrite is the rollup's WRITER option, not
    a session setting: after a rollup runs, the session's
    partitionOverwriteMode is what it was (a session-wide "dynamic"
    would make every later overwrite+partitionBy write on the session
    replace only the partitions it writes). Under a STATIC session the
    rollup still overwrites dynamically: a batch that touches only
    the second date keeps the first date's partition."""
    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    out = str(tmp_path / "rollup")
    cp = str(tmp_path / "cp")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        _emit(log, 1, "2024-01-01 10:05:00", "click", 1.0)
        _drain(spark, log, out, cp)
        _emit(log, 2, "2024-01-02 09:00:00", "click", 2.0)
        _drain(spark, log, out, cp)
        assert spark.conf.get(key) == "STATIC"
        assert _state(spark, out) == {
            (1, 10, "click"): (1, 1.0),
            (2, 9, "click"): (1, 2.0),
        }
    finally:
        spark.conf.set(key, prev)
