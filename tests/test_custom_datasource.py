"""Custom Python DataSource (poller/MQTT-shape) conformance:
delivery, no duplicates across microbatches, incremental tailing."""

from __future__ import annotations

import uuid

import pytest

from kawa_spark.sources.mqtt import HAVE_PAHO, register_mqtt_source
from kawa_spark.sources.replay import register_replay_source


def test_replay_source_delivers_all(spark, tmp_path):
    log = tmp_path / "events.jsonl"
    log.write_text("".join(f"msg-{i}\n" for i in range(50)))
    register_replay_source(spark)
    name = f"rp_{uuid.uuid4().hex[:8]}"
    df = (
        spark.readStream.format("kawa_replay")
        .option("path", str(log))
        .option("topic", "t1")
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.table(name).collect()
    got = [r["value"] for r in rows]
    assert sorted(got, key=lambda s: int(s.split("-")[1])) == [
        f"msg-{i}" for i in range(50)
    ]
    assert len(set(got)) == 50  # no duplicates
    assert {r["topic"] for r in rows} == {"t1"}


def test_replay_source_tails_incrementally(spark, tmp_path):
    """Second run from the same checkpoint picks up ONLY new lines —
    the committed-offset contract."""
    log = tmp_path / "tail.jsonl"
    log.write_text("a\nb\n")
    register_replay_source(spark)
    cp = str(tmp_path / "cp")
    delivered: list[str] = []

    def drain():
        delivered.clear()
        q = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: delivered.extend(
                    r["value"] for r in df.collect()
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    assert sorted(delivered) == ["a", "b"]
    with open(log, "a") as f:
        f.write("c\n")
    drain()  # resumes from committed offset: only the delta arrives
    assert delivered == ["c"]


def test_mqtt_registers_without_paho(spark):
    """Since r2 the connector no longer needs paho: the built-in
    minimal MQTT client (sources/mqtt_mini.py) backs the DataSource,
    so registration succeeds in any environment. Live end-to-end
    coverage is tests/test_mqtt.py."""
    register_mqtt_source(spark)  # must not raise
