"""Stateful-stream recovery: applyInPandasWithState resumes from the
checkpointed state store — totals continue across query restarts (the
streaming ack/state contract end-to-end)."""

from __future__ import annotations

from kawa_spark.sources.replay import register_replay_source
from kawa_spark.streaming.stateful import running_total

from pyspark.sql import functions as F


def test_running_total_survives_restart(spark, tmp_path):
    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    cp = str(tmp_path / "cp")
    collected: dict[int, float] = {}

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
        )
        parsed = raw.select(
            F.from_json(
                "value", "event_id long, user_id long, ts timestamp, value double"
            ).alias("v")
        ).select("v.*")
        q = (
            running_total(parsed)
            .writeStream.foreachBatch(
                lambda df, bid: collected.update(
                    {r["event_id"]: r["running_total"] for r in df.collect()}
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    import json

    def emit(eid, uid, ts, val):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {"event_id": eid, "user_id": uid, "ts": ts, "value": val}
                )
                + "\n"
            )

    emit(1, 7, "2024-01-01 10:00:00", 10.0)
    emit(2, 7, "2024-01-01 10:05:00", 5.0)
    drain()
    assert collected[1] == 10.0 and collected[2] == 15.0

    # restart with more data for the same user: state must carry over
    emit(3, 7, "2024-01-01 10:10:00", 2.5)
    emit(4, 8, "2024-01-01 10:11:00", 1.0)
    drain()
    assert collected[3] == 17.5  # 15.0 carried from the state store
    assert collected[4] == 1.0


def test_scanner_printer_roundtrip_survives_restart(spark, tmp_path):
    """Reference conformance under restart (VERDICT r04 item 7): the
    multi-byte-delimiter round-trip of test/stream_test.go:43-55 —
    scanner source with a custom delim → printer-style delimited text
    sink — driven through a kill/resume cycle on one checkpoint. The
    file-sink commit log must deliver every record exactly once
    across the restart: no record lost at the kill point, none
    duplicated on resume (the Spark twin of kawa's ack contract)."""
    from kawa_spark.sources.file import FileSource

    delim = "|*|"
    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    in_dir.mkdir()

    def drain():
        df = FileSource(str(in_dir), format="text", line_sep=delim).read_stream(
            spark
        )
        q = (
            df.writeStream.format("text")
            .option("lineSep", delim)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start(out_dir)
        )
        assert q.awaitTermination(120)
        q.stop()

    first = ["alpha", "bravo", "charlie", "delta"]
    (in_dir / "f1.txt").write_text(delim.join(first))
    drain()

    # kill happened (query terminated); more input lands; resume on
    # the SAME checkpoint — only the new file may be re-delivered
    second = ["echo", "foxtrot", "golf"]
    (in_dir / "f2.txt").write_text(delim.join(second))
    drain()

    got = [
        r["value"]
        for r in FileSource(out_dir, format="text", line_sep=delim)
        .read(spark)
        .collect()
    ]
    assert sorted(got) == sorted(first + second)


def test_beacon_scores_survives_restart(spark, tmp_path):
    """The online beaconing detector's gap power sums resume from the
    checkpointed state store: a verdict emitted after restart counts
    gaps from BEFORE the restart."""
    from kawa_spark.streaming.stateful import beacon_scores

    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    cp = str(tmp_path / "cp")
    collected: dict[int, tuple] = {}

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
        )
        parsed = raw.select(
            F.from_json(
                "value",
                "event_id long, user_id long, event_type string, ts timestamp",
            ).alias("v")
        ).select("v.*")
        q = (
            beacon_scores(parsed, min_gaps=2, cv2_num=1, cv2_den=4)
            .writeStream.foreachBatch(
                lambda df, bid: collected.update(
                    {
                        r["event_id"]: (
                            r["n_gaps"], r["period_s"], r["is_beacon"]
                        )
                        for r in df.collect()
                    }
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    import json

    def emit(eid, ts):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {
                        "event_id": eid,
                        "user_id": 7,
                        "event_type": "beacon",
                        "ts": ts,
                    }
                )
                + "\n"
            )

    emit(1, "2024-01-01 10:00:00")
    emit(2, "2024-01-01 10:00:10")
    emit(3, "2024-01-01 10:00:20")
    drain()
    assert collected == {3: (2, 10.0, True)}

    # restart: gap 3 (10 s again, still regular), then a 60 s break
    emit(4, "2024-01-01 10:00:30")
    emit(5, "2024-01-01 10:01:30")
    drain()
    assert collected[4] == (3, 10.0, True)  # n=3 NEEDS pre-restart state
    n, period, flag = collected[5]
    assert (n, period) == (4, 22.5) and not flag  # 10,10,10,60


def test_net_hops_survives_restart(spark, tmp_path):
    """The online hop detector's (last_net, last_us) resumes from the
    checkpoint: a hop whose two events straddle the RESTART is still
    flagged."""
    from kawa_spark.streaming.stateful import net_hops

    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    cp = str(tmp_path / "cp")
    collected: dict[int, tuple] = {}

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
        )
        parsed = raw.select(
            F.from_json(
                "value", "event_id long, user_id long, net string, us long"
            ).alias("v")
        ).select("v.*")
        q = (
            net_hops(parsed, 1800 * 1_000_000)
            .writeStream.foreachBatch(
                lambda df, bid: collected.update(
                    {
                        r["event_id"]: (
                            r["from_net"], r["to_net"], r["gap_us"]
                        )
                        for r in df.collect()
                    }
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    import json

    def emit(eid, net, us):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {"event_id": eid, "user_id": 7, "net": net, "us": us}
                )
                + "\n"
            )

    M = 1_000_000
    emit(1, "net_a", 0)
    emit(2, "net_a", 60 * M)
    drain()
    assert collected == {}

    # restart: the hop's FROM side lives only in the checkpoint
    emit(3, "net_b", 180 * M)
    drain()
    assert collected == {3: ("net_a", "net_b", 120 * M)}


def test_net_hop_chains_survive_restart(spark, tmp_path):
    """The online chain detector's remembered hop AND (last_net,
    last_us) both resume from the checkpoint: a chain whose two hops
    straddle the RESTART is still emitted, including the null hop
    slots of a fresh key surviving the round-trip."""
    from kawa_spark.streaming.stateful import net_hop_chains

    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    cp = str(tmp_path / "cp")
    collected: dict[int, tuple] = {}

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
        )
        parsed = raw.select(
            F.from_json(
                "value", "event_id long, user_id long, net string, us long"
            ).alias("v")
        ).select("v.*")
        q = (
            net_hop_chains(parsed, 1800 * 1_000_000, 3600 * 1_000_000)
            .writeStream.foreachBatch(
                lambda df, bid: collected.update(
                    {
                        r["event_id"]: (
                            r["net_a"],
                            r["net_b"],
                            r["net_c"],
                            r["span_us"],
                            r["late_count"],
                        )
                        for r in df.collect()
                    }
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    import json

    def emit(eid, net, us):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {"event_id": eid, "user_id": 7, "net": net, "us": us}
                )
                + "\n"
            )

    M = 1_000_000
    emit(1, "net_a", 0)
    drain()  # fresh key: null hop slots checkpoint and restore
    emit(2, "net_b", 600 * M)
    drain()  # hop 1 (na->nb) lives only in the checkpoint now
    assert collected == {}

    # restart: the second hop completes the chain against the
    # checkpointed first hop
    emit(3, "net_c", 1200 * M)
    drain()
    assert collected == {3: ("net_a", "net_b", "net_c", 1200 * M, 0)}


def test_funnel_states_survive_restart(spark, tmp_path):
    """The online funnel's write-once slots resume from the
    checkpoint: a conversion whose stages straddle the RESTART still
    completes (the click after restart converts against the
    pre-restart view), including null slots in the recovered state."""
    from kawa_spark.streaming.stateful import funnel_states

    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    cp = str(tmp_path / "cp")
    collected: list = []

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
        )
        parsed = raw.select(
            F.from_json(
                "value",
                "event_id long, user_id long, event_type string, us long",
            ).alias("v")
        ).select("v.*")
        q = (
            funnel_states(parsed)
            .writeStream.foreachBatch(
                lambda df, bid: collected.extend(
                    (
                        r["stage"],
                        r["t_view"],
                        r["t_click"],
                        r["t_purchase"],
                        r["late_count"],
                    )
                    for r in df.collect()
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    import json

    def emit(eid, typ, us):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {
                        "event_id": eid,
                        "user_id": 7,
                        "event_type": typ,
                        "us": us,
                    }
                )
                + "\n"
            )

    S = 1_000_000
    emit(1, "view", 10 * S)
    drain()
    assert collected == [(1, 10 * S, None, None, 0)]

    # restart: the click converts against the CHECKPOINTED view slot
    emit(2, "click", 20 * S)
    emit(3, "purchase", 30 * S)
    drain()
    assert collected[1:] == [
        (2, 10 * S, 20 * S, None, 0),
        (3, 10 * S, 20 * S, 30 * S, 0),
    ]


def test_session_transitions_survive_restart(spark, tmp_path):
    """The online sessionizer's (session_idx, last_us, last_type)
    resumes from the checkpoint: a transition straddling the RESTART
    is emitted in the pre-restart session, and a later gap opens
    session 2 with the checkpointed index."""
    from kawa_spark.streaming.stateful import session_transitions

    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    cp = str(tmp_path / "cp")
    collected: list = []

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
        )
        parsed = raw.select(
            F.from_json(
                "value",
                "event_id long, user_id long, event_type string, us long",
            ).alias("v")
        ).select("v.*")
        q = (
            session_transitions(parsed, 1800 * 1_000_000)
            .writeStream.foreachBatch(
                lambda df, bid: collected.extend(
                    (
                        r["session_idx"],
                        r["from_type"],
                        r["to_type"],
                    )
                    for r in df.collect()
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    import json

    def emit(eid, typ, us):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {
                        "event_id": eid,
                        "user_id": 7,
                        "event_type": typ,
                        "us": us,
                    }
                )
                + "\n"
            )

    S = 1_000_000
    emit(1, "view", 0)
    emit(2, "click", 60 * S)
    drain()
    assert collected == [(1, "view", "click")]

    # restart: 120 s continues session 1 (needs last_us/last_type
    # from the checkpoint); 2 h later opens session 2
    emit(3, "buy", 120 * S)
    emit(4, "view", 7800 * S)
    emit(5, "click", 7860 * S)
    drain()
    assert collected[1:] == [(1, "click", "buy"), (2, "view", "click")]


def test_net_hop_chains3_survive_restart(spark, tmp_path):
    """The 3-hop detector's TWO hop slots resume from the checkpoint:
    a chain whose three hops straddle two restarts is still emitted —
    every field of the 9-slot state (both hops, last net/us, late)
    survives the round-trip, including null slots for a fresh key."""
    from kawa_spark.streaming.stateful import net_hop_chains3

    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    cp = str(tmp_path / "cp")
    collected: dict[int, tuple] = {}

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
        )
        parsed = raw.select(
            F.from_json(
                "value", "event_id long, user_id long, net string, us long"
            ).alias("v")
        ).select("v.*")
        q = (
            net_hop_chains3(parsed, 1800 * 1_000_000, 5400 * 1_000_000)
            .writeStream.foreachBatch(
                lambda df, bid: collected.update(
                    {
                        r["event_id"]: (
                            r["net_a"],
                            r["net_b"],
                            r["net_c"],
                            r["net_d"],
                            r["span_us"],
                            r["late_count"],
                        )
                        for r in df.collect()
                    }
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    import json

    def emit(eid, net, us):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {"event_id": eid, "user_id": 7, "net": net, "us": us}
                )
                + "\n"
            )

    M = 1_000_000
    emit(1, "net_a", 0)
    drain()  # fresh key: null hop slots checkpoint and restore
    emit(2, "net_b", 600 * M)
    drain()  # hop 1 (na->nb) lives only in the checkpoint
    emit(3, "net_c", 1200 * M)
    drain()  # hops 1+2 both live only in the checkpoint
    assert collected == {}

    # restart: the third hop completes the chain against BOTH
    # checkpointed hop slots
    emit(4, "net_d", 1800 * M)
    drain()
    assert collected == {
        4: ("net_a", "net_b", "net_c", "net_d", 1800 * M, 0)
    }
