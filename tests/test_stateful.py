"""Stateful streaming operators vs their batch twins."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kawa_spark.io import stream_table, table
from kawa_spark.queries.streaming_mode import _drain
from kawa_spark.streaming.stateful import running_total, session_totals

SF = "/root/testdata/sf0.001"


def test_running_total_matches_batch(spark):
    out = _drain(running_total(stream_table(spark, SF, "events")), spark)
    got = {
        r["event_id"]: r["running_total"] for r in out.collect()
    }
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["event_id"]: r["rt"]
        for r in table(spark, SF, "events")
        .select("event_id", F.sum("value").over(w).alias("rt"))
        .collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)


def test_session_totals_subset_of_batch_sessions(spark):
    out = _drain(session_totals(stream_table(spark, SF, "events")), spark)
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], round(r["total_value"], 4))
        for r in out.collect()
    }
    batch = (
        table(spark, SF, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("tv"),
        )
        .select("user_id", F.col("w.start").alias("session_start"), "n", "tv")
    )
    want = {
        (r["user_id"], r["session_start"]): (r["n"], r["tv"]) for r in batch.collect()
    }
    # closed sessions must match the batch sessions exactly; the last
    # (still-open) session per user stays in state
    assert len(got) > 0
    for k, v in got.items():
        assert k in want, f"spurious session {k}"
        assert abs(v[1] - want[k][1]) < 1e-6 and v[0] == want[k][0]


def test_rate_limited_state_carries_across_batches(spark, tmp_path):
    """The streaming rate limiter must count events from PREVIOUS
    microbatches that still fall inside the trailing window — i.e.
    the state (per-user timestamps) genuinely carries. Two parquet
    files + maxFilesPerTrigger=1 force two microbatches split at a
    known point; the per-event counts must equal the batch RANGE
    window over the union."""
    import pandas as pd

    from kawa_spark.streaming.stateful import rate_limited

    W = 1_000_000 * 60  # 60 s window
    # user 1: events at t=0s,10s,30s | batch 2: 70s (sees 10,30 in
    # window, not 0), 200s (sees only itself)
    rows1 = [(1, 1, 0), (2, 1, 10_000_000), (3, 1, 30_000_000)]
    rows2 = [(4, 1, 70_000_000), (5, 1, 200_000_000), (6, 2, 71_000_000)]
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    for i, rows in enumerate([rows1, rows2]):
        pdf = pd.DataFrame(
            [
                (e, u, "click", pd.Timestamp(t, unit="us"))
                for e, u, t in rows
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
    out = _drain(rate_limited(stream, W, 2), spark)
    got = {
        r["event_id"]: (r["n_in_window"], r["is_limited"])
        for r in out.collect()
    }
    assert len(got) == 6
    assert got[1] == (1, False)
    assert got[2] == (2, False)
    assert got[3] == (3, True)  # 0,10,30 within 60s
    # 70s: window [10s,70s] must include the PREVIOUS batch's 10s,30s
    assert got[4] == (3, True)
    assert got[5] == (1, False)  # 200s: everyone else evicted
    assert got[6] == (1, False)  # other user unaffected


def test_rate_limited_hot_key_spans_arrow_chunks(spark, tmp_path):
    """A group larger than arrow maxRecordsPerBatch arrives at the
    state function as MULTIPLE chunks in arbitrary time order; every
    ordered-fold kernel must fold across all of them in time order
    (code review r8: the per-chunk rate limiter missed cross-chunk
    in-window events and evicted state later chunks needed; the
    per-chunk sort in running_total and session_totals folded a hot
    key out of order). The rows are written in REVERSE time order and
    maxRecordsPerBatch=2 forces five chunks for the one key."""
    import pandas as pd

    from kawa_spark.session import scoped_conf
    from kawa_spark.streaming.stateful import rate_limited

    S = 1_000_000
    secs = [0, 10, 20, 50, 60, 100, 110, 120, 130, 200]
    src = tmp_path / "src"
    schema = (
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double"
    )
    pdf = pd.DataFrame(
        [
            (i, 1, "x", pd.Timestamp(t * S, unit="us"), float(i + 1))
            for i, t in enumerate(secs)
        ][::-1],
        columns=["event_id", "user_id", "event_type", "ts", "value"],
    )
    spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(str(src))
    cases = {
        # 100 s window: event i sees every event in [t_i - 100 s, t_i]
        "rate_limited": (
            lambda st: rate_limited(st, 100 * S, 3).select(
                "event_id", "n_in_window"
            ),
            {
                i: sum(t - 100 <= u <= t for u in secs)
                for i, t in enumerate(secs)
            },
        ),
        # value = event_id + 1, so the running sum is triangular
        "running_total": (
            lambda st: running_total(st).select("event_id", "running_total"),
            {i: (i + 1) * (i + 2) / 2 for i in range(len(secs))},
        ),
        # 25 s gap: closed sessions start at 0 s, 50 s and 100 s (keyed
        # by start second → (n_events, total_value)); 200 s stays open
        "session_totals": (
            lambda st: session_totals(st, gap_seconds=25).select(
                (F.unix_micros("session_start") / S).cast("long"),
                F.struct("n_events", "total_value"),
            ),
            {0: (3, 6.0), 50: (2, 9.0), 100: (4, 30.0)},
        ),
    }
    with scoped_conf(
        spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "2"}
    ):
        for kernel, (build, want) in cases.items():
            stream = spark.readStream.schema(schema).parquet(str(src))
            got = dict(_drain(build(stream), spark).collect())
            assert got == want, (kernel, got)


def test_beacon_scores_state_carries_across_batches(spark, tmp_path):
    """The online beaconing detector's gap power sums must carry
    across microbatches: an event in batch 2 reaches the min-gap
    threshold only by counting batch 1's gaps. Two parquet files +
    maxFilesPerTrigger=1 force the split; verdicts must equal the
    prefix stats over the union."""
    import pandas as pd

    from kawa_spark.streaming.stateful import beacon_scores

    S = 1_000_000
    # one key, perfect 10 s cadence through the batch boundary, then
    # a 60 s straggler that breaks the regularity
    rows1 = [(1, 0), (2, 10 * S), (3, 20 * S), (4, 30 * S)]
    rows2 = [(5, 40 * S), (6, 100 * S)]
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    for rows in [rows1, rows2]:
        pdf = pd.DataFrame(
            [(e, 7, "beacon", pd.Timestamp(t, unit="us")) for e, t in rows],
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
    out = _drain(
        beacon_scores(stream, min_gaps=3, cv2_num=1, cv2_den=4), spark
    )
    got = {
        r["event_id"]: (r["n_gaps"], r["period_s"], r["is_beacon"])
        for r in out.collect()
    }
    # eid 4 closes gap 3 (10,10,10): variance 0 -> beacon
    # eid 5 is batch 2's first event: n=4 REQUIRES batch 1's state
    # eid 6 adds the 60 s gap: CV^2 > 1/4 -> not a beacon
    assert got == {
        4: (3, 10.0, True),
        5: (4, 10.0, True),
        6: (5, 20.0, False),
    }


def test_net_hops_state_carries_across_batches(spark, tmp_path):
    """The online hop detector must flag a network change whose two
    events sit in DIFFERENT microbatches — (last_net, last_us)
    genuinely carries. Also pins the negative cases: same net within
    the window, different net outside it."""
    import pandas as pd

    from kawa_spark.streaming.stateful import net_hops

    M = 1_000_000
    rows1 = [(1, 1, "net_a", 0), (2, 1, "net_a", 60 * M)]
    # batch 2: user 1 hops to net_b 120 s after batch 1's last event
    # (inside the 30 min window -> hop), then net_c 1 h later (outside
    # -> no hop); user 2's first event can never hop
    rows2 = [
        (3, 1, "net_b", 180 * M),
        (4, 1, "net_c", 3780 * M),
        (5, 2, "net_a", 200 * M),
    ]
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, user_id long, net string, us long"
    for rows in [rows1, rows2]:
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "net", "us"]
        )
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = _drain(net_hops(stream, 1800 * M), spark)
    got = [
        (r["user_id"], r["event_id"], r["from_net"], r["to_net"], r["gap_us"])
        for r in out.collect()
    ]
    assert got == [(1, 3, "net_a", "net_b", 120 * M)]


def test_late_rows_do_not_corrupt_gap_kernels(spark, tmp_path):
    """Outside the time-ordered-batch contract, a late event
    (timestamp behind the key's high-water mark in a LATER microbatch)
    must be excluded: in beacon_scores a negative gap folded into
    the power sums would corrupt the key's stats permanently, and in
    net_hops a negative gap trivially satisfies <= window and would
    emit a spurious hop. Both kernels skip the row and keep their
    high-water mark."""
    import pandas as pd

    from kawa_spark.streaming.stateful import beacon_scores, net_hops

    S = 1_000_000
    src = tmp_path / "b"
    src.mkdir()
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    rows1 = [(1, 0), (2, 10 * S), (3, 20 * S)]
    rows2 = [(4, 5 * S), (5, 30 * S)]  # eid 4 is LATE (behind 20 s)
    for rows in [rows1, rows2]:
        pdf = pd.DataFrame(
            [(e, 7, "beacon", pd.Timestamp(t, unit="us")) for e, t in rows],
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
    out = _drain(
        beacon_scores(stream, min_gaps=2, cv2_num=1, cv2_den=4), spark
    )
    got = {
        r["event_id"]: (
            r["n_gaps"],
            r["period_s"],
            r["is_beacon"],
            r["late_count"],
        )
        for r in out.collect()
    }
    # the late eid 4 is absent AND eid 5's stats see gaps 10,10,10
    # (20 s -> 30 s), untouched by the late row — but the exclusion
    # is OBSERVABLE: eid 5's row carries the key's cumulative late
    # counter (eid 3 emitted before the violation, so 0)
    assert got == {3: (2, 10.0, True, 0), 5: (3, 10.0, True, 1)}

    src2 = tmp_path / "h"
    src2.mkdir()
    schema2 = "event_id long, user_id long, net string, us long"
    hrows1 = [(1, 7, "net_a", 0), (2, 7, "net_a", 60 * S)]
    hrows2 = [(3, 7, "net_b", 30 * S),  # LATE + different net
              (4, 7, "net_a", 90 * S),  # same net as the mark: no hop
              (5, 7, "net_b", 120 * S)]  # in-order hop carries late=1
    for rows in [hrows1, hrows2]:
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["event_id", "user_id", "net", "us"]),
            schema2,
        ).coalesce(1).write.mode("append").parquet(str(src2))
    stream2 = (
        spark.readStream.schema(schema2)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src2))
    )
    out2 = _drain(net_hops(stream2, 1800 * S), spark)
    got2 = [
        (r["event_id"], r["from_net"], r["to_net"], r["late_count"])
        for r in out2.collect()
    ]
    # the late eid 3 emitted NO hop (a negative gap would trivially
    # pass the window test) — and the exclusion is observable: the
    # next in-order hop (eid 5) carries the cumulative late counter
    assert got2 == [(5, "net_a", "net_b", 1)]


def test_session_transitions_state_carries_across_batches(spark, tmp_path):
    """The streaming sessionizer's (session_idx, last_us, last_type)
    must survive the microbatch boundary: a batch-2 event within the
    gap of batch 1's last event continues THAT session (emitting the
    cross-batch transition), and a later one opens session 2."""
    import pandas as pd

    from kawa_spark.streaming.stateful import session_transitions

    M = 1_000_000
    GAP = 1800 * M
    # batch 1: user 1 events at 0 s ("view") and 60 s ("click")
    rows1 = [(1, 1, "view", 0), (2, 1, "click", 60 * M)]
    # batch 2: 120 s ("buy") continues session 1 across the boundary;
    # 7200 s ("view") breaks into session 2 (no transition)
    rows2 = [(3, 1, "buy", 120 * M), (4, 1, "view", 7200 * M)]
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, user_id long, event_type string, us long"
    for rows in [rows1, rows2]:
        spark.createDataFrame(
            pd.DataFrame(
                rows, columns=["event_id", "user_id", "event_type", "us"]
            ),
            schema,
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = _drain(session_transitions(stream, GAP), spark)
    got = sorted(
        (r["user_id"], r["session_idx"], r["from_type"], r["to_type"])
        for r in out.collect()
    )
    assert got == [(1, 1, "click", "buy"), (1, 1, "view", "click")]


def test_session_transitions_skips_late_rows(spark, tmp_path):
    """Outside the time-ordered-batch contract a late event must be
    SKIPPED: folded in, its negative gap would fabricate a transition
    the batch form never saw and could shift session indexes."""
    import pandas as pd

    from kawa_spark.streaming.stateful import session_transitions

    M = 1_000_000
    GAP = 1800 * M
    rows1 = [(1, 1, "view", 0), (2, 1, "click", 60 * M)]
    # eid 3 is LATE (behind the 60 s mark); eid 4 continues in-order
    rows2 = [(3, 1, "buy", 30 * M), (4, 1, "pay", 120 * M)]
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, user_id long, event_type string, us long"
    for rows in [rows1, rows2]:
        spark.createDataFrame(
            pd.DataFrame(
                rows, columns=["event_id", "user_id", "event_type", "us"]
            ),
            schema,
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = _drain(session_transitions(stream, GAP), spark)
    got = sorted(
        (
            r["user_id"],
            r["session_idx"],
            r["from_type"],
            r["to_type"],
            r["late_count"],
        )
        for r in out.collect()
    )
    # the late "buy" is absent; "pay" transitions from "click" — and
    # the exclusion is observable: the post-violation transition
    # carries the cumulative late counter (the pre-violation one 0)
    assert got == [
        (1, 1, "click", "pay", 1),
        (1, 1, "view", "click", 0),
    ]


def test_funnel_states_carry_and_late_count(spark, tmp_path):
    """Funnel slots must survive the microbatch boundary (a click in
    batch 2 converts against batch 1's view) and the late-row guard
    must count, not fold: a late click behind the high-water mark is
    excluded (it could otherwise fill t_click with a timestamp the
    batch MIN chain never saw) and surfaces in late_count."""
    import pandas as pd

    from kawa_spark.streaming.stateful import funnel_states

    S = 1_000_000
    rows1 = [(1, 1, "view", 10 * S), (2, 1, "purchase", 20 * S)]
    # batch 2: late click at 15 s (behind the 20 s mark) is SKIPPED;
    # the in-order click at 30 s fills t_click, then purchase at 40 s
    rows2 = [
        (3, 1, "click", 15 * S),
        (4, 1, "click", 30 * S),
        (5, 1, "purchase", 40 * S),
    ]
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, user_id long, event_type string, us long"
    for rows in [rows1, rows2]:
        spark.createDataFrame(
            pd.DataFrame(
                rows, columns=["event_id", "user_id", "event_type", "us"]
            ),
            schema,
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = _drain(funnel_states(stream), spark)
    got = sorted(
        (
            r["stage"],
            r["t_view"],
            r["t_click"],
            r["t_purchase"],
            r["late_count"],
        )
        for r in out.collect()
    )
    # emissions: stage 1 (view@10), stage 2 (click@30, late=1 by
    # then), stage 3 (purchase@40). The batch-1 purchase@20 cannot
    # fill (no click yet) — write-once ordering enforced.
    assert got == [
        (1, 10 * S, None, None, 0),
        (2, 10 * S, 30 * S, None, 1),
        (3, 10 * S, 30 * S, 40 * S, 1),
    ]
