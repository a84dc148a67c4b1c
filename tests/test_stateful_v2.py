"""transformWithStateInPandas (Spark 4 stateful API v2) coverage.

The live streaming path needs google.protobuf (the v2 state-server
protocol), absent from this container — that test auto-skips. The
processor's accumulation logic is unit-tested in-process regardless,
so the arithmetic stays pinned even where the runtime can't start.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from kawa_spark.streaming.stateful import UserTotalsProcessor

try:
    from google.protobuf import descriptor  # noqa: F401

    HAVE_PROTOBUF = True
except ImportError:
    HAVE_PROTOBUF = False


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeHandle:
    def __init__(self):
        self.state = _FakeValueState()

    def getValueState(self, name, schema):
        return self.state


def test_processor_accumulates_exact_cents():
    proc = UserTotalsProcessor()
    handle = _FakeHandle()
    proc.init(handle)

    batch1 = pd.DataFrame({"value": [1.25, 2.50]})
    out1 = list(proc.handleInputRows((7,), [batch1], None))
    assert len(out1) == 1
    assert out1[0].to_dict("records") == [
        {"user_id": 7, "n_events": 2, "total_cents": 375}
    ]

    # state carries into the next microbatch
    batch2 = pd.DataFrame({"value": [0.25]})
    out2 = list(proc.handleInputRows((7,), [batch2], None))
    assert out2[0].to_dict("records") == [
        {"user_id": 7, "n_events": 3, "total_cents": 400}
    ]
    assert handle.state.get() == (400, 3)


@pytest.mark.skipif(not HAVE_PROTOBUF, reason="v2 state server needs protobuf")
def test_v2_streaming_end_to_end(spark):
    from kawa_spark.io import stream_table
    from kawa_spark.streaming.stateful import user_totals_v2

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    df = user_totals_v2(stream_table(spark, "/root/testdata/sf0.001", "events"))
    q = (
        df.writeStream.format("memory")
        .queryName("v2_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.table("v2_totals")
    assert got.count() > 0


def test_v2_oracle_parity_simulated():
    """VERDICT r04 item 6: the container lacks protobuf, so the live
    transformWithStateInPandas path can't start here — fold the
    processor's full semantics into the non-gated tier instead of
    leaving a silent skip. Drives UserTotalsProcessor per-key over
    the real sf0.001 events (split into multiple microbatches, state
    carried across them) and checks the final per-user totals against
    DuckDB's exact integer-cents aggregate — the same arithmetic the
    driver-verified v1 twin (stream_exec_running_total) pins."""
    import duckdb

    con = duckdb.connect()
    expected = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            """
            SELECT user_id,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT),
                   COUNT(*)
            FROM read_parquet('/root/testdata/sf0.001/events.parquet')
            GROUP BY user_id
            """
        ).fetchall()
    }
    con.close()

    events = pd.read_parquet(
        "/root/testdata/sf0.001/events.parquet", columns=["user_id", "value"]
    )
    got = {}
    for user_id, pdf in events.groupby("user_id"):
        proc = UserTotalsProcessor()
        proc.init(_FakeHandle())
        # split each key's rows into 3 microbatches to exercise the
        # state carry, and feed multiple chunks within one batch to
        # exercise the iterator contract
        chunks = [pdf.iloc[i::3].reset_index(drop=True) for i in range(3)]
        out = None
        for chunk in chunks:
            halves = [chunk.iloc[: len(chunk) // 2], chunk.iloc[len(chunk) // 2 :]]
            out = list(proc.handleInputRows((user_id,), halves, None))[-1]
        proc.close()
        row = out.iloc[0]
        got[user_id] = (int(row["total_cents"]), int(row["n_events"]))

    assert got == expected


def test_v2_env_gate_is_documented():
    """The protobuf skip above must never be silent: COVERAGE.md has
    to carry the gate (and this test fails if protobuf appears in the
    container, at which point the e2e test runs and the gate note
    should be retired)."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "COVERAGE.md")) as f:
        cov = f.read()
    if HAVE_PROTOBUF:
        pytest.fail(
            "protobuf is now present: test_v2_streaming_end_to_end runs; "
            "update docs/COVERAGE.md to drop the env-gate note"
        )
    assert "env-gated on protobuf" in cov
