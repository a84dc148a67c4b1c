"""Batcher-policy semantics — port of the reference's batcher tests
(/root/reference/x/batcher/batcher_test.go): retry success/exhaustion,
non-retryable short-circuit, Discard/DontAck/DLQ verdicts, and
acks-only-after-flush (offsets not committed on failure).
"""

from __future__ import annotations

import os

import pytest

from kawa_spark.envelope import normalize
from kawa_spark.pipeline import pipeline
from kawa_spark.sinks import ForeachBatchSink
from kawa_spark.sources import MemorySource
from kawa_spark.streaming.batcher import (
    BatcherPolicy,
    DontAckError,
    ErrorPolicy,
    make_foreach_batch,
)


def _df(spark, n=3):
    return spark.range(n).selectExpr("CAST(id AS STRING) AS value")


def test_retry_then_success(spark):
    """Flush fails twice then succeeds → delivered, 3 attempts
    (batcher_test.go retry cases)."""
    attempts = []

    def flush(df, bid):
        attempts.append(bid)
        if len(attempts) < 3:
            raise IOError("transient")

    policy = BatcherPolicy(max_retries=3, backoff_initial=0.01, backoff_max=0.02)
    make_foreach_batch(flush, policy)(_df(spark), 7)
    assert len(attempts) == 3


def test_retries_exhausted_raises(spark):
    def flush(df, bid):
        raise IOError("always")

    policy = BatcherPolicy(max_retries=2, backoff_initial=0.01)
    with pytest.raises(IOError):
        make_foreach_batch(flush, policy)(_df(spark), 0)


def test_non_retryable_short_circuits(spark):
    """IsRetryable=false → single attempt (batcher.go:460-514)."""
    attempts = []

    def flush(df, bid):
        attempts.append(bid)
        raise ValueError("fatal")

    policy = BatcherPolicy(
        max_retries=5,
        backoff_initial=0.01,
        is_retryable=lambda e: not isinstance(e, ValueError),
    )
    with pytest.raises(ValueError):
        make_foreach_batch(flush, policy)(_df(spark), 0)
    assert len(attempts) == 1


def test_discard_policy_swallows(spark):
    def flush(df, bid):
        raise IOError("always")

    policy = BatcherPolicy(
        max_retries=1, backoff_initial=0.01, error_policy=ErrorPolicy.DISCARD
    )
    make_foreach_batch(flush, policy)(_df(spark), 0)  # no raise


def test_dont_ack_policy_raises_dontack(spark):
    def flush(df, bid):
        raise IOError("always")

    policy = BatcherPolicy(
        max_retries=1, backoff_initial=0.01, error_policy=ErrorPolicy.DONT_ACK
    )
    with pytest.raises(DontAckError):
        make_foreach_batch(flush, policy)(_df(spark), 0)


def test_dlq_policy_dead_letters(spark, tmp_path):
    dlq = str(tmp_path / "dlq")

    def flush(df, bid):
        raise IOError("always")

    policy = BatcherPolicy(
        max_retries=1,
        backoff_initial=0.01,
        error_policy=ErrorPolicy.DLQ,
        dlq_path=dlq,
    )
    make_foreach_batch(flush, policy)(_df(spark, 5), 3)
    dead = spark.read.json(os.path.join(dlq, "batch_id=3"))
    assert dead.count() == 5


def test_dlq_policy_without_path_is_rejected():
    """A DLQ verdict with no dlq_path used to discard the failed batch
    silently; it is now a construction error."""
    with pytest.raises(ValueError, match="dlq_path"):
        BatcherPolicy(error_policy=ErrorPolicy.DLQ)
    with pytest.raises(ValueError, match="dlq_path"):
        BatcherPolicy(error_policy=ErrorPolicy.DLQ, dlq_path="")


def test_stream_failed_batch_not_committed(spark, tmp_path):
    """The ack contract end-to-end: a stream whose flush always fails
    (RAISE) commits nothing; a restarted stream with a working flush
    redelivers the SAME records — kawa's crash-before-ack ⇒
    redelivery (types.go:48-52), expressed via the checkpoint."""
    drop = tmp_path / "drop"
    drop.mkdir()
    for i in range(5):
        (drop / f"m{i}.txt").write_text(f"payload-{i}\n")
    cp = str(tmp_path / "cp")

    def bad_flush(df, bid):
        raise IOError("sink down")

    p = (
        pipeline(MemorySource(str(drop)))
        .transform(lambda df: normalize(df, topic="t"))
        .to(
            ForeachBatchSink(
                bad_flush, BatcherPolicy(max_retries=0, backoff_initial=0.01)
            )
        )
    )
    q = p.run_stream(spark, available_now=True, checkpoint=cp)
    with pytest.raises(Exception):
        q.awaitTermination(60)

    delivered = []

    def good_flush(df, bid):
        delivered.extend(r["value"] for r in df.collect())

    p2 = (
        pipeline(MemorySource(str(drop)))
        .transform(lambda df: normalize(df, topic="t"))
        .to(
            ForeachBatchSink(
                good_flush, BatcherPolicy(max_retries=0, backoff_initial=0.01)
            )
        )
    )
    q2 = p2.run_stream(spark, available_now=True, checkpoint=cp)
    assert q2.awaitTermination(60)
    assert sorted(delivered) == [f"payload-{i}" for i in range(5)]
