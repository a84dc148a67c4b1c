"""Batcher-destination parity: microbatch flush with retry + error
policy.

Reference (/root/reference/x/batcher/batcher.go):
* FlushLength / FlushFrequency (:180-189) — in Spark these are
  source-side ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` and the
  ``trigger(processingTime=…)``; the engine surfaces them on
  FileSource.max_files_per_trigger and Pipeline.run_stream(trigger=…).
* retry with exponential backoff gated by IsRetryable (:460-514) —
  ``BatcherPolicy(max_retries, backoff_initial, backoff_max,
  backoff_multiplier, is_retryable)`` executed around the flush inside
  foreachBatch.
* ErrorHandler verdicts (:516-539):
    - RAISE    ≙ propagate → streaming query stops (kawa Raise)
    - DISCARD  ≙ swallow → batch commits, data dropped (kawa Discard)
    - DONT_ACK ≙ raise WITHOUT dead-lettering: the batch's offsets are
      not committed; on restart the source redelivers — kawa's
      ErrDontAck redelivery contract, expressed through the
      checkpoint instead of a per-message ack.
    - DLQ      ≙ Discard + write the failed batch to a dead-letter
      path first (the useful production form kawa leaves to the user).
* acks deferred until flush success (:529-535) ≙ offsets commit only
  after foreachBatch returns — native.

The watchdog (:296-339) is kawa_spark.streaming.listener.Watchdog.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame


class ErrorPolicy(Enum):
    RAISE = "raise"
    DISCARD = "discard"
    DONT_ACK = "dont_ack"
    DLQ = "dlq"


def _always_retryable(exc: Exception) -> bool:
    return True


@dataclass
class BatcherPolicy:
    # defaults mirror the reference's (batcher.go:180-189)
    max_retries: int = 3
    backoff_initial: float = 0.5
    backoff_max: float = 5.0
    backoff_multiplier: float = 2.0
    is_retryable: Callable[[Exception], bool] = field(default=_always_retryable)
    error_policy: ErrorPolicy = ErrorPolicy.RAISE
    dlq_path: str | None = None
    # test/observability hook: called on each flush attempt error
    on_error: Callable[[Exception, int], None] | None = None

    def __post_init__(self) -> None:
        # a DLQ verdict with nowhere to write would drop the batch
        # silently; that is DISCARD, so say which one is meant
        if self.error_policy is ErrorPolicy.DLQ and not self.dlq_path:
            raise ValueError(
                "ErrorPolicy.DLQ needs a dlq_path; use ErrorPolicy.DISCARD "
                "to drop failed batches"
            )


class DontAckError(RuntimeError):
    """Raised to abort the microbatch commit so the source redelivers."""


def make_foreach_batch(
    flush: Callable[[DataFrame, int], None], policy: BatcherPolicy
) -> Callable[[DataFrame, int], None]:
    def run(batch_df: DataFrame, batch_id: int) -> None:
        delay = policy.backoff_initial
        attempt = 0
        while True:
            try:
                flush(batch_df, batch_id)
                return
            except Exception as exc:  # noqa: BLE001 — policy decides
                if policy.on_error:
                    policy.on_error(exc, attempt)
                attempt += 1
                if attempt <= policy.max_retries and policy.is_retryable(exc):
                    time.sleep(min(delay, policy.backoff_max))
                    delay *= policy.backoff_multiplier
                    continue
                # retries exhausted (or non-retryable) → error policy
                if policy.error_policy is ErrorPolicy.DISCARD:
                    return  # commit batch, drop data (kawa Discard)
                if policy.error_policy is ErrorPolicy.DLQ:
                    batch_df.write.mode("append").format("json").save(
                        f"{policy.dlq_path}/batch_id={batch_id}"
                    )
                    return
                if policy.error_policy is ErrorPolicy.DONT_ACK:
                    raise DontAckError(
                        f"batch {batch_id} not acked after {attempt} attempts"
                    ) from exc
                raise  # RAISE

    return run
