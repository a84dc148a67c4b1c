"""RoutingSink's microbatch dispatch: the log pipeline of
``examples/log_pipeline.py`` (ERROR and FATAL share one batcher sink
with a DLQ; the rest go to the gzip time-partitioned archive) drained
over a pre-written log of ``LINES_PER_BATCH`` lines per batch
(``--data`` is not read).

* ``per_value_persist``: the previous dispatch — persist the batch, one
  filtered write per route value (ERROR and FATAL written separately),
  unpersist.
* ``grouped_persist``: one write per distinct sink, batch persisted.
* ``grouped``: the registered dispatch — one write per distinct sink,
  no cache.
* ``noop_write``: the same stream with one noop write per batch (the
  batch is read and parsed, nothing is written).

Each run starts a fresh query and checkpoint, lets ``WARM`` batches
pass, and times the next ``BATCHES`` batches. The routed outputs are
counted back against the log: every routing variant must deliver each
line once.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
import time

from pyspark.sql import functions as F

import examples.log_pipeline as lp
from kawa_spark.sinks import FileSink, ForeachBatchSink, NoopSink, RoutingSink
from kawa_spark.streaming.batcher import BatcherPolicy, ErrorPolicy
from loadgen import line

LINES_PER_BATCH, WARM, BATCHES = 800, 3, 10


class PerValuePersistRoutingSink(RoutingSink):
    """The previous dispatch, kept here only as the A side."""

    def _dispatch(self, df, batch_id):
        col = F.col(self.route_col)
        df.persist()
        try:
            for value, sink in self.routes.items():
                sink.write_batch(df.filter(col == value))
            if self.default is not None:
                self.default.write_batch(
                    df.filter(~col.isin(list(self.routes)) | col.isNull())
                )
        finally:
            df.unpersist()


class GroupedPersistRoutingSink(RoutingSink):
    def _dispatch(self, df, batch_id):
        df.persist()
        try:
            super()._dispatch(df, batch_id)
        finally:
            df.unpersist()


ROUTERS = {
    "per_value_persist": PerValuePersistRoutingSink,
    "grouped_persist": GroupedPersistRoutingSink,
    "grouped": RoutingSink,
}


def _start(spark, variant, log, w):
    stream = lp.build_stream(spark, log, max_lines_per_batch=LINES_PER_BATCH)
    cp = os.path.join(w, "cp")
    if variant == "noop_write":
        sink = ForeachBatchSink(lambda df, i: NoopSink().write_batch(df))
        return sink.start_stream(stream, checkpoint=cp)
    errors_dir = os.path.join(w, "errors")

    def write_errors(df, batch_id):
        df.write.mode("append").format("json").option(
            "compression", "gzip"
        ).save(errors_dir)

    policy = BatcherPolicy(error_policy=ErrorPolicy.DLQ, dlq_path=os.path.join(w, "dlq"))
    errors = ForeachBatchSink(write_errors, policy)
    archive = FileSink(
        os.path.join(w, "archive"), format="json", compression="gzip",
        partition_source="event_ts",
    )
    router = ROUTERS[variant](
        route_col="level", routes={"ERROR": errors, "FATAL": errors}, default=archive
    )
    return router.start_stream(stream, checkpoint=cp)


def _variant(spark, variant, log, base, expected):
    def run(win):
        w = tempfile.mkdtemp(dir=base)
        q = _start(spark, variant, log, w)

        def done() -> int:
            if q.exception() is not None:
                raise RuntimeError(f"{variant}: query failed: {q.exception()}")
            return sum(1 for p in q.recentProgress if p.numInputRows > 0)

        try:
            while done() < WARM:
                time.sleep(0.01)
            with win:
                while done() < WARM + BATCHES:
                    time.sleep(0.01)
        finally:
            q.stop()
        return w, None if variant == "noop_write" else expected

    return run


def fingerprint(spark, out):
    """(error lines, archived lines) the run wrote, checked against the
    log; None for the noop variant."""
    w, expected = out
    try:
        if expected is None:
            return None
        got = tuple(
            spark.read.json(os.path.join(w, d)).count() for d in ("errors", "archive")
        )
        if got != expected:
            raise RuntimeError(f"routed {got}, want {expected}")
        return got
    finally:
        shutil.rmtree(w)


def cases(spark, data):
    base = tempfile.mkdtemp(prefix="kawa_ab_routing_")
    try:
        log = os.path.join(base, "app.jsonl")
        rng, now = random.Random(7), time.time()
        lines = [line(i, rng, now) for i in range((WARM + BATCHES) * LINES_PER_BATCH)]
        with open(log, "w") as fh:
            fh.writelines(lines)
        n_err = sum('"level": "ERROR"' in x or '"level": "FATAL"' in x for x in lines)
        expected = (n_err, len(lines) - n_err)
        yield f"{LINES_PER_BATCH} lines/batch, {BATCHES} batches", {
            v: _variant(spark, v, log, base, expected) for v in (*ROUTERS, "noop_write")
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)
