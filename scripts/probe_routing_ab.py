#!/usr/bin/env python
"""A/B probe for RoutingSink's microbatch dispatch, same JVM: the log
pipeline of examples/log_pipeline.py (ERROR and FATAL share one
batcher sink with a DLQ; the rest go to the gzip time-partitioned
archive) drained over a pre-written log at a fixed batch size.

Variants, run alternately ``reps`` times each:

* ``per_value_persist``: the previous dispatch — persist the batch, one
  filtered write per route value (ERROR and FATAL written separately),
  unpersist.
* ``grouped_persist``: one write per distinct sink, batch persisted.
* ``grouped``: the registered dispatch — one write per distinct sink,
  no cache.
* ``noop_write``: the same stream with one noop write per batch (the
  batch is read and parsed, nothing is written).

Each run starts a fresh query and checkpoint, lets ``warm`` batches
pass, then reports CPU seconds (this process plus the Spark JVM and
everything below it) and wall seconds per batch over the next
``batches`` batches. The routed outputs are counted back against the
log, so every routing variant is checked to deliver each line once.

Usage: python scripts/probe_routing_ab.py [lines_per_batch] [batches] [reps] [warm]
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
# the Python streaming source runs in its own process, which finds
# kawa_spark only through PYTHONPATH (set before the JVM starts)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

from pyspark.sql import functions as F  # noqa: E402

import examples.log_pipeline as lp  # noqa: E402
from kawa_spark.session import get_spark  # noqa: E402
from kawa_spark.sinks import (  # noqa: E402
    FileSink,
    ForeachBatchSink,
    NoopSink,
    RoutingSink,
)
from kawa_spark.streaming.batcher import BatcherPolicy, ErrorPolicy  # noqa: E402
from loadgen import line  # noqa: E402
from observe import CpuMeter  # noqa: E402


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


def _run(spark, variant, log, n, warm, batches, w, expected):
    """One drain of the whole log; returns (cpu_s, wall_s) per batch.
    ``expected``: (errors, archive) line counts the routed outputs hold."""
    archive_dir, errors_dir = os.path.join(w, "archive"), os.path.join(w, "errors")
    stream = lp.build_stream(spark, log, max_lines_per_batch=n)
    if variant == "noop_write":
        q = ForeachBatchSink(lambda df, i: NoopSink().write_batch(df)).start_stream(
            stream, checkpoint=os.path.join(w, "cp")
        )
    else:
        def write_errors(df, batch_id):
            df.write.mode("append").format("json").option(
                "compression", "gzip"
            ).save(errors_dir)

        policy = BatcherPolicy(
            error_policy=ErrorPolicy.DLQ, dlq_path=os.path.join(w, "dlq")
        )
        errors = ForeachBatchSink(write_errors, policy)
        archive = FileSink(
            archive_dir, format="json", compression="gzip", partition_source="event_ts"
        )
        router = ROUTERS[variant](
            route_col="level",
            routes={"ERROR": errors, "FATAL": errors},
            default=archive,
        )
        q = router.start_stream(stream, checkpoint=os.path.join(w, "cp"))
    meter = CpuMeter(spark.sparkContext._gateway.proc.pid)

    def done() -> int:
        if q.exception() is not None:
            raise RuntimeError(f"{variant}: query failed: {q.exception()}")
        return sum(1 for p in q.recentProgress if p.numInputRows > 0)

    try:
        while done() < warm:
            time.sleep(0.01)
        c0, t0 = meter.read(), time.perf_counter()
        while done() < warm + batches:
            time.sleep(0.01)
        c1, t1 = meter.read(), time.perf_counter()
    finally:
        q.stop()
    if variant != "noop_write":
        got_err = spark.read.json(errors_dir).count()
        got_arc = spark.read.json(archive_dir).count()
        if (got_err, got_arc) != expected:
            raise RuntimeError(
                f"{variant}: routed {got_err}/{got_arc}, want {expected}"
            )
    return (c1 - c0) / batches, (t1 - t0) / batches


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 800
    batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    warm = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    spark = get_spark(app_name="probe_routing_ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    base = tempfile.mkdtemp(prefix="kawa_routing_ab_")
    try:
        log = os.path.join(base, "app.jsonl")
        rng, now = random.Random(7), time.time()
        lines = [line(i, rng, now) for i in range((warm + batches) * n)]
        with open(log, "w") as fh:
            fh.writelines(lines)
        n_err = sum('"level": "ERROR"' in x or '"level": "FATAL"' in x for x in lines)
        expected = (n_err, len(lines) - n_err)

        results: dict[str, list[tuple[float, float]]] = {}
        for rep in range(reps):
            for variant in (*ROUTERS, "noop_write"):
                w = os.path.join(base, f"{variant}_{rep}")
                results.setdefault(variant, []).append(
                    _run(spark, variant, log, n, warm, batches, w, expected)
                )
                shutil.rmtree(w)
        print(f"{n} lines/batch, {batches} batches x {reps} reps "
              f"(median over reps; per batch)")
        print(f"{'dispatch':20s} {'cpu_s':>8s} {'wall_s':>8s}")
        for variant, rows in results.items():
            cpu = statistics.median(c for c, _ in rows)
            wall = statistics.median(t for _, t in rows)
            print(f"{variant:20s} {cpu:8.3f} {wall:8.3f}", flush=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
