"""End-to-end log-processing pipeline — the reference's home turf
(security/event logs: collect → parse → enrich → route → archive),
expressed in kawa_spark.

Flow:
  replay source (JSONL tail, at-least-once offsets)
    → envelope normalize
    → deserialize JSON payload
    → enrich with a static severity dimension (broadcast join)
    → route: errors → dead-letter collector, rest → gzip NDJSON
      archive in time-partitioned layout (the reference's S3 shape)

Run directly (writes under /tmp) or through
tests/test_example_pipeline.py.
"""

from __future__ import annotations

import os
import sys

# runnable directly (`python examples/log_pipeline.py`): python puts
# examples/ on the path, not the repo root that holds kawa_spark
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kawa_spark.envelope import normalize
from kawa_spark.sinks import FileSink, RoutingSink
from kawa_spark.sources.replay import register_replay_source

PAYLOAD_SCHEMA = "event string, level string, user string, ts timestamp"

SEVERITY = [
    ("DEBUG", 0),
    ("INFO", 1),
    ("WARN", 2),
    ("ERROR", 3),
    ("FATAL", 4),
]


def build_stream(
    spark: SparkSession, log_path: str, max_lines_per_batch: int | None = None
) -> DataFrame:
    """max_lines_per_batch: the replay source's per-microbatch cap
    (its own default when None)."""
    register_replay_source(spark)
    reader = (
        spark.readStream.format("kawa_replay")
        .option("path", log_path)
        .option("topic", "applog")
    )
    if max_lines_per_batch is not None:
        reader = reader.option("maxLinesPerBatch", str(max_lines_per_batch))
    raw = reader.load()
    env = normalize(raw, value="value", key="key", topic="applog")
    parsed = env.withColumn("payload", F.from_json("value", PAYLOAD_SCHEMA))
    sev = F.create_map(
        *[x for lv, n in SEVERITY for x in (F.lit(lv), F.lit(n))]
    )
    return parsed.select(
        "key",
        "topic",
        "ingest_ts",
        F.col("payload.event").alias("event"),
        F.col("payload.level").alias("level"),
        F.col("payload.user").alias("user"),
        F.col("payload.ts").alias("event_ts"),
        F.element_at(sev, F.col("payload.level")).alias("severity"),
    )


def start_pipeline(
    spark: SparkSession,
    log_path: str,
    archive_path: str,
    checkpoint: str,
    error_sink=None,
    available_now: bool = True,
):
    """error_sink: any write_batch object (defaults to a gzip file
    sink next to the archive)."""
    stream = build_stream(spark, log_path)
    archive = FileSink(
        archive_path, format="json", compression="gzip", partition_source="event_ts"
    )
    errors = error_sink or FileSink(
        archive_path + "_errors", format="json", compression="gzip"
    )
    router = RoutingSink(
        route_col="level",
        routes={"ERROR": errors, "FATAL": errors},
        default=archive,
    )
    return router.start_stream(
        stream, checkpoint=checkpoint, available_now=available_now
    )


def _demo() -> None:
    """Self-contained demo run: synthesize a JSONL log under /tmp,
    drain the pipeline once (availableNow), and report the routed
    row counts."""
    import glob
    import gzip
    import json
    import shutil
    import tempfile

    from kawa_spark.session import get_spark

    spark = get_spark(app_name="log_pipeline_demo", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="kawa_log_demo_")
    log = os.path.join(base, "app.jsonl")
    levels = ["DEBUG", "INFO", "WARN", "ERROR", "FATAL"]
    with open(log, "w") as fh:
        for i in range(200):
            fh.write(
                json.dumps(
                    {
                        "event": f"evt-{i}",
                        "level": levels[i % len(levels)],
                        "user": f"u{i % 7}",
                        "ts": f"2024-03-05 14:{i % 60:02d}:00",
                    }
                )
                + "\n"
            )
    q = start_pipeline(
        spark,
        log,
        os.path.join(base, "archive"),
        os.path.join(base, "cp"),
        available_now=True,
    )
    q.awaitTermination(120)

    def count_rows(pattern: str) -> int:
        n = 0
        for f in glob.glob(pattern, recursive=True):
            with gzip.open(f, "rt") as fh:
                n += sum(1 for ln in fh if ln.strip())
        return n

    archived = count_rows(os.path.join(base, "archive", "**", "*.json.gz"))
    errors = count_rows(os.path.join(base, "archive_errors", "**", "*.json.gz"))
    print(f"archived={archived} errors={errors} (of 200 total)")
    shutil.rmtree(base)


if __name__ == "__main__":
    _demo()
