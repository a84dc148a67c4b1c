"""Sinks. Each exposes ``write_batch(df)`` and
``start_stream(df, trigger, checkpoint)``.

Parity map (reference file:line):
* ConsoleSink      ≙ printer destination (/root/reference/x/printer/printer.go:48-71)
* MemorySink       ≙ x/memory channel sink (queryable temp view)
* FileSink         ≙ s3 destination: compressed newline-JSON objects in
                     time-partitioned paths (/root/reference/x/s3/s3.go:107-162);
                     the file-sink commit log upgrades at-least-once to
                     exactly-once for idempotent readers
* ForeachBatchSink ≙ batcher destination + Flusher + ErrorHandler
                     (/root/reference/x/batcher/batcher.go) — see
                     kawa_spark.streaming.batcher for the policy knobs
* MultiSink        ≙ fan-out destination (/root/reference/x/multi/multidest.go:20-49):
                     each inner sink gets its own stream + checkpoint,
                     which IS kawa's semantics (independent acks per
                     destination)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kawa_spark.session import checkpoint_conf, scoped_conf
from kawa_spark.streaming.batcher import BatcherPolicy, make_foreach_batch


def _start(writer, trigger: str | None, checkpoint: str | None, available_now: bool):
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    spark = writer._spark
    with scoped_conf(spark, checkpoint_conf(spark, checkpoint)):
        return writer.start()


@dataclass
class ConsoleSink:
    num_rows: int = 20

    def write_batch(self, df: DataFrame) -> None:
        df.show(self.num_rows, truncate=False)

    def start_stream(self, df, trigger=None, checkpoint=None, available_now=False):
        return _start(
            df.writeStream.format("console").option("numRows", str(self.num_rows)),
            trigger,
            checkpoint,
            available_now,
        )


@dataclass
class MemorySink:
    """Results land in a temp view named ``name`` (stream) or are
    materialized to a local list (batch)."""

    name: str
    output_mode: str = "append"

    def write_batch(self, df: DataFrame) -> None:
        df.createOrReplaceTempView(self.name)

    def start_stream(self, df, trigger=None, checkpoint=None, available_now=False):
        return _start(
            df.writeStream.format("memory")
            .queryName(self.name)
            .outputMode(self.output_mode),
            trigger,
            checkpoint,
            available_now,
        )


@dataclass
class S3Options:
    """S3-compatible endpoint surface, mirroring the reference's
    custom-endpoint/static-credentials/region config
    (/root/reference/x/s3/s3.go:111-126 — "some s3 compatible
    services will not work correctly, like R2" without these).
    Maps onto the hadoop-aws s3a connector's configuration keys;
    ``path_style_access`` is the extra knob most S3-compatible
    stores (R2/minio) need that the reference's aws-sdk sets
    implicitly from the endpoint shape."""

    endpoint: str | None = None  # ≙ s3.go customEndpoint
    access_key: str | None = None  # ≙ s3.go accessKeyID
    secret_key: str | None = None  # ≙ s3.go secretAccessKey
    region: str | None = None  # ≙ s3.go bucketRegion
    path_style_access: bool = False

    def hadoop_confs(self, bucket: str | None = None) -> dict[str, str]:
        """The s3a conf mapping. With ``bucket``, keys are emitted in
        per-bucket form (``fs.s3a.bucket.<name>.*``) so two FileSinks
        pointing at different S3-compatible stores coexist in one
        SparkSession — the multi-destination case the reference runs
        as separate processes."""
        base = f"fs.s3a.bucket.{bucket}" if bucket else "fs.s3a"
        confs: dict[str, str] = {}
        if self.endpoint:
            confs[f"{base}.endpoint"] = self.endpoint
        if self.access_key and self.secret_key:
            confs[f"{base}.access.key"] = self.access_key
            confs[f"{base}.secret.key"] = self.secret_key
        if self.region:
            confs[f"{base}.endpoint.region"] = self.region
        if self.path_style_access:
            confs[f"{base}.path.style.access"] = "true"
        return confs


def _s3_bucket_of(path: str) -> str | None:
    """bucket name if ``path`` is an s3/s3a/s3n URI, else None."""
    for scheme in ("s3a://", "s3://", "s3n://"):
        if path.startswith(scheme):
            rest = path[len(scheme):]
            return rest.split("/", 1)[0] or None
    return None


@dataclass
class FileSink:
    """s3-destination parity: ``prefix/YYYY/MM/DD/HH/…`` becomes hive
    partitioning ``dt=…/hr=…`` (same pruning properties, atomically
    committed via the file-sink log). ``s3`` (optional) carries the
    endpoint/credentials/region pass-through for S3-compatible
    stores; applied to the session's hadoop conf per-bucket at write
    time (no network touched until the write itself runs)."""

    path: str
    format: str = "json"  # gzip NDJSON ≙ reference objects
    compression: str | None = "gzip"
    time_partition: bool = True
    partition_source: str = "ingest_ts"
    s3: S3Options | None = None

    def _apply_s3(self, df: DataFrame) -> None:
        if self.s3 is None:
            return
        bucket = _s3_bucket_of(self.path)
        if bucket is None:
            # Refuse to fall back to GLOBAL fs.s3a.* keys (ADVICE
            # r14): globals on the shared session conf clobber each
            # other across sinks — silently defeating the documented
            # per-bucket multi-destination coexistence — and leak
            # credentials into session scope when the path isn't even
            # an object-store URI. An S3Options on a non-s3 path is a
            # configuration error; say so loudly.
            raise ValueError(
                f"FileSink(path={self.path!r}) carries S3Options but the "
                "path names no s3/s3a/s3n bucket to scope them to; "
                "per-bucket confs (fs.s3a.bucket.<name>.*) are the only "
                "form applied to the shared session hadoop conf"
            )
        hconf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
        for k, v in self.s3.hadoop_confs(bucket).items():
            hconf.set(k, v)

    def _prep(self, df: DataFrame) -> tuple[DataFrame, list[str]]:
        if not self.time_partition:
            return df, []
        src = (
            F.col(self.partition_source)
            if self.partition_source in df.columns
            else F.current_timestamp()
        )
        out = df.withColumn("dt", F.date_format(src, "yyyy-MM-dd")).withColumn(
            "hr", F.date_format(src, "HH")
        )
        return out, ["dt", "hr"]

    def write_batch(self, df: DataFrame) -> None:
        self._apply_s3(df)
        out, parts = self._prep(df)
        w = out.write.format(self.format).mode("append")
        if self.compression:
            w = w.option("compression", self.compression)
        if parts:
            w = w.partitionBy(*parts)
        w.save(self.path)

    def start_stream(self, df, trigger=None, checkpoint=None, available_now=False):
        self._apply_s3(df)
        out, parts = self._prep(df)
        w = out.writeStream.format(self.format).option("path", self.path)
        if self.compression:
            w = w.option("compression", self.compression)
        if parts:
            w = w.partitionBy(*parts)
        return _start(w, trigger, checkpoint, available_now)


@dataclass
class ForeachBatchSink:
    """Batcher-parity sink: user flush function + retry/error policy.

    flush(df, batch_id) is the Flusher
    (/root/reference/x/batcher/batcher.go:30-38); policy carries
    retries/backoff/error handling (§ batcher.py).
    """

    flush: object  # Callable[[DataFrame, int], None]
    policy: BatcherPolicy = field(default_factory=BatcherPolicy)

    def write_batch(self, df: DataFrame) -> None:
        make_foreach_batch(self.flush, self.policy)(df, -1)

    def start_stream(self, df, trigger=None, checkpoint=None, available_now=False):
        return _start(
            df.writeStream.foreachBatch(make_foreach_batch(self.flush, self.policy)),
            trigger,
            checkpoint,
            available_now,
        )


@dataclass
class NoopSink:
    """Benchmark sink: full execution, zero output cost."""

    def write_batch(self, df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    def start_stream(self, df, trigger=None, checkpoint=None, available_now=False):
        return _start(df.writeStream.format("noop"), trigger, checkpoint, available_now)


@dataclass
class RoutingSink:
    """Content-based routing — the reference's ROADMAP feature
    ("routing and dynamic sources", /root/reference/README.md:40-44)
    that kawa itself never implemented.

    Each microbatch is split by ``route_col``; each route's rows go to
    its sink; unmatched and null rows go to ``default`` (or are
    dropped). Route values that map to the same sink object are
    filtered together with one ``isin``, so each distinct sink gets
    exactly one ``write_batch`` per microbatch.

    The batch is not cached: each write re-reads the microbatch's
    fixed offset range, which the at-least-once replay contract
    already guarantees returns the same rows. Measured on the log
    pipeline (docs/SCALE.md), the merged write is the saving; a cache
    on top of it moved CPU by under 10% either way, with no consistent
    sign across same-JVM probes at 800 and 50,000 lines per batch and
    the paced log_stream benchmark."""

    route_col: str
    routes: dict  # value -> sink
    default: object | None = None

    def _dispatch(self, df: DataFrame, batch_id: int) -> None:
        col = F.col(self.route_col)
        by_sink: dict[int, tuple[object, list]] = {}
        for value, sink in self.routes.items():
            by_sink.setdefault(id(sink), (sink, []))[1].append(value)
        for sink, values in by_sink.values():
            sink.write_batch(df.filter(col.isin(values)))
        if self.default is not None:
            self.default.write_batch(
                df.filter(~col.isin(list(self.routes)) | col.isNull())
            )

    def write_batch(self, df: DataFrame) -> None:
        self._dispatch(df, -1)

    def start_stream(self, df, trigger=None, checkpoint=None, available_now=False):
        return _start(
            df.writeStream.foreachBatch(self._dispatch),
            trigger,
            checkpoint,
            available_now,
        )


class StreamingQueryGroup:
    """StreamingQuery-shaped facade over N fan-out queries, so
    ``Pipeline.run_stream`` callers (``q.awaitTermination()`` /
    ``q.stop()``) work unchanged whether the sink is single or multi.
    Indexable/iterable for callers that want the individual queries."""

    def __init__(self, queries: list[StreamingQuery]):
        self.queries = queries

    def awaitTermination(self, timeout: float | None = None) -> bool:
        ok = True
        for q in self.queries:
            res = q.awaitTermination(timeout) if timeout is not None else (
                q.awaitTermination() or True
            )
            ok = ok and bool(res)
        return ok

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    @property
    def isActive(self) -> bool:
        return any(q.isActive for q in self.queries)

    def __iter__(self):
        return iter(self.queries)

    def __getitem__(self, i: int) -> StreamingQuery:
        return self.queries[i]

    def __len__(self) -> int:
        return len(self.queries)


@dataclass
class MultiSink:
    """Fan-out: one independent stream (own checkpoint) per inner sink
    — matching kawa's per-destination ack independence
    (/root/reference/x/multi/multidest.go:34-49). For cost-coupled
    fan-out (one stream, one ack per batch), use a ForeachBatchSink
    whose flush writes the batch N times; docs/SCALE.md (RoutingSink
    dispatch) has the measured cost of caching the batch between the
    writes, which is small either way on the log pipeline."""

    sinks: list

    def write_batch(self, df: DataFrame) -> None:
        if len(self.sinks) > 1:
            df.persist()
        try:
            for s in self.sinks:
                s.write_batch(df)
        finally:
            if len(self.sinks) > 1:
                df.unpersist()

    def start_stream(
        self, df, trigger=None, checkpoint=None, available_now=False
    ) -> StreamingQueryGroup:
        queries: list[StreamingQuery] = []
        for i, s in enumerate(self.sinks):
            cp = f"{checkpoint}/dest{i}" if checkpoint else None
            queries.append(
                s.start_stream(
                    df, trigger=trigger, checkpoint=cp, available_now=available_now
                )
            )
        return StreamingQueryGroup(queries)
