"""Sink behavior: s3-parity file layout (gzip NDJSON, time-partitioned
paths — /root/reference/x/s3/s3.go:128-148) and console/printer output."""

from __future__ import annotations

import glob
import gzip
import json
import os

from pyspark.sql import functions as F

from kawa_spark.envelope import normalize
from kawa_spark.sinks import FileSink


def test_file_sink_s3_layout(spark, tmp_path):
    out = str(tmp_path / "out")
    df = spark.range(6).select(
        F.concat(F.lit("msg-"), F.col("id")).alias("value"),
        F.lit("2024-03-05 14:30:00").cast("timestamp").alias("ingest_ts"),
    )
    FileSink(out, format="json", compression="gzip").write_batch(df)

    # time-partitioned directories (dt=…/hr=… ≙ prefix/YYYY/MM/DD/HH)
    parts = glob.glob(os.path.join(out, "dt=*/hr=*"))
    assert parts, os.listdir(out)
    assert parts[0].endswith("dt=2024-03-05/hr=14")

    # gzip NDJSON content, one JSON object per line
    files = glob.glob(os.path.join(parts[0], "*.json.gz"))
    assert files
    lines = []
    for f in files:
        with gzip.open(f, "rt") as fh:
            lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert sorted(r["value"] for r in lines) == [f"msg-{i}" for i in range(6)]


def test_file_sink_streaming_commit_log(spark, tmp_path):
    """Streaming file sink writes a _spark_metadata commit log —
    the exactly-once upgrade over the reference's at-least-once."""
    drop = tmp_path / "in"
    drop.mkdir()
    for i in range(3):
        (drop / f"{i}.txt").write_text(f"v{i}\n")
    out = str(tmp_path / "out")
    src = spark.readStream.format("text").load(str(drop))
    q = (
        FileSink(out, format="json", compression="gzip").start_stream(
            normalize(src, topic="t"),
            checkpoint=str(tmp_path / "cp"),
            available_now=True,
        )
    )
    assert q.awaitTermination(60)
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))
    back = spark.read.json(out)
    assert sorted(r["value"] for r in back.collect()) == ["v0", "v1", "v2"]


def test_file_sink_streaming_s3_layout(spark, tmp_path):
    """STREAMING path of the s3-parity layout (x/s3/s3.go:128-148
    semantics): event-time-partitioned dt=/hr= object naming, gzip
    NDJSON objects, and full content round-trip — the exact contract
    the reference's Flush writes per object, produced by writeStream
    instead of a hand-rolled batcher."""
    from kawa_spark.io import stream_table, table

    src = stream_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "event_type"
    )
    out = str(tmp_path / "out")
    q = FileSink(out, format="json", compression="gzip", partition_source="ts").start_stream(
        src, checkpoint=str(tmp_path / "cp"), available_now=True
    )
    assert q.awaitTermination(120)

    # dt=YYYY-MM-DD/hr=HH directories derived from EVENT time
    parts = glob.glob(os.path.join(out, "dt=*/hr=*"))
    assert parts, os.listdir(out)
    for p in parts:
        dt_dir, hr_dir = p.split("/")[-2:]
        assert len(dt_dir) == len("dt=2024-01-01") and dt_dir.startswith("dt=")
        assert len(hr_dir) == len("hr=00") and hr_dir.startswith("hr=")
        # every object inside is a gzip NDJSON file
        objs = glob.glob(os.path.join(p, "*"))
        assert objs and all(f.endswith(".json.gz") for f in objs), objs

    # content round-trip: every event arrives exactly once
    rows = []
    for f in glob.glob(os.path.join(out, "dt=*/hr=*/*.json.gz")):
        with gzip.open(f, "rt") as fh:
            rows += [json.loads(ln) for ln in fh if ln.strip()]
    expected = table(spark, "/root/testdata/sf0.001", "events").count()
    assert len(rows) == expected
    assert len({r["event_id"] for r in rows}) == expected


# ---------------------------------------------------------------------------
# r14: S3-compatible endpoint pass-through (VERDICT r13 item 6 —
# reference x/s3/s3.go:111-126). No network in this container, so the
# pin is the conf MAPPING (the test_kafka.py option-construction
# discipline): the knobs must land on the session hadoop conf under
# the right s3a keys, per-bucket when the sink path names a bucket.
# ---------------------------------------------------------------------------


def test_s3_options_conf_mapping():
    from kawa_spark.sinks.sinks import S3Options

    o = S3Options(
        endpoint="https://accountid.r2.cloudflarestorage.com",
        access_key="AK",
        secret_key="SK",
        region="auto",
        path_style_access=True,
    )
    confs = o.hadoop_confs("logs-bucket")
    assert confs == {
        "fs.s3a.bucket.logs-bucket.endpoint":
            "https://accountid.r2.cloudflarestorage.com",
        "fs.s3a.bucket.logs-bucket.access.key": "AK",
        "fs.s3a.bucket.logs-bucket.secret.key": "SK",
        "fs.s3a.bucket.logs-bucket.endpoint.region": "auto",
        "fs.s3a.bucket.logs-bucket.path.style.access": "true",
    }
    # global form (no bucket): plain fs.s3a.* keys
    assert set(o.hadoop_confs()) == {
        "fs.s3a.endpoint", "fs.s3a.access.key", "fs.s3a.secret.key",
        "fs.s3a.endpoint.region", "fs.s3a.path.style.access",
    }
    # credentials only land as a PAIR (the reference's
    # `accessKeyID != "" && secretAccessKey != ""` guard)
    half = S3Options(endpoint="e", access_key="AK")
    assert "fs.s3a.access.key" not in half.hadoop_confs()


def test_s3_bucket_extraction():
    from kawa_spark.sinks.sinks import _s3_bucket_of

    assert _s3_bucket_of("s3a://my-bucket/prefix/path") == "my-bucket"
    assert _s3_bucket_of("s3://b") == "b"
    assert _s3_bucket_of("s3n://b/x") == "b"
    assert _s3_bucket_of("/local/dir") is None
    assert _s3_bucket_of("s3a://") is None


def test_filesink_applies_s3_confs_per_bucket_only(spark):
    """_apply_s3 scopes every key per-bucket (fs.s3a.bucket.<name>.*)
    — never the global fs.s3a.* form, whose keys on the SHARED
    session conf clobber each other across sinks and leak credentials
    session-wide (ADVICE r14). Two sinks with different endpoints
    coexist."""
    from kawa_spark.sinks.sinks import FileSink, S3Options

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    a = FileSink(
        path="s3a://logs-a/prefix",
        s3=S3Options(endpoint="https://minio.local:9000", region="us-dev-1"),
    )
    b = FileSink(
        path="s3a://logs-b/prefix",
        s3=S3Options(
            endpoint="https://accountid.r2.cloudflarestorage.com",
            region="auto",
        ),
    )
    a._apply_s3(df)
    b._apply_s3(df)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert (
        hconf.get("fs.s3a.bucket.logs-a.endpoint")
        == "https://minio.local:9000"
    )
    assert (
        hconf.get("fs.s3a.bucket.logs-b.endpoint")
        == "https://accountid.r2.cloudflarestorage.com"
    )
    assert hconf.get("fs.s3a.bucket.logs-a.endpoint.region") == "us-dev-1"
    assert hconf.get("fs.s3a.bucket.logs-b.endpoint.region") == "auto"
    # and neither write touched the GLOBAL namespace
    assert hconf.get("fs.s3a.endpoint") is None


def test_filesink_s3_options_on_unscoped_path_is_loud(spark, tmp_path):
    """S3Options on a path with no bucket to scope to must raise —
    not silently write global fs.s3a.* keys (credentials included)
    onto the shared session conf (ADVICE r14)."""
    import pytest

    from kawa_spark.sinks.sinks import FileSink, S3Options

    sink = FileSink(
        path=str(tmp_path / "out"),
        time_partition=False,
        compression=None,
        s3=S3Options(
            endpoint="https://minio.local:9000",
            access_key="AK",
            secret_key="SK",
        ),
    )
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError, match="names no s3/s3a/s3n bucket"):
        sink.write_batch(df)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") is None
    assert hconf.get("fs.s3a.secret.key") is None
