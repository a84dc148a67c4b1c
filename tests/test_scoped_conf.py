"""Session conf swaps: scoped_conf restores what it changed, under
failure and under concurrent drains, and no module outside session.py
swaps session-global conf by hand. The checkpoint file manager
follows the checkpoint's scheme and never outlives a query's start();
a bounded drain's state-store cap stays inside the drain."""

from __future__ import annotations

import pathlib
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from kawa_spark.io import stream_table, table
from kawa_spark.queries.streaming_mode import _drain
from kawa_spark.session import (
    FS_CHECKPOINT_MANAGER,
    _default_driver_memory,
    checkpoint_conf,
    scoped_conf,
)
from kawa_spark.sinks import RoutingSink

PARTS = "spark.sql.shuffle.partitions"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
PKG = pathlib.Path(__file__).resolve().parent.parent / "kawa_spark"


def _counts(spark, src):
    """A small stateful aggregate over a parquet file stream."""
    return (
        spark.readStream.schema("k long")
        .parquet(str(src))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_scoped_conf_restores_after_start_raises(spark, tmp_path):
    spark.range(4).select(F.col("id").alias("k")).write.parquet(
        str(tmp_path / "src")
    )
    before = spark.conf.get(PARTS)
    # a streaming aggregate without a watermark cannot run in append
    # mode: start() raises inside the drain's conf scope
    with pytest.raises(Exception, match="(?i)append"):
        _drain(_counts(spark, tmp_path / "src"), spark, state_partitions=3)
    assert spark.conf.get(PARTS) == before
    assert spark.conf.get(MANAGER, None) is None

    key = "spark.kawa.test.scoped_conf_unset"
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {key: "x", PARTS: "5"}):
            assert spark.conf.get(key) == "x"
            raise RuntimeError("body failed")
    assert spark.conf.get(key, None) is None  # unset again, not ""
    assert spark.conf.get(PARTS) == before


def test_scoped_conf_restores_after_concurrent_drains(spark, tmp_path):
    """Two threads draining with different state partition counts on
    one session: unguarded save/set/restore pairs can interleave and
    leave the session at one thread's value for good."""
    spark.range(40).select((F.col("id") % 4).alias("k")).write.parquet(
        str(tmp_path / "src")
    )
    before = spark.conf.get(PARTS)
    results, errors = [], []

    def run(parts):
        try:
            for _ in range(3):
                out = _drain(
                    _counts(spark, tmp_path / "src"),
                    spark,
                    mode="complete",
                    state_partitions=parts,
                )
                results.append(sorted(tuple(r) for r in out.collect()))
        except Exception as e:  # surfaced in the main thread below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(p,)) for p in (2, 5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors
    assert results == [[(k, 10) for k in range(4)]] * 6
    assert spark.conf.get(PARTS) == before


def test_scoped_conf_serializes_threads(spark):
    """More threads than cores on one key, with a short switch
    interval: inside every scope the session holds that scope's own
    value (no other thread's set lands in between), and the original
    value is back at the end."""
    before = spark.conf.get(PARTS)
    seen, errors = [], []

    def run(i):
        try:
            for _ in range(20):
                with scoped_conf(spark, {PARTS: str(100 + i)}):
                    seen.append(spark.conf.get(PARTS) == str(100 + i))
        except Exception as e:  # surfaced in the main thread below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert seen == [True] * 160
    assert spark.conf.get(PARTS) == before


def test_no_session_conf_swaps_outside_session_module():
    """Session-global conf changes go through session.scoped_conf."""
    swap = re.compile(r"(?<![\w])conf\.(?:set|unset)\(")
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if not swap.search(line):
                continue
            offenders.append(f"{rel}:{no}: {line.strip()}")
    assert not offenders, offenders


@pytest.mark.parametrize("read", [table, stream_table])
def test_events_read_leaves_nanos_as_long_alone(spark, sf_dir, read):
    """Reading events writes no session conf: a session's nanosAsLong
    keeps the value it had before the read."""
    with scoped_conf(spark, {NANOS: "false"}):
        assert read(spark, sf_dir, "events").schema["ts"].dataType.typeName() == "timestamp"
        assert spark.conf.get(NANOS) == "false"


@pytest.mark.parametrize(
    "mem_total_kib, want",
    [(16479424, "7g"), (64 << 20, "16g"), (40 << 20, "16g"), (3 << 20, "1g"), (512 << 10, "1g")],
)
def test_default_driver_memory_is_half_the_host(tmp_path, mem_total_kib, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree:  1024 kB\nMemTotal:  {mem_total_kib} kB\n")
    assert _default_driver_memory(str(meminfo)) == want


def test_default_driver_memory_without_meminfo(tmp_path):
    assert _default_driver_memory(str(tmp_path / "missing")) == "16g"


class _StatePartitions(StreamingQueryListener):
    """Records the state operators' shuffle partition counts of every
    progress event; ``ended`` is set once a query terminates (events
    arrive in order, so its progress events are in by then)."""

    def __init__(self):
        self.parts = []
        self.ended = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        for op in event.progress.stateOperators:
            self.parts.append(op.numShufflePartitions)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.ended.set()


@pytest.mark.parametrize("state_partitions", [None, 2])
def test_drain_caps_state_stores_at_cores(spark, tmp_path, state_partitions):
    """A default drain asks for 8 state partitions and runs
    min(8, cores); an explicit smaller count is kept as it is."""
    spark.range(40).select((F.col("id") % 4).alias("k")).write.parquet(
        str(tmp_path / "src")
    )
    kwargs = {} if state_partitions is None else {"state_partitions": state_partitions}
    want = state_partitions or min(8, spark.sparkContext.defaultParallelism)
    listener = _StatePartitions()
    spark.streams.addListener(listener)
    try:
        out = _drain(
            _counts(spark, tmp_path / "src"), spark, mode="complete", **kwargs
        )
        assert listener.ended.wait(60)
    finally:
        spark.streams.removeListener(listener)
    assert sorted(tuple(r) for r in out.collect()) == [(k, 10) for k in range(4)]
    assert listener.parts and set(listener.parts) == {want}


class _SessionConf:
    """A routed sink that records the checkpoint manager its query's
    session holds while each microbatch is written."""

    def __init__(self):
        self.seen = []

    def write_batch(self, df):
        self.seen.append(df.sparkSession.conf.get(MANAGER, None))


def test_checkpoint_manager_follows_checkpoint_scheme(spark, tmp_path):
    """Every streaming start() scopes the FileSystem-based checkpoint
    manager for a checkpoint on the local filesystem (a path, a
    ``file:`` URI, or Spark's local temp checkpoint) and the session
    default for any other scheme; the session never keeps it after
    start()."""
    assert checkpoint_conf(spark, str(tmp_path / "cp")) == FS_CHECKPOINT_MANAGER
    assert checkpoint_conf(spark, f"file://{tmp_path}/cp") == FS_CHECKPOINT_MANAGER
    assert checkpoint_conf(spark, None) == FS_CHECKPOINT_MANAGER
    assert checkpoint_conf(spark, "s3a://bucket/cp") == {}
    assert checkpoint_conf(spark, "hdfs://nn:8020/cp") == {}
    root = "spark.sql.streaming.checkpointLocation"
    with scoped_conf(spark, {root: "hdfs://nn:8020/checkpoints"}):
        assert checkpoint_conf(spark, None) == {}

    spark.range(40).select((F.col("id") % 4).alias("k")).write.parquet(
        str(tmp_path / "src")
    )
    src = spark.readStream.schema("k long").parquet(str(tmp_path / "src"))
    _drain(_counts(spark, tmp_path / "src"), spark, mode="complete")
    assert spark.conf.get(MANAGER, None) is None
    # a durable checkpointed RoutingSink on a local path: its query
    # runs under the manager, the session does not keep it
    sink = _SessionConf()
    q = RoutingSink(route_col="k", routes={}, default=sink).start_stream(
        src.select(F.col("k").cast("string").alias("k")),
        checkpoint=str(tmp_path / "cp"),
        available_now=True,
    )
    assert q.awaitTermination(120)
    assert sink.seen == [FS_CHECKPOINT_MANAGER[MANAGER]]
    assert spark.conf.get(MANAGER, None) is None


@pytest.mark.parametrize(
    "manager",
    ["FileSystemBasedCheckpointFileManager", "FileContextBasedCheckpointFileManager"],
)
def test_checkpoint_managers_refuse_to_overwrite_offsets(spark, tmp_path, manager):
    """On ``file:`` the FileSystem-based manager is as safe as the
    FileContext-based default: with overwriteIfPossible=false neither
    replaces an existing ``offsets/N``."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    offsets = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/offsets")
    cls = getattr(
        jvm.org.apache.spark.sql.execution.streaming.checkpointing, manager
    )
    fm = cls(offsets, conf)
    fm.mkdirs(offsets)
    first = jvm.org.apache.hadoop.fs.Path(offsets, "0")

    def write(data: bytes, overwrite: bool):
        out = fm.createAtomic(first, overwrite)
        out.write(bytearray(data))
        out.close()

    write(b"v1", False)
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
        write(b"v2", False)
    assert (tmp_path / "offsets" / "0").read_bytes() == b"v1"
