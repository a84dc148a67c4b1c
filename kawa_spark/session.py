"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``);
on a real cluster the same builder is used minus the master override.
The defaults here are the ones that matter at 100 TB:

* AQE on (runtime coalesce + skew-join splitting) so shuffle
  partition counts self-tune per stage instead of being hand-set.
* ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. It is DERIVED (max(32, cores); r15 optimization round)
  rather than hand-set for one box; a cluster deployment sets
  ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` (or ``extra_conf``) to ~2-3x
  total executor cores.
* Arrow enabled so any pandas UDF / toPandas path is vectorized.
* UTC session timezone so timestamp semantics are engine-independent
  (parquet naive timestamps == oracle's naive timestamps).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import SparkSession

_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, values: dict[str, str]) -> Iterator[None]:
    """Set session conf ``values`` for the body, then restore every key
    to its previous value (unsetting keys that were unset) in a
    ``finally``. The module lock is held from set to restore, so two
    threads sharing one session cannot interleave their saves and
    restores and leave the session at the other thread's value. The
    lock is reentrant, so scopes nest within one thread.

    Meant for ``start()`` of a streaming query, which snapshots the
    session conf: the body should be short, because every other
    scoped swap on the process waits for it."""
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in values}
        try:
            for k, v in values.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


# Checkpoint file manager for checkpoints on the local filesystem.
# Without Hadoop's native library the local filesystem shells out for
# link status, so the session default (FileContext-based) renames each
# checkpoint and state file through two spawned ``readlink``
# processes; this manager renames with one rename(2). On ``file:``
# paths it is no less atomic than the default: both check the
# destination, refuse to overwrite it and then rename (docs/SCALE.md,
# "One checkpoint-manager rule").
FS_CHECKPOINT_MANAGER = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
}


def checkpoint_conf(spark: SparkSession, location: str | None) -> dict[str, str]:
    """Conf to scope into the ``start()`` of a streaming query that
    checkpoints at ``location`` (None: the session's checkpoint root,
    else Spark's local temp dir): ``FS_CHECKPOINT_MANAGER`` when the
    checkpoint is on the local filesystem, nothing (the session
    default) on any other scheme."""
    location = location or spark.conf.get(
        "spark.sql.streaming.checkpointLocation", None
    )
    scheme = urlparse(location).scheme if location else "file"
    if not scheme:
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS")
        scheme = urlparse(default_fs or "file:///").scheme
    return dict(FS_CHECKPOINT_MANAGER) if scheme == "file" else {}


def _default_shuffle_partitions() -> str:
    """Scale-adaptive INITIAL shuffle partition count (r15
    optimization round — the guide's "derive from environment, don't
    hand-tune for one box" rule): explicit
    ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` wins (the cluster knob — size
    to 2-3x total executor cores there); otherwise max(32, core
    count) so local runs at any ``$SPARK_GRAFT_CPUS`` keep the
    long-standing 32-partition floor (bench-comparable at the
    driver's 32-core config, enough tasks to spread skew at lower
    core counts) while bigger hosts scale up. AQE coalesces
    downward per stage either way — this is only the ceiling the
    coalescer starts from.

    Called from ``get_spark`` (ADVICE r15): evaluating it at module
    import froze the env vars at first-import time, silently ignoring
    a ``SPARK_GRAFT_SHUFFLE_PARTITIONS``/``SPARK_GRAFT_CPUS`` set
    afterwards. An explicit non-positive-integer value is rejected
    loudly instead of passed through to Spark."""
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if explicit:
        if not explicit.isdigit() or int(explicit) <= 0:
            raise ValueError(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive "
                f"integer, got {explicit!r}"
            )
        return explicit
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    n = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    return str(max(32, n))


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's ``MemTotal`` in whole GiB, between 1g and 16g.

    Local mode runs the executors inside the driver JVM, and the JVM
    also needs memory beyond its heap, as do the Python workers: a 16g
    heap on a 15 GiB host let the JVM grow until the kernel killed it
    (a 10x scale probe). 16g when ``MemTotal`` cannot be read."""
    try:
        with open(meminfo) as fh:
            kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(16, max(1, kib // 2 // (1 << 20)))}g"


DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # nanos-era testdata encoded events.ts as parquet TIMESTAMP(NANOS);
    # Spark reads it as long with this flag and kawa_spark.io converts
    # to a µs timestamp (today's testdata is timestamp[us]).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: 32 MB — the TPC-H dims (region/nation/
    # customer/supplier/part at bench SF) all broadcast; at 100 TB the
    # fact tables never do, which is exactly the split we want.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # Changelog checkpointing: commit per-batch state DELTAS to the
    # checkpoint instead of uploading a full RocksDB snapshot every
    # batch — the per-batch store lifecycle was the measured floor of
    # the stateful streaming tier (r8 experiment, docs/STATUS.md:
    # incremental-rollup drain 2.64 → 2.12 s min-of-3 from this flag
    # alone). At 100 TB state volumes the delta-vs-snapshot gap is the
    # difference between O(changed keys) and O(state) per commit.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
    # Local mode runs executors inside the driver JVM, whose default
    # heap (1g) starves 32 concurrent tasks long before the host does —
    # measured: a 10x sf0.1 scale probe OOM-killed the JVM. Heap must
    # be set before JVM launch, so it only applies to sessions this
    # factory creates (a cluster deployment sizes executors instead).
    "spark.driver.memory": (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    ),
    "spark.driver.maxResultSize": "4g",
}


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(
    app_name: str = "kawa_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Idempotent within a JVM."""
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    conf = dict(DEFAULT_CONF)
    # derived at call time, not import time (ADVICE r15)
    conf.setdefault(
        "spark.sql.shuffle.partitions", _default_shuffle_partitions()
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
