"""Table access for the driver-generated testdata.

One reader used by every query so pushdown/pruning behavior is uniform:
``spark.read.parquet`` gives Catalyst the parquet footprint directly —
filters and projections land in the scan (PushedFilters / ReadSchema),
which is the whole 100 TB story: a query touching 2 columns of
lineitem must read 2 column chunks, not 11.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to session-timezone TIMESTAMP.

    The driver has shipped events.ts in three physical encodings across
    testdata regenerations; every downstream event-time op (withWatermark,
    RANGE frames, unix_micros) requires plain TIMESTAMP, so normalize all
    of them here — the single choke point every reader goes through:

    - parquet TIMESTAMP(NANOS): read as bigint via the legacy
      ``nanosAsLong`` conf, truncate ns→µs (DuckDB semantics).
    - untimezoned ``timestamp[us]``: Spark 4 infers TIMESTAMP_NTZ; cast to
      TIMESTAMP. Session timezone is pinned UTC (session.py), so the cast
      reinterprets identical micros — lossless and oracle-neutral.
    - timezoned ``timestamp[us, tz=UTC]``: already TIMESTAMP; no-op.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        from pyspark.sql import functions as F

        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        from pyspark.sql import functions as F

        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ONLY when the scan produced too few partitions to
    occupy the cluster — the single-file small-SF testdata case, where
    CPU-bound downstream work (shingling, hashing, explodes) would
    otherwise run on one core.

    At production scale parquet file splits already provide ample
    partitions, and this is a no-op: an unconditional ``repartition``
    here would be a full-table Exchange before work that is often
    map-only or broadcast-joined — the classic avoidable shuffle at
    100 TB. Partition count is read from the physical plan (no job).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


# Session confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMAS: dict[tuple, StructType] = {}


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, memoized on each
    data file's (realpath, size, mtime_ns) and the inference confs:
    inference runs one Spark job per read, and the warm per-call cost
    of ``table()`` was mostly that job (0.112 → 0.024 CPU s)."""
    if not os.path.exists(path):  # not local: no memo
        return spark.read.parquet(path).schema
    files = [path]
    if os.path.isdir(path):
        files = []
        for d, subdirs, names in os.walk(path, followlinks=True):
            # Spark skips hidden and metadata entries ("_", ".")
            subdirs[:] = [x for x in subdirs if not x.startswith(("_", "."))]
            files += [
                os.path.join(d, f) for f in names if not f.startswith(("_", "."))
            ]
        files.sort()
    stats = []
    for f in files:
        st = os.stat(f)
        stats.append((os.path.realpath(f), st.st_size, st.st_mtime_ns))
    key = (tuple(stats), tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(_parquet_schema(spark, path)).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NOTE (r6 negative result): do NOT centrally spread() fact scans
    # here. The local testdata is one row group per file (single-core
    # scans), and an experiment repartitioning every fact table at
    # table() made the bench WORSE (35→50 s): join pipelines paid a
    # full round-robin exchange before the hash exchanges/broadcast
    # streams they already had. spread() stays a per-operator decision
    # at the CPU-bound call sites that profiling justified.
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Legacy flag for the nanos-era encoding; harmless otherwise.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # static conf on some builds; session default covers it
        df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        return _normalize_ts(df)
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The same relation as ``table`` but as a streaming DataFrame.

    Streaming file sources need a directory; the testdata ships single
    files, so we stage a per-(sf,table) symlink dir under /tmp. Handles
    the events nanos→µs conversion identically to ``table``.
    """
    import tempfile

    src = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    stage = os.path.join(
        tempfile.gettempdir(),
        "kawa_spark_stream",
        sf_dir.strip("/").replace("/", "_"),
        name,
    )
    os.makedirs(stage, exist_ok=True)
    # the table may be a single file (driver testdata) or a Spark
    # output directory (e.g. the scale probe's synthetic tables) —
    # stage the actual part files either way, since a nested dir
    # symlink is invisible to the file-stream source
    if os.path.isdir(src):
        parts = sorted(
            f for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith(".")
        )
    else:
        parts = None
    # The stage dir persists across source regenerations (keyed only by
    # (sf_dir, name)), so links can dangle or point at stale parts after
    # a table is rebuilt with different part filenames/counts. Reconcile
    # the link set exactly: drop any entry that isn't a desired link, a
    # correct target, and resolvable; then (re-)create what's missing.
    desired = {}
    for i, part in enumerate(parts or [None]):
        target = os.path.join(src, part) if part else src
        desired[f"part-{i}.parquet"] = os.path.realpath(target)
    for entry in os.listdir(stage):
        link = os.path.join(stage, entry)
        want = desired.get(entry)
        if (
            want is None
            or os.path.realpath(link) != want
            or not os.path.exists(link)  # dangling symlink
        ):
            try:
                os.remove(link)
            except FileNotFoundError:
                pass  # concurrent reconcile of the same table
    for fname, target in desired.items():
        link = os.path.join(stage, fname)
        if not os.path.lexists(link):
            try:
                os.symlink(target, link)
            except FileExistsError:
                pass  # concurrent staging of the same table

    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.readStream.schema(_parquet_schema(spark, stage)).parquet(stage)
    if name == "events":
        df = _normalize_ts(df)
    return df
