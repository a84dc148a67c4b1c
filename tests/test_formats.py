"""Storage-format breadth: FileSink round-trips every built-in
columnar/text format Spark ships, and partitioned layouts prune.

Reference parity: the reference's only storage sink is gzip NDJSON
objects (x/s3/s3.go:107-162); this engine keeps that (json+gzip
default) and adds the columnar formats a 100 TB corpus actually
lives in.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kawa_spark.io import table
from kawa_spark.sinks.sinks import FileSink

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip(spark, tmp_path, fmt):
    src = table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    out = str(tmp_path / fmt)
    FileSink(out, format=fmt, compression=None, time_partition=False).write_batch(src)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        # text formats don't carry a schema; supply the source's
        reader = reader.schema(src.schema).option("header", "false")
    got = reader.load(out)
    assert got.count() == src.count()
    a = got.agg(F.sum("o_orderkey"), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0]
    b = src.agg(F.sum("o_orderkey"), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0]
    assert tuple(a) == tuple(b)


@pytest.mark.parametrize("encoding", ["timestamp_utc", "timestamp_ntz", "nanos_bigint"])
def test_events_ts_normalization(spark, tmp_path, encoding):
    """``table()`` must normalize every ts encoding the driver has ever
    shipped (tz-aware µs, untimezoned µs → NTZ, legacy nanos-as-bigint)
    to plain TIMESTAMP with identical micros — so the next silent
    testdata regeneration can't break event-time ops again."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kawa_spark.io import table as load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789 // 1000 * 1000]
    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["a", "b"], pa.string()),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"], pa.string()),
    }
    if encoding == "timestamp_utc":
        ts = pa.array(micros, pa.timestamp("us", tz="UTC"))
    elif encoding == "timestamp_ntz":
        ts = pa.array(micros, pa.timestamp("us"))
    else:
        ts = pa.array([m * 1000 for m in micros], pa.int64())
    tbl = pa.table({"event_id": base["event_id"], "ts": ts, **{
        k: v for k, v in base.items() if k != "event_id"
    }})
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(tbl, str(sf / "events.parquet"))

    df = load_table(spark, str(sf), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(
        r[0] for r in df.select(F.unix_micros("ts").alias("us")).collect()
    )
    assert got == micros
    # and the event-time contract downstream ops rely on actually holds
    vals = sorted(
        r[0]
        for r in df.select(F.col("ts").cast("timestamp").alias("t")).collect()
    )
    assert all(isinstance(v, datetime.datetime) for v in vals)


def test_partitioned_write_prunes(spark, tmp_path):
    """Hive-style dt/hr partitioning from FileSink must show up as
    PartitionFilters (not a full scan + post-filter) when read back."""
    ev = table(spark, SF, "events").limit(2000)
    out = str(tmp_path / "part")
    FileSink(
        out, format="parquet", compression=None,
        time_partition=True, partition_source="ts",
    ).write_batch(ev)
    got = spark.read.parquet(out)
    one_day = got.select("event_id").filter(F.col("dt") == got.select(F.min("dt")).collect()[0][0])
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the dt predicate must be IN the partition filters, not a data filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "dt" in pf, plan
    assert one_day.count() > 0


def test_stream_table_survives_source_regeneration(spark, tmp_path):
    """ADVICE r04: the /tmp stage dir is keyed by (sf_dir, name) and
    persists across source regenerations. After a table is rebuilt as
    a Spark directory with different random part filenames (and fewer
    parts), the staged symlink set must be reconciled — not serve
    dangling/stale links."""
    import shutil

    sf_dir = str(tmp_path / "sf")
    tdir = f"{sf_dir}/items.parquet"

    def drain() -> list[int]:
        from kawa_spark.io import stream_table

        df = stream_table(spark, sf_dir, "items")
        qname = "regen_probe"
        q = (
            df.writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(60)
        rows = sorted(
            r["v"] for r in spark.sql(f"SELECT v FROM {qname}").collect()
        )
        spark.catalog.dropTempView(qname)
        return rows

    spark.createDataFrame([(i,) for i in range(8)], "v long").repartition(
        4
    ).write.parquet(tdir)
    assert drain() == list(range(8))

    # regenerate: new random part names, fewer parts, different rows
    shutil.rmtree(tdir)
    spark.createDataFrame([(i,) for i in range(100, 103)], "v long").repartition(
        2
    ).write.parquet(tdir)
    assert drain() == [100, 101, 102]
