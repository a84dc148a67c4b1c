from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest belongs to, whatever its path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kawa_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kawa_spark_tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def drain_batches(spark, src, schema, batches, build, name):
    """Forced multi-microbatch drain of a stateful kernel: write each
    batch as its own parquet file, read with maxFilesPerTrigger=1 so
    every file is one microbatch, drain availableNow into a memory
    sink, return the collected rows. Shared by the online-kernel
    property suites (was duplicated per-file; code review r10)."""
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.table(name).collect()
