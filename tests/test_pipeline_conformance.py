"""Conformance suite — port of the reference's generic SuiteTest
(/root/reference/test/suite_test.go:16-104): N random payloads through
source → pipeline → sink; assert all delivered, no duplicates, schema
preserved. Plus printer/scanner delimiter cases
(/root/reference/test/stream_test.go:43-55) and fan-in/fan-out.
"""

from __future__ import annotations

import os
import random
import string
import uuid

import pytest

from pyspark.sql import functions as F

from kawa_spark.envelope import ENVELOPE_COLS, normalize
from kawa_spark.handlers import filter_rows, flat_map, map_rows, pipe
from kawa_spark.pipeline import pipeline
from kawa_spark.sinks import MemorySink, MultiSink
from kawa_spark.sources import FileSource, MemorySource, MultiSource


def _rand_payloads(n: int = 25, size: int = 20) -> list[str]:
    rng = random.Random(42)
    return [
        "".join(rng.choices(string.ascii_letters + string.digits, k=size))
        for _ in range(n)
    ]


@pytest.fixture()
def drop_dir(tmp_path):
    d = tmp_path / "drop"
    d.mkdir()
    return str(d)


def _write_files(dir_: str, payloads: list[str]) -> None:
    for i, p in enumerate(payloads):
        with open(os.path.join(dir_, f"msg_{i:04d}.txt"), "w") as f:
            f.write(p + "\n")


def test_memory_roundtrip_batch(spark, drop_dir):
    """All payloads delivered, none duplicated (suite_test.go:85-104)."""
    payloads = _rand_payloads()
    _write_files(drop_dir, payloads)
    p = pipeline(MemorySource(drop_dir)).transform(
        lambda df: normalize(df, topic="conformance")
    )
    rows = p.dataframe(spark).collect()
    got = [r["value"] for r in rows]
    assert sorted(got) == sorted(payloads)
    assert len(set(got)) == len(payloads)
    assert [c for c in rows[0].asDict()] == ENVELOPE_COLS


def test_memory_roundtrip_stream(spark, drop_dir, tmp_path):
    """Same contract through the streaming path (availableNow drain)."""
    payloads = _rand_payloads()
    _write_files(drop_dir, payloads)
    name = f"conf_{uuid.uuid4().hex[:8]}"
    p = (
        pipeline(MemorySource(drop_dir))
        .transform(lambda df: normalize(df, topic="conformance"))
        .to(MemorySink(name))
    )
    q = p.run_stream(
        spark, available_now=True, checkpoint=str(tmp_path / "cp")
    )
    assert q.awaitTermination(60)
    got = [r["value"] for r in spark.table(name).collect()]
    assert sorted(got) == sorted(payloads)


def test_scanner_custom_delimiter(spark, tmp_path):
    """Multi-byte delimiter split (scanner.go:90-105 / stream_test.go:43-55)."""
    delim = "0x0x0x0x0"
    records = ["alpha", "bravo", "charlie", "delta"]
    path = tmp_path / "delim.txt"
    path.write_text(delim.join(records))
    src = FileSource(str(path), format="text", line_sep=delim)
    got = [r["value"] for r in src.read(spark).collect()]
    assert got == records


def test_handler_cardinalities(spark, drop_dir):
    """1→1 (map), 1→0/1 (filter), 1→N (flat_map), identity (pipe)."""
    _write_files(drop_dir, ["a b c", "d e", "f"])
    src = MemorySource(drop_dir)
    base = pipeline(src).transform(pipe()).dataframe(spark)
    assert base.count() == 3

    mapped = (
        pipeline(src)
        .transform(map_rows(F.upper(F.col("value")).alias("value")))
        .dataframe(spark)
    )
    assert sorted(r["value"] for r in mapped.collect()) == ["A B C", "D E", "F"]

    filtered = (
        pipeline(src)
        .transform(filter_rows(F.length("value") > 1))
        .dataframe(spark)
    )
    assert filtered.count() == 2

    exploded = (
        pipeline(src)
        .transform(flat_map(F.split(F.col("value"), " ")))
        .dataframe(spark)
    )
    assert exploded.count() == 6  # a b c d e f


def test_multi_source_fan_in(spark, tmp_path):
    """Fan-in: union of N sources, unordered (multisrc.go:37-72)."""
    d1, d2 = tmp_path / "s1", tmp_path / "s2"
    d1.mkdir(), d2.mkdir()
    _write_files(str(d1), ["one", "two"])
    _write_files(str(d2), ["three"])
    src = MultiSource([MemorySource(str(d1)), MemorySource(str(d2))])
    got = sorted(r["value"] for r in src.read(spark).collect())
    assert got == ["one", "three", "two"]


def test_multi_sink_fan_out(spark, drop_dir, tmp_path):
    """Fan-out: every message reaches all N destinations
    (multidest.go:20-31)."""
    payloads = _rand_payloads(10)
    _write_files(drop_dir, payloads)
    n1, n2 = (f"fan_{uuid.uuid4().hex[:8]}" for _ in range(2))
    p = (
        pipeline(MemorySource(drop_dir))
        .transform(lambda df: normalize(df, topic="t"))
        .to(MultiSink([MemorySink(n1), MemorySink(n2)]))
    )
    queries = p.run_stream(
        spark, available_now=True, checkpoint=str(tmp_path / "cp")
    )
    for q in queries:
        assert q.awaitTermination(60)
    for name in (n1, n2):
        got = [r["value"] for r in spark.table(name).collect()]
        assert sorted(got) == sorted(payloads)


def test_deser_json_handler(spark, drop_dir):
    """DeserializationSource parity: bytes → typed struct
    (types.go:163-195)."""
    import json

    recs = [{"id": i, "name": f"n{i}"} for i in range(5)]
    _write_files(drop_dir, [json.dumps(r) for r in recs])
    from kawa_spark.handlers import deser_json

    p = (
        pipeline(MemorySource(drop_dir))
        .transform(
            lambda df: normalize(df, topic="j"),
            deser_json("id INT, name STRING"),
        )
    )
    rows = p.dataframe(spark).select("value.id", "value.name").collect()
    assert sorted((r["id"], r["name"]) for r in rows) == [
        (i, f"n{i}") for i in range(5)
    ]
