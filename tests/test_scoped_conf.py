"""Session conf swaps: scoped_conf restores what it changed, under
failure and under concurrent drains, and no module outside session.py
swaps session-global conf by hand."""

from __future__ import annotations

import pathlib
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

from kawa_spark.queries.streaming_mode import _drain
from kawa_spark.session import scoped_conf

PARTS = "spark.sql.shuffle.partitions"
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
    """Session-global conf changes go through session.scoped_conf; the
    one other allowed write is io.py's nanosAsLong legacy flag."""
    swap = re.compile(r"(?<![\w])conf\.(?:set|unset)\(")
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if not swap.search(line):
                continue
            if rel == "io.py" and "nanosAsLong" in line:
                continue
            offenders.append(f"{rel}:{no}: {line.strip()}")
    assert not offenders, offenders
