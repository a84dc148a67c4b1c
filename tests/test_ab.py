"""The same-JVM A/B harness (scripts/ab.py) on a toy spec at sf0.001:
warm-up and alternation order, the output check and the cache check."""

from __future__ import annotations

import pathlib
import sys

import pytest
from pyspark.sql import functions as F

from kawa_spark.io import table

SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"
sys.path.insert(0, str(SCRIPTS))

import ab  # noqa: E402


def _nations(spark, sf_dir):
    return table(spark, sf_dir, "nation")


def _nations_reordered(spark, sf_dir):
    """The same rows in another row and column order."""
    df = _nations(spark, sf_dir)
    return df.select(*reversed(df.columns)).orderBy(F.desc("n_nationkey"))


def _recorded(spark, sf_dir, calls, name, build):
    inner = ab.query(spark, build, sf_dir)

    def run(win):
        calls.append(name)
        return inner(win)

    return run


def test_warm_up_each_variant_then_alternate_the_order(spark, sf_dir):
    calls = []
    variants = {
        "a": _recorded(spark, sf_dir, calls, "a", _nations),
        "b": _recorded(spark, sf_dir, calls, "b", _nations_reordered),
    }
    runs = ab.measure(spark, variants, reps=3)
    assert calls == ["a", "b", "a", "b", "b", "a", "a", "b"]
    assert [len(r) for r in runs.values()] == [3, 3]
    first = runs["a"][0]
    assert first["wall_s"] > 0 and first["cpu_s"] >= first["drv_s"] >= 0
    assert first["engine.jobs"] >= 1


@pytest.mark.parametrize(
    "other",
    [
        lambda s, d: _nations(s, d).limit(3),
        lambda s, d: _nations(s, d).withColumn("n_regionkey", F.col("n_regionkey") + 1),
    ],
    ids=["fewer_rows", "same_count_other_values"],
)
def test_variant_with_other_rows_raises(spark, sf_dir, other):
    variants = {
        "a": ab.query(spark, _nations, sf_dir),
        "b": ab.query(spark, other, sf_dir),
    }
    with pytest.raises(RuntimeError, match="b: output .* differs from a's"):
        ab.measure(spark, variants, reps=1)


def test_variant_leaving_a_persisted_frame_raises(spark, sf_dir):
    leaked = []

    def leaky(s, d):
        df = _nations(s, d).persist()
        leaked.append(df)
        return df

    try:
        with pytest.raises(RuntimeError, match="a cached frame outlived the run"):
            ab.measure(spark, {"leaky": ab.query(spark, leaky, sf_dir)}, reps=1)
    finally:
        for df in leaked:
            df.unpersist(blocking=True)


def test_scripts_have_one_harness_and_read_no_proc():
    """CPU comes from perfbench/observe only, and the per-probe A/B
    loops are gone (their specs live in scripts/ab_specs/)."""
    readers = [
        p.relative_to(SCRIPTS).as_posix()
        for p in SCRIPTS.rglob("*.py")
        if "/proc" in p.read_text()
    ]
    assert not readers
    assert not list(SCRIPTS.glob("probe_*_ab.py"))
