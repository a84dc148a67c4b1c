"""Custom DataSource stream writer: atomic per-batch visibility."""

from __future__ import annotations

import glob
import json
import os

from kawa_spark.sinks.jsonl_writer import register_jsonl_sink


def test_jsonl_sink_writes_and_commits(spark, tmp_path):
    register_jsonl_sink(spark)
    drop = tmp_path / "in"
    drop.mkdir()
    for i in range(5):
        (drop / f"{i}.txt").write_text(f"row-{i}\n")
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("text")
        .load(str(drop))
        .writeStream.format("kawa_jsonl")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    rows = []
    for f in glob.glob(os.path.join(out, "part-*.jsonl")):
        rows += [json.loads(l) for l in open(f)]
    assert sorted(r["value"] for r in rows) == [f"row-{i}" for i in range(5)]
    # commit marker written, temp dir drained
    assert glob.glob(os.path.join(out, "_commit_*"))
    assert glob.glob(os.path.join(out, "_tmp", "*")) == []
