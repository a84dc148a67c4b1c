"""io.table()/stream_table() infer a parquet schema once per data file,
not once per call."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kawa_spark.io import stream_table, table


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write(spark, path, n: int) -> None:
    spark.range(n).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_table_infers_schema_once_per_file(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    _write(spark, path, 5)
    assert _jobs(spark, "schema_first", lambda: table(spark, str(tmp_path), "documents")) == 1
    assert _jobs(spark, "schema_again", lambda: table(spark, str(tmp_path), "documents")) == 0
    assert table(spark, str(tmp_path), "documents").count() == 5

    # a rewritten file is inferred again, and read with its new schema
    spark.range(7).select(
        F.col("id").alias("doc_id"), F.lit(1.5).alias("score")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    assert _jobs(spark, "schema_rewritten", lambda: table(spark, str(tmp_path), "documents")) == 1
    df = table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "score"] and df.count() == 7


def test_stream_table_shares_the_memo(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    _write(spark, path, 3)
    assert os.path.isdir(path)
    sf = str(tmp_path)
    assert _jobs(spark, "stream_first", lambda: stream_table(spark, sf, "documents")) == 1
    assert _jobs(spark, "stream_again", lambda: stream_table(spark, sf, "documents")) == 0
    assert stream_table(spark, sf, "documents").isStreaming
