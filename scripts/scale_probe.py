#!/usr/bin/env python
"""Scale probe: how do the headline plans behave at 10× the largest
provided testdata (sf0.1 → ~sf1 synthetic)?

Builds a synthetic scale-up under /tmp by replicating the sf0.1 fact
tables K times with key offsets (facts grow; dimensions stay fixed,
exactly like a real scale-up):

- lineitem/orders: orderkey-shifted copies (join keys stay consistent)
- events: event_id/ts-shifted copies (distinct ids, longer timeline)
- documents: doc_id-shifted copies with per-copy text perturbation
  (keeps the near-dup rate realistic instead of making every doc a
  10-way duplicate)
- embeddings: vec_id-shifted copies with a per-copy dimension nudge
- region/nation/customer/supplier/part: copied as-is (dimensions)

Then times a cross-section of headline queries through
``scripts/ab.py``'s protocol, the two scales as variants (outputs not
compared): a 10× wall ratio that tracks data growth (≤ ~10×) marks a
scan/shuffle-bound plan with no superlinear term. The build is stamped
with K and the source files' stats and reused only while both match.

Usage: python scripts/scale_probe.py [K] [query ...]
       (default K=10, all PROBES; name queries to probe a subset —
        e.g. the heavy tier at K=100, VERDICT r04 item 5)
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import time

from ab import measure, query  # also puts the repo root on sys.path
from kawa_spark import registry
from kawa_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DST = "/tmp/kawa_scale_probe"
STAMP = os.path.join(DST, ".build_stamp.json")
REPS = 2

PROBES = [
    "agg_hash_groupby",
    "join_inner_hash",
    "window_analytic",
    "sort_limit_topk",
    "tpch_q3_shipping_priority",
    "tpch_q1_pricing_summary",
    "dedup_exact",
    "dedup_minhash",
    "similarity_topk",
    "similarity_ivf",
    "text_stats",
    "quality_gopher_filter",
    "corpus_tfidf",
    "events_sessionize_batch",
    "stateful_running_total",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "similarity_ivf_kmeans",
    "corpus_decontaminate",
    "multimodal_resize",
    "stream_exec_tumbling",
    "stream_exec_incremental_rollup",
]


def build(spark, k: int) -> None:
    from pyspark.sql import functions as F

    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST)
    for dim in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(f"{SRC}/{dim}.parquet", f"{DST}/{dim}.parquet")

    def replicate(name, mutate):
        # ONE plan per table: scan × broadcast(range(k)) instead of a
        # k-way union chain (k=100 unions made planning itself the
        # bottleneck); `mutate` sees the copy index as column `copy_i`
        base = spark.read.parquet(f"{SRC}/{name}.parquet")
        copies = F.broadcast(spark.range(k).select(F.col("id").cast("int").alias("copy_i")))
        out = mutate(base.crossJoin(copies)).drop("copy_i")
        out.write.mode("overwrite").parquet(f"{DST}/{name}.parquet")

    ci = F.col("copy_i")
    okey_shift = 10_000_000  # beyond sf0.1's max orderkey
    replicate(
        "orders",
        lambda df: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + ci.cast("long") * okey_shift
        ),
    )
    replicate(
        "lineitem",
        lambda df: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + ci.cast("long") * okey_shift
        ),
    )
    replicate(
        "events",
        lambda df: df.withColumn(
            "event_id", F.col("event_id") + ci.cast("long") * 100_000_000
        ).withColumn("ts", F.col("ts") + F.make_interval(days=ci * 400)),
    )
    replicate(
        "documents",
        lambda df: df.withColumn(
            "doc_id", F.col("doc_id") + ci.cast("long") * 10_000_000
        ).withColumn(
            # perturb each copy so near-dup structure stays realistic
            "text",
            F.concat(F.col("text"), F.lit(" copytag"), ci.cast("string")),
        ),
    )
    replicate(
        "embeddings",
        lambda df: df.withColumn(
            "vec_id", F.col("vec_id") + ci.cast("long") * 10_000_000
        ).withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + ci * F.lit(1e-4)),
        ),
    )


def stamp(k: int) -> str:
    """What a build is made of: K and each source file's size and mtime."""
    stats = {n: os.stat(os.path.join(SRC, n)) for n in sorted(os.listdir(SRC))}
    src = [[n, st.st_size, st.st_mtime_ns] for n, st in stats.items()]
    return json.dumps({"k": k, "src": src})


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    probes = sys.argv[2:] or PROBES
    registry.load_all()
    spark = get_spark("kawa_scale_probe", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    if os.path.exists(STAMP) and pathlib.Path(STAMP).read_text() == stamp(k):
        print(f"reusing the {k}x build at {DST}", flush=True)
    else:
        print(f"building {k}x synthetic scale-up under {DST} ...", flush=True)
        t0 = time.perf_counter()
        build(spark, k)
        pathlib.Path(STAMP).write_text(stamp(k))
        print(f"built in {time.perf_counter() - t0:.1f}s", flush=True)

    print(f"{'query':34s} {'sf0.1':>8s} {f'{k}x':>8s} {'ratio':>6s}")
    for key in probes:
        fn = registry.QUERIES[key]
        variants = {"sf0.1": query(spark, fn, SRC), f"{k}x": query(spark, fn, DST)}
        try:
            runs = measure(spark, variants, REPS, fingerprint=lambda s, df: None)
            t1, t2 = (min(r["wall_s"] for r in rs) for rs in runs.values())
            print(f"{key:34s} {t1:8.2f} {t2:8.2f} {t2 / t1:6.1f}x", flush=True)
        except Exception as e:  # noqa: BLE001
            print(f"{key:34s} ERR {str(e)[:80]}", flush=True)


if __name__ == "__main__":
    main()
