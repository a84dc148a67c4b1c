#!/usr/bin/env python
"""A/B probe for the materialize helper, same JVM: for each query key
that reuses a frame (a self-join or verify side), the ``materialize``
form (reused frames cached, the bounded result checkpointed eagerly,
caches released) against the lazy core (the same tree, nothing cached
or checkpointed; AQE exchange reuse only).

A key's registered binding is one of the two forms. If it calls
``plans.materialize.materialize``, the lazy form is the same binding
with that name bound to ``lambda out, *reused: out`` in its module; if
it returns the lazy tree, ``MATERIALIZED`` below builds the other form
from the same core pieces.

Each run builds the frame (the eager checkpoint, if any, is part of the
build) and writes it to the ``noop`` sink; the forms alternate
``--reps`` times per key after one warm-up run of each. Per key and
form it prints the minimum wall seconds over reps and the CPU seconds
of the fastest rep, split three ways (read from /proc outside the
timer, as ``scripts/probe_drain_ab.py`` does): the Spark JVM (``jvm``),
the processes below it, here the Python workers (``py``), and this
process, the driver (``drv``). Row counts of the two forms must be
equal, and the CacheManager must be empty after every run.

Usage: python scripts/probe_materialize_ab.py [--sf-dir DIR] [--reps 3]
       [key ...]
       (``--sf-dir`` takes the sf0.1 testdata, the default, or the
        10x tree ``scripts/scale_probe.py`` builds)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from pyspark.sql import functions as F  # noqa: E402

from kawa_spark import registry  # noqa: E402
from kawa_spark.io import spread, table  # noqa: E402
from kawa_spark.plans.materialize import materialize  # noqa: E402
from kawa_spark.session import get_spark  # noqa: E402
from probe_drain_ab import _cpu  # noqa: E402

KEYS = [
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_incremental_embedding",
    "dedup_incremental_minhash",
    "dedup_incremental_image",
    "dedup_lsh_recall",
    "similarity_containment",
    "quality_lm_commonness",
    "multimodal_image_dedup_near",
    "stream_exec_dedup_incremental_minhash",
    "stream_exec_dedup_incremental_embedding",
    "stream_exec_dedup_incremental_image",
]


def _simhash(spark, sf_dir):
    from kawa_spark.queries import llm_dedup as D

    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    banded = D._simhash_bands(D._simhash_bitsums_precount(d))
    return materialize(D._simhash_band_pairs(banded), banded)


def _embedding_cosine(spark, sf_dir):
    from kawa_spark.queries import llm_similarity as S

    e = S._embedding_cosine_corpus(spark, sf_dir)
    return materialize(S._embedding_bucket_pairs(e), e)


def _incremental_image(spark, sf_dir):
    from kawa_spark.queries import llm_multimodal as M

    sized = M.incremental_image_bands(M._inc_image_hashed(spark, sf_dir))
    return materialize(M.incremental_image_from_bands(sized), sized)


def _incremental_embedding(spark, sf_dir):
    from kawa_spark.queries import llm_similarity as S

    prior, newb = S._inc_embedding_inputs(spark, sf_dir)
    e = S.embedding_sigs(S._side_tagged(prior, newb))
    return materialize(S.incremental_embedding_from_sigs(e), e)


def _image_near(spark, sf_dir):
    from kawa_spark.queries import llm_multimodal as M

    sized = M._image_near_bands(spark, sf_dir)
    return materialize(M._image_near_pairs(sized), sized)


def _twin_embedding(spark, sf_dir):
    from kawa_spark.queries import streaming_mode as T

    prior_sig, drained = T._inc_embedding_twin_sigs(spark, sf_dir)
    out = T.incremental_embedding_from_sigs(prior_sig.unionByName(drained))
    return materialize(out, prior_sig)


def _twin_image(spark, sf_dir):
    from kawa_spark.queries import llm_multimodal as M
    from kawa_spark.queries import streaming_mode as T

    prior_hashed, new_hashed = T._inc_image_twin_hashes(spark, sf_dir)
    sized = M.incremental_image_bands(prior_hashed.unionByName(new_hashed))
    return materialize(M.incremental_image_from_bands(sized), prior_hashed, sized)


# The materialize form of each key whose registered binding is lazy.
MATERIALIZED = {
    "dedup_simhash": _simhash,
    "dedup_embedding_cosine": _embedding_cosine,
    "dedup_incremental_image": _incremental_image,
    "dedup_incremental_embedding": _incremental_embedding,
    "multimodal_image_dedup_near": _image_near,
    "stream_exec_dedup_incremental_embedding": _twin_embedding,
    "stream_exec_dedup_incremental_image": _twin_image,
}


def _lazy(fn):
    """``fn`` with its module's ``materialize`` bound to the identity."""

    def run(spark, sf_dir):
        mod = sys.modules[fn.__module__]
        saved = mod.materialize
        mod.materialize = lambda out, *reused: out
        try:
            return fn(spark, sf_dir)
        finally:
            mod.materialize = saved

    return run


def forms(key):
    """{'materialize': builder, 'lazy': builder} for ``key``."""
    fn = registry.QUERIES[key]
    if "materialize" in fn.__code__.co_names:
        return {"materialize": fn, "lazy": _lazy(fn)}
    return {"materialize": MATERIALIZED[key], "lazy": fn}


def _run(spark, build, sf_dir):
    """(wall_s, jvm_s, py_s, drv_s, rows) of one build + noop write."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    c0, t0 = _cpu(jvm_pid), time.perf_counter()
    df = build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    t1, c1 = time.perf_counter(), _cpu(jvm_pid)
    rows = df.count()
    cm = spark._jsparkSession.sharedState().cacheManager()
    if not cm.isEmpty():
        raise RuntimeError("a cached frame outlived the build")
    return (t1 - t0, *(b - a for a, b in zip(c0, c1)), rows)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("keys", nargs="*", default=KEYS)
    a = ap.parse_args()

    registry.load_all()
    spark = get_spark(
        app_name="probe_materialize_ab",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_docs = table(spark, a.sf_dir, "documents").agg(F.count("*")).first()[0]
    print(f"{a.sf_dir}: {n_docs} documents, {a.reps} reps, "
          f"defaultParallelism {spark.sparkContext.defaultParallelism}")
    print(f"{'key':40s} {'form':12s} {'wall_s':>7s} {'cpu_s':>7s} "
          f"{'jvm':>7s} {'py':>7s} {'drv':>6s} {'rows':>8s}", flush=True)
    try:
        for key in a.keys:
            fs = forms(key)
            for build in fs.values():
                _run(spark, build, a.sf_dir)  # warm-up, not counted
            runs = {name: [] for name in fs}
            for _ in range(a.reps):
                for name, build in fs.items():
                    runs[name].append(_run(spark, build, a.sf_dir))
            rows = {r[4] for reps in runs.values() for r in reps}
            if len(rows) != 1:
                raise RuntimeError(f"{key}: row counts differ {rows}")
            for name, reps in runs.items():
                wall, jvm, py, drv, n = min(reps)
                print(f"{key:40s} {name:12s} {wall:7.2f} "
                      f"{jvm + py + drv:7.2f} {jvm:7.2f} {py:7.2f} "
                      f"{drv:6.2f} {n:8d}", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
