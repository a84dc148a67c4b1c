"""The materialize helper: for each key that reuses a frame (a
self-join or verify side), the ``materialize`` form (reused frames
cached, the bounded result checkpointed eagerly, caches released)
against the lazy core (the same tree, nothing cached or checkpointed;
AQE exchange reuse only). The eager checkpoint is part of the timed
build.

A key's registered binding is one of the two forms. If it calls
``plans.materialize.materialize``, the lazy form is the same binding
with that name bound to ``lambda out, *reused: out`` in its module; if
it returns the lazy tree, ``MATERIALIZED`` below builds the other form
from the same core pieces.
"""

from __future__ import annotations

import sys

from ab import query
from kawa_spark import registry
from kawa_spark.io import spread, table
from kawa_spark.plans.materialize import materialize

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


def cases(spark, data):
    registry.load_all()
    for key in KEYS:
        yield key, {n: query(spark, b, data) for n, b in forms(key).items()}
