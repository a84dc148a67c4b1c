"""The one materialize-and-release step of the query bindings.

Query cores return lazy trees. A registered binding whose lazy tree
measured slower than a checkpoint (docs/SCALE.md, "Lazy cores and one
materialize helper") wraps its core in :func:`materialize`; every other
binding returns the lazy tree and relies on AQE exchange reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(out: DataFrame, *reused: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``out`` with ``reused`` cached for the build.

    ``reused`` are the frames ``out`` reads more than once (both sides
    of a self-join, a verify join), each derived from the ones before
    it. They are persisted in that order, so each cache is built over
    the ones before it, and one count of the last fills them all in a
    single serialized pass. Without that pass the consumers' map
    stages race to fill the same cache, each recomputing the hashing
    stage until a partition lands (2.0x wall at the 10x probe for
    dedup_minhash). ``out`` may be built before the persist: Spark
    substitutes cached fragments when the checkpoint action plans.

    The caches are released in a ``finally``, also when an action
    raises; only the bounded checkpoint blocks of the returned frame
    outlive the call.
    """
    for df in reused:
        df.persist()
    try:
        if reused:
            reused[-1].count()
        return out.localCheckpoint(eager=True)
    finally:
        for df in reused:
            df.unpersist()
