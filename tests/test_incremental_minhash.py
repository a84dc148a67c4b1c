"""Incremental near-dup dedup: pure-hashlib md5-minhash reference for
the cross-snapshot core (the independent-implementation discipline —
the DuckDB oracle mirrors the construction, so a shared error in the
permutation family or band layout would hash-match anyway), plus the
plant pins and the cross-split output invariant.
"""

from __future__ import annotations

import hashlib
import random
import re

from kawa_spark import registry
from kawa_spark.queries.llm_dedup import (
    BUCKET_CAP,
    INC_MH_PLANTS_NEW,
    INC_MH_PLANTS_PRIOR,
    INC_PRIOR_MOD,
    N_BANDS,
    N_PERM,
    SIG_MIN_MATCH,
    _MH_PRIME,
    incremental_minhash_matches,
)

registry.load_all()

SF = "/root/testdata/sf0.001"


def _shingles_ref(text: str) -> list[str]:
    ws = re.split(r"\s+", text.lower())
    n = max(len(ws) - 2, 1)
    seen, out = set(), []
    for i in range(n):
        s = " ".join(ws[i : i + 3])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _sig_ref(text: str):
    """(vh set, 16 minhash values) — the md5 h1/h2 permutation family
    recomputed with hashlib."""
    hs = []
    for s in _shingles_ref(text):
        x = hashlib.md5(s.encode()).hexdigest()
        h1 = int(x[0:15], 16) % _MH_PRIME
        h2 = int(x[16:31], 16) % _MH_PRIME
        hs.append((h1, h2))
    vh = {h1 * _MH_PRIME + h2 for h1, h2 in hs}
    mhs = [
        min((h1 + i * h2) % _MH_PRIME for h1, h2 in hs)
        for i in range(N_PERM)
    ]
    return vh, mhs


def _matches_ref(prior, newb):
    """Brute-force cross-snapshot matcher: band buckets over BOTH
    sides, combined-population cap, new×prior pairs within shared
    buckets, SIG_MIN_MATCH prefilter, exact jaccard >= 0.2."""
    rows_per_band = N_PERM // N_BANDS
    sigs = {}
    buckets: dict[tuple, list] = {}
    for side, docs in (("p", prior), ("n", newb)):
        for d, t in docs:
            vh, mhs = _sig_ref(t)
            sigs[(side, d)] = (vh, mhs)
            for b in range(N_BANDS):
                key = (
                    b,
                    "|".join(
                        str(mhs[b * rows_per_band + r])
                        for r in range(rows_per_band)
                    ),
                )
                buckets.setdefault(key, []).append((side, d))
    out = {}
    for key, members in buckets.items():
        if len(members) > BUCKET_CAP:
            continue
        for sn, dn in members:
            if sn != "n":
                continue
            for sp, dp in members:
                if sp != "p" or (dn, dp) in out:
                    continue
                vh_n, mh_n = sigs[("n", dn)]
                vh_p, mh_p = sigs[("p", dp)]
                n_match = sum(a == b for a, b in zip(mh_n, mh_p))
                if n_match < SIG_MIN_MATCH:
                    continue
                jac = len(vh_n & vh_p) / len(vh_n | vh_p)
                if jac >= 0.2:
                    out[(dn, dp)] = jac
    return out


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_minhash_matches_hashlib_reference(spark):
    """Synthetic two-snapshot corpora with planted near-dups at
    graded similarity (re-crawls with 1..6 words changed), exact
    cross-split copies, and unrelated docs — the Spark core must
    produce exactly the reference's match pairs and jaccards."""
    rng = random.Random(0x1C41)
    vocab = [f"w{i}" for i in range(60)]
    prior, newb = [], []
    for d in range(12):
        words = [rng.choice(vocab) for _ in range(35)]
        prior.append((d, " ".join(words)))
        if d < 6:
            # re-crawl with d+1 words rotated — graded similarity
            mutated = list(words)
            for k in range(d + 1):
                mutated[3 * k] = rng.choice(vocab)
            newb.append((100 + d, " ".join(mutated)))
    newb.append((200, prior[0][1]))  # exact cross-split copy
    newb.append((201, " ".join(rng.choice(vocab) for _ in range(35))))
    got = {
        (r["doc_id"], r["prior_id"]): r["jaccard"]
        for r in incremental_minhash_matches(
            _mk(spark, prior), _mk(spark, newb)
        ).collect()
    }
    want = _matches_ref(prior, newb)
    assert set(got) == set(want), (set(got) ^ set(want))
    for k, jac in want.items():
        assert abs(got[k] - jac) <= 1e-12, k
    # the probe corpus must be non-trivial: matches found AND at
    # least one new doc absent (missed or novel)
    assert want
    assert (200, 0) in want and want[(200, 0)] == 1.0
    matched_new = {d for d, _ in want}
    assert 201 not in matched_new


def test_incremental_minhash_plants_pin(spark):
    """The planted re-crawl matches its prior original (jaccard
    37/41), the novel plant is absent, and every output pair goes
    new → prior (cross-split only, never within a side)."""
    rows = registry.QUERIES["dedup_incremental_minhash"](
        spark, SF
    ).collect()
    plant = [r for r in rows if r["doc_id"] == INC_MH_PLANTS_NEW[0][0]]
    assert len(plant) == 1 and plant[0]["prior_id"] == INC_MH_PLANTS_PRIOR[0][0]
    assert abs(plant[0]["jaccard"] - 37 / 41) <= 1e-12
    assert not any(r["doc_id"] == INC_MH_PLANTS_NEW[1][0] for r in rows)
    for r in rows:
        if r["doc_id"] >= 0:
            assert r["doc_id"] % 10 >= INC_PRIOR_MOD, r
        if r["prior_id"] >= 0:
            assert r["prior_id"] % 10 < INC_PRIOR_MOD, r


def test_registered_twin_equals_batch_key(spark):
    """Twin #19 (stream_exec_dedup_incremental_minhash) through the
    real streaming runtime must emit exactly the batch key's rows —
    the map-side signature stage is a stateless 1:1 transform, so no
    ordering contract is needed and equality is exact."""
    online = {
        tuple(r)
        for r in registry.QUERIES["stream_exec_dedup_incremental_minhash"](
            spark, SF
        ).collect()
    }
    batch = {
        tuple(r)
        for r in registry.QUERIES["dedup_incremental_minhash"](
            spark, SF
        ).collect()
    }
    assert online == batch and batch


def test_twin19_multibatch_drain_accumulates(spark, tmp_path):
    """Twin #19's map-side signature stage under a FORCED multi-batch
    drain (maxFilesPerTrigger=1 over a multi-file source): append-mode
    parquet-sink accumulation across microbatches must equal the
    batch signatures exactly — the stateless-stage claim, proven
    under the runtime's actual batching."""
    import uuid

    from pyspark.sql import functions as F

    from kawa_spark.queries.llm_dedup import minhash_signatures

    rows = [(i, f"doc {i} body " + " ".join(f"w{i}x{j}" for j in range(12)))
            for i in range(40)]
    src = tmp_path / "docs_mb"
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        4
    ).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sig_stream = minhash_signatures(
        stream.withColumn("side", F.lit("n")), extra=("side",)
    )
    out = tmp_path / f"sig_drain_{uuid.uuid4().hex[:6]}"
    q = (
        sig_stream.writeStream.format("parquet")
        .option("path", str(out / "data"))
        .option("checkpointLocation", str(out / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert len(q.recentProgress) > 1, "must run multiple microbatches"
    drained = {
        (r["doc_id"], tuple(r["vh"]), tuple(r["mhs"]))
        for r in spark.read.parquet(str(out / "data")).collect()
    }
    batch = {
        (r["doc_id"], tuple(r["vh"]), tuple(r["mhs"]))
        for r in minhash_signatures(
            spark.createDataFrame(rows, "doc_id long, text string"),
        ).collect()
    }
    assert drained == batch and len(batch) == 40


def test_sig_level_core_composes_with_drained_stream(spark, tmp_path):
    """The banked twin-#19 shape, minus registration: the NEW side's
    signatures are computed map-side ON a stream and
    drained through the real runtime; the drained sigs union the
    static prior sig state and go through the sig-level core — the
    result must equal the registered batch key exactly."""
    import uuid

    from pyspark.sql import functions as F

    from kawa_spark.io import table
    from kawa_spark.queries.llm_dedup import (
        INC_MH_PLANTS_PRIOR,
        incremental_minhash_from_sigs,
        is_prior_doc,
        minhash_signatures,
        snapshot_split,
    )

    SF = "/root/testdata/sf0.001"
    d = table(spark, SF, "documents").select("doc_id", "text")
    prior, _ = snapshot_split(spark, d, INC_MH_PLANTS_PRIOR, [])
    prior_sig = minhash_signatures(
        prior.withColumn("side", F.lit("p")), extra=("side",)
    )

    # new side arrives as a STREAM: natural new-split docs + plants
    # staged as parquet, signatures computed on the streaming frame
    src = tmp_path / "new_docs"
    d.filter(~is_prior_doc(F.col("doc_id"))).unionByName(
        _mk(spark, INC_MH_PLANTS_NEW)
    ).coalesce(2).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    sig_stream = minhash_signatures(
        stream.withColumn("side", F.lit("n")),
        extra=("side",),
    )
    name = f"mh19_{uuid.uuid4().hex[:8]}"
    q = (
        sig_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    # localCheckpoint: the verify half joins frames derived from the
    # drained table with each other (memory-sink self-join trap)
    drained = spark.table(name).localCheckpoint()

    online = {
        tuple(r)
        for r in incremental_minhash_from_sigs(
            prior_sig.unionByName(drained)
        ).collect()
    }
    batch = {
        tuple(r)
        for r in registry.QUERIES["dedup_incremental_minhash"](
            spark, SF
        ).collect()
    }
    assert online == batch and batch
