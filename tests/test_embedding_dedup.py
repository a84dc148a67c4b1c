"""dedup_embedding_cosine must match TRUE POSITIVES (VERDICT r6 #1).

Through round 6 the key passed vacuously — at test SF no raw pair
shares an LSH bucket at cosine ≥ 0.9, so both engines returned the
empty set and the hash match proved nothing about the bucket scheme
or the cosine predicate. Round 7 plants near-duplicates inside the
query (mirrored in the oracle); these tests pin the planted pairs'
presence and values so the operator can never regress to vacuous.
"""

from __future__ import annotations

import pytest

from kawa_spark.queries.llm_similarity import N_PLANT, dedup_embedding_cosine


@pytest.fixture(scope="module")
def result(spark, request):
    sf_dir = "/root/testdata/sf0.001"
    rows = dedup_embedding_cosine(spark, sf_dir).collect()
    return {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in rows}


def test_scaled_plants_always_match(result):
    # v and 1.25·v share the sign-LSH bucket BY CONSTRUCTION (positive
    # scaling preserves every hyperplane sign) and have cosine 1.0 up
    # to fold rounding — these pairs must appear at any SF.
    for vid in range(N_PLANT):
        key = (vid, vid + 1000000)
        assert key in result, f"planted scaled pair {key} missing"
        assert result[key] == pytest.approx(1.0, abs=1e-9)


def test_nontrivial_cosine_pair_present(result):
    # at least one zeroed-dim plant lands in its base's bucket with a
    # NON-TRIVIAL cosine (≈0.99 — a value the oracle hash verifies to
    # full double precision, unlike the degenerate 1.0 pairs)
    nontrivial = [
        c
        for (a, b), c in result.items()
        if b >= 2000000 and c < 0.99999
    ]
    assert nontrivial, "no non-trivial-cosine planted pair matched"
    assert all(0.9 <= c < 1.0 for c in nontrivial)


def test_result_is_nonvacuous_and_thresholded(result):
    assert len(result) >= N_PLANT  # never empty again
    assert all(c >= 0.9 for c in result.values())


# ---------------------------------------------------------------------------
# r12: cross-snapshot embedding near-dup (the banked r13 key's core)
# ---------------------------------------------------------------------------


def _fold_dot(a, b):
    """Python twin of llm_similarity.dot — the LEFT fold in float64,
    same evaluation order, so signatures and cosines replay
    bit-identically."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _sig_ref(v):
    from kawa_spark.queries.llm_similarity import N_PLANES, _hyperplanes

    sig = 0
    for i, plane in enumerate(_hyperplanes()[:N_PLANES]):
        if _fold_dot(v, plane) > 0:
            sig += 1 << i
    return sig


def _inc_emb_ref(prior, newb):
    """Pure-Python cross-snapshot matcher: sign-LSH buckets over both
    sides, combined-population cap, new×prior pairs in shared
    buckets, left-fold cosine ≥ 0.9."""
    import math

    from kawa_spark.queries.llm_similarity import EMB_BUCKET_CAP

    buckets: dict[int, list] = {}
    vecs = {}
    for side, rows in (("p", prior), ("n", newb)):
        for vid, v in rows:
            vecs[(side, vid)] = v
            buckets.setdefault(_sig_ref(v), []).append((side, vid))
    out = {}
    for members in buckets.values():
        if len(members) > EMB_BUCKET_CAP:
            continue
        for sn, dn in members:
            if sn != "n":
                continue
            for sp, dp in members:
                if sp != "p":
                    continue
                a, b = vecs[("n", dn)], vecs[("p", dp)]
                cos = _fold_dot(a, b) / (
                    math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))
                )
                if cos >= 0.9:
                    out[(dn, dp)] = cos
    return out


def test_incremental_embedding_matches_python_reference(spark):
    """incremental_embedding_matches on random vector snapshots with
    planted scaled re-embeds, noisy re-embeds (cosine just under /
    over the bar), and novel vectors — must equal the pure-Python
    left-fold reference exactly."""
    import random

    from kawa_spark.queries.llm_similarity import (
        DIM,
        incremental_embedding_matches,
    )

    rng = random.Random(0xE12B)
    prior, newb = [], []
    for d in range(15):
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        prior.append((d, v))
        if d % 3 == 0:
            newb.append((100 + d, [x * 1.25 for x in v]))  # exact re-embed
        if d % 3 == 1:
            noisy = [x + rng.gauss(0, 0.18) for x in v]  # borderline
            newb.append((200 + d, noisy))
    for d in range(10):
        newb.append((300 + d, [rng.gauss(0, 1) for _ in range(DIM)]))
    got = {
        (r["vec_id"], r["prior_id"]): r["cos_sim"]
        for r in incremental_embedding_matches(
            spark.createDataFrame(prior, "vec_id long, embedding array<double>"),
            spark.createDataFrame(newb, "vec_id long, embedding array<double>"),
        ).collect()
    }
    want = _inc_emb_ref(prior, newb)
    assert set(got) == set(want), sorted(set(got) ^ set(want))
    for k, cos in want.items():
        assert got[k] == pytest.approx(cos, abs=1e-12), k
    # non-trivial: the scaled re-embeds all match, and at least one
    # new vector is novel (absent)
    assert all((100 + d, d) in want for d in range(0, 15, 3))
    matched_new = {d for d, _ in want}
    assert any(300 + d not in matched_new for d in range(10))


def test_incremental_embedding_registration_ready(spark):
    """The banked r13 binding: plants match their prior originals at
    cosine ~1.0, every output pair goes new → prior across the modulo
    split, and the oracle generator is hash-consistent (verified at
    build time; this pins the plant classes)."""
    from kawa_spark.queries.llm_similarity import (
        EMB_INC_PLANT_N,
        dedup_incremental_embedding,
    )

    rows = dedup_incremental_embedding(spark, "/root/testdata/sf0.001").collect()
    got = {(r["vec_id"], r["prior_id"]): r["cos_sim"] for r in rows}
    for vid in range(EMB_INC_PLANT_N):
        key = (vid + 3000000, vid)
        assert key in got, f"planted re-embed {key} missing"
        assert got[key] == pytest.approx(1.0, abs=1e-9)
    from kawa_spark.queries.llm_dedup import INC_PRIOR_MOD

    for (n, p), _ in got.items():
        if n < 3000000:
            assert n % 10 >= INC_PRIOR_MOD, (n, p)
        assert p % 10 < INC_PRIOR_MOD, (n, p)


def test_registered_twin20_equals_batch_key(spark):
    """Twin #20 (stream_exec_dedup_incremental_embedding) through the
    real streaming runtime must emit exactly the batch key's rows —
    the map-side signature stage is a stateless 1:1 transform, so no
    ordering contract is needed and equality is exact (cosines
    included: both sides run the same left-fold on the same vectors)."""
    from kawa_spark import registry

    registry.load_all()
    online = {
        tuple(r)
        for r in registry.QUERIES["stream_exec_dedup_incremental_embedding"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    batch = {
        tuple(r)
        for r in registry.QUERIES["dedup_incremental_embedding"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert online == batch and batch


def test_twin20_multibatch_drain_accumulates(spark, tmp_path):
    """Twin #20's map-side sign-LSH stage under a FORCED multi-batch
    drain (maxFilesPerTrigger=1 over a multi-file source): append-mode
    parquet-sink accumulation across microbatches must equal the
    batch signatures exactly — the stateless-stage claim, proven
    under the runtime's actual batching (the twin-#19 discipline
    applied to the embedding modality)."""
    import random
    import uuid

    from pyspark.sql import functions as F

    from kawa_spark.queries.llm_similarity import DIM, embedding_sigs

    rng = random.Random(0xE20)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(40)
    ]
    src = tmp_path / "embs_mb"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sig_stream = embedding_sigs(
        stream.withColumn("side", F.lit("n"))
    )
    out = tmp_path / f"emb_mb_drain_{uuid.uuid4().hex[:6]}"
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
        (r["vec_id"], r["sig"])
        for r in spark.read.parquet(str(out / "data")).collect()
    }
    batch = {
        (r["vec_id"], r["sig"])
        for r in embedding_sigs(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).withColumn("side", F.lit("n")),
        ).collect()
    }
    assert drained == batch and len(batch) == 40


def test_embedding_sig_core_composes_with_drained_stream(spark, tmp_path):
    """The banked twin-#20 shape, minus registration (the twin-#19
    pre-stage discipline): NEW-side sign-LSH sigs computed map-side
    ON an embedding stream, drained through the real
    runtime via the parquet file sink, unioned with the static prior
    sig state, and fed to the sig-level core — must equal the banked
    batch binding exactly."""
    import uuid

    from pyspark.sql import functions as F

    from kawa_spark.io import table
    from kawa_spark.queries.llm_dedup import is_prior_doc
    from kawa_spark.queries.llm_similarity import (
        EMB_INC_PLANT_N,
        dedup_incremental_embedding,
        embedding_sigs,
        incremental_embedding_from_sigs,
    )

    SF = "/root/testdata/sf0.001"
    base = table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    prior = base.filter(is_prior_doc(F.col("vec_id")))
    prior_sig = embedding_sigs(prior.withColumn("side", F.lit("p")))

    plants = prior.filter(F.col("vec_id") < EMB_INC_PLANT_N).select(
        (F.col("vec_id") + F.lit(3000000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.25)).alias("embedding"),
    )
    src = tmp_path / "new_embs"
    base.filter(~is_prior_doc(F.col("vec_id"))).unionByName(plants).coalesce(
        2
    ).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(str(src))
    sig_stream = embedding_sigs(
        stream.withColumn("side", F.lit("n"))
    )
    out = tmp_path / f"emb_drain_{uuid.uuid4().hex[:6]}"
    q = (
        sig_stream.writeStream.format("parquet")
        .option("path", str(out / "data"))
        .option("checkpointLocation", str(out / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    drained = spark.read.schema(sig_stream.schema).parquet(str(out / "data"))

    online = {
        (r["vec_id"], r["prior_id"])
        for r in incremental_embedding_from_sigs(
            prior_sig.unionByName(drained)
        ).collect()
    }
    batch = {
        (r["vec_id"], r["prior_id"])
        for r in dedup_incremental_embedding(spark, SF).collect()
    }
    assert online == batch and batch
