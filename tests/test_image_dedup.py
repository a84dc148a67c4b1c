"""multimodal_image_dedup (banked core): oracle parity, the dHash
kernel against hand-computed bits, codec round-trip property, and the
plant pins (same image / different bytes — the class byte-level dedup
misses)."""

from __future__ import annotations

import numpy as np
import pytest

import kawa_spark.queries.llm_multimodal as M
from tests.oracle_harness import compare

SF = "/root/testdata/sf0.001"


def test_image_dedup_matches_oracle(spark):
    rep = compare(spark, SF, M.multimodal_image_dedup, M._image_dedup_sql())
    assert rep["values_match"], rep


def test_dhash_kernel_hand_computed():
    """A raster whose cell sums are forced: cells alternate high/low,
    so the gradient bits alternate 1/0 starting with the high→low
    edge."""
    # 8 rows × 64 cols; cell k = bytes k*8..k*8+7 of the flattened crop
    flat = np.zeros(512, dtype=np.uint8)
    for k in range(64):
        flat[k * 8 : (k + 1) * 8] = 200 if k % 2 == 0 else 10
    bits = M._dhash_bits(flat.reshape(8, 64))
    assert bits == "10" * 31 + "1"  # 63 bits: high>low, low<high, …
    # short raster: missing rows are zero cells — trailing gradient 0s
    two_rows = np.full((2, 64), 50, dtype=np.uint8)
    bits2 = M._dhash_bits(two_rows)
    # 16 equal cells then zeros: only the 16th cell (index 15 → bit 15,
    # 0-indexed) sees a drop
    assert bits2 == "0" * 15 + "1" + "0" * 47


def test_dhash_survives_codec_roundtrip():
    """The REAL BMP encode→decode path must hand the hash kernel the
    original payload bytes exactly (identity palette, zero row pad):
    hash(decode(encode(p))) == hash computed straight from p."""
    rng = np.random.RandomState(3)
    for n in (1, 63, 64, 65, 511, 512, 513, 4096, 5000):
        payload = bytes(rng.randint(0, 256, size=n, dtype=np.uint8))
        pixels = M._bmp_decode(M._bmp_encode(payload))["pixels"]
        # direct computation from the raw bytes
        crop = np.zeros(512, dtype=np.int64)
        take = min(n, 512)
        crop[:take] = np.frombuffer(payload[:take], dtype=np.uint8)
        cells = crop.reshape(64, 8).sum(axis=1)
        want = "".join(
            "1" if cells[k] > cells[k + 1] else "0" for k in range(63)
        )
        assert M._dhash_bits(pixels) == want, n


def test_image_dedup_plants_and_shape(spark):
    ta, tb = M._dhash_plant_texts()
    assert ta != tb and ta[:512] == tb[:512] and len(ta) > 512
    rows = {r["doc_id"]: r for r in M.multimodal_image_dedup(spark, SF).collect()}
    a, b = rows[-101], rows[-102]
    # same image hash from different byte streams; min-id keeper wins
    assert a["dhash"] == b["dhash"]
    assert a["keeper"] == b["keeper"] == -102
    assert a["is_dup"] and not b["is_dup"]
    assert a["n_group"] == 2
    # both classes non-vacuous on the natural corpus too
    nat = [r for d, r in rows.items() if d >= 0]
    assert any(r["is_dup"] for r in nat)
    assert any(not r["is_dup"] for r in nat)


def test_streaming_twin_equals_batch_key(spark):
    """The banked streaming twin (map-side hash on the document
    stream, parquet drain, shared dedup half) is row-identical to the
    batch key through the REAL streaming runtime — plants riding the
    stream included."""
    from kawa_spark.queries.streaming_mode import stream_exec_image_dedup

    batch = sorted(
        tuple(r) for r in M.multimodal_image_dedup(spark, SF).collect()
    )
    online = sorted(
        tuple(r) for r in stream_exec_image_dedup(spark, SF).collect()
    )
    assert online == batch


def test_image_near_dup_matches_oracle_and_plants(spark):
    rep = compare(spark, SF, M.multimodal_image_dedup_near, M._image_near_sql())
    assert rep["values_match"], rep
    rows = M.multimodal_image_dedup_near(spark, SF).collect()
    plant = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"]) for r in rows if r["doc_a"] < 0
    )
    # constructed distances: the base pair at 0, the bit-flip at
    # EXACTLY 1 to both — the class exact-hash dedup misses
    assert plant == [(-113, -112, 1), (-113, -111, 1), (-112, -111, 0)]
    nat = [r for r in rows if r["doc_a"] >= 0]
    assert any(r["hamming"] == 0 for r in nat)
    assert any(0 < r["hamming"] <= M.IMG_HAM_T for r in nat)


def test_image_near_equals_capped_brute_force(spark):
    """The registered semantics replayed in pure Python: band the
    hashes, evict buckets over IMG_BUCKET_CAP (the dedup tier's LSH
    guard — the corpus's trailing-zero bands are the crowded junk the
    cap exists for), pair docs sharing a SURVIVING band, keep
    hamming ≤ T. The banded plan must equal this reference EXACTLY —
    and the reference documents the cap's recall cost: without the
    cap the pigeonhole guarantee (T=2 < IMG_BANDS=3 ⇒ some band
    untouched) would make banding lossless, and the uncapped
    brute-force set is asserted to be a SUPERSET (the plan never
    invents pairs)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    d = (
        M.table(spark, SF, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    plants = spark.createDataFrame(
        M._dhash_near_plants(), schema="doc_id long, text string"
    )
    docs = d.unionByName(plants).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    hstr = {
        r["doc_id"]: r["dhash"] for r in M.image_hashes(docs).collect()
    }
    hint = {i: int(h, 2) for i, h in hstr.items()}
    # band membership (interleaved positions) + cap eviction
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for i, h in hstr.items():
        for b in range(M.IMG_BANDS):
            buckets[(b, M._band_of(h, b))].append(i)
    ref = set()
    for members in buckets.values():
        if len(members) > M.IMG_BUCKET_CAP:
            continue
        ms = sorted(members)
        for x, a in enumerate(ms):
            for b2 in ms[x + 1 :]:
                hd = (hint[a] ^ hint[b2]).bit_count()
                if hd <= M.IMG_HAM_T:
                    ref.add((a, b2, hd))
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in M.multimodal_image_dedup_near(spark, SF).collect()
    }
    assert banded == ref
    ids = sorted(hint)
    uncapped = {
        (a, b, (hint[a] ^ hint[b]).bit_count())
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (hint[a] ^ hint[b]).bit_count() <= M.IMG_HAM_T
    }
    assert banded <= uncapped  # the plan never invents pairs
    assert banded  # and finds a non-vacuous set


def test_incremental_image_matches_oracle_and_plants(spark):
    """dedup_incremental_image (r14 core, banked for the r15 window):
    oracle hash parity, the two planted match classes, and the
    cross-snapshot contract (every output pairs a new-side doc with a
    prior-side doc — never within a snapshot)."""
    rep = compare(spark, SF, M.dedup_incremental_image, M._inc_image_sql())
    assert rep["values_match"], rep
    rows = M.dedup_incremental_image(spark, SF).collect()
    plant = sorted(
        (r["doc_id"], r["prior_id"], r["hamming"])
        for r in rows
        if r["doc_id"] < 0
    )
    # crop-identical pair at 0; the constructed bit-flip at EXACTLY 1
    assert plant == [(-123, -121, 1), (-122, -121, 0)]
    from kawa_spark.queries.llm_dedup import INC_PRIOR_MOD

    for r in rows:
        if r["doc_id"] >= 0:
            assert r["doc_id"] % 10 >= INC_PRIOR_MOD  # new side
        if r["prior_id"] >= 0:
            assert r["prior_id"] % 10 < INC_PRIOR_MOD  # prior side


def test_incremental_image_lazy_core_and_cache_release(spark):
    """Family discipline from birth: the lazy core passes the
    mechanical scale audit with no cartesian AND stays row-identical
    to the registered, materialized form; that form leaves no
    persist-callsite storage behind."""
    from kawa_spark.plans.audit import audit_plan

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(M, "materialize", lambda out, *reused: out, raising=False)
        df = M.dedup_incremental_image(spark, SF)
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    lazy = sorted(tuple(r) for r in df.collect())
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    reg = sorted(
        tuple(r) for r in M.dedup_incremental_image(spark, SF).collect()
    )
    m = sc._jsc.getPersistentRDDs()
    residues = [str(m[rid].toString()) for rid in set(m.keys()) - before]
    assert all("localCheckpoint" in r for r in residues), residues
    assert lazy == reg and reg


def test_incremental_image_twin_equals_batch_key(spark):
    """Twin #21 (banked): the streaming form — hashes computed ON the
    document stream per microbatch, parquet-drained, fed to the
    SHARED hash-level core — must equal the batch key row-for-row."""
    from kawa_spark.queries.streaming_mode import (
        stream_exec_dedup_incremental_image,
    )

    online = sorted(
        tuple(r)
        for r in stream_exec_dedup_incremental_image(spark, SF).collect()
    )
    batch = sorted(
        tuple(r) for r in M.dedup_incremental_image(spark, SF).collect()
    )
    assert online == batch and batch
