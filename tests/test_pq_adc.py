"""Product-quantization ANN (banked core) + the vectorized exact
top-k: oracle parity, an independent pure-Python replay of the whole
train/encode/ADC/rerank pipeline, bit-identity of the numpy fold, and
the plan/cache pins.

``similarity_pq_adc`` registered on the r14 window; the registered
``similarity_topk`` has delegated to ``similarity_topk_vectorized``
since r14, so the JVM-fold legs here drive the retained private
witness ``_similarity_topk_catalyst`` (ADVICE r14 — a
registered-vs-vectorized comparison would be the vectorized form
against itself).
"""

from __future__ import annotations

import hashlib

import pytest
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

import kawa_spark.queries.llm_similarity as S
import tests.witnesses as W
from tests.oracle_harness import compare

SF = "/root/testdata/sf0.001"


def test_pq_adc_matches_oracle(spark):
    rep = compare(spark, SF, S.similarity_pq_adc, S._pq_adc_sql())
    assert rep["values_match"], rep


def test_vectorized_topk_bit_identical(spark):
    """np.cumsum along the dim axis is a strictly sequential left
    fold, so the Arrow fast path must reproduce the JVM fold's floats
    BIT-FOR-BIT — not approximately. Since the r14 swap the
    registered similarity_topk IS the vectorized core, so the JVM
    side here is the retained PRIVATE Catalyst-fold witness
    ``_similarity_topk_catalyst`` — comparing against the registered
    key would test the vectorized form against itself (ADVICE
    r14)."""
    jvm = sorted(
        tuple(r) for r in W._similarity_topk_catalyst(spark, SF).collect()
    )
    vec = sorted(
        tuple(r) for r in S.similarity_topk_vectorized(spark, SF).collect()
    )
    assert jvm == vec and jvm


def test_vectorized_topk_zero_norm_is_loud_in_both_forms(spark, tmp_path):
    """The zero-norm edge of the bit-identity claim (code review
    r13): a zero-norm embedding makes cosine 0/0. Under ANSI mode
    (the Spark 4 default — what the driver's plain session runs) the
    JVM fold RAISES DIVIDE_BY_ZERO; numpy would instead produce a
    silent NaN that np.lexsort sorts LAST (Spark sorts NaN/NULL
    differently), so the two forms would quietly diverge on where
    that row ranks. The vectorized form therefore carries an explicit
    zero-norm guard and must refuse the input as loudly as the JVM
    body does — on the candidate side AND the query side."""
    import random

    rng = random.Random(0xAE13)

    def write_sf(name, zero_ids):
        rows = []
        for vid in range(24):
            emb = (
                [0.0] * S.DIM
                if vid in zero_ids
                else [rng.gauss(0, 1) for _ in range(S.DIM)]
            )
            rows.append((vid, emb, 0))
        sf = str(tmp_path / name)
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).coalesce(2).write.mode("overwrite").parquet(
            f"{sf}/embeddings.parquet"
        )
        return sf

    # zero-norm CANDIDATE (vec_id >= N_QUERIES). The JVM legs drive
    # the PRIVATE Catalyst-fold witness — the registered key now IS
    # the vectorized core, whose guard raising a message containing
    # the same string would make these legs vacuous (ADVICE r14).
    sf_cand = write_sf("zn_cand", {17})
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        W._similarity_topk_catalyst(spark, sf_cand).collect()
    with pytest.raises(Exception, match="zero-norm"):
        S.similarity_topk_vectorized(spark, sf_cand).collect()

    # zero-norm QUERY (vec_id < N_QUERIES) — guarded driver-side
    sf_q = write_sf("zn_query", {3})
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        W._similarity_topk_catalyst(spark, sf_q).collect()
    with pytest.raises(ArithmeticError, match="zero-norm query"):
        S.similarity_topk_vectorized(spark, sf_q)

    # and a clean corpus of the same shape agrees exactly (the
    # bit-identity pin on a non-testdata corpus)
    sf_ok = write_sf("zn_none", set())
    jvm = sorted(
        tuple(r)
        for r in W._similarity_topk_catalyst(spark, sf_ok).collect()
    )
    vec = sorted(
        tuple(r) for r in S.similarity_topk_vectorized(spark, sf_ok).collect()
    )
    assert jvm == vec and jvm


# ---------------------------------------------------------------------------
# independent pure-Python replay on a synthetic corpus
# ---------------------------------------------------------------------------


def _ref_round(x: float) -> int:
    """Spark's ROUND(double, 0): BigDecimal.valueOf(d) parses the
    SHORTEST decimal repr (== Python repr) then HALF_UP."""
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _ref_d2(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _ref_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _ref_train(vecs: dict[int, list[float]]) -> dict[tuple[int, int], list[float]]:
    """One quantized-Lloyd round per subspace in plain Python — the
    single copy of the training replay (shared by the pipeline
    reference and the code-table test; code review r12)."""
    M, SUB = S.PQ_M, S.PQ_SUBDIM
    seeds = sorted(
        vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[: S.PQ_CODES]
    cb: dict[tuple[int, int], list[float]] = {}
    for m in range(M):
        sseed = {c: vecs[s][m * SUB : (m + 1) * SUB] for c, s in enumerate(seeds)}
        groups: dict[int, list[list[float]]] = {}
        for v in vecs.values():
            sub = v[m * SUB : (m + 1) * SUB]
            _, best = min((_ref_d2(sub, sseed[c]), c) for c in sseed)
            groups.setdefault(best, []).append(sub)
        for c, subs in groups.items():
            cb[(m, c)] = [
                float(sum(_ref_round(s[d] * 1000000) for s in subs))
                / len(subs)
                / 1000000
                for d in range(SUB)
            ]
    return cb


def _ref_encode(
    vecs: dict[int, list[float]], cb: dict[tuple[int, int], list[float]]
) -> dict[int, list[int]]:
    """Per-subspace nearest code (ties → lower code)."""
    M, SUB = S.PQ_M, S.PQ_SUBDIM
    return {
        vid: [
            min(
                (_ref_d2(v[m * SUB : (m + 1) * SUB], cb[(m, c)]), c)
                for mm, c in cb
                if mm == m
            )[1]
            for m in range(M)
        ]
        for vid, v in vecs.items()
    }


def _ref_pq_adc(vecs: dict[int, list[float]]) -> list[tuple]:
    """The whole PQ pipeline as plain Python floats (IEEE doubles,
    left folds in index order — the same arithmetic both engines
    run), independent of Spark AND DuckDB."""
    M, SUB = S.PQ_M, S.PQ_SUBDIM
    cb = _ref_train(vecs)
    codes = _ref_encode(vecs, cb)

    # integer LUT ADC scan + exact rerank: adc = Σ over subspaces of
    # the per-(query, code) micro-unit table entry
    out = []
    for qid in sorted(vecs):
        if qid >= S.N_QUERIES:
            continue
        q = vecs[qid]
        dt = {
            (m, c): _ref_round(
                _ref_d2(q[m * SUB : (m + 1) * SUB], cb[(m, c)]) * 1000000
            )
            for (m, c) in cb
        }
        adc = sorted(
            (sum(dt[(m, codes[n][m])] for m in range(M)), n)
            for n in vecs
            if n != qid
        )
        cand = [n for _, n in adc[: S.PQ_RERANK]]
        scored = sorted(
            (
                -(
                    _ref_dot(q, vecs[n])
                    / (
                        np.sqrt(_ref_dot(q, q))
                        * np.sqrt(_ref_dot(vecs[n], vecs[n]))
                    )
                ),
                n,
            )
            for n in cand
        )
        for rnk, (neg, n) in enumerate(scored[: S.TOP_K], start=1):
            out.append((qid, n, float(-neg), rnk))
    return sorted(out)


def test_pq_adc_matches_pure_python_reference(spark, tmp_path):
    """Random float32 corpus → the Spark pipeline's rows (scores
    included, bitwise) equal the pure-Python replay."""
    rng = np.random.RandomState(7)
    n = 60
    emb32 = rng.rand(n, S.DIM).astype(np.float32)
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    rows = [
        (int(i), [float(x) for x in emb32[i]], int(i % 3)) for i in range(n)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, schema).write.parquet(
        f"{sf_dir}/embeddings.parquet"
    )

    got = sorted(tuple(r) for r in S.similarity_pq_adc(spark, sf_dir).collect())
    # the reference sees the float32 values exactly as doubles
    vecs = {i: [float(np.float64(x)) for x in emb32[i]] for i in range(n)}
    assert got == _ref_pq_adc(vecs)


# ---------------------------------------------------------------------------
# cache + plan pins
# ---------------------------------------------------------------------------


def test_pq_codebook_cache_reuse_and_evict(spark):
    S._cache_evict(SF)
    e = S.spread(S.table(spark, SF, "embeddings"), "vec_id")
    first = S._pq_codebook_rows(e, SF)
    again = S._pq_codebook_rows(e, SF)
    assert first is again  # replayed, not retrained
    assert [(m, c) for m, c, _ in first] == sorted(
        (m, c) for m, c, _ in first
    )
    assert all(len(cemb) == S.PQ_SUBDIM for _, _, cemb in first)
    assert {m for m, _, _ in first} == set(range(S.PQ_M))
    S._cache_evict(SF)
    assert all(k[0] != SF for k in S._PQ_CB_CACHE)


def test_pq_adc_plan_pins(spark):
    """The search plan never shuffles the corpus on vec_id (encode is
    map-side against the broadcast 1-row codebook; the only exchanges
    are the |Q|-key rank windows), the ADC rank cut prunes
    per-partition (WindowGroupLimit), and every join is broadcast."""
    df = S.similarity_pq_adc(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    # the only vec_id exchanges are spread()'s deliberate input
    # repartitions (REPARTITION_BY_NUM) — no stage may REQUIRE a
    # corpus shuffle on vec_id
    for ln in plan.splitlines():
        if "hashpartitioning(vec_id" in ln:
            assert "REPARTITION_BY_NUM" in ln, ln


def test_pq_adc_is_deterministic(spark):
    a = sorted(tuple(r) for r in S.similarity_pq_adc(spark, SF).collect())
    S._cache_evict(SF)  # retrain from scratch — same model, same rows
    b = sorted(tuple(r) for r in S.similarity_pq_adc(spark, SF).collect())
    assert a == b


def test_registered_recall_contains_five_row_core(spark):
    """The six-method audit, REGISTERED as similarity_recall since
    r13: (a) hash-green vs its oracle, (b) its five r12-method rows
    are EXACTLY the five-method _recall_frame(_RECALL_METHODS) core
    (the parameterized core cannot drift from the r12-registered
    binding), (c) the pq_adc row is non-vacuous — PQ finds a nonzero
    share of the exact top-k."""
    rep = compare(spark, SF, S.similarity_recall, S._recall_pq_oracle())
    assert rep["values_match"], rep

    full = S.similarity_recall(spark, SF).collect()
    five = sorted(tuple(r) for r in full if r["method"] != "pq_adc")
    core = sorted(
        tuple(r)
        for r in S._recall_frame(spark, SF, S._RECALL_METHODS).collect()
    )
    assert five == core
    pq = [r for r in full if r["method"] == "pq_adc"]
    assert len(pq) == S.N_QUERIES
    assert pq[0]["method_total"] == S.N_QUERIES * S.TOP_K
    assert pq[0]["method_hits"] > 0


def test_pq_codes_matches_oracle_and_reference(spark):
    """The code-table write: hash-green vs the analytic oracle, zero
    requirement-driven exchanges (map-only, embedding_quantize's cost
    class), and the codes agree with an independent pure-Python
    encode over the whole corpus."""
    rep = compare(spark, SF, S.embedding_pq_codes, S._pq_codes_sql())
    assert rep["values_match"], rep

    df = S.embedding_pq_codes(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "REPARTITION_BY_NUM" in ln, ln

    got = {r["vec_id"]: r["pq_codes"] for r in df.collect()}
    import duckdb

    con = duckdb.connect()
    raw = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{SF}/embeddings.parquet')"
    ).fetchall()
    con.close()
    vecs = {int(v): [float(np.float64(np.float32(x))) for x in emb] for v, emb in raw}
    codes = _ref_encode(vecs, _ref_train(vecs))
    for vid, want in codes.items():
        assert got[vid] == ",".join(str(c) for c in want), vid
