"""The r16 vectorized multi-probe LSH must reproduce the retired
Catalyst form BIT-FOR-BIT at both registered radii (the
_similarity_topk_catalyst witness pattern): same fold-dot signatures,
same probe sets, same candidate membership, same IEEE cosine scores,
same (score desc, n_id asc) window order. The DuckDB oracles
independently check the registered keys' final rows; this pins the
vectorized kernel against the JVM witness, including the batch-local
top-k pruning (prunes must never drop a global top-k row).
"""

from __future__ import annotations

import struct as _struct

import numpy as np

import kawa_spark.queries.llm_similarity as S
import tests.witnesses as W

SF = "/root/testdata/sf0.001"


def _bits(x: float) -> bytes:
    return _struct.pack("<d", float(x))


def _rows(df) -> dict:
    return {
        (r["q_id"], r["rnk"]): (r["n_id"], _bits(r["score"]))
        for r in df.collect()
    }


def test_multiprobe_bit_identical_radius1(spark):
    new = _rows(S._multiprobe_frame(spark, SF, radius=1))
    old = _rows(W._multiprobe_catalyst(spark, SF, radius=1))
    assert new == old and len(new) > 0


def test_multiprobe_bit_identical_radius2(spark):
    new = _rows(S._multiprobe_frame(spark, SF, radius=S.WIDE_PROBE_RADIUS))
    old = _rows(W._multiprobe_catalyst(spark, SF, radius=S.WIDE_PROBE_RADIUS))
    assert new == old and len(new) > 0


def test_lsh_sig_bits_nan_counts_as_greater():
    """Spark and DuckDB order NaN above every number, so a NaN fold
    dot must SET its plane bit (numpy's NaN > 0 is False — the OR'd
    isnan branch covers it)."""
    dots = np.array([[np.nan, -1.0, 0.0, 2.0]])
    assert S._lsh_sig_bits(dots).tolist() == [0b1001]


def test_topk_order_nan_before_inf_matches_spark(spark):
    """The batch-local top-k must replay the window's order: NaN above
    +inf (they used to tie, NaN being mapped to -inf), then score desc,
    then n_id asc."""
    scores = np.array([np.inf, np.nan, 1.0, np.nan, np.inf, -np.inf, 2.0])
    ids = np.array([1, 9, 3, 2, 5, 6, 7])
    got = ids[S._nan_first_desc_order(scores, ids, len(ids))].tolist()
    df = spark.createDataFrame(
        [(int(i), float(x)) for i, x in zip(ids, scores)], "n_id long, score double"
    )
    want = [r.n_id for r in df.orderBy(df.score.desc(), "n_id").collect()]
    assert got == want == [2, 9, 1, 5, 7, 3, 6]
    assert ids[S._nan_first_desc_order(scores, ids, 3)].tolist() == [2, 9, 1]


def test_seq_fold_matches_cumsum():
    """The per-dim panel accumulation must reproduce the r15 cumsum
    folds bit-for-bit (same add order) — including subnormal and
    sign-of-zero corners."""
    rng = np.random.default_rng(7)
    em = rng.standard_normal((23, 9))
    w = rng.standard_normal((5, 9))
    em[3] *= 1e-160  # subnormal products
    w[2] *= 1e-160
    em[4] = 0.0
    want = np.empty((23, 5))
    for k in range(5):
        want[:, k] = np.cumsum(em * w[k], axis=1)[:, -1]
    assert S._seq_fold_dots(em, w).tobytes() == want.tobytes()
    for k in range(5):
        d = em - w[k]
        want[:, k] = np.cumsum(d * d, axis=1)[:, -1]
    assert S._seq_fold_d2(em, w).tobytes() == want.tobytes()
    assert (
        S._seq_fold_sq_norm(em).tobytes()
        == np.cumsum(em * em, axis=1)[:, -1].tobytes()
    )
