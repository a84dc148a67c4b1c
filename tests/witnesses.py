"""Retired query bodies kept as bit-identity witnesses.

Each was a registered body (or its A/B challenger) until a faster form
replaced it; the tests compare the registered form against these
integer- or bit-for-bit. None is a query path: never registered, never
benched. The production modules keep only the registered forms.

* ``_similarity_topk_catalyst`` — the pre-r14 similarity_topk body
  (tests/test_pq_adc.py).
* ``_multiprobe_catalyst`` — the pre-r16 similarity_lsh_multiprobe body
  (tests/test_multiprobe_vectorized.py, ``scripts/ab.py multiprobe``).
* ``_assign_cells_structmin`` / ``_lloyd_assign_structmin`` — the pre-r15
  struct-min nearest-centroid assignments (tests/test_argmin_vectorized.py).
* ``_simhash_bitsums_occ`` / ``_simhash_bitsums_dict`` — the r15
  per-occurrence bitsum stage and the Arrow dictionary challenger
  (tests/test_simhash_dict.py, ``scripts/ab.py simhash``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kawa_spark.io import spread, table
from kawa_spark.queries.llm_dedup import _simhash_occ_terms
from kawa_spark.queries.llm_similarity import (
    ANN_PLANES,
    N_QUERIES,
    TOP_K,
    _d2_col,
    _probe_masks,
    _signature,
    cosine,
    dot,
)


def _similarity_topk_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 registered body — the per-row JVM Catalyst-fold
    cosine (F.aggregate is a strictly sequential IEEE left fold) kept
    as the bit-identity witness: with the registered key now
    delegating to the vectorized core, a registered-vs-vectorized
    comparison would test the vectorized form against itself (ADVICE
    r14). tests/test_pq_adc.py::test_vectorized_topk_bit_identical
    compares THIS body to the Arrow/numpy core, and the zero-norm
    test's DIVIDE_BY_ZERO legs exercise ITS ANSI division. Not a
    query path — never registered, never benched; retired from
    production for the measured 46×-at-100× fold ceiling
    (docs/SCALE.md r13/r14)."""
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.select("q_id", "n_id", "score", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= TOP_K)
    )


def _multiprobe_catalyst(
    spark: SparkSession, sf_dir: str, radius: int = 1
) -> DataFrame:
    """The pre-r16 registered body — interpreted-HOF signatures +
    broadcast probe join + per-pair Catalyst-fold cosine — kept
    as the bit-identity witness for the vectorized
    ``_multiprobe_frame`` (the ``_similarity_topk_catalyst`` pattern):
    never registered, never benched; retired from the query path for
    the per-candidate interpreted-fold ceiling (candidates ≈14% of
    the corpus per query at radius 2)."""
    e = table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id", "embedding", _signature(F.col("embedding"), ANN_PLANES).alias("sig")
    )
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(
            F.array(
                F.col("sig"),
                *[
                    F.col("sig").bitwiseXOR(F.lit(m)).alias(f"p{k}")
                    for k, m in enumerate(_probe_masks(radius))
                ],
            )
        ).alias("probe_sig"),
    )
    cand = corpus.join(
        F.broadcast(q),
        (F.col("sig") == F.col("probe_sig")) & (F.col("vec_id") != F.col("q_id")),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        cand.select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("score"),
        )
        .distinct()
        .select("q_id", "n_id", "score", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= TOP_K)
    )


def _assign_cells_structmin(en: DataFrame, cents: DataFrame) -> DataFrame:
    """The pre-r15 IVF assignment — exploded broadcast join +
    lexicographic struct-min aggregate — kept as the
    bit-identity witness for ``_assign_cells_vectorized`` (the
    ``_similarity_topk_catalyst`` pattern, ADVICE r14): never
    registered, never benched; retired from the query path for the
    measured 108×-at-10× SortAggregate/interpreted-fold ceiling.
    ``en`` must carry (vec_id, embedding, n_e); ``cents``
    (cell_id, cent, n_c)."""
    pair_cos = dot(F.col("embedding"), F.col("cent")) / (
        F.col("n_e") * F.col("n_c")
    )
    return (
        en.join(F.broadcast(cents))
        .select(
            "vec_id",
            F.struct(
                (-pair_cos).alias("dist"), "cell_id", "embedding", "n_e"
            ).alias("c"),
        )
        .groupBy("vec_id")
        .agg(F.min("c").alias("b"))
        .select(
            "vec_id",
            F.col("b.embedding").alias("embedding"),
            F.col("b.n_e").alias("n_e"),
            F.col("b.cell_id").alias("cell_id"),
        )
    )


def _lloyd_assign_structmin(e: DataFrame, cents: DataFrame) -> DataFrame:
    """The pre-r15 Lloyd assignment — exploded broadcast join +
    lexicographic struct-min aggregate — kept as the
    bit-identity witness for ``_lloyd_assign`` (the
    ``_similarity_topk_catalyst`` pattern, ADVICE r14): never a query
    path; retired for the SortAggregate-over-K·N-embedding-rows +
    interpreted-fold cost (22.9× at the 10× probe for K=8)."""
    scored = e.join(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cid",
        _d2_col(F.col("embedding"), F.col("emb")).alias("d2"),
    )
    return scored.groupBy("vec_id").agg(
        F.min(F.struct("d2", "cid", "embedding")).alias("b")
    ).select(
        "vec_id",
        F.col("b.cid").alias("cid"),
        F.col("b.d2").alias("d2"),
        F.col("b.embedding").alias("embedding"),
    )


def _simhash_bitsums_occ(d: DataFrame) -> DataFrame:
    """Per-doc (s0..s63, n_occ) bit sums, md5 hashed PER OCCURRENCE
    in the JVM — the r15 registered shape, retired from the query
    path by the r16 precount A/B (kept as the integer-identity
    witness; tests/test_simhash_dict.py pins all three stages).

    bit b of the simhash = sign of sum over occurrences of ±1, i.e.
    bs_b = 2·s_b − n where s_b = Σ bit_b and n = occurrence count —
    so the aggregate sums the RAW BIT (shift+and, no branch) 64
    times plus ONE shared count, instead of 64 conditional ±1
    selects (same integers — bs_b > 0 ⇔ 2·s_b > n — oracle
    untouched). Measured PARITY at the 10× probe (7.6 vs 7.4 s —
    the md5-per-occurrence stage dominates, not the aggregate
    branches); kept as the simpler aggregate shape.
    b is unrolled as a Python int (shift amounts must be literals);
    bits 0-31 come from the low digest half, 32-63 from the high."""
    digest = F.md5("term")
    occ = _simhash_occ_terms(d).select(
        "doc_id",
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long").alias("h_lo"),
        F.conv(F.substring(digest, 9, 8), 16, 10).cast("long").alias("h_hi"),
    )

    def bit_sum(b: int):
        field = "h_lo" if b < 32 else "h_hi"
        shift = b % 32
        return F.sum(F.shiftright(F.col(field), shift).bitwiseAND(F.lit(1)))

    return occ.groupBy("doc_id").agg(
        *[bit_sum(b).alias(f"s{b}") for b in range(64)],
        F.count(F.lit(1)).alias("n_occ"),
    )


def _simhash_bitsums_dict(d: DataFrame) -> DataFrame:
    """The A/B challenger (VERDICT r15 item 7): per-doc bit sums via
    one mapInArrow pass that md5-hashes each DISTINCT term once per
    task (a task-level term→halves dictionary; Arrow dictionary-
    encode surfaces the distinct terms per batch), then accumulates
    the (n, 64) bit panel per doc with vectorized segment sums and
    emits per-batch PARTIAL rows — the JVM groupBy(doc_id) sums the
    partials to the same integers (Σ over any partition of the
    occurrences). hashlib.md5 over the term's UTF-8 bytes is the
    same digest F.md5 computes; int(hex[:8], 16) is conv(_, 16, 10).
    Integer-exact by construction; pinned against the occurrence
    form by tests/test_simhash_dict.py."""
    from kawa_spark.shipping import ensure_shipped

    ensure_shipped(d.sparkSession)
    n_bits = 64
    cols = [f"s{b}" for b in range(n_bits)]
    schema = (
        "doc_id long, "
        + ", ".join(f"{c} long" for c in cols)
        + ", n_occ long"
    )

    def fold(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        shifts_lo = np.arange(32, dtype=np.int64)
        cache: dict = {}  # term -> (h_lo, h_hi); lives for the task

        def halves(term: str):
            hx = hashlib.md5(term.encode("utf-8")).hexdigest()
            return (int(hx[:8], 16), int(hx[8:16], 16))

        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc = batch.column(0).to_numpy(zero_copy_only=False)
            enc = pc.dictionary_encode(batch.column(1))
            if isinstance(enc, pa.ChunkedArray):
                enc = enc.combine_chunks()
            dict_terms = enc.dictionary.to_pylist()
            pairs = [cache.get(t) or cache.setdefault(t, halves(t)) for t in dict_terms]
            hl = np.fromiter(
                (p[0] for p in pairs), dtype=np.int64, count=len(pairs)
            )
            hh = np.fromiter(
                (p[1] for p in pairs), dtype=np.int64, count=len(pairs)
            )
            idx = enc.indices.to_numpy(zero_copy_only=False)
            # (n, 64) occurrence bit panel: low digest half → bits
            # 0-31, high half → bits 32-63 (the bit_sum convention)
            bits = np.concatenate(
                [
                    (hl[idx, None] >> shifts_lo[None, :]) & 1,
                    (hh[idx, None] >> shifts_lo[None, :]) & 1,
                ],
                axis=1,
            )
            # contiguous-run segment sums (explode emits a doc's terms
            # consecutively; a doc split across batches just yields
            # two partial rows — the downstream SUM is associative)
            starts = np.r_[0, np.flatnonzero(np.diff(doc) != 0) + 1]
            seg_doc = doc[starts]
            seg_n = np.diff(np.r_[starts, len(doc)])
            seg_sums = np.add.reduceat(bits, starts, axis=0)
            yield pa.RecordBatch.from_arrays(
                [pa.array(seg_doc, type=pa.int64())]
                + [
                    pa.array(seg_sums[:, b], type=pa.int64())
                    for b in range(n_bits)
                ]
                + [pa.array(seg_n, type=pa.int64())],
                names=["doc_id"] + cols + ["n_occ"],
            )

    partial = _simhash_occ_terms(d).mapInArrow(fold, schema=schema)
    return partial.groupBy("doc_id").agg(
        *[F.sum(c).alias(c) for c in cols],
        F.sum("n_occ").alias("n_occ"),
    )
