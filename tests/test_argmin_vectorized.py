"""The r15 vectorized nearest-centroid assignment must reproduce the
retired struct-min aggregate BIT-FOR-BIT (the _similarity_topk_catalyst
witness pattern, ADVICE r14): same IEEE left-fold distances, same
(dist asc, id asc) tie-break, same Spark-total-order NaN handling.

Witnesses: _assign_cells_structmin (IVF cosine form) and
_lloyd_assign_structmin (squared-L2 form) — the pre-r15 bodies kept
private in llm_similarity.py. The DuckDB oracles independently check
the registered keys' final rows; these tests pin the assignment stage
itself, including the tie/NaN corners the real corpus never hits.
"""

from __future__ import annotations

import struct as _struct

from pyspark.sql import functions as F
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
from kawa_spark.io import table

SF = "/root/testdata/sf0.001"


def _bits(x: float) -> bytes:
    return _struct.pack("<d", float(x))


def _ivf_en(e):
    return e.select(
        "vec_id",
        "embedding",
        F.sqrt(S.dot(F.col("embedding"), F.col("embedding"))).alias("n_e"),
    )


def _ivf_cents(en):
    return (
        en.filter(F.col("vec_id") % 53 == 0)
        .orderBy("vec_id")
        .limit(S.IVF_MAX_CELLS)
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("embedding").alias("cent"),
            F.col("n_e").alias("n_c"),
        )
    )


def test_ivf_assign_bit_identical(spark):
    e = table(spark, SF, "embeddings")
    en = _ivf_en(e)
    cents = _ivf_cents(en)
    new = {
        r["vec_id"]: (r["cell_id"], _bits(r["n_e"]))
        for r in S._assign_cells_vectorized(e, cents.collect()).collect()
    }
    old = {
        r["vec_id"]: (r["cell_id"], _bits(r["n_e"]))
        for r in W._assign_cells_structmin(en, cents).collect()
    }
    assert new == old and len(new) == e.count()


def test_lloyd_assign_bit_identical(spark):
    e = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = S._lloyd_seeds(e)
    new = {
        r["vec_id"]: (r["cid"], _bits(r["d2"]))
        for r in S._lloyd_assign(e, cents).collect()
    }
    old = {
        r["vec_id"]: (r["cid"], _bits(r["d2"]))
        for r in W._lloyd_assign_structmin(e, cents).collect()
    }
    assert new == old and len(new) == e.count()


def _mk_embeddings(spark, rows):
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_assign_tie_breaks_to_smallest_id(spark):
    """Two byte-identical centroids under different ids: every vector
    is equidistant from both, and BOTH forms must break the tie to
    the smaller id (struct-min lexicographic; argmin first-minimum
    over id-ascending columns)."""
    e = _mk_embeddings(
        spark,
        [(i, [float(i + 1), float(2 * i), 1.0, -0.5]) for i in range(20)],
    )
    dup = [1.0, 0.0, 3.0, 0.25]
    cents_rows = [(5, dup), (9, dup), (7, [0.0, 1.0, -2.0, 4.0])]
    cents = spark.createDataFrame(
        cents_rows,
        StructType(
            [
                StructField("cid", IntegerType()),
                StructField("emb", ArrayType(FloatType())),
            ]
        ),
    )
    new = {
        r["vec_id"]: r["cid"] for r in S._lloyd_assign(e, cents).collect()
    }
    old = {
        r["vec_id"]: r["cid"]
        for r in W._lloyd_assign_structmin(e, cents).collect()
    }
    assert new == old
    # the duplicate pair can only ever win as cid 5, never 9
    assert 9 not in set(new.values())


def test_assign_zero_norm_vector_both_refuse(spark):
    """A zero-norm corpus vector is a zero cosine denominator, and
    ANSI-mode JVM division raises DIVIDE_BY_ZERO even on doubles —
    so the struct-min witness fails loudly, and the vectorized form
    must refuse identically (the similarity_topk_vectorized rule),
    never silently assign through a masked NaN."""
    import pytest

    rows = [(i, [float(i + 1), 1.0, 0.0, 2.0]) for i in range(1, 8)]
    rows.append((0, [0.0, 0.0, 0.0, 0.0]))  # zero-norm vector
    e = _mk_embeddings(spark, rows)
    en = _ivf_en(e)
    cents = en.filter(F.col("vec_id").isin(2, 4, 6)).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("cent"),
        F.col("n_e").alias("n_c"),
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        W._assign_cells_structmin(en, cents).collect()
    # the worker-side ArithmeticError surfaces as a PythonException;
    # match on the shared DIVIDE_BY_ZERO marker
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S._assign_cells_vectorized(e, cents.collect()).collect()


def test_lloyd_assign_nan_input_matches(spark):
    """A NaN component makes every squared-L2 distance NaN for that
    vector (no division — nothing raises): Spark's total order sorts
    NaN greatest, so struct-min falls through to the smallest cid on
    the all-NaN row, and the vectorized form's inf-masked argmin must
    land on the same cid with the same NaN d2."""
    import math

    rows = [(i, [float(i), 1.0, -2.0, 0.5]) for i in range(1, 6)]
    rows.append((0, [float("nan"), 1.0, 1.0, 1.0]))
    e = _mk_embeddings(spark, rows)
    cents = spark.createDataFrame(
        [(0, [1.0, 1.0, -2.0, 0.5]), (1, [4.0, 1.0, -2.0, 0.5])],
        StructType(
            [
                StructField("cid", IntegerType()),
                StructField("emb", ArrayType(FloatType())),
            ]
        ),
    )
    new = {
        r["vec_id"]: (r["cid"], math.isnan(r["d2"]))
        for r in S._lloyd_assign(e, cents).collect()
    }
    old = {
        r["vec_id"]: (r["cid"], math.isnan(r["d2"]))
        for r in W._lloyd_assign_structmin(e, cents).collect()
    }
    assert new == old and len(new) == 6
    assert new[0] == (0, True)  # all-NaN row → smallest cid, NaN d2


def test_assign_empty_centroids_is_empty(spark):
    """Empty centroid set → empty assignment (the old inner-join-
    with-empty-broadcast behaviour), not an error."""
    e = _mk_embeddings(spark, [(1, [1.0, 2.0])])
    assert S._assign_cells_vectorized(e, []).count() == 0
    cents = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("cid", IntegerType()),
                StructField("emb", ArrayType(FloatType())),
            ]
        ),
    )
    assert S._lloyd_assign(e, cents).count() == 0
