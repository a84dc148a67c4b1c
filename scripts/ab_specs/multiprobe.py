"""similarity_lsh_multiprobe(+_wide): the registered vectorized kernel
against the retained pre-r16 Catalyst body
(``tests/witnesses.py::_multiprobe_catalyst``), both probe radii."""

from __future__ import annotations

from functools import partial

from ab import query
from kawa_spark.queries.llm_similarity import (
    WIDE_PROBE_RADIUS,
    similarity_lsh_multiprobe,
    similarity_lsh_multiprobe_wide,
)
from tests.witnesses import _multiprobe_catalyst

CASES = {
    "similarity_lsh_multiprobe": (1, similarity_lsh_multiprobe),
    "similarity_lsh_multiprobe_wide": (
        WIDE_PROBE_RADIUS, similarity_lsh_multiprobe_wide
    ),
}


def cases(spark, data):
    for key, (radius, registered) in CASES.items():
        yield key, {
            "catalyst": query(spark, partial(_multiprobe_catalyst, radius=radius), data),
            "vectorized": query(spark, registered, data),
        }
