"""dedup_simhash's bitsum stage, each form through the same lazy pair
pipeline: md5 per occurrence and the distinct-term Arrow dictionary
(both retained in ``tests/witnesses.py``) against the registered
distinct-(doc_id, term) precount."""

from __future__ import annotations

from ab import query
from kawa_spark.io import spread, table
from kawa_spark.queries.llm_dedup import (
    _simhash_bitsums_precount,
    _simhash_pairs_from_bitsums,
)
from tests.witnesses import _simhash_bitsums_dict, _simhash_bitsums_occ

BITSUMS = {
    "occurrence_md5": _simhash_bitsums_occ,
    "dict_arrow": _simhash_bitsums_dict,
    "precount": _simhash_bitsums_precount,
}


def _pairs(bitsums):
    def build(spark, data):
        d = spread(table(spark, data, "documents"), "doc_id")
        return _simhash_pairs_from_bitsums(bitsums(d))

    return build


def cases(spark, data):
    yield "dedup_simhash", {n: query(spark, _pairs(b), data) for n, b in BITSUMS.items()}
