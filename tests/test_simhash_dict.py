"""The simhash dictionary bitsum stage (A/B challenger, VERDICT r15
item 7) must produce the SAME integers as the registered occurrence
form: hashlib.md5 over UTF-8 bytes = F.md5; int(hex, 16) = conv;
partial per-batch segment sums + JVM SUM = one big SUM (associative
integer adds). The pipelines built on either stage are then
row-identical by construction — checked end-to-end anyway.
"""

from __future__ import annotations

import kawa_spark.queries.llm_dedup as D
import tests.witnesses as W
from kawa_spark.io import table

SF = "/root/testdata/sf0.001"


def test_bitsum_stages_integer_identical(spark):
    d = table(spark, SF, "documents")
    occ = {
        r["doc_id"]: tuple(r)[1:]
        for r in W._simhash_bitsums_occ(d).collect()
    }
    dic = {
        r["doc_id"]: tuple(r)[1:]
        for r in W._simhash_bitsums_dict(d).collect()
    }
    pre = {
        r["doc_id"]: tuple(r)[1:]
        for r in D._simhash_bitsums_precount(d).collect()
    }
    assert occ == dic and occ == pre and len(occ) == d.count()


def test_pipelines_row_identical(spark):
    d = table(spark, SF, "documents")
    a = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D._simhash_pairs_from_bitsums(
            W._simhash_bitsums_occ(d)
        ).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D._simhash_pairs_from_bitsums(
            W._simhash_bitsums_dict(d)
        ).collect()
    }
    assert a == b
