#!/usr/bin/env python
"""A/B probe for VERDICT r15 item 7: dedup_simhash's bitsum stages —
md5 per occurrence and the distinct-term-dictionary Arrow stage (both
witnesses in tests/witnesses.py) vs the registered distinct-pair
precount — each through the lazy pair pipeline, at a synthetic scale-up.

Usage: python scripts/probe_simhash_ab.py [data_dir] [reps]
       (default data_dir=/tmp/kawa_scale_probe, reps=2)
Times the FULL query (bitsums -> pairs) with the noop sink, min-of-reps,
and cross-checks row counts + pair-set equality between the variants.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kawa_spark.io import spread, table  # noqa: E402
from kawa_spark.queries.llm_dedup import (  # noqa: E402
    _simhash_bitsums_precount,
    _simhash_pairs_from_bitsums,
)
from kawa_spark.session import get_spark  # noqa: E402
from tests.witnesses import (  # noqa: E402
    _simhash_bitsums_dict,
    _simhash_bitsums_occ,
)


def main() -> None:
    data = sys.argv[1] if len(sys.argv) > 1 else "/tmp/kawa_scale_probe"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark(app_name="probe_simhash_ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def variant(bitsums):
        def run(spark, sf_dir):
            d = spread(table(spark, sf_dir, "documents"), "doc_id")
            return _simhash_pairs_from_bitsums(bitsums(d))

        return run

    def best_of(fn, label):
        best = None
        for _ in range(reps):
            t = time.perf_counter()
            fn(spark, data).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t
            print(f"  {label}: {dt:.2f}s", flush=True)
            best = dt if best is None else min(best, dt)
        return best

    t_occ = best_of(variant(_simhash_bitsums_occ), "occ")
    t_dict = best_of(variant(_simhash_bitsums_dict), "dict")
    t_pre = best_of(variant(_simhash_bitsums_precount), "precount")
    print(
        f"occurrence-md5 {t_occ:8.2f}s  dict-arrow {t_dict:8.2f}s "
        f"({t_occ / t_dict:.2f}x)  precount-jvm {t_pre:8.2f}s "
        f"({t_occ / t_pre:.2f}x)",
        flush=True,
    )

    # integer-identity cross-check on the full-scale build
    d = spread(table(spark, data, "documents"), "doc_id")
    occ = _simhash_bitsums_occ(d)
    for label, other in (
        ("dict", _simhash_bitsums_dict(d)),
        ("precount", _simhash_bitsums_precount(d)),
    ):
        diff = occ.exceptAll(other).limit(1).count()
        print(f"bitsum exceptAll diff rows ({label}): {diff}", flush=True)


if __name__ == "__main__":
    main()
