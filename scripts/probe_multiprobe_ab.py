#!/usr/bin/env python
"""A/B probe for the r16 multi-probe LSH vectorization: the retained
pre-r16 Catalyst witness (tests/witnesses.py::_multiprobe_catalyst) vs the registered
vectorized form, same JVM, same build, both radii.

Usage: python scripts/probe_multiprobe_ab.py [data_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kawa_spark.queries.llm_similarity import (  # noqa: E402
    similarity_lsh_multiprobe,
    similarity_lsh_multiprobe_wide,
)
from kawa_spark.session import get_spark  # noqa: E402
from tests.witnesses import _multiprobe_catalyst  # noqa: E402


def main() -> None:
    data = sys.argv[1] if len(sys.argv) > 1 else "/tmp/kawa_scale_probe"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark(app_name="probe_multiprobe_ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    cases = [
        ("catalyst_r1", lambda s, d: _multiprobe_catalyst(s, d, radius=1)),
        ("vectorized_r1", similarity_lsh_multiprobe),
        ("catalyst_r2", lambda s, d: _multiprobe_catalyst(s, d, radius=2)),
        ("vectorized_r2", similarity_lsh_multiprobe_wide),
    ]
    for label, fn in cases:
        best = None
        for _ in range(reps):
            t = time.perf_counter()
            fn(spark, data).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t
            best = dt if best is None else min(best, dt)
        print(f"{label:16s} min {best:8.2f}s", flush=True)


if __name__ == "__main__":
    main()
