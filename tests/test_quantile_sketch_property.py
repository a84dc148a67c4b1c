"""Independent-implementation cross-check of the bottom-K quantile
sketch (queries/stats.agg_quantile_sketch): the oracle mirrors the
construction, so a shared error (wrong rank index, wrong sample
membership) would hash-match anyway. This reference rebuilds the
sample with hashlib md5 and numpy-free Python, picks the lower-disc
quantiles, and recomputes the audit ranks from scratch.
"""

from __future__ import annotations

import hashlib
import math

from kawa_spark import registry
from kawa_spark.queries.stats import QSK_K

registry.load_all()

SF = "/root/testdata/sf0.001"
_DENOM = float(1 << 60)


def _u(event_id: int) -> float:
    return int(
        hashlib.md5(str(event_id).encode()).hexdigest()[:15], 16
    ) / _DENOM


def _ref(rows):
    by_type: dict[str, list] = {}
    for eid, typ, val in rows:
        by_type.setdefault(typ, []).append((eid, val))
    out = {}
    for typ, evs in by_type.items():
        sample = sorted(evs, key=lambda e: (_u(e[0]), e[0]))[:QSK_K]
        vals = sorted((v, e) for e, v in sample)
        m = len(vals)
        p50 = vals[math.floor((m - 1) * 0.5)][0]
        p90 = vals[math.floor((m - 1) * 0.9)][0]
        n = len(evs)
        le50 = sum(1 for _, v in evs if v <= p50)
        le90 = sum(1 for _, v in evs if v <= p90)
        out[typ] = (
            n,
            m,
            p50,
            p90,
            le50 / n,
            le90 / n,
            abs(10 * 2 * le50 - 10 * n) <= 2 * n,
            abs(10 * 10 * le90 - 10 * 9 * n) <= 10 * n,
        )
    return out


def test_quantile_sketch_matches_independent_reference(spark):
    e = [
        (r["event_id"], r["event_type"], r["value"])
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "event_type", "value")
        .collect()
    ]
    got = {
        r["event_type"]: (
            r["n"],
            r["k_used"],
            r["p50_est"],
            r["p90_est"],
            r["p50_rank"],
            r["p90_rank"],
            r["p50_ok"],
            r["p90_ok"],
        )
        for r in registry.QUERIES["agg_quantile_sketch"](
            spark, SF
        ).collect()
    }
    assert got == _ref(e)
    assert got, "degenerate: no groups"


def test_quantile_sketch_merge_identity(spark):
    """Mergeability — the scale story: bottom-K of the UNION of
    per-shard bottom-K samples equals the global bottom-K sample, so
    the estimates from merged partials are IDENTICAL to the
    single-pass estimates. Proven here by sharding the input three
    ways, sketching each shard, merging, and comparing against the
    registered key's output."""
    import pandas as pd

    pdf = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "event_type", "value")
        .toPandas()
    )
    shards = [pdf[pdf["event_id"] % 3 == i] for i in range(3)]

    def bottom_k(frame: pd.DataFrame) -> list:
        rows = [
            (int(r.event_id), r.event_type, float(r.value))
            for r in frame.itertuples()
        ]
        by_type: dict[str, list] = {}
        for eid, typ, val in rows:
            by_type.setdefault(typ, []).append((eid, val))
        out = []
        for typ, evs in by_type.items():
            for eid, val in sorted(evs, key=lambda e: (_u(e[0]), e[0]))[
                :QSK_K
            ]:
                out.append((eid, typ, val))
        return out

    merged = bottom_k(
        pd.DataFrame(
            [x for s in shards for x in bottom_k(s)],
            columns=["event_id", "event_type", "value"],
        )
    )
    # the merged sample must BE the global sample
    global_sample = bottom_k(pdf)
    assert sorted(merged) == sorted(global_sample)


def test_bottom_k_kernel_matches_bruteforce_any_split(spark, tmp_path_factory):
    """The streaming kernel's FINAL sample must equal the brute-force
    global bottom-K under random microbatch splits — the
    order-insensitivity claim (no time contract) tested directly.
    Uses adversarial event_ids (dense + huge + negative plants-range)
    so the md5 rank exercises real collisions of prefix ordering."""
    import random
    import uuid

    import pandas as pd

    from kawa_spark.streaming.stateful import bottom_k_sample
    from tests.conftest import drain_batches

    rng = random.Random(0x5EED)
    K = 7
    rows = []
    for typ in ["a", "b"]:
        ids = rng.sample(range(10_000_000_000), 40) + [-5, -12_000_003]
        for eid in ids:
            rows.append((eid, typ, round(rng.uniform(0, 100), 2)))
    rng.shuffle(rows)
    c1, c2 = sorted((rng.randrange(len(rows)), rng.randrange(len(rows))))
    batches = [
        pd.DataFrame(b, columns=["event_id", "event_type", "value"])
        for b in (rows[:c1], rows[c1:c2], rows[c2:])
        if b
    ]
    drained = drain_batches(
        spark,
        tmp_path_factory.mktemp("bk_src"),
        "event_id long, event_type string, value double",
        batches,
        lambda s: bottom_k_sample(s, K),
        f"bkp_{uuid.uuid4().hex[:8]}",
    )
    by_type_seq: dict = {}
    for r in drained:
        by_type_seq.setdefault(r["event_type"], {}).setdefault(
            r["seq"], set()
        ).add((r["event_id"], r["value"]))
    got = {
        t: seqs[max(seqs)] for t, seqs in by_type_seq.items()
    }
    want = {}
    for typ in ["a", "b"]:
        evs = [(e, v) for e, t, v in rows if t == typ]
        want[typ] = set(
            sorted(evs, key=lambda ev: (_u(ev[0]), ev[0]))[:K]
        )
    assert got == want


def test_bottom_k_sample_survives_restart(spark, tmp_path):
    """The array-valued sample state round-trips the checkpoint: a
    post-restart batch merges against the pre-restart sample (an
    element seen before the restart stays in the final snapshot only
    if it survives the merged bottom-K)."""
    import json

    from pyspark.sql import functions as F

    from kawa_spark.sources.replay import register_replay_source
    from kawa_spark.streaming.stateful import bottom_k_sample

    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    cp = str(tmp_path / "cp")
    snaps: dict[int, set] = {}

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
        )
        parsed = raw.select(
            F.from_json(
                "value", "event_id long, event_type string, value double"
            ).alias("v")
        ).select("v.*")
        q = (
            bottom_k_sample(parsed, 3)
            .writeStream.foreachBatch(
                lambda df, bid: [
                    snaps.setdefault(r["seq"], set()).add(
                        (r["event_id"], r["value"])
                    )
                    for r in df.collect()
                ]
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        assert q.awaitTermination(120)

    def emit(eid, val):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {"event_id": eid, "event_type": "t", "value": val}
                )
                + "\n"
            )

    for eid in (10, 11, 12, 13):
        emit(eid, float(eid))
    drain()
    assert len(snaps) == 1 and len(snaps[max(snaps)]) == 3

    # restart: the merged sample must be bottom-3 of ALL 6 ids — only
    # possible if the pre-restart arrays came back from the checkpoint
    emit(14, 14.0)
    emit(15, 15.0)
    drain()
    final = snaps[max(snaps)]
    all_ids = [10, 11, 12, 13, 14, 15]
    want = set(
        (e, float(e))
        for e in sorted(all_ids, key=lambda e: (_u(e), e))[:3]
    )
    assert final == want


def test_tight_flags_split_classes_at_gate_sf(spark):
    """The 1/100 tight band must carry BOTH boolean classes at the
    driver gate's SF (sf0.01) — the non-vacuity discipline for
    tolerance flags (code review r10). At sf0.001 the sample
    saturates (n < K per group → exact estimates → all-true), which
    is the documented expectation, not a failure."""
    rows = registry.QUERIES["agg_quantile_sketch"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    tight = [r["p50_tight"] for r in rows] + [r["p90_tight"] for r in rows]
    assert any(tight) and not all(tight), tight
    # and the guarantee band still holds everywhere (the contract)
    assert all(r["p50_ok"] and r["p90_ok"] for r in rows)


def test_bottom_k_kernel_is_duplicate_idempotent(spark, tmp_path_factory):
    """Redelivering the SAME rows in a later microbatch must leave the
    final sample untouched (the merge dedups on id) — the property the
    online KMV distinct sketch stands on: re-observing a user is a
    no-op, so the sample size is min(K, n_distinct), never inflated
    by repeat traffic."""
    import uuid

    import pandas as pd

    from kawa_spark.streaming.stateful import bottom_k_sample
    from tests.conftest import drain_batches

    rows = [(e, "t", float(e)) for e in range(20)]
    batch = pd.DataFrame(
        rows, columns=["event_id", "event_type", "value"]
    )
    drained = drain_batches(
        spark,
        tmp_path_factory.mktemp("dup_src"),
        "event_id long, event_type string, value double",
        [batch, batch, batch.iloc[:5]],  # full redelivery + partial
        lambda s: bottom_k_sample(s, 4),
        f"dup_{uuid.uuid4().hex[:8]}",
    )
    by_seq: dict = {}
    for r in drained:
        by_seq.setdefault(r["seq"], set()).add((r["event_id"], r["value"]))
    want = set(
        (e, float(e))
        for e in sorted(range(20), key=lambda e: (_u(e), e))[:4]
    )
    # batch 1 establishes the sample; the redelivery batches change
    # NOTHING, so no further snapshot is emitted (emissions track
    # sample churn, not batch count)
    assert by_seq == {1: want}
