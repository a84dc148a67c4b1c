"""Registry-window hygiene (VERDICT r01 tasks 2 + 10).

The driver's correctness gate checks only the FIRST 50 registered
keys. These tests pin (a) that the intended DRIVER_WINDOW actually
occupies those slots, and (b) that the window is maximally useful:
every window key either carries a DuckDB oracle (full rows+schema+
hash check) or is on the explicit rows-only allowlist (semantics not
ANSI-SQL-expressible: approximate sketches, order-dependent float
state, opaque-binary kernels).
"""

from __future__ import annotations

import os

from kawa_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

registry.load_all()

WINDOW_SIZE = 50


def test_window_occupies_first_slots():
    keys = list(registry.QUERIES)
    assert keys[:WINDOW_SIZE] == registry.DRIVER_WINDOW


def test_window_size_is_driver_cap():
    assert len(registry.DRIVER_WINDOW) == WINDOW_SIZE
    assert len(set(registry.DRIVER_WINDOW)) == WINDOW_SIZE


def test_every_key_is_oracle_backed():
    """As of round 4 every registered key carries a DuckDB oracle —
    the approximate ones via the exact-value + approx_within_tol
    pattern, the stub-kernel multimodal ones via exact byte-math
    twins, the passthrough bench via its constant delivery count.
    A key registered without an oracle is a regression to the
    driver's weaker rows-only check."""
    missing = sorted(set(registry.QUERIES) - set(registry.ORACLES))
    assert not missing, missing


def test_window_covers_unseen_and_driver_red_keys():
    """Rotation contract (r5 form): every key that is either (a)
    driver-unseen — no CORRECTNESS_r* evidence at all — or (b)
    driver-red at its LATEST check must sit in the window this
    round, so the driver's next artifact can flip it green."""
    import glob
    import json

    latest: dict[str, tuple[int, bool]] = {}
    for p in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(p.rsplit("_r", 1)[1].split(".")[0])
        with open(p) as f:
            for k, v in json.load(f).items():
                ok = (
                    bool(v.get("rows_match"))
                    and bool(v.get("schema_match"))
                    and bool(v.get("hash_match", True))
                    and not v.get("err")
                )
                latest[k] = (rnd, ok)
    if not latest:  # driver artifacts absent (fresh checkout)
        return
    must_cover = {k for k in registry.QUERIES if k not in latest} | {
        k for k, (_, ok) in latest.items() if not ok and k in registry.QUERIES
    }
    assert must_cover <= set(registry.DRIVER_WINDOW), sorted(
        must_cover - set(registry.DRIVER_WINDOW)
    )


def test_every_key_still_registered_once():
    assert len(registry.QUERIES) >= 100
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_deferred_is_exactly_the_oldest_offwindow_tier():
    """Rotation contract as DATA (VERDICT r9 item 4): registry.DEFERRED
    must name exactly the keys whose latest driver evidence is the
    OLDEST round among keys outside this round's window — the set the
    next round's window MUST lead with. Computed from the committed
    CORRECTNESS_r*.json artifacts, so the pin survives the next driver
    run mechanically (in-window keys refresh their evidence; deferred
    keys keep the old round and stay the oldest tier)."""
    import glob
    import json

    latest: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(p.rsplit("_r", 1)[1].split(".")[0])
        with open(p) as f:
            for k in json.load(f):
                latest[k] = rnd
    if not latest:  # fresh checkout without driver artifacts
        return
    assert set(registry.DEFERRED) <= set(registry.QUERIES)
    assert not set(registry.DEFERRED) & set(registry.DRIVER_WINDOW)
    off_window = {
        k: r
        for k, r in latest.items()
        if k in registry.QUERIES and k not in registry.DRIVER_WINDOW
    }
    oldest = min(off_window.values())
    oldest_tier = {k for k, r in off_window.items() if r == oldest}
    assert set(registry.DEFERRED) == oldest_tier, (
        sorted(set(registry.DEFERRED) ^ oldest_tier)
    )


def test_oracle_output_types_are_driver_safe():
    """VERDICT r04 item 2: the driver's typed canonicalizer
    hash-mismatches when the oracle emits a DuckDB HUGEINT (int128)
    or unsigned column even when every value is identical — four
    value-correct queries went driver-red in r4 on exactly this
    (windowed SUM / SUM(CASE) / integer // over a SUM all widen to
    HUGEINT in DuckDB). Pin the whole class: DESCRIBE every oracle's
    result at sf0.001 and reject HUGEINT/UHUGEINT/UBIGINT/… columns.
    The fix at each site is CAST(expr AS BIGINT) on the final
    projection."""
    from tests.oracle_harness import duckdb_con

    banned = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT",
              "UTINYINT", "INT128", "UINT128"}
    con = duckdb_con("/root/testdata/sf0.001")
    offenders = {}
    for key, sql in sorted(registry.ORACLES.items()):
        rel = con.sql(sql)
        bad = [
            f"{name}:{t}"
            for name, t in zip(rel.columns, rel.types)
            if str(t).upper() in banned
        ]
        if bad:
            offenders[key] = bad
    con.close()
    assert not offenders, offenders


def test_oracle_outputs_are_driver_canonicalizable(spark):
    """The driver canonicalizes hash-checked results via pandas
    sort_values, which dies on array/map/struct cells (round 1's
    array_map_ops failure). Every oracle-backed query must therefore
    emit scalar columns only — complex values go out stringified
    (array_join / to_json), as embedding_quantize does."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = {}
    for key in registry.ORACLES:
        df = registry.QUERIES[key](spark, "/root/testdata/sf0.001")
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            offenders[key] = complex_cols
    assert not offenders, offenders
