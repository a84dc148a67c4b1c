"""Custom stateful streaming operators.

kawa has no key-partitioned state at all (SURVEY.md §2A "does NOT
implement"); this is mandate surface. The batch twins live in
kawa_spark/queries/events.py (window cumsum); these are the streaming
forms, keyed on user_id with per-group state in the state store
(RocksDB provider configured in kawa_spark.session).

Scale posture: state is partitioned by the group key across
executors; per-key state is O(1) (a single running float + count), so
state-store size grows with distinct keys, not event volume. A
watermark bounds replay on recovery; timeouts would evict idle keys
(not used here — the ops are cumulative by design).

Every time-ordered kernel is a ``step`` function run by the one
ordered-fold shell, ``_ordered_fold``, whose docstring states the
chunk handling and the time-ordered-batch contract once.

Closures are self-contained (pandas-only) — see shipping.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout


def _ordered_fold(
    events: DataFrame,
    cols: list,
    keys: list[str],
    order: list[str],
    step,
    out_schema: str,
    state_schema: str,
) -> DataFrame:
    """The one ordered-fold shell behind every time-ordered kernel:
    ``select(cols)`` → ``groupBy(keys)`` → ``applyInPandasWithState``
    (append mode, NoTimeout), with each key's microbatch rows handed
    to ``step`` sorted on ``order``.

    ``step(key, pdf, state)`` gets the key's non-empty, sorted rows
    and its stored state tuple (None for a new key), and returns
    ``(new_state, out)`` where ``out`` is a pandas frame of output
    rows or None. A key whose chunks are all empty is not stepped:
    with NoTimeout its stored state persists untouched. The worker
    closure references only closure cells and local imports
    (shipping.py's self-contained policy), so ``step`` must be a
    nested function with local imports too.

    CHUNKS: Spark hands a hot key's microbatch to the worker as
    multiple Arrow chunks (maxRecordsPerBatch, default 10k) in no
    particular time order. Folding per chunk would fold rows out of
    order, miss cross-chunk peers and evict state a later chunk still
    needs, so the chunks are concatenated, then sorted on ``order``.
    That costs per-(key, batch) memory equal to the key's batch
    events — the same bound a batch window's per-partition sort has.
    tests/test_stateful.py forces multi-chunk groups with
    maxRecordsPerBatch=2 to pin this for each kernel shape.

    TIME-ORDERED-BATCH CONTRACT (ADVICE r8): a fold measures each row
    against the key's previous row IN ARRIVAL ORDER across batches,
    so batches must be non-decreasing in event time per key for exact
    oracle equivalence. That holds for the single availableNow drain
    the registered keys run, and for any source that delivers per key
    in order (e.g. a partitioned log keyed by user). The gap kernels
    (beacon_scores, net_hops, the chain kernels, session_transitions,
    funnel_states) SKIP a genuinely late row (timestamp behind the
    key's high-water mark) without moving the mark, and COUNT it in
    state; every emitted row carries that cumulative ``late_count``,
    and the registered keys' oracles pin it to 0 — so the contract
    is hash-checked, not only documented. Their state
    initialization rides on the state's existence, NOT a timestamp
    sentinel (code review: a -1 sentinel misclassifies pre-epoch
    events as late and drops them)."""

    def fn(key, pdfs, state):
        import pandas as pd

        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        new_state, out = step(
            key, pdf.sort_values(order), state.get if state.exists else None
        )
        state.update(new_state)
        if out is not None:
            yield out

    return (
        events.select(*cols)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


RUNNING_TOTAL_SCHEMA = (
    "user_id long, event_id long, ts timestamp, running_total double"
)
_STATE_SCHEMA = "total_cents long, n long"


def running_total(events: DataFrame) -> DataFrame:
    """Per-user cumulative sum of `value`, one output row per event —
    the streaming twin of queries/events.py::stateful_running_total.

    Rows fold in (ts, event_id) order (_ordered_fold); the carried
    state seeds the next batch. The accumulator is integer CENTS
    (value has 2 decimals), the same exact arithmetic as the batch
    twin's DECIMAL(12,2) sum — so the emitted totals hash-match the
    SQL window-cumsum oracle exactly, not just approximately.
    """

    def step(key, pdf, st):
        import pandas as pd

        total_cents, n = st if st is not None else (0, 0)
        cents = (pdf["value"] * 100).round().astype("int64")
        run_cents = cents.cumsum() + total_cents
        out = pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ts": pdf["ts"],
                "running_total": run_cents / 100.0,
            }
        )
        return (int(run_cents.iloc[-1]), n + len(pdf)), out

    return _ordered_fold(
        events,
        ["user_id", "event_id", "ts", "value"],
        ["user_id"],
        ["ts", "event_id"],
        step,
        RUNNING_TOTAL_SCHEMA,
        _STATE_SCHEMA,
    )


SESSION_AGG_SCHEMA = (
    "user_id long, session_start timestamp, n_events long, total_value double"
)
_SESSION_STATE_SCHEMA = "start long, last long, n long, total_cents long"


def session_totals(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom session aggregation with explicit state — the
    hand-rolled analogue of session_window (queries/events.py), shown
    as the template for session semantics Spark's built-in can't
    express (e.g. value-dependent gaps). Emits a row per CLOSED
    session; the final open session per key stays in state (bounded
    drains surface it on the next batch or never — at-least-once
    session emission, documented behavior). Rows fold in
    (ts, event_id) order (_ordered_fold); totals accumulate in
    integer cents (exact), so closed sessions hash-match the batch
    gaps-and-islands oracle."""

    def step(key, pdf, st):
        import pandas as pd

        US = 1_000_000
        start, last, n, total_cents = st if st is not None else (-1, -1, 0, 0)
        closed = []
        for ts, val in zip(pdf["ts"], pdf["value"]):
            t = int(ts.value // 1000)  # pandas ns → µs
            cents = int(round(float(val) * 100))
            if start < 0:
                start, last, n, total_cents = t, t, 1, cents
            elif t - last >= gap_seconds * US:
                closed.append((key[0], start, n, total_cents / 100.0))
                start, last, n, total_cents = t, t, 1, cents
            else:
                last, n, total_cents = t, n + 1, total_cents + cents
        out = None
        if closed:
            out = pd.DataFrame(
                closed, columns=["user_id", "session_start", "n_events", "total_value"]
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
        return (start, last, n, total_cents), out

    return _ordered_fold(
        events,
        ["user_id", "event_id", "ts", "value"],
        ["user_id"],
        ["ts", "event_id"],
        step,
        SESSION_AGG_SCHEMA,
        _SESSION_STATE_SCHEMA,
    )


# --- transformWithState (Spark 4 stateful API v2) ---------------------

USER_TOTALS_SCHEMA = "user_id long, n_events long, total_cents long"

try:  # the v2 stateful API ships with pyspark>=4.0
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
except ImportError:  # pragma: no cover
    StatefulProcessor = object  # type: ignore[assignment,misc]


class UserTotalsProcessor(StatefulProcessor):
    """Per-user event count + exact cents total via the
    transformWithStateInPandas API — the v2 twin of running_total's
    applyInPandasWithState: typed ValueState in the state store
    (RocksDB), Update-mode emission once per key per microbatch.

    Same integer-cents discipline as running_total, so the final
    per-user totals hash-match a plain SQL aggregate oracle. The
    class is module-level and pandas-only so it pickles cleanly to
    the stateful-processor worker."""

    def init(self, handle) -> None:
        self._agg = handle.getValueState("agg", "total_cents long, n long")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        if self._agg.exists():
            total_cents, n = self._agg.get()
        else:
            total_cents, n = 0, 0
        for pdf in rows:
            cents = (pdf["value"] * 100).round().astype("int64")
            total_cents += int(cents.sum())
            n += len(pdf)
        self._agg.update((total_cents, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [total_cents],
            }
        )

    def close(self) -> None:
        pass


def user_totals_v2(events: DataFrame) -> DataFrame:
    """events stream → per-user (n_events, total_cents) through
    transformWithStateInPandas (requires the RocksDB state store
    provider, which kawa_spark.session configures).

    ENV-GATED (like sources/mqtt.py): the v2 API's state-server
    protocol needs ``google.protobuf``, absent from this container —
    the query registration is therefore omitted and the streaming
    path is covered by tests/test_stateful_v2.py (skipped without
    protobuf), while the processor's arithmetic is unit-tested
    in-process. On any cluster with protobuf installed this operator
    is fully functional; the equivalent semantics remain
    driver-verified through stream_exec_running_total (v1 API)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserTotalsProcessor(),
            outputStructType=USER_TOTALS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


RATE_LIMIT_SCHEMA = (
    "event_id long, user_id long, event_type string, us long, "
    "n_in_window long, is_limited boolean"
)
_RATE_STATE_SCHEMA = "times array<long>"


def rate_limited(
    events: DataFrame, window_us: int, limit: int
) -> DataFrame:
    """Streaming sliding-window rate limiter — the real-time form of
    queries/events.py::events_rate_limit (same trailing-window count
    and over-limit flag, emitted per event as it arrives). This is
    the operator kawa's security-log domain actually runs ONLINE;
    the batch RANGE window is its offline audit.

    State per user is the event timestamps inside the trailing
    window of the newest event (bounded by the rate the limiter
    exists to cap — a key at the limit holds ≤ ~limit timestamps;
    an attacker pushing further is exactly who the operator flags).
    Counts use bisect over the merged state+batch times, so tied
    timestamps see each other symmetrically — identical to the RANGE
    frame's peer semantics, which is what makes the bounded drain
    hash-match the batch oracle.

    Time-ordered-batch contract (_ordered_fold): state is evicted at
    horizon = max(batch times) − window, so an event arriving in a
    LATER microbatch with a timestamp older than an earlier batch's
    horizon counts against already-evicted peers. Under genuinely
    late data the result is a conservative undercount of n_in_window
    (never an overcount — evicted peers can only lower the count),
    i.e. the limiter may under-flag stragglers but never
    false-positives. The property test (test_stateful.py) pins the
    in-order contract across random batch splits."""

    def step(key, pdf, st):
        from bisect import bisect_left, bisect_right

        import pandas as pd

        times = list(st[0]) if st is not None else []
        batch_times = [int(t) for t in pdf["us"]]
        all_times = sorted(times + batch_times)
        counts = [
            bisect_right(all_times, t) - bisect_left(all_times, t - window_us)
            for t in batch_times
        ]
        horizon = all_times[-1] - window_us
        n = pd.Series(counts, index=pdf.index, dtype="int64")
        out = pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "event_type": pdf["event_type"],
                "us": pdf["us"],
                "n_in_window": n,
                "is_limited": n > limit,
            }
        )
        return ([t for t in all_times if t >= horizon],), out

    return _ordered_fold(
        events,
        ["event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")],
        ["user_id"],
        ["us", "event_id"],
        step,
        RATE_LIMIT_SCHEMA,
        _RATE_STATE_SCHEMA,
    )


BEACON_SCHEMA = (
    "user_id long, event_type string, event_id long, "
    "n_gaps long, period_s double, is_beacon boolean, late_count long"
)
_BEACON_STATE_SCHEMA = (
    "last_us long, n long, sd long, sd2_hi long, sd2_lo long, late long"
)
# Σd² splits across two longs at this radix (lo holds the low 62
# bits): kernel arithmetic is exact unbounded Python int; only the
# state-store slots are int64-typed, and hi/lo bounds the storable
# sum at 2^125 — a long-lived sparse key (large gaps) can no longer
# overflow the slot at serialization time (ADVICE r9; the batch twin
# uses DECIMAL(38,0) for the same quantity).
_SD2_RADIX_BITS = 62
_SD2_LO_MASK = (1 << _SD2_RADIX_BITS) - 1


def beacon_scores(
    events: DataFrame, min_gaps: int, cv2_num: int, cv2_den: int
) -> DataFrame:
    """Streaming beaconing detector — the real-time form of
    queries/security.py::events_beaconing: per (user_id, event_type)
    key, maintain the gap-sequence power sums (n, Σd, Σd²) plus the
    previous timestamp, and emit a verdict row for EVERY event that
    completes a gap once the key has ≥ min_gaps gaps — alerts fire
    as the callbacks arrive instead of at end-of-day. The batch key
    is the offline audit; the oracle for the online form is the
    PREFIX version of the same stats (running window sums), which
    this kernel reproduces exactly: gaps are integer floor-seconds,
    the CV² test is the same cross-multiplied integer inequality,
    and period_s = sd/n is a single exact-int division (Python's
    correctly-rounded true division == CAST(sd AS DOUBLE)/n for
    sd < 2^53).

    State is five int64s per key. Σd² is held as an exact unbounded
    Python int inside the kernel and serialized across TWO int64
    state slots (hi/lo at a 2^62 radix, bound 2^125) — a single-slot
    int64 would overflow at serialization for a long-lived sparse key
    (large gaps squared; ADVICE r9), where the batch twin's
    DECIMAL(38,0) absorbs the same quantity.

    Time-ordered-batch contract and late-row guard: _ordered_fold. A
    negative "gap" folded into Σd/Σd² would corrupt the key's stats
    permanently, which is strictly worse than missing one gap."""

    def step(key, pdf, st):
        import pandas as pd

        has_last = st is not None
        if has_last:
            last_us, n, sd, sd2_hi, sd2_lo, late = (int(x) for x in st)
            sd2 = (sd2_hi << _SD2_RADIX_BITS) | sd2_lo
        else:
            last_us, n, sd, sd2, late = 0, 0, 0, 0, 0
        rows = []
        for eid, t in zip(pdf["event_id"], pdf["us"]):
            t = int(t)
            if has_last and t < last_us:
                late += 1  # excluded AND counted: see the shell's guard
                continue
            if has_last:
                d = (t - last_us) // 1_000_000
                n += 1
                sd += d
                sd2 += d * d
                if n >= min_gaps:
                    beacon = (
                        cv2_den * (n * sd2 - sd * sd) <= cv2_num * sd * sd
                    )
                    rows.append(
                        (key[0], key[1], int(eid), n, sd / n, beacon, late)
                    )
            last_us = t
            has_last = True
        new_state = (
            last_us,
            n,
            sd,
            sd2 >> _SD2_RADIX_BITS,
            sd2 & _SD2_LO_MASK,
            late,
        )
        if not rows:
            return new_state, None
        return new_state, pd.DataFrame(
            rows,
            columns=[
                "user_id",
                "event_type",
                "event_id",
                "n_gaps",
                "period_s",
                "is_beacon",
                "late_count",
            ],
        )

    return _ordered_fold(
        events,
        ["user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")],
        ["user_id", "event_type"],
        ["us", "event_id"],
        step,
        BEACON_SCHEMA,
        _BEACON_STATE_SCHEMA,
    )


HOP_SCHEMA = (
    "user_id long, event_id long, from_net string, to_net string, "
    "gap_us long, late_count long"
)
_HOP_STATE_SCHEMA = "last_net string, last_us long, late long"


def net_hops(events: DataFrame, window_us: int) -> DataFrame:
    """Streaming network-hop detector — the stateful half of
    queries/security.py::events_impossible_travel run ONLINE: per
    user, remember the last attributed network and timestamp; when an
    event arrives on a DIFFERENT network within ``window_us`` of the
    previous one, emit the hop row immediately (the session-hijack
    alert at arrival time, not at the batch sweep). The caller feeds
    LPM-attributed rows (user_id, event_id, us, net) — the CIDR match
    itself is stateless map-side work that needs no state store.

    State is (last_net, last_us, late) per user — three scalars, O(1)
    regardless of volume. Time-ordered-batch contract and late-row
    guard: _ordered_fold; without the guard a late row's negative
    "gap" would trivially satisfy ``<= window_us`` and emit a
    spurious hop."""

    def step(key, pdf, st):
        import pandas as pd

        has_last = st is not None
        if has_last:
            last_net, last_us, late = st
            last_us, late = int(last_us), int(late)
        else:
            last_net, last_us, late = None, 0, 0
        rows = []
        for eid, t, net in zip(pdf["event_id"], pdf["us"], pdf["net"]):
            t = int(t)
            if has_last and t < last_us:
                late += 1  # excluded AND counted: see the shell's guard
                continue
            if (
                has_last
                and net != last_net
                and t - last_us <= window_us
            ):
                rows.append(
                    (key[0], int(eid), last_net, net, t - last_us, late)
                )
            last_net, last_us = net, t
            has_last = True
        if not rows:
            return (last_net, last_us, late), None
        return (last_net, last_us, late), pd.DataFrame(
            rows,
            columns=[
                "user_id",
                "event_id",
                "from_net",
                "to_net",
                "gap_us",
                "late_count",
            ],
        )

    return _ordered_fold(
        events,
        ["user_id", "event_id", "us", "net"],
        ["user_id"],
        ["us", "event_id"],
        step,
        HOP_SCHEMA,
        _HOP_STATE_SCHEMA,
    )


def _net_hop_chain_kernel(
    events: DataFrame,
    hop_window_us: int,
    chain_window_us: int,
    n_slots: int,
) -> DataFrame:
    """ONE n-slot chain kernel behind both lateral-movement twins
    (n_slots = remembered completed hops: 1 → A→B→C rows, 2 →
    A→B→C→D) instead of two hand-synced kernels (code review r11).

    Per user the state is ``n_slots`` (origin, landing, start) hop
    slots + the last (net, timestamp) + the late counter — O(1) at
    any volume, exactly what the batch form's lag windows carry.
    When an event completes a NEW hop, the slot sequence + the new
    hop must be fully populated, junction-continuous (each hop leaves
    the net the previous landed on — an off-window drift in between
    changes last_net without touching the slots, so continuity fails
    exactly where the batch filters do), and span-bounded; the chain
    row emits at arrival. Time-ordered-batch contract and late-row
    guard: _ordered_fold."""
    net_cols = ["net_a", "net_b", "net_c", "net_d"][: n_slots + 2]
    out_schema = (
        "user_id long, event_id long, "
        + ", ".join(f"{c} string" for c in net_cols)
        + ", span_us long, late_count long"
    )
    state_schema = (
        ", ".join(
            f"h{i}_from string, h{i}_to string, h{i}_start long"
            for i in range(1, n_slots + 1)
        )
        + ", last_net string, last_us long, late long"
    )

    def step(key, pdf, st):
        import pandas as pd

        has_last = st is not None
        if has_last:
            vals = list(st)
            slots = []
            for i in range(n_slots):
                f_, t_, s_ = vals[3 * i : 3 * i + 3]
                slots.append(None if f_ is None else (f_, t_, int(s_)))
            last_net = vals[-3]
            last_us, late = int(vals[-2]), int(vals[-1])
        else:
            slots = [None] * n_slots
            last_net = None
            last_us, late = 0, 0
        rows = []
        for eid, t, net in zip(pdf["event_id"], pdf["us"], pdf["net"]):
            t = int(t)
            if has_last and t < last_us:
                late += 1  # excluded AND counted: see the shell's guard
                continue
            if (
                has_last
                and net != last_net
                and t - last_us <= hop_window_us
            ):
                # a hop completed: chain if every slot feeds it
                # continuously and the traversal fits the window
                new_hop = (last_net, net, last_us)
                seq = slots + [new_hop]
                if (
                    all(h is not None for h in seq)
                    and all(
                        seq[i][1] == seq[i + 1][0]
                        for i in range(n_slots)
                    )
                    and t - seq[0][2] <= chain_window_us
                ):
                    nets = [h[0] for h in seq] + [net]
                    rows.append(
                        (key[0], int(eid), *nets, t - seq[0][2], late)
                    )
                slots = slots[1:] + [new_hop]
            last_net, last_us = net, t
            has_last = True
        packed = []
        for h in slots:
            packed += [h[0], h[1], h[2]] if h else [None, None, 0]
        new_state = tuple(packed) + (last_net, last_us, late)
        if not rows:
            return new_state, None
        return new_state, pd.DataFrame(
            rows,
            columns=["user_id", "event_id", *net_cols,
                     "span_us", "late_count"],
        )

    return _ordered_fold(
        events,
        ["user_id", "event_id", "us", "net"],
        ["user_id"],
        ["us", "event_id"],
        step,
        out_schema,
        state_schema,
    )


def net_hop_chains(
    events: DataFrame, hop_window_us: int, chain_window_us: int
) -> DataFrame:
    """Streaming 2-hop lateral-movement detector — the stateful half
    of queries/security.py::events_lateral_movement run ONLINE: the
    pivot alert (net_a → net_b → net_c) fires on the SECOND hop's
    arrival, not at the batch sweep. One remembered hop slot; see
    _net_hop_chain_kernel for the shared contract."""
    return _net_hop_chain_kernel(
        events, hop_window_us, chain_window_us, 1
    )


def net_hop_chains3(
    events: DataFrame, hop_window_us: int, chain_window_us: int
) -> DataFrame:
    """Streaming 3-hop lateral-movement detector — the stateful half
    of queries/security.py::events_lateral_movement_3hop run ONLINE:
    the deep-pivot alert (net_a → net_b → net_c → net_d) fires on the
    THIRD hop's arrival, with continuity demanded at BOTH junctions.
    Two remembered hop slots; see _net_hop_chain_kernel for the
    shared contract."""
    return _net_hop_chain_kernel(
        events, hop_window_us, chain_window_us, 2
    )


TRANSITION_SCHEMA = (
    "user_id long, session_idx long, from_type string, to_type string, "
    "late_count long"
)
_SESSION_TR_STATE_SCHEMA = (
    "session_idx long, last_us long, last_type string, late long"
)


def session_transitions(events: DataFrame, gap_us: int) -> DataFrame:
    """Streaming sessionizer emitting in-session TRANSITIONS — the
    stateful half of queries/security.py::events_session_rarity run
    ONLINE: per user, remember (session_idx, last_us, last_type);
    an event more than ``gap_us`` after the previous one opens a new
    session (indexes count from 1, exactly the batch window's
    cumulative new-session sum), and an event continuing a session
    emits its (from_type → to_type) transition row at arrival. The
    downstream scorer (security.score_transitions) is shared with the
    batch key verbatim, so the online path is hash-checked against
    the batch oracle end-to-end.

    State is two int64s + the last event type per user — O(1) per
    key regardless of volume, the minimum ANY sessionizer must hold.
    Time-ordered-batch contract and late-row guard: _ordered_fold;
    folding a late row in would measure a negative gap and could both
    miss a boundary and fabricate a transition the batch form never
    saw."""

    def step(key, pdf, st):
        import pandas as pd

        has_last = st is not None
        if has_last:
            session_idx, last_us, last_type, late = st
            session_idx, last_us, late = (
                int(session_idx),
                int(last_us),
                int(late),
            )
        else:
            session_idx, last_us, last_type, late = 0, 0, None, 0
        rows = []
        for t, typ in zip(pdf["us"], pdf["event_type"]):
            t = int(t)
            if has_last and t < last_us:
                late += 1  # excluded AND counted: see the shell's guard
                continue
            if not has_last or t - last_us > gap_us:
                session_idx += 1
            else:
                rows.append((key[0], session_idx, last_type, typ, late))
            last_us, last_type = t, typ
            has_last = True
        new_state = (session_idx, last_us, last_type, late)
        if not rows:
            return new_state, None
        return new_state, pd.DataFrame(
            rows,
            columns=[
                "user_id",
                "session_idx",
                "from_type",
                "to_type",
                "late_count",
            ],
        )

    return _ordered_fold(
        events,
        ["user_id", "event_id", "event_type", "us"],
        ["user_id"],
        ["us", "event_id"],
        step,
        TRANSITION_SCHEMA,
        _SESSION_TR_STATE_SCHEMA,
    )


FUNNEL_STATE_SCHEMA = (
    "t_view long, t_click long, t_purchase long, "
    "last_us long, late long"
)
FUNNEL_OUT_SCHEMA = (
    "user_id long, t_view long, t_click long, t_purchase long, "
    "stage int, late_count long"
)


def funnel_states(events: DataFrame) -> DataFrame:
    """Streaming conversion funnel — the stateful form of
    queries/events.funnel_stages run ONLINE: per user, the state is
    the three monotone funnel slots (first view; first click strictly
    after that view; first purchase strictly after that click), and a
    row is emitted the MOMENT a slot fills — the "user just
    converted" signal at arrival time instead of the batch sweep.
    Each emitted row carries the user's current slots and stage, so
    the LAST emission per user (= the max-stage row; slots never
    change once set) equals the batch funnel row, which is how the
    registered key's rollup hash-checks this kernel against the
    batch oracle.

    Processing events in time order makes the slot updates equal the
    batch MIN-with-strict-inequality chain: when an event is
    processed, every earlier event has been applied, so "first click
    after t_view" is exactly "the first click processed while t_view
    is set and us > t_view" (ties excluded by the strict test, same
    as the batch form). State is four int64s + the late counter —
    O(1) per user, never the event list.

    Time-ordered-batch contract and late-row guard: _ordered_fold —
    folded in, a late early view could not rewind t_view anyway
    (slots are write-once), so skipping keeps the state consistent
    rather than half-applying it."""

    def step(key, pdf, st):
        import pandas as pd

        has = st is not None
        if has:
            tv, tc, tp, last_us, late = st
            last_us = int(last_us)
            late = int(late)
        else:
            tv, tc, tp, last_us, late = None, None, None, 0, 0
        rows = []
        for t, typ in zip(pdf["us"], pdf["event_type"]):
            t = int(t)
            if has and t < last_us:
                late += 1  # excluded AND counted: see the shell's guard
                continue
            changed = False
            if typ == "view" and tv is None:
                tv, changed = t, True
            elif (
                typ == "click"
                and tc is None
                and tv is not None
                and t > tv
            ):
                tc, changed = t, True
            elif (
                typ == "purchase"
                and tp is None
                and tc is not None
                and t > tc
            ):
                tp, changed = t, True
            if changed:
                stage = 1 + (tc is not None) + (tp is not None)
                rows.append((key[0], tv, tc, tp, stage, late))
            last_us = t
            has = True
        new_state = (tv, tc, tp, last_us, late)
        if not rows:
            return new_state, None
        return new_state, pd.DataFrame(
            rows,
            columns=[
                "user_id",
                "t_view",
                "t_click",
                "t_purchase",
                "stage",
                "late_count",
            ],
        )

    return _ordered_fold(
        events,
        ["user_id", "event_id", "event_type", "us"],
        ["user_id"],
        ["us", "event_id"],
        step,
        FUNNEL_OUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
    )


SAMPLE_SCHEMA = "event_type string, seq long, event_id long, value double"
_SAMPLE_STATE_SCHEMA = (
    "seq long, us array<double>, eids array<long>, vals array<double>"
)


def bottom_k_sample(events: DataFrame, k: int) -> DataFrame:
    """Streaming bottom-K rank sample — the stateful half of
    queries/stats.agg_quantile_sketch run ONLINE: per group, the
    state store holds the K rows with the smallest md5-derived rank
    seen so far (three parallel arrays + a snapshot counter — the
    first BOUNDED-ARRAY state shape in the engine: exactly min(K, n)
    entries per key at any volume, the mergeable-sketch identity
    applied to the state store itself). Each microbatch merges its
    rows into the sample and — WHEN THE SAMPLE CHANGED — emits the
    entire current sample tagged with a snapshot sequence number
    (emissions track sample churn, not batch count: a saturated
    group goes quiet under pure redelivery or rows hashing outside
    the sample). The read side keeps each group's highest-seq
    snapshot (a |types|·K-bounded relation) and feeds the shared
    estimate/audit core.

    ORDER-INSENSITIVE AND DUPLICATE-IDEMPOTENT: bottom-K of a union
    is the bottom-K of bottom-Ks in ANY arrival order (the merge
    identity tests/test_quantile_sketch_property.py proves exactly),
    so there is NO time-ordered-batch contract here and no late-row
    guard to carry — any batch split converges to the identical
    final sample. The merge dedups on event_id, so an at-least-once
    source redelivering an event cannot occupy two sample slots with
    the same element (code review r10) — the identity genuinely
    holds for redelivery, not just reordering.

    The rank u is computed with hashlib md5 EXACTLY as the batch
    plan's expression (first 15 hex chars over 2^60; Python float
    division == Spark's long→double cast + divide for these values),
    so the online sample is bit-identical to the batch window's."""

    def fn(key, pdfs, state):
        import hashlib

        import pandas as pd

        denom = float(1 << 60)
        if state.exists:
            seq, us, eids, vals = state.get
            seq = int(seq)
            by_eid = {
                int(e): (float(u), int(e), float(v))
                for u, e, v in zip(us, eids, vals)
            }
        else:
            seq, by_eid = 0, {}
        prev_ids = sorted(by_eid)
        for pdf in pdfs:
            for eid, val in zip(pdf["event_id"], pdf["value"]):
                eid = int(eid)
                if eid in by_eid:
                    continue  # duplicate delivery: idempotent merge
                u = (
                    int(
                        hashlib.md5(str(eid).encode()).hexdigest()[:15],
                        16,
                    )
                    / denom
                )
                by_eid[eid] = (u, eid, float(val))
        cur = sorted(by_eid.values(), key=lambda t: (t[0], t[1]))[:k]
        if state.exists and sorted(c[1] for c in cur) == prev_ids:
            # the batch changed nothing (empty chunks, pure
            # redelivery, or only rows hashing outside the sample):
            # no snapshot — emissions track sample CHURN, not batch
            # count, so a saturated group goes quiet at scale (with
            # NoTimeout the stored state persists without an update)
            return
        seq += 1
        state.update(
            (
                seq,
                [c[0] for c in cur],
                [c[1] for c in cur],
                [c[2] for c in cur],
            )
        )
        yield pd.DataFrame(
            {
                "event_type": key[0],
                "seq": seq,
                "event_id": [c[1] for c in cur],
                "value": [c[2] for c in cur],
            }
        )

    return (
        events.select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=SAMPLE_SCHEMA,
            stateStructType=_SAMPLE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
