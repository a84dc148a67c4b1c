"""The benchmark's workloads.

``closed_loop`` runs one client over a pinned list of registry keys:
a cold pass in the fresh session, a checking pass, then warm passes
until the run's seconds are spent. ``log_stream`` runs the log pipeline of
``examples/log_pipeline.py`` against an open-loop generator process.

Each returns ``(metrics, layers, checks)``: the end-to-end metrics with
the wall-clock figures (``wall.*``), the other per-layer metrics (filled
in traced runs only) and the correctness
ledger ``{"attempted": n, "failed": n, "errors": [...]}``.
"""

from __future__ import annotations

import bisect
import glob
import gzip
import json
import math
import os
import random
import subprocess
import sys
import time

from observe import (
    CpuMeter,
    FlushCounter,
    Rest,
    TimedSink,
    batch_spans,
    batch_window,
    engine_window,
    jvm_peak_rss_mb,
    make_progress_log,
    median,
    offset_pos,
    pct,
    run_owner,
    stage_spans,
    streaming_sums,
)
from loadgen import line as gen_line

HERE = os.path.dirname(os.path.abspath(__file__))

# stream_stateful: bounded drains, one per state kind.
STATEFUL_KEYS = [
    "stream_exec_tumbling",  # windowed aggregation state + watermark
    "stream_exec_dedup_watermark",  # dropDuplicates state, late drops
    "stream_exec_rate_limit",  # applyInPandasWithState (Python state)
]

CHECK_PASS = 1
MIN_WARM_PASSES = 2

# log_stream sizing (measurements in NOTES.md). The live phases run a
# processing-time trigger, whose ticks fall on multiples of TRIGGER_S
# since the epoch. A batch takes 0.5-1.5 s here, so it ends before the
# next tick and every steady batch holds TRIGGER_S seconds of lines,
# however slow the host: the work per batch does not depend on the
# host. RATE * TRIGGER_S stays under the replay source's cap of 1,000
# lines per microbatch. The burst is drained after a restart from the
# checkpoint with the as-fast-as-possible trigger, so its rate is set by
# the pipeline, not by the schedule.
TRIGGER_S = 2
RATE = 400.0
WARMUP_LINES = 1000
WARM_S = 8.0
PRIMER_LINES = 200
BURST_LINES = 3000
DRAIN_TIMEOUT = 60.0

def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# --- closed loop -------------------------------------------------------------


def _check(spark, sf_dir: str, df, key: str, oracles: dict) -> str | None:
    """Compare one key's result with its DuckDB oracle through the
    project's own harness; None when it matches."""
    from tests.oracle_harness import compare

    rep = compare(spark, sf_dir, lambda _s, _d: df, oracles[key])
    if rep["count_match"] and rep["cols_match"] and rep["values_match"]:
        return None
    return f"{key}: spark_rows={rep['spark_rows']} duck_rows={rep['duck_rows']}"


def closed_loop(ctx, spark, keys: list[str]):
    """Pass 0 is the cold pass. Pass 1 checks each key's result against
    its oracle after the key's timer stops, and lets the JIT settle; it
    counts in the cold figure only. Passes 2.. are the warm passes: at least
    MIN_WARM_PASSES, and until ``ctx.seconds`` of warm query time.

    Each key is measured as builder call plus action, in CPU seconds of
    the program's processes (the gated figures) and in wall time."""
    from kawa_spark import registry

    tracer = ctx.tracer
    meter = CpuMeter(spark.sparkContext._gateway.proc.pid)
    listener = None
    if ctx.trace:
        # progress events feed the streaming layer; they are read after
        # the loop, outside every timer
        listener = make_progress_log()
        spark.streams.addListener(listener)
    passes: list[dict[str, tuple[float, float]]] = []
    cpu_passes: list[dict[str, float]] = []
    windows = []  # (t0, t1, (pass, key, phase)) in epoch seconds
    checks = {"attempted": 0, "failed": 0, "errors": []}
    warm_s = 0.0
    while True:
        p = len(passes)
        pass_span = tracer.open("pass", run=f"pass{p}")
        times: dict[str, tuple[float, float]] = {}
        cpu: dict[str, float] = {}
        for key in keys:
            fn = registry.QUERIES[key]
            u0 = meter.read()
            w0, c0 = time.time(), time.perf_counter()
            try:
                df = fn(spark, ctx.data)
                w1, c1 = time.time(), time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                w2, c2 = time.time(), time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — counted as failed
                checks["attempted"] += 1
                checks["failed"] += 1
                checks["errors"].append(f"{key}: {type(exc).__name__}: {exc}"[:300])
                continue
            cpu[key] = meter.read() - u0
            times[key] = (c1 - c0, c2 - c1)
            windows += [(w0, w1, (p, key, "builder")), (w1, w2, (p, key, "action"))]
            qs = tracer.add("query", w0, w2, pass_span, key)
            tracer.add("queries.builder", w0, w1, qs, key)
            tracer.add("engine.action", w1, w2, qs, key)
            if p == CHECK_PASS:
                checks["attempted"] += 1
                err = _check(spark, ctx.data, df, key, registry.ORACLES)
                if err:
                    checks["failed"] += 1
                    checks["errors"].append(err)
        tracer.close(pass_span)
        passes.append(times)
        cpu_passes.append(cpu)
        if len(times) < len(keys):
            break  # a key failed: do not time a broken workload
        if p > CHECK_PASS:
            warm_s += sum(b + a for b, a in times.values())
            if p - CHECK_PASS >= MIN_WARM_PASSES and warm_s >= ctx.seconds:
                break

    warm_ids = range(CHECK_PASS + 1, len(passes))

    def per_key(rows, value) -> dict[str, float]:
        """Each key's median over the warm passes."""
        return {k: median(value(rows[i][k]) for i in warm_ids if k in rows[i])
                for k in keys}

    wall = per_key(passes, sum)
    cpu = per_key(cpu_passes, float)
    ctx.detail["per_key"] = {
        k: {"cold_s": sum(passes[0].get(k, (0, 0))), "warm_s": wall[k],
            "cold_cpu_s": cpu_passes[0].get(k, 0.0), "warm_cpu_s": cpu[k]}
        for k in keys
    }
    ctx.detail["pass_s"] = [sum(map(sum, pp.values())) for pp in passes]
    ctx.detail["pass_cpu_s"] = [sum(pp.values()) for pp in cpu_passes]
    metrics = {
        "warm_cpu_s": sum(cpu.values()),
        # the cold and the checking pass: JIT work not done in the first
        # pass is done in the second, so their sum is steadier
        "cold_cpu_s": sum(sum(pp.values()) for pp in cpu_passes[:CHECK_PASS + 1]),
        "wall.query_total_s": sum(wall.values()),
        "wall.query_geomean_s": geomean(wall.values()),
        "wall.cold_total_s": sum(b + a for b, a in passes[0].values()),
    }
    layers = {}
    if ctx.trace:
        owner = run_owner(listener.started, windows)
        layers = _closed_loop_layers(ctx, spark, keys, passes, windows, listener,
                                     owner)
        spark.streams.removeListener(listener)
        # tracing overhead: one more warm pass with every collector off,
        # as in an end-to-end run
        c0 = time.perf_counter()
        for key in keys:
            registry.QUERIES[key](spark, ctx.data).write.format("noop").mode(
                "overwrite"
            ).save()
        untraced = time.perf_counter() - c0
        traced = median(sum(map(sum, passes[i].values())) for i in warm_ids)
        layers["trace.overhead_s"] = traced - untraced
    return metrics, layers, checks


def _closed_loop_layers(ctx, spark, keys, passes, windows, listener,
                        owner) -> dict:
    stages, jobs = Rest(spark.sparkContext).snapshot()
    stage_spans(ctx.tracer, stages, "queries.builder")
    stage_spans(ctx.tracer, stages, "engine.action")
    warm_ids = range(CHECK_PASS + 1, len(passes))
    by_run = listener.by_run()
    for run, batches in by_run.items():
        if run in owner:
            for b in batches:
                parent = ctx.tracer.enclosing("queries.builder", batch_window(b)[0])
                batch_spans(ctx.tracer, b, parent, owner[run][1])

    def per_key_median(fn) -> dict[str, float]:
        """Sum over keys of the per-key median over warm passes."""
        acc: dict[str, float] = {}
        for key in keys:
            rows = [fn(p, key) for p in warm_ids if key in passes[p]]
            for name in rows[0] if rows else {}:
                acc[name] = acc.get(name, 0.0) + median(r[name] for r in rows)
        return acc

    win = {w[2]: (w[0], w[1]) for w in windows}

    def engine_of(p, key):
        return engine_window(stages, jobs, *win[(p, key, "action")])

    def builder_of(p, key):
        e = engine_window(stages, jobs, *win[(p, key, "builder")])
        return {"queries.builder_s": passes[p][key][0],
                "queries.builder_jobs": e["engine.jobs"]}

    def streaming_of(p, key):
        runs = [r for r, o in owner.items() if o[:2] == (p, key)]
        out: dict[str, float] = {}
        for r in runs:
            for name, v in streaming_sums(by_run.get(r, [])).items():
                out[name] = out.get(name, 0.0) + v
        return out or streaming_sums([])

    layers = {}
    layers.update(per_key_median(engine_of))
    layers.update(per_key_median(builder_of))
    layers.update(per_key_median(streaming_of))
    actions = {k: median(passes[p][k][1] for p in warm_ids if k in passes[p])
               for k in keys}
    layers["engine.action_s"] = sum(actions.values())
    layers["engine.floor_s"] = min(actions.values())
    total = layers["engine.action_s"] + layers["queries.builder_s"]
    layers["queries.builder_share"] = layers["queries.builder_s"] / total
    warm_batches = [
        b for r, o in owner.items() if o[0] in warm_ids
        for b in by_run.get(r, [])
    ]
    layers["streaming.trigger_s_p50"] = median(
        b["durationMs"].get("triggerExecution", 0) / 1000.0 for b in warm_batches
    )
    layers["engine.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark.sparkContext)
    return layers


# --- open loop: log_stream ----------------------------------------------------


def _line_index(log_path: str) -> tuple[list[str], list[int]]:
    """(event ids, end byte offsets) of the log's lines, in file order."""
    ids, ends = [], []
    pos = 0
    with open(log_path, "rb") as fh:
        for raw in fh:
            pos += len(raw)
            ids.append(json.loads(raw)["event"])
            ends.append(pos)
    return ids, ends


def _read_outputs(root: str) -> list[dict]:
    """Every JSON row in the part files under ``root`` (gzip or not)."""
    rows = []
    for path in glob.glob(os.path.join(root, "**", "part-*"), recursive=True):
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rt") as fh:
            rows.extend(json.loads(ln) for ln in fh if ln.strip())
    return rows


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "a", encoding="utf-8") as fh:
        fh.write("".join(lines))


def _acked_pos(listener) -> int:
    ends = [offset_pos(p["sources"][0]["endOffset"]) for p in list(listener.progress)]
    return max(ends, default=0)


def _wait_acked(listener, log_path: str, timeout: float) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if _acked_pos(listener) >= os.path.getsize(log_path):
            return True
        time.sleep(0.05)
    return False


def log_stream(ctx, spark):
    """The ``start_pipeline`` RoutingSink shape over the replay source:
    ERROR/FATAL to a batcher sink with a DLQ, the rest to the gzip
    time-partitioned archive, acked by the checkpoint's offset commit."""
    import examples.log_pipeline as lp
    from kawa_spark.sinks import FileSink, ForeachBatchSink, RoutingSink
    from kawa_spark.streaming.batcher import BatcherPolicy, ErrorPolicy

    tracer = ctx.tracer
    w = ctx.work
    log = os.path.join(w, "app.jsonl")
    archive_dir = os.path.join(w, "archive")
    errors_dir = os.path.join(w, "errors")
    dlq_dir = os.path.join(w, "dlq")
    open(log, "w").close()

    def write_errors(df, batch_id) -> None:
        df.write.mode("append").format("json").option(
            "compression", "gzip"
        ).save(errors_dir)

    policy = BatcherPolicy(error_policy=ErrorPolicy.DLQ, dlq_path=dlq_dir)
    flush = write_errors
    counter = None
    if ctx.trace:
        counter = FlushCounter(write_errors, policy.max_retries)
        policy.on_error = counter.on_error
        flush = counter
    errors = ForeachBatchSink(flush, policy)
    archive = FileSink(
        archive_dir, format="json", compression="gzip", partition_source="event_ts"
    )
    wrapped = []
    if ctx.trace:
        errors = TimedSink(errors, "errors", tracer)
        archive = TimedSink(archive, "archive", tracer)
        wrapped = [errors, archive]
    router = RoutingSink(
        route_col="level",
        routes={"ERROR": errors, "FATAL": errors},
        default=archive,
    )
    checkpoint = os.path.join(w, "checkpoint")
    listener = make_progress_log()
    spark.streams.addListener(listener)
    q = None
    gen = None
    try:
        # cold: start the pipeline over a waiting chunk of lines and
        # time it until the chunk is acked
        rng = random.Random(ctx.seed + 7)
        now = time.time()
        _write_lines(log, [gen_line(i, rng, now, "w") for i in range(WARMUP_LINES)])
        meter = CpuMeter(spark.sparkContext._gateway.proc.pid)
        u0 = meter.read()
        c0 = time.perf_counter()
        stream_span = tracer.open("pipeline.start_stream")
        q = router.start_stream(
            lp.build_stream(spark, log), trigger=f"{TRIGGER_S} seconds",
            checkpoint=checkpoint,
        )
        tracer.close(stream_span)
        if not _wait_acked(listener, log, DRAIN_TIMEOUT):
            raise RuntimeError("warm-up lines were not acked")
        cold_s = time.perf_counter() - c0
        cold_cpu = meter.read() - u0

        # lines due in the first WARM_S seconds warm the pipeline and
        # are not measured; the steady phase is the next ctx.seconds. It
        # starts on a trigger tick.
        n_warm = int(RATE * WARM_S)
        n_sched = n_warm + int(RATE * ctx.seconds)
        steady_start = TRIGGER_S * math.ceil(
            (time.time() + 0.5 + WARM_S) / TRIGGER_S)
        start = steady_start - WARM_S
        steady_end = steady_start + ctx.seconds
        report = os.path.join(w, "loadgen.json")
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "loadgen.py"),
                "--path", log, "--report", report, "--seed", str(ctx.seed),
                "--rate", str(RATE), "--count", str(n_sched),
                "--start", repr(start),
            ]
        )
        # CPU from the first generated line to the end of the steady
        # phase, read just before a trigger tick. The JIT compiles much of
        # the pipeline in this span; code it has not compiled yet runs
        # slower, so the span's total moves less than any part of it.
        time.sleep(max(0.0, start - 0.1 - time.time()))
        u1 = meter.read()
        if wrapped:
            # tracing overhead: sink wrappers on for the first half of
            # the steady phase, off for the second
            time.sleep(max(0.0, steady_start + ctx.seconds / 2 - time.time()))
            for s in wrapped:
                s.enabled = False
        time.sleep(max(0.0, steady_end - 0.1 - time.time()))
        run_cpu = meter.read() - u1
        run_window = (start - 0.1, steady_end - 0.1)
        gen.wait(timeout=ctx.seconds + 30)
        drained = _wait_acked(listener, log, DRAIN_TIMEOUT)
        with open(report) as fh:
            rep = json.load(fh)

        # burst: every line is acked and no batch runs, so the query
        # stops cleanly and resumes from its checkpoint with the
        # as-fast-as-possible trigger. A primer chunk takes the new
        # run's first-batch planning out of the burst's time.
        q.stop()
        q = router.start_stream(lp.build_stream(spark, log), checkpoint=checkpoint)
        _write_lines(log, [gen_line(i, rng, time.time(), "p")
                           for i in range(PRIMER_LINES)])
        drained = _wait_acked(listener, log, DRAIN_TIMEOUT) and drained
        burst = [gen_line(n_sched + j, rng, time.time())
                 for j in range(BURST_LINES)]
        _write_lines(log, burst)
        burst_sent = time.time()
        drained = _wait_acked(listener, log, DRAIN_TIMEOUT) and drained
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if q is not None:
            q.stop()
        spark.streams.removeListener(listener)

    # --- ledger: every line exactly once, on its route; DLQ empty ---------
    ids, ends = _line_index(log)
    seen: dict[str, int] = {}
    misrouted = 0
    for route_dir, want_err in ((archive_dir, False), (errors_dir, True)):
        for row in _read_outputs(route_dir):
            seen[row["event"]] = seen.get(row["event"], 0) + 1
            misrouted += (row["level"] in ("ERROR", "FATAL")) != want_err
    lost = sum(1 for e in ids if e not in seen)
    dup = sum(c - 1 for c in seen.values() if c > 1)
    dlq_rows = len(_read_outputs(dlq_dir))
    checks = {"attempted": len(ids), "failed": lost + dup + misrouted + dlq_rows,
              "errors": []}
    if rep["sent"] != n_sched:
        checks["errors"].append(f"generator sent {rep['sent']} lines")
        checks["failed"] += abs(n_sched - rep["sent"])
    for what, n in (("lost", lost), ("duplicated", dup),
                    ("misrouted", misrouted), ("in DLQ", dlq_rows)):
        if n:
            checks["errors"].append(f"{n} lines {what}")
    if not drained:
        checks["errors"].append("pipeline did not drain the log")

    # --- latency: generator stamp -> end of the acking microbatch ---------
    batches = sorted(
        (p for p in listener.progress if p["numInputRows"] > 0),
        key=lambda p: p["batchId"],
    )
    spans = [
        (offset_pos(p["sources"][0]["startOffset"]),
         offset_pos(p["sources"][0]["endOffset"]), batch_window(p)[1])
        for p in batches
    ]

    def ack_time(end_off: int) -> float | None:
        for s0, s1, t in spans:
            if s0 < end_off <= s1:
                return t
        return None

    lat, last_burst_ack = [], 0.0
    pos_of = dict(zip(ids, ends))
    first_burst = pos_of.get(f"e{n_sched}", 0)
    for i in range(n_warm, n_sched + BURST_LINES):
        t = ack_time(pos_of.get(f"e{i}", -1))
        if t is None:
            continue
        if i < n_sched:
            lat.append((t - (start + i / RATE)) * 1000.0)
        else:
            last_burst_ack = max(last_burst_ack, t)
    steady = [
        p for p in batches if steady_start <= batch_window(p)[0] < steady_end
    ]
    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in steady]
    burst_trig = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p, (_, s1, _) in zip(batches, spans) if s1 >= first_burst
    ]

    # --- backlog: lines written but not yet acked, at each batch end ------
    sent_at = sorted(start + i / RATE + lag for i, lag in enumerate(rep["lag_s"]))
    backlog = []
    for p, (_, s1, t) in zip(batches, spans):
        written = WARMUP_LINES + bisect.bisect_right(sent_at, t)
        acked = bisect.bisect_right(ends, s1)
        backlog.append((t, max(0, written - acked)))
    in_steady = [b for t, b in backlog if steady_start <= t <= steady_end]
    third = max(1, len(in_steady) // 3)
    growing = len(in_steady) >= 3 and (
        median(in_steady[-third:]) - median(in_steady[:third]) > RATE * TRIGGER_S
    )
    if growing:
        checks["errors"].append(
            "backlog still growing at the end of the steady phase: "
            f"{in_steady[:third]} -> {in_steady[-third:]}"
        )
        checks["failed"] += 1

    burst_s = last_burst_ack - burst_sent
    # lines acked by the batches that started inside the CPU span
    run_lines = sum(p["numInputRows"] for p in batches
                    if run_window[0] <= batch_window(p)[0] < run_window[1])
    metrics = {
        "warm_cpu_s": run_cpu / (run_lines / 1000.0),
        "cold_cpu_s": cold_cpu,
        "wall.query_total_s": median(trig),
        "wall.cold_total_s": cold_s,
        "wall.event_latency_p50_ms": pct(lat, 50),
        "wall.event_latency_p99_ms": pct(lat, 99),
        "wall.burst_msgs_per_s": BURST_LINES / burst_s if burst_s > 0 else 0.0,
    }
    ctx.detail["run_cpu"] = {"cpu_s": run_cpu, "lines": run_lines}
    ctx.detail["latency_samples"] = len(lat)
    ctx.detail["burst_batches_s"] = burst_trig
    ctx.detail["steady_batches"] = [
        (p["numInputRows"], p["durationMs"]["triggerExecution"],
         p["durationMs"].get("addBatch", 0)) for p in steady
    ]
    layers = {}
    if ctx.trace:
        layers = _log_stream_layers(
            ctx, spark, steady, batches, in_steady, rep, counter, wrapped,
            len(ids), (archive_dir, errors_dir, dlq_dir), len(lat),
        )
    return metrics, layers, checks


def _log_stream_layers(ctx, spark, steady, batches, in_steady, rep, counter,
                       wrapped, n_lines, dirs, n_lat) -> dict:
    stages, jobs = Rest(spark.sparkContext).snapshot()
    tracer = ctx.tracer
    for p in batches:
        batch_spans(tracer, p, None, p["runId"])
    stage_spans(tracer, stages, "streaming.batch")
    layers: dict[str, float] = {}
    per_batch = [streaming_sums([p]) for p in steady]
    per_engine = [engine_window(stages, jobs, *batch_window(p)) for p in steady]
    for rows in (per_batch, per_engine):
        for name in rows[0] if rows else {}:
            layers[name] = median(r[name] for r in rows)
    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in steady]
    layers["streaming.batches"] = float(len(steady))
    layers["streaming.trigger_s_p50"] = median(trig)
    layers["engine.action_s"] = median(
        p["durationMs"].get("addBatch", 0) / 1000.0 for p in steady
    )
    layers["engine.floor_s"] = min(trig, default=0.0)
    layers["engine.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark.sparkContext)
    layers["sources.rows_per_batch_p50"] = median(p["numInputRows"] for p in steady)
    layers["sources.backlog_msgs_max"] = float(max(in_steady, default=0))
    layers["sources.backlog_msgs_end"] = float(in_steady[-1] if in_steady else 0)
    archive, errors = wrapped[1], wrapped[0]
    layers["sinks.archive.write_s_p50"] = median(b - a for a, b in archive.calls)
    layers["sinks.errors.write_s_p50"] = median(b - a for a, b in errors.calls)
    # routed writes per steady batch, over the batches run while the
    # wrappers were on (the first half of the steady phase)
    wins = [batch_window(p) for p in steady]
    calls = [a for a, _ in archive.calls + errors.calls
             if any(t0 <= a < t1 for t0, t1 in wins)]
    on = [w for w in wins
          if any(w[0] <= a < w[1] for a, _ in archive.calls + errors.calls)]
    layers["sinks.writes_per_batch"] = len(calls) / max(1, len(on))
    files = [f for d in dirs[:2]
             for f in glob.glob(os.path.join(d, "**", "*.json.gz"), recursive=True)]
    layers["sinks.files_per_batch"] = len(files) / max(1, len(batches))
    layers["sinks.bytes_per_msg"] = sum(os.path.getsize(f) for f in files) / n_lines
    layers["batcher.flush_attempts"] = float(counter.attempts)
    layers["batcher.retries"] = float(counter.retries)
    layers["batcher.dlq_batches"] = float(
        len(glob.glob(os.path.join(dirs[2], "batch_id=*")))
    )
    lag_ms = [x * 1000.0 for x in rep["lag_s"]]
    layers["loadgen.lag_p50_ms"] = pct(lag_ms, 50)
    layers["loadgen.lag_p99_ms"] = pct(lag_ms, 99)
    layers["loadgen.sent_msgs"] = float(rep["sent"])
    layers["loadgen.latency_samples"] = float(n_lat)
    half = len(trig) // 2
    layers["trace.overhead_s"] = median(trig[:half]) - median(trig[half:])
    return layers
