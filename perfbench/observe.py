"""Collectors the benchmark attaches from outside the program.

Nothing here patches ``kawa_spark``. Layer data comes from three public
surfaces, always read outside the timed regions:

* the Spark UI REST API (``/jobs`` and ``/stages`` of the running
  application, on the loopback interface), with ``statusTracker`` as a
  fallback that yields counts only;
* ``StreamingQueryProgress`` events, through a listener the benchmark
  registers itself and attributes by query ``runId``;
* thin wrappers around the objects the benchmark hands to the program
  (sinks, the batcher flush and its ``on_error`` hook).

Spans (name, start, end, parent, run id) are kept in memory and written
out once at the end, together with per-name self times.
"""

from __future__ import annotations

import bisect
import json
import os
import resource
import statistics
import time
import urllib.request
from datetime import datetime, timezone

MB = 1024 * 1024


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]; 0.0 if empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


def parse_time(text: str | None) -> float | None:
    """Epoch seconds from a Spark timestamp (``...Z`` or ``...GMT``)."""
    if not text:
        return None
    text = text.replace("GMT", "").replace("Z", "")
    dt = datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, run=None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start,
             "end": end, "parent": parent, "run": run}
        )
        return len(self.spans) - 1

    def open(self, name, parent=None, run=None) -> int | None:
        return self.add(name, time.time(), None, parent, run)

    def close(self, sid) -> None:
        if sid is not None:
            self.spans[sid]["end"] = time.time()

    def enclosing(self, name: str, t: float) -> int | None:
        """Innermost span called ``name`` whose interval holds ``t``."""
        best = None
        for s in self.spans:
            if s["name"] == name and s["end"] and s["start"] <= t < s["end"]:
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = s["id"]
        return best

    def self_times(self) -> dict[str, float]:
        """Sum over spans of each name of duration minus child cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not s["end"]:
                continue
            cover = [
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], [])
                if c["end"] > s["start"] and c["start"] < s["end"]
            ]
            own = (s["end"] - s["start"]) - union_length(cover)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "self_s": self.self_times(), **extra}, fh
            )


# --- engine: REST stages/jobs ------------------------------------------------


class Rest:
    """Reads the application's jobs and stages from the local UI."""

    def __init__(self, sc) -> None:
        self.sc = sc
        url = sc.uiWebUrl
        self.base = None
        if url:
            port = url.rsplit(":", 1)[-1].strip("/")
            self.base = (
                f"http://127.0.0.1:{port}/api/v1/applications/"
                f"{sc.applicationId}"
            )

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=10) as r:
            return json.load(r)

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until no job is running and the job list stops growing,
        so listener-bus lag does not hide the last stages."""
        deadline = time.time() + timeout
        last = None
        while time.time() < deadline:
            jobs = self.get("jobs")
            state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if state == last and state[1] == 0:
                return
            last = state
            time.sleep(0.15)

    def snapshot(self) -> tuple[list[dict], list[dict]]:
        """(stages, jobs), each with epoch ``t0``/``t1``; counts only
        (from statusTracker) when the UI is unreachable."""
        try:
            self.settle()
            stages = self.get("stages?status=complete&status=failed")
            jobs = self.get("jobs")
        except (OSError, ValueError, TypeError):
            return self._tracker()
        for s in stages:
            s["t0"] = parse_time(s.get("submissionTime"))
            s["t1"] = parse_time(s.get("completionTime"))
        for j in jobs:
            j["t0"] = parse_time(j.get("submissionTime"))
            j["t1"] = parse_time(j.get("completionTime"))
        return stages, jobs

    def _tracker(self):
        st = self.sc.statusTracker()
        stages, jobs = [], []
        for jid in st.getJobIdsForGroup(None):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            t0 = None
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                t = si.submissionTime / 1000.0
                t0 = t if t0 is None else min(t0, t)
                stages.append({"numTasks": si.numTasks, "t0": t, "t1": t})
            jobs.append({"t0": t0, "t1": t0})
        return stages, jobs


ENGINE_SUMS = {
    "engine.task_run_s": ("executorRunTime", 1e-3),
    "engine.jvm_cpu_s": ("executorCpuTime", 1e-9),
    "engine.gc_s": ("jvmGcTime", 1e-3),
    "engine.task_deser_s": ("executorDeserializeTime", 1e-3),
    "engine.shuffle_read_mb": ("shuffleReadBytes", 1.0 / MB),
    "engine.shuffle_write_mb": ("shuffleWriteBytes", 1.0 / MB),
    "engine.shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "engine.spill_mb": ("diskBytesSpilled", 1.0 / MB),
}


def engine_window(stages, jobs, t0: float, t1: float) -> dict[str, float]:
    """Engine metrics of the stages and jobs submitted in [t0, t1)."""
    inside = [s for s in stages if s["t0"] is not None and t0 <= s["t0"] < t1]
    out = {
        name: sum(s.get(field, 0) or 0 for s in inside) * scale
        for name, (field, scale) in ENGINE_SUMS.items()
    }
    out["engine.non_jvm_s"] = max(
        0.0, out["engine.task_run_s"] - out["engine.jvm_cpu_s"]
    )
    out["engine.stages"] = float(len(inside))
    out["engine.tasks"] = float(sum(s.get("numTasks", 0) for s in inside))
    out["engine.jobs"] = float(
        sum(1 for j in jobs if j["t0"] is not None and t0 <= j["t0"] < t1)
    )
    busy = union_length(
        (max(s["t0"], t0), min(s["t1"] or t1, t1)) for s in inside
    )
    out["engine.sched_gap_s"] = max(0.0, (t1 - t0) - busy)
    return out


def stage_spans(tracer: Tracer, stages, parent_name: str) -> None:
    """Child spans for each stage under the phase span holding its start."""
    for s in stages:
        if s["t0"] is None or s["t1"] is None:
            continue
        parent = tracer.enclosing(parent_name, s["t0"])
        if parent is not None:
            tracer.add("engine.stage", s["t0"], s["t1"], parent,
                       tracer.spans[parent]["run"])


def jvm_peak_rss_mb(sc) -> float:
    """Peak resident set (VmHWM) of the Spark JVM, from procfs."""
    try:
        pid = sc._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except (AttributeError, OSError, ValueError):
        pass
    return 0.0


# --- CPU time of the program's processes -----------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU seconds (user + system) spent by the program: this process
    (the driver side, where builders and sinks run their Python code) and
    the Spark JVM with every process below it (Python workers, the
    streaming source runner). Children reaped inside the tree keep
    counting through their parent's ``cutime``/``cstime``. The load
    generator is not below the JVM, so it is not counted.

    CPU time leaves out what a shared host adds to wall time: time the
    hypervisor gives to other guests (steal) and time spent waiting for a
    core."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def read(self) -> float:
        stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # the process ended while /proc was read
            stats[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        ticks, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            ticks += stats.get(pid, (0, 0))[1]
            todo.extend(kids.get(pid, []))
        return ticks / CLK_TCK + self.self_s()

    @staticmethod
    def self_s() -> float:
        """CPU seconds of this process alone."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return ru.ru_utime + ru.ru_stime


# --- streaming: progress events by runId ------------------------------------


def make_progress_log():
    """A StreamingQueryListener that keeps every event as a plain dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.started: list[dict] = []
            self.progress: list[dict] = []
            self.terminated: list[str] = []

        def onQueryStarted(self, event) -> None:
            self.started.append(
                {"run": str(event.runId), "t": parse_time(event.timestamp)}
            )

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.append(str(event.runId))

        def by_run(self) -> dict[str, list[dict]]:
            out: dict[str, list[dict]] = {}
            for p in list(self.progress):
                out.setdefault(p["runId"], []).append(p)
            return out

    return ProgressLog()


def offset_pos(offset) -> int:
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int((offset or {}).get("pos", 0))


def batch_window(p: dict) -> tuple[float, float]:
    """Wall interval of one microbatch: trigger start to its end."""
    t0 = parse_time(p["timestamp"])
    return t0, t0 + p["durationMs"].get("triggerExecution", 0) / 1000.0


# order in which MicroBatchExecution runs the reported phases
BATCH_PARTS = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
               "addBatch", "commitOffsets"]


def batch_spans(tracer: Tracer, p: dict, parent, run) -> None:
    """A span per microbatch with its ``durationMs`` parts laid out in
    execution order (progress reports durations, not start times)."""
    t0, t1 = batch_window(p)
    sid = tracer.add("streaming.batch", t0, t1, parent, run)
    t = t0
    for part in BATCH_PARTS:
        d = p["durationMs"].get(part, 0) / 1000.0
        if d > 0:
            tracer.add(f"streaming.{part}", t, t + d, sid, run)
            t += d


def streaming_sums(batches: list[dict]) -> dict[str, float]:
    """Streaming-layer totals over the microbatches of one query run."""
    def dur(part):
        return sum(p["durationMs"].get(part, 0) for p in batches) / 1000.0

    last = batches[-1]["stateOperators"] if batches else []
    ops = [op for p in batches for op in p["stateOperators"]]
    return {
        "streaming.batches": float(len(batches)),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.latest_offset_s": dur("latestOffset"),
        "streaming.state_rows": float(sum(op["numRowsTotal"] for op in last)),
        "streaming.state_mem_mb": sum(op["memoryUsedBytes"] for op in last) / MB,
        "streaming.state_commit_s": sum(op.get("commitTimeMs", 0) for op in ops)
        / 1000.0,
        "streaming.rows_dropped_by_watermark": float(
            sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
        ),
    }


def run_owner(started: list[dict], windows: list[tuple]) -> dict[str, object]:
    """Map each query runId to the window (t0, t1, label) its start
    event falls in; events arrive late, so attribution is by runId."""
    ws = sorted(windows, key=lambda w: w[0])
    starts = [w[0] for w in ws]
    owner = {}
    for ev in started:
        i = bisect.bisect_right(starts, ev["t"]) - 1
        if i >= 0 and ev["t"] < ws[i][1]:
            owner[ev["run"]] = ws[i][2]
    return owner


# --- sinks and batcher: wrappers --------------------------------------------


class TimedSink:
    """Delegates ``write_batch`` and records each call's wall time."""

    def __init__(self, inner, name: str, tracer: Tracer) -> None:
        self.inner = inner
        self.name = name
        self.tracer = tracer
        self.calls: list[tuple[float, float]] = []
        self.enabled = True

    def write_batch(self, df) -> None:
        if not self.enabled:
            self.inner.write_batch(df)
            return
        t0 = time.time()
        try:
            self.inner.write_batch(df)
        finally:
            t1 = time.time()
            self.calls.append((t0, t1))
            self.tracer.add(f"sinks.{self.name}.write_batch", t0, t1)


class FlushCounter:
    """Counts batcher flush attempts and, through the policy's
    ``on_error`` hook, the failed attempts that were retried."""

    def __init__(self, flush, max_retries: int) -> None:
        self.flush = flush
        self.max_retries = max_retries
        self.attempts = 0
        self.retries = 0

    def __call__(self, df, batch_id) -> None:
        self.attempts += 1
        self.flush(df, batch_id)

    def on_error(self, exc, attempt) -> None:
        if attempt < self.max_retries:
            self.retries += 1
