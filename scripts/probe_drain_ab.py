#!/usr/bin/env python
"""A/B probe for the bounded drains' fixed costs, same JVM: the three
drains of the benchmark's ``stream_stateful`` workload
(stream_exec_tumbling, _dedup_watermark, _rate_limit) on tables
generated by ``perfbench/datagen.py``, each drain run as the benchmark
runs it (registry builder, then a noop write of its result).

Variants, run alternately ``--reps`` times each after one warm-up pass:

* ``parent``: the previous ``_drain`` — session-default checkpoint
  manager, state partitions as asked (8 by default).
* ``manager``: the FileSystem-based checkpoint manager only, partitions as asked.
* ``change``: the registered ``_drain`` — FileSystem-based checkpoint manager and
  state partitions capped at the core count.

Per variant and drain it prints, as medians over reps: wall seconds,
microbatches, and CPU seconds split three ways (read from /proc outside
the timer): the Spark JVM with the subprocesses it reaped (``jvm``),
every process below the JVM, which here are the Python workers
(``py``), and this process, the driver (``drv``). Every result is
row-counted against the first variant's.

``--jfr`` starts the JVM with ``-XX:StartFlightRecording``, dumps the
recording at the end and counts ``jdk.ProcessStart`` events by command
and variant with the JDK's ``jfr`` tool, naming the innermost Spark frame
that spawned each kind. ``--spawn-cost N`` times N py4j calls of Hadoop's
``FileUtil.readLink`` (one ``readlink`` subprocess each) and prints the
JVM CPU per spawn.

Usage: python scripts/probe_drain_ab.py [--reps 5] [--seed 701] [--sf 0.01]
       [--jfr] [--spawn-cost 0]
"""

from __future__ import annotations

import argparse
import collections
import datetime
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import datagen  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from kawa_spark import registry  # noqa: E402
from kawa_spark.queries import streaming_mode  # noqa: E402
from kawa_spark.session import (  # noqa: E402
    FS_CHECKPOINT_MANAGER,
    get_spark,
    scoped_conf,
)

KEYS = [
    "stream_exec_tumbling",
    "stream_exec_dedup_watermark",
    "stream_exec_rate_limit",
]
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _uncapped_drain(manager: bool):
    """``_drain`` without the state-store cap, with or without the
    FileSystem-based checkpoint manager (without both: the previous form)."""

    def drain(df, spark, mode="append", state_partitions=8):
        name = f"q_{uuid.uuid4().hex[:10]}"
        conf = dict(FS_CHECKPOINT_MANAGER) if manager else {}
        if state_partitions is not None:
            conf["spark.sql.shuffle.partitions"] = str(state_partitions)
        with scoped_conf(spark, conf):
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
        streaming_mode._await(q, f"bounded drain {name}")
        return spark.table(name)

    return drain


VARIANTS = {
    "parent": _uncapped_drain(manager=False),
    "manager": _uncapped_drain(manager=True),
    "change": streaming_mode._drain,
}


class _Batches(StreamingQueryListener):
    """Counts microbatches and terminated queries."""

    def __init__(self):
        self.batches = 0
        self.ended = 0
        self.cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self.cond:
            self.batches += 1

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.cond:
            self.ended += 1
            self.cond.notify_all()

    def wait_ended(self, n: int) -> None:
        with self.cond:
            if not self.cond.wait_for(lambda: self.ended >= n, timeout=60):
                raise RuntimeError(f"{n - self.ended} drain(s) never terminated")


def _cpu(jvm_pid: int) -> tuple[float, float, float]:
    """(JVM incl. reaped subprocesses, processes below the JVM, driver)
    CPU seconds."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    below, todo = 0, list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        below += stats[pid][1]
        todo.extend(kids.get(pid, []))
    ru = resource.getrusage(resource.RUSAGE_SELF)
    jvm = stats.get(jvm_pid, (0, 0))[1]
    return jvm / CLK_TCK, below / CLK_TCK, ru.ru_utime + ru.ru_stime


def _run(spark, listener, variant, data, windows):
    """One pass over the drains under ``variant``; returns
    {key: (wall_s, batches, jvm_s, py_s, drv_s, rows)}."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    streaming_mode._drain = VARIANTS[variant]
    out = {}
    try:
        for key in KEYS:
            ended, batches = listener.ended, listener.batches
            c0, w0, t0 = _cpu(jvm_pid), time.time(), time.perf_counter()
            df = registry.QUERIES[key](spark, data)
            df.write.format("noop").mode("overwrite").save()
            t1, w1, c1 = time.perf_counter(), time.time(), _cpu(jvm_pid)
            windows.append((w0, w1, variant))
            listener.wait_ended(ended + 1)
            rows = df.count()
            cpu = [b - a for a, b in zip(c0, c1)]
            out[key] = (t1 - t0, listener.batches - batches, *cpu, rows)
    finally:
        streaming_mode._drain = VARIANTS["change"]
    return out


def _spawn_cost(spark, n: int) -> None:
    jvm = spark._jvm
    jvm_pid = spark.sparkContext._gateway.proc.pid
    fd, path = tempfile.mkstemp(prefix="kawa_readlink_")
    os.close(fd)
    try:
        f = jvm.java.io.File(path)
        jvm.org.apache.hadoop.fs.FileUtil.readLink(f)
        c0, t0 = _cpu(jvm_pid)[0], time.perf_counter()
        for _ in range(n):
            jvm.org.apache.hadoop.fs.FileUtil.readLink(f)
        c1, t1 = _cpu(jvm_pid)[0], time.perf_counter()
    finally:
        os.unlink(path)
    print(f"FileUtil.readLink x{n}: JVM CPU {1000 * (c1 - c0) / n:.2f} ms "
          f"and wall {1000 * (t1 - t0) / n:.2f} ms per call")


def _spawner(frames: list[dict]) -> str:
    """The innermost Spark frame above the process launch."""
    for fr in frames:
        m = fr["method"]
        cls = m["type"]["name"].replace("/", ".")
        if cls.startswith("org.apache.spark"):
            return f"{cls.rsplit('.', 1)[-1]}.{m['name']}"
    return "?"


def _jfr_counts(spark, path: str, windows) -> None:
    """Dump the JVM's recording and count process starts per variant
    window (the rest, session start and warm-up, is ``other``)."""
    jvm = spark._jvm
    recs = jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings()
    recs.get(0).dump(jvm.java.io.File(path).toPath())
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "64", "--events",
         "jdk.ProcessStart", path],
        check=True, capture_output=True, text=True,
    ).stdout
    events = json.loads(out)["recording"]["events"]
    counts: dict[str, collections.Counter] = collections.defaultdict(
        collections.Counter
    )
    spawners: dict[str, collections.Counter] = collections.defaultdict(
        collections.Counter
    )
    for ev in events:
        v = ev["values"]
        # e.g. 2026-10-19T10:48:12.599554797Z: keep microseconds, UTC
        t = datetime.datetime.fromisoformat(
            v["startTime"][:26] + "+00:00"
        ).timestamp()
        variant = next((w for a, b, w in windows if a <= t <= b), "other")
        cmd = os.path.basename(v["command"].split()[0])
        counts[variant][cmd] += 1
        frames = (v.get("stackTrace") or {}).get("frames", [])
        spawners[cmd][_spawner(frames)] += 1
    cmds = sorted({c for cnt in counts.values() for c in cnt})
    print("\njdk.ProcessStart events per variant (all reps)")
    print(f"{'variant':10s} " + " ".join(f"{c:>9s}" for c in cmds) + f" {'total':>7s}")
    for variant in (*VARIANTS, "other"):
        cnt = counts.get(variant, collections.Counter())
        print(f"{variant:10s} " + " ".join(f"{cnt[c]:9d}" for c in cmds)
              + f" {sum(cnt.values()):7d}")
    print("spawning frame per command:")
    for c in cmds:
        print(f"  {c}: " + ", ".join(f"{s} ({n})" for s, n in spawners[c].most_common(3)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=701)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--jfr", action="store_true")
    ap.add_argument("--spawn-cost", type=int, default=0)
    a = ap.parse_args()

    base = tempfile.mkdtemp(prefix="kawa_drain_ab_")
    extra = {}
    if a.jfr:
        extra["spark.driver.extraJavaOptions"] = (
            "-XX:FlightRecorderOptions=stackdepth=256 "
            "-XX:StartFlightRecording=settings=default"
        )
    spark = get_spark(app_name="probe_drain_ab", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    listener = _Batches()
    spark.streams.addListener(listener)
    try:
        data = datagen.write(os.path.join(base, "data"), a.seed, a.sf)
        if a.spawn_cost:
            _spawn_cost(spark, a.spawn_cost)
        windows: list[tuple[float, float, str]] = []
        _run(spark, listener, "change", data, [])  # warm-up, not counted
        results: dict[str, list[dict]] = collections.defaultdict(list)
        for _ in range(a.reps):
            for variant in VARIANTS:
                results[variant].append(_run(spark, listener, variant, data, windows))
        rows = {k: results["parent"][0][k][5] for k in KEYS}
        for variant, reps in results.items():
            for rep in reps:
                got = {k: rep[k][5] for k in KEYS}
                if got != rows:
                    raise RuntimeError(f"{variant}: rows {got}, want {rows}")

        print(f"seed {a.seed}, sf {a.sf}, {a.reps} reps, "
              f"defaultParallelism {spark.sparkContext.defaultParallelism} "
              f"(median over reps)")
        print(f"{'variant':10s} {'drain':30s} {'wall_s':>7s} {'batches':>7s} "
              f"{'cpu_s':>7s} {'jvm':>7s} {'py':>7s} {'drv':>7s}")
        for variant, reps in results.items():
            for label, keys in [*((k, [k]) for k in KEYS), ("total", KEYS)]:
                def med(*fields):
                    return statistics.median(
                        sum(r[k][i] for k in keys for i in fields) for r in reps
                    )

                print(f"{variant:10s} {label:30s} {med(0):7.2f} {med(1):7.0f} "
                      f"{med(2, 3, 4):7.2f} {med(2):7.2f} {med(3):7.2f} "
                      f"{med(4):7.2f}", flush=True)
        if a.jfr:
            _jfr_counts(spark, os.path.join(base, "probe.jfr"), windows)
    finally:
        spark.streams.removeListener(listener)
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
