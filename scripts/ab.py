#!/usr/bin/env python
"""Same-JVM A/B harness: named variants of one piece of work, measured
under one protocol.

A spec (a module in ``scripts/ab_specs/``) yields cases, each a dict of
named variants. A variant is a callable that takes a ``Window``, does
its timed work inside ``with win:`` and returns its output; ``query``
makes one from a registry-style builder (build, then a ``noop`` write).
For every case the harness

* runs each variant once, untimed (the warm-up);
* runs ``--reps`` rounds, reversing the variant order every other round;
* reports min and median wall seconds, and medians of: CPU seconds of
  the program (this process plus the Spark JVM and every process below
  it, ``observe.CpuMeter``), of the driver alone (``CpuMeter.self_s``),
  and the engine split of the stages submitted in the timed window
  (``observe.Rest`` + ``observe.engine_window``): task run time, JVM
  CPU, GC, the non-JVM gap (Python workers, IO), shuffle read + write
  and spill;
* checks, outside the timer, that every run of every variant gives the
  same output fingerprint (by default the sorted columns, the row count
  and an order-insensitive hash sum; a spec may define its own
  ``fingerprint(spark, out)``, and ``None`` opts a run out), and that
  the CacheManager is empty after every run.

``--jfr`` starts the JVM with Flight Recorder and counts
``jdk.ProcessStart`` events per variant over the timed windows, naming
the innermost Spark frame that spawned each command.

Usage: python scripts/ab.py SPEC [CASE ...] [--reps 3] [--data DIR] [--jfr]
  SPEC     drain | materialize | routing | multiprobe | simhash
  CASE     run only these cases (the query keys, for most specs)
  --data   the table directory the query specs read: the sf0.1 testdata
           by default, or the tree scripts/scale_probe.py builds
"""

from __future__ import annotations

import argparse
import collections
import datetime
import importlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from pyspark.sql import functions as F  # noqa: E402

from kawa_spark.io import DEFAULT_SF_DIR  # noqa: E402
from kawa_spark.session import get_spark  # noqa: E402
from observe import CpuMeter, Rest, engine_window  # noqa: E402

SPECS = ("drain", "materialize", "routing", "multiprobe", "simhash")
SF01 = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")

# reported engine columns: header -> engine_window fields summed
ENGINE = {
    "task": ("engine.task_run_s",),
    "jvm": ("engine.jvm_cpu_s",),
    "gc": ("engine.gc_s",),
    "non_jvm": ("engine.non_jvm_s",),
    "shuf_mb": ("engine.shuffle_read_mb", "engine.shuffle_write_mb"),
    "spill_mb": ("engine.spill_mb",),
}


class Window:
    """The timed region of one run: wall and CPU seconds, and the epoch
    interval the engine split is read over."""

    def __init__(self, meter: CpuMeter) -> None:
        self.meter = meter

    def __enter__(self) -> "Window":
        self._cpu, self._drv = self.meter.read(), CpuMeter.self_s()
        self.t0, self._wall = time.time(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._wall
        self.t1 = time.time()
        self.cpu_s = self.meter.read() - self._cpu
        self.drv_s = CpuMeter.self_s() - self._drv


def query(spark, build, data):
    """A variant that times ``build(spark, data)`` plus a ``noop`` write
    of the frame; the frame is its output."""

    def run(win: Window):
        with win:
            df = build(spark, data)
            df.write.format("noop").mode("overwrite").save()
        return df

    return run


def fingerprint(spark, df) -> tuple:
    """(sorted columns, rows, sum of each row's xxhash64): equal for the
    same rows in any order, whatever the column order."""
    cols = sorted(df.columns)
    h = F.xxhash64(*(F.col(f"`{c}`").cast("string") for c in cols))
    rows, total = df.agg(F.count("*"), F.sum(h.cast("decimal(38,0)"))).first()
    return tuple(cols), rows, total


def measure(spark, variants: dict, reps: int, fingerprint=fingerprint,
            windows: list | None = None) -> dict[str, list[dict]]:
    """Run the protocol over ``variants`` ({name: fn(win) -> output});
    returns {name: [metrics of each timed run]}. Timed windows are
    appended to ``windows`` as (t0, t1, name)."""
    meter = CpuMeter(spark.sparkContext._gateway.proc.pid)
    rest = Rest(spark.sparkContext)
    cache = spark._jsparkSession.sharedState().cacheManager()
    names = list(variants)
    results: dict[str, list[dict]] = {n: [] for n in names}
    ref: list = []  # (name, fingerprint) of the first checked run

    def run(name: str, timed: bool) -> None:
        win = Window(meter)
        out = variants[name](win)
        fp = fingerprint(spark, out)
        if not cache.isEmpty():
            raise RuntimeError(f"{name}: a cached frame outlived the run")
        if fp is not None:
            if not ref:
                ref.append((name, fp))
            if fp != ref[0][1]:
                raise RuntimeError(
                    f"{name}: output {fp} differs from {ref[0][0]}'s {ref[0][1]}"
                )
        if timed:
            stages, jobs = rest.snapshot()
            results[name].append({
                "wall_s": win.wall_s, "cpu_s": win.cpu_s, "drv_s": win.drv_s,
                **engine_window(stages, jobs, win.t0, win.t1),
            })
            if windows is not None:
                windows.append((win.t0, win.t1, name))

    for name in names:
        run(name, timed=False)
    for i in range(reps):
        for name in names if i % 2 == 0 else names[::-1]:
            run(name, timed=True)
    return results


def report(case: str, results: dict[str, list[dict]]) -> None:
    print(f"\n{case} (wall min/median; the rest medians, seconds unless MB)")
    print(f"{'variant':20s} {'wall_min':>8s} {'wall_med':>8s} {'cpu':>7s} "
          f"{'drv':>6s} " + " ".join(f"{h:>8s}" for h in ENGINE))
    for name, runs in results.items():
        def med(*fields):
            return statistics.median(sum(r[f] for f in fields) for r in runs)

        walls = [r["wall_s"] for r in runs]
        print(f"{name:20s} {min(walls):8.2f} {med('wall_s'):8.2f} "
              f"{med('cpu_s'):7.2f} {med('drv_s'):6.2f} "
              + " ".join(f"{med(*fs):8.2f}" for fs in ENGINE.values()),
              flush=True)


def _spawner(frames: list[dict]) -> str:
    """The innermost Spark frame above the process launch."""
    for fr in frames:
        cls = fr["method"]["type"]["name"].replace("/", ".")
        if cls.startswith("org.apache.spark"):
            return f"{cls.rsplit('.', 1)[-1]}.{fr['method']['name']}"
    return "?"


def jfr_counts(spark, windows: list) -> None:
    """Dump the JVM's recording and count process starts per variant over
    the timed windows (everything else is ``other``)."""
    recs = spark._jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings()
    with tempfile.TemporaryDirectory(prefix="kawa_ab_jfr_") as tmp:
        path = os.path.join(tmp, "ab.jfr")
        recs.get(0).dump(spark._jvm.java.io.File(path).toPath())
        out = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", "64", "--events",
             "jdk.ProcessStart", path],
            check=True, capture_output=True, text=True,
        ).stdout
    counts = collections.defaultdict(collections.Counter)
    spawners = collections.defaultdict(collections.Counter)
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        # e.g. 2026-10-19T10:48:12.599554797Z: keep microseconds, UTC
        t = datetime.datetime.fromisoformat(v["startTime"][:26] + "+00:00").timestamp()
        label = next((n for a, b, n in windows if a <= t <= b), "other")
        cmd = os.path.basename(v["command"].split()[0])
        counts[label][cmd] += 1
        frames = (v.get("stackTrace") or {}).get("frames", [])
        spawners[cmd][_spawner(frames)] += 1
    cmds = sorted({c for cnt in counts.values() for c in cnt})
    print("\njdk.ProcessStart events per variant (all timed runs)")
    print(f"{'variant':20s} " + " ".join(f"{c:>9s}" for c in cmds) + f" {'total':>7s}")
    for label in [*dict.fromkeys(n for _, _, n in windows), "other"]:
        cnt = counts[label]
        print(f"{label:20s} " + " ".join(f"{cnt[c]:9d}" for c in cmds)
              + f" {sum(cnt.values()):7d}")
    for c in cmds:
        print(f"  {c} spawned by: "
              + ", ".join(f"{s} ({n})" for s, n in spawners[c].most_common(3)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spec", choices=SPECS)
    ap.add_argument("cases", nargs="*")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--data", default=SF01)
    ap.add_argument("--jfr", action="store_true")
    a = ap.parse_args()

    # a Python streaming source runs in its own process, which finds
    # kawa_spark only through PYTHONPATH (set before the JVM starts)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    spec = importlib.import_module(f"ab_specs.{a.spec}")
    extra = {"spark.ui.showConsoleProgress": "false"}
    if a.jfr:
        extra["spark.driver.extraJavaOptions"] = (
            "-XX:FlightRecorderOptions=stackdepth=256 "
            "-XX:StartFlightRecording=settings=default"
        )
    spark = get_spark(app_name=f"ab_{a.spec}", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    print(f"ab {a.spec}: data {a.data}, {a.reps} reps, defaultParallelism "
          f"{spark.sparkContext.defaultParallelism}", flush=True)
    windows: list = []
    seen = set()
    fp = getattr(spec, "fingerprint", fingerprint)
    try:
        for case, variants in spec.cases(spark, a.data):
            seen.add(case)
            if a.cases and case not in a.cases:
                continue
            report(case, measure(spark, variants, a.reps, fp, windows))
        if set(a.cases) - seen:
            raise SystemExit(f"no such case: {sorted(set(a.cases) - seen)}")
        if a.jfr:
            jfr_counts(spark, windows)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.modules["ab"] = sys.modules["__main__"]  # specs import the harness as ab
    main()
