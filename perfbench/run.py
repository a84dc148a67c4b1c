#!/usr/bin/env python3
"""kawa-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload stream_stateful --seed 1 --seconds 8 --trace 0

Run it from the repository root; it builds nothing and imports the
package from there. Workloads (rationale in perfbench/NOTES.md):

* ``stream_stateful`` closed loop over pinned bounded stateful drains
* ``log_stream``      open-loop log generator -> examples/log_pipeline

``stream_stateful`` reads tables generated from ``--seed`` (datagen.py);
``log_stream`` reads lines generated from it (loadgen.py). Every output
is checked: registry keys against their DuckDB oracles, log lines against a
delivery ledger. All scratch files live under ``.perfbench/`` in the
working directory.

stdout ends with one JSON line ``{"correct", "attempted", "failed",
"metrics"}``; ``--trace 0`` gives the end-to-end metrics (CPU seconds
of the program's processes), ``--trace 1`` the per-layer ones, wall-clock
figures among them (and writes the spans to ``.perfbench/traces/``).
The line before it carries the details, the wall-clock figures too. The
exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import types

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("stream_stateful", "log_stream")
SCALE = 0.01  # generated table scale: lineitem 60k rows, events 10k
DEADLINE_S = 170.0  # hard stop, under the 180 s a run may take


def _prepare_env(work: str, root: str) -> dict[str, str]:
    """Keep every file the run writes under ``work``, and let Python
    workers (including the streaming source runner) import kawa_spark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # The Python streaming source runner does not honour addPyFile, so
    # kawa_spark must be importable from PYTHONPATH (NOTES.md, defect b).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    return {
        # no hsperfdata file: each JVM would write one under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def _setup(ctx, conf: dict[str, str]):
    """Session start, registry load and warm-up, as a user's first
    session pays them: the JVM launch inside ``get_spark``, then one JVM
    job and one pandas UDF job, which starts the Python worker daemon.

    Returns the session, the set-up's CPU seconds, and the session layer
    metrics (wall time of each step)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from kawa_spark import registry
    from kawa_spark.session import get_spark
    from observe import CpuMeter

    def _plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    u0 = CpuMeter.self_s()  # no JVM yet
    w = [time.time()]
    spark = get_spark(app_name="kawa_spark_perfbench", extra_conf=conf)
    w.append(time.time())
    registry.load_all()
    w.append(time.time())
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1000).select(F.sum(F.pandas_udf(_plus_one, LongType())("id"))).collect()
    w.append(time.time())
    cpu = CpuMeter(spark.sparkContext._gateway.proc.pid).read() - u0
    spark.sparkContext.setLogLevel("ERROR")
    sid = ctx.tracer.add("setup", w[0], w[3])
    layers = {"session.setup_wall_s": w[3] - w[0]}
    for name, j in (("session.get_spark", 0), ("registry.load_all", 1),
                    ("session.warmup", 2)):
        ctx.tracer.add(name, w[j], w[j + 1], sid)
        layers[f"{name}_s"] = w[j + 1] - w[j]
    return spark, cpu, layers


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _stop_jvm() -> None:
    """Stop the SparkContext and the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway exits on EOF of its stdin
        gw.proc.wait(timeout=60)


def _watchdog(work: str) -> threading.Timer:
    def abort() -> None:
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, aborting",
              file=sys.stderr, flush=True)
        try:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None and getattr(gw, "proc", None) is not None:
                gw.proc.kill()
                gw.proc.wait(timeout=30)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            os._exit(3)

    t = threading.Timer(DEADLINE_S, abort)
    t.daemon = True
    t.start()
    return t


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kawa_spark", "registry.py")):
        print("perfbench: run from the repository root (no kawa_spark/ here)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.dont_write_bytecode = True
    sys.path.insert(1, root)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    timer = _watchdog(work)
    conf = _prepare_env(work, root)

    import workloads
    from observe import Tracer

    ctx = types.SimpleNamespace(
        workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
        tracer=Tracer(bool(a.trace)), work=work, data=None, detail={},
    )
    phases = ctx.detail.setdefault("phase_wall_s", {})
    cpu0 = _cpu_times()
    t = time.perf_counter()
    try:
        if a.workload != "log_stream":
            import datagen

            ctx.data = datagen.write(os.path.join(work, "data"), a.seed, SCALE)
        phases["datagen"] = time.perf_counter() - t
        spark, setup_s, session_layers = _setup(ctx, conf)
        phases["setup"] = time.perf_counter() - t - phases["datagen"]
        if a.workload == "log_stream":
            metrics, layers, checks = workloads.log_stream(ctx, spark)
        else:
            metrics, layers, checks = workloads.closed_loop(
                ctx, spark, workloads.STATEFUL_KEYS
            )
        metrics["setup_s"] = setup_s
        phases["workload"] = (
            time.perf_counter() - t - phases["setup"] - phases["datagen"]
        )
        layers.update(session_layers)
        if a.trace:
            tdir = os.path.join(base, "traces")
            os.makedirs(tdir, exist_ok=True)
            ctx.tracer.dump(
                os.path.join(tdir, f"trace-{a.workload}-{a.seed}.json"),
                {"workload": a.workload, "seed": a.seed, "layers": layers},
            )
            ctx.detail["self_s"] = ctx.tracer.self_times()
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            timer.cancel()
    phases["total"] = time.perf_counter() - t
    # hypervisor steal over the run: the main source of run-to-run noise
    # on a shared host, reported so a slow run can be told apart
    d = [b - a for a, b in zip(cpu0, _cpu_times())]
    if len(d) > 7 and sum(d):
        ctx.detail["host_steal_pct"] = layers["host.steal_pct"] = (
            100.0 * d[7] / sum(d))
    ctx.detail["host_loadavg"] = os.getloadavg()

    correct = checks["failed"] == 0 and not checks["errors"]
    if a.trace:
        # the wall-clock figures are per-layer diagnostics (NOTES.md)
        vals = {**metrics, **layers}
        out = {m["name"]: {"value": float(vals.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
               for m in spec["end_to_end"]}
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "ops_failed_frac": checks["failed"] / max(1, checks["attempted"]),
        "errors": checks["errors"],
        "wall": {k: v for k, v in metrics.items() if k.startswith("wall.")},
        **ctx.detail,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, int(checks["attempted"])),
        "failed": int(checks["failed"]),
        "metrics": out,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
