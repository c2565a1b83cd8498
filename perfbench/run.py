#!/usr/bin/env python3
"""Benchmark for the pqc validation engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from the seed and
cached under ``.perfbench/`` (untimed). The run then sets up once, timed
as ``setup_s``: JVM launch and session start (``get_spark``), the cached
input load and one untimed warm-up of every operation. It then times
whole passes of the workload for up to ``--seconds`` (at least one).
Every output is checked. ``--trace 1`` starts the session with an event
log and, after the same set-up, runs one pass broken into layers, each
layer under its own Spark job group, and one ordinary pass, and rolls
the event log up into per-layer metrics.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
records the pinned environment, input sizes and per-pass times.
See perfbench/README.md for the metric and workload names.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"


def pin_environment() -> dict:
    """Pin everything that changes timings, before Spark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "PQC_DRIVER_MEM": DRIVER_MEM,
        "PQC_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "PQC_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the spark-submit launcher JVM too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
    }
    os.environ.update(env)
    return env


def source_identity() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(os.path.join(ROOT, "pqc"))):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return {"git_commit": commit, "pqc_sha256": h.hexdigest()[:16]}


def trace_conf() -> dict:
    from perfbench.eventlog import EXTRA_CONF

    path = os.path.join(STATE, "eventlog")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return {"spark.eventLog.dir": path, **EXTRA_CONF}


def shutdown(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all.
    Remove the package zip that ``get_spark`` ships to the workers."""
    from pyspark import SparkContext

    from perfbench.procstat import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (left := [p for p in descendants(os.getpid()) if p != os.getpid()]):
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)
        if time.monotonic() > deadline + 10:
            break
    # pqc.session._ship_package writes it to /tmp, whatever TMPDIR says
    try:
        os.remove(os.path.join("/tmp", f"pqc_pyfiles_{os.getpid()}.zip"))
    except OSError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env = pin_environment()
    sys.path.insert(0, ROOT)
    try:
        import pqc  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import layers
    from perfbench.checks import Tally
    from perfbench.procstat import PeakRss
    from perfbench.workloads import WORKLOADS, median

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from pqc.session import get_spark

    cache = os.path.join(STATE, "cache")
    os.makedirs(cache, exist_ok=True)
    wl = WORKLOADS[args.workload](cache, args.seed)
    t0 = time.monotonic()
    wl.prepare()
    prepare_s = time.monotonic() - t0

    cpus = int(env["SPARK_GRAFT_CPUS"])
    extra = trace_conf() if args.trace else {}
    spark = None
    try:
        # set-up: everything before the first timed pass
        t0 = time.monotonic()
        spark = get_spark(cpus, f"perfbench-{wl.name}", extra_conf=extra)
        session_start = time.monotonic() - t0
        wl.load(spark)
        t1 = time.monotonic()
        wl.warm()
        warm_s = time.monotonic() - t1
        setup_s = time.monotonic() - t0

        tally = Tally()
        walls: list[float] = []
        with PeakRss() as rss:
            if not args.trace:
                # whole passes only: stop before one that would overrun
                t_end = time.monotonic() + args.seconds
                while not walls or time.monotonic() + walls[-1] <= t_end:
                    wl.before_pass()
                    t0 = time.monotonic()
                    wl.run_pass(tally)
                    walls.append(time.monotonic() - t0)
                wall = median(walls)
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "wall_s": (wall, "s"),
                    "rows_per_s": (wl.rows_per_pass / wall, "rows/s"),
                }
            else:
                metrics = layers.traced_run(spark, wl, tally, session_start)
                spark = None  # traced_run stopped it to flush the event log
        if args.trace:
            metrics["process.peak_rss_mb"] = (rss.peak_mb, "MB")
    finally:
        shutdown(spark)

    info = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "source": source_identity(),
        "sizes": wl.sizes(),
        "prepare_s": round(prepare_s, 3),
        "session_start_s": round(session_start, 3),
        "warm_s": round(warm_s, 3),
        "setup_s": round(setup_s, 3),
        "pass_walls_s": [round(w, 4) for w in walls],
        "op_walls_s": {k: round(median(v), 4) for k, v in tally.walls.items()},
        "peak_rss_mb": round(rss.peak_mb, 1),
        "fail_ratio": tally.fail_ratio,
        "errors": tally.errors[:20],
    }
    print(json.dumps({"perfbench": info}))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
