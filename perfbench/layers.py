"""The traced run: per-layer metrics from one pass broken into layers,
one ordinary pass, and the session's event log."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from perfbench.eventlog import GroupStats, rollup
from perfbench.workloads import LADDER_QUERIES, RELATIONAL_QUERIES, Tracer

SUITE_LAYERS = ("engine.meta", "decode", "uniqueness", "referential", "ranges", "integrity", "near_dup", "text_rules")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [("session.start_s", "s")]
    out += [
        ("decode.wall_s", "s"),
        ("decode.task_run_s", "s"),
        ("decode.python_cpu_s", "s"),
        ("decode.tasks", "count"),
        ("decode.task_max_over_p50", "ratio"),
        ("near_dup.wall_s", "s"),
        ("near_dup.shuffle_mb", "MB"),
        ("near_dup.confirmed", "count"),
        ("near_dup.hot_buckets", "count"),
        ("text_rules.wall_s", "s"),
        ("text_rules.screened", "count"),
        ("text_rules.confirmed", "count"),
        ("text_rules.confirm_ratio", "ratio"),
    ]
    for b in ("uniqueness", "referential", "ranges", "integrity"):
        out += [(f"{b}.wall_s", "s"), (f"{b}.shuffle_mb", "MB")]
    out += [
        ("engine.meta_s", "s"),
        ("engine.run_s", "s"),
        ("engine.rollup_s", "s"),
        ("engine.overlap", "ratio"),
        ("ledger.fingerprint_s", "s"),
        ("ledger.write_s", "s"),
        ("ledger.parts_skipped", "count"),
        ("ledger.parts_validated", "count"),
    ]
    for q in LADDER_QUERIES:
        out += [(f"{q}.wall_s", "s"), (f"{q}.jobs", "count"), (f"{q}.shuffle_mb", "MB"),
                (f"{q}.spill_mb", "MB"), (f"{q}.task_max_over_p50", "ratio")]
    for q in RELATIONAL_QUERIES:
        out += [(f"{q}.wall_s", "s"), (f"{q}.jobs", "count"), (f"{q}.stages", "count"),
                (f"{q}.shuffle_mb", "MB")]
    out.append(("trace.overhead_s", "s"))
    out.append(("process.peak_rss_mb", "MB"))  # filled in by run.py
    return out


@contextmanager
def grouped_writes(spark, group: str, wall: dict):
    """Run every DataFrameWriter.parquet call (the ledger append is the
    only one in a pass) under ``group`` and time it."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    orig = DataFrameWriter.parquet

    def parquet(self, *a, **k):
        sc.setJobGroup(group, group)
        t0 = time.monotonic()
        try:
            return orig(self, *a, **k)
        finally:
            wall[group] = wall.get(group, 0.0) + time.monotonic() - t0
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig


def traced_run(spark, wl, tally, session_start: float) -> dict[str, tuple[float, str]]:
    sc = spark.sparkContext
    log = os.path.join(sc.getConf().get("spark.eventLog.dir"), sc.applicationId)
    # after the set-up's warm-up: the traced pass, then an ordinary pass
    tracer = Tracer(spark)
    tally.run("trace", lambda: wl.trace_pass(tracer), lambda _: None)
    writes: dict[str, float] = {}
    wl.before_pass()
    t0 = time.monotonic()
    with grouped_writes(spark, "ledger.write", writes):
        wl.run_pass(tally)
    untraced = time.monotonic() - t0
    engine = dict(getattr(wl, "engine_times", {}))
    spark.stop()  # flushes and closes the event log
    groups = rollup(log) if os.path.exists(log) else {}
    g = lambda name: groups.get(name, GroupStats())  # noqa: E731
    w = tracer.wall.get
    v: dict[str, float] = {"session.start_s": session_start}

    d = g("decode")
    v.update({
        "decode.wall_s": w("decode", 0.0),
        "decode.task_run_s": d.task_run_s,
        "decode.python_cpu_s": tracer.python_cpu.get("decode", 0.0),
        "decode.tasks": d.tasks,
        "decode.task_max_over_p50": d.task_max_over_p50,
    })
    counts = getattr(wl, "layer_counts", {})
    screened, confirmed = counts.get("text_rules.screen", 0), counts.get("text_rules", 0)
    v.update({
        "near_dup.confirmed": counts.get("near_dup", 0),
        "near_dup.hot_buckets": counts.get("near_dup.hot", 0),
        "text_rules.wall_s": w("text_rules", 0.0),
        "text_rules.screened": screened,
        "text_rules.confirmed": confirmed,
        "text_rules.confirm_ratio": confirmed / screened if screened else 0.0,
    })
    for b in ("uniqueness", "referential", "ranges", "integrity", "near_dup"):
        v[f"{b}.wall_s"] = w(b, 0.0)
        v[f"{b}.shuffle_mb"] = g(b).shuffle_mb
    serial = sum(w(x, 0.0) for x in SUITE_LAYERS)
    run_s = engine.get("run_s", 0.0)
    parts = getattr(wl, "parts", {})
    v.update({
        "engine.meta_s": w("engine.meta", 0.0),
        "engine.run_s": run_s,
        "engine.rollup_s": engine.get("rollup_s", 0.0),
        "engine.overlap": serial / run_s if run_s else 0.0,
        "ledger.fingerprint_s": w("ledger.fingerprint", 0.0),
        "ledger.write_s": writes.get("ledger.write", 0.0),
        "ledger.parts_skipped": parts.get("skipped", 0),
        "ledger.parts_validated": parts.get("validated", 0),
    })
    for q in LADDER_QUERIES + RELATIONAL_QUERIES:
        s = g(q)
        v.update({
            f"{q}.wall_s": w(q, 0.0),
            f"{q}.jobs": s.jobs,
            f"{q}.stages": s.stages,
            f"{q}.shuffle_mb": s.shuffle_mb,
            f"{q}.spill_mb": s.spill_mb,
            f"{q}.task_max_over_p50": s.task_max_over_p50,
        })
    # a pass made of the traced layer calls (not the funnel probes; the
    # ledger append and roll-up as timed in the ordinary pass) against
    # the ordinary pass: job groups and serial suite branches
    traced = (
        serial
        + w("ledger.fingerprint", 0.0)
        + writes.get("ledger.write", 0.0)
        + engine.get("rollup_s", 0.0)
        + sum(w(q, 0.0) for q in LADDER_QUERIES + RELATIONAL_QUERIES)
    )
    v["trace.overhead_s"] = traced - untraced
    return {name: (float(v.get(name, 0.0)), unit) for name, unit in metric_names()}
