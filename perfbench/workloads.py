"""The workloads. Each drives the program only through its public
functions, over inputs generated from the seed (``inputs.py``).

Life cycle, driven by ``run.py``:
``prepare`` (untimed: inputs and expected outputs, cached on disk per
seed) → ``get_spark`` + ``load`` + ``warm`` (set-up, timed as ``setup_s``) →
``run_pass`` repeatedly (timed) → ``trace_pass`` once in a traced run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

import numpy as np

from perfbench import inputs
from perfbench.checks import Tally, digest

LADDER_QUERIES = ("near_dup_clusters", "embedding_near_dup_pairs")
RELATIONAL_QUERIES = (
    "q1_pricing_summary",
    "market_segment_rollup",
    "topk_orders_per_customer",
    "top_brands_by_revenue",
    "column_stats_profile",
    "quantile_profile",
    "hourly_event_rollup",
    "sessionization",
    "asof_join_last_click",
    "event_value_pivot",
    "stratified_sample",
    "quality_filter_chain",
)


class Tracer:
    """Runs one layer call at a time, each from a fresh thread under its
    own job group, and records its wall time (and, on request, the CPU
    the Python workers spent during it)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}
        self.python_cpu: dict[str, float] = {}

    def call(self, group: str, fn, python_cpu: bool = False):
        from perfbench.procstat import python_worker_cpu_s

        box: dict = {}

        def body() -> None:
            self.sc.setJobGroup(group, group)
            try:
                box["out"] = fn()
            except BaseException as e:  # re-raised on the caller's thread
                box["err"] = e

        cpu0 = python_worker_cpu_s() if python_cpu else 0.0
        t0 = time.monotonic()
        th = threading.Thread(target=body, name=f"trace-{group}")
        th.start()
        th.join()
        self.wall[group] = self.wall.get(group, 0.0) + time.monotonic() - t0
        if python_cpu:
            self.python_cpu[group] = python_worker_cpu_s() - cpu0
        if "err" in box:
            raise box["err"]
        return box["out"]


class Workload:
    name = ""
    rows_per_pass = 0

    def __init__(self, cache: str, seed: int) -> None:
        self.cache = cache
        self.seed = seed
        self.spark = None

    def prepare(self) -> None: ...

    def load(self, spark) -> None:
        """Cached input load: open the generated inputs in ``spark``."""
        self.spark = spark

    def warm(self) -> None:
        """Run every operation once, unchecked, before the timed passes."""

    def before_pass(self) -> None:
        """Untimed per-pass preparation."""

    def run_pass(self, tally: Tally) -> None: ...

    def trace_pass(self, tracer: Tracer) -> None: ...

    def sizes(self) -> dict: ...


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def oracle_digest(sf_dir: str, sql: str) -> str:
    import duckdb

    from pqc.io import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {_cpus()}")
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'")
        return digest(con.execute(sql).df())
    finally:
        con.close()


class Queries(Workload):
    """The 12 short relational/event/text queries and two dedup and
    similarity ladders, run serially as the driver runs them, each
    result collected and compared with its DuckDB oracle."""

    name = "queries"
    queries = RELATIONAL_QUERIES + LADDER_QUERIES
    sf = 0.02

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from pqc.io import TESTDATA_TABLES
        from pqc.registry import REGISTRY, _load_modules

        _load_modules()
        self.fns = {q: REGISTRY[q].fn for q in self.queries}
        self.dir = inputs.write_tables(os.path.join(self.cache, f"tables_sf{self.sf}_s{self.seed}"), self.seed, self.sf)
        self.rows_per_pass = sum(
            pq.ParquetFile(os.path.join(self.dir, f"{t}.parquet")).metadata.num_rows for t in TESTDATA_TABLES
        )
        path = os.path.join(self.cache, f"oracle_{self.name}_sf{self.sf}_s{self.seed}.json")
        if not os.path.exists(path):
            oracle = {q: oracle_digest(self.dir, REGISTRY[q].oracle) for q in self.queries}
            with open(path + ".tmp", "w") as f:
                json.dump(oracle, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            self.expected = json.load(f)

    def warm(self) -> None:
        # concurrently, to shorten set-up: most of a first run is planning,
        # code generation and JIT compilation, and the queries are independent
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(_cpus()) as ex:
            list(ex.map(lambda q: self.fns[q](self.spark, self.dir).toPandas(), self.queries))

    def _run(self, q: str) -> str:
        return digest(self.fns[q](self.spark, self.dir).toPandas())

    def _check(self, q: str):
        want = self.expected[q]
        return lambda got: None if got == want else f"digest {got} != oracle {want}"

    def run_pass(self, tally: Tally) -> None:
        for q in self.queries:
            tally.run(q, lambda q=q: self._run(q), self._check(q))

    def trace_pass(self, tracer: Tracer) -> None:
        for q in self.queries:
            reason = self._check(q)(tracer.call(q, lambda q=q: self._run(q)))
            if reason is not None:
                raise AssertionError(f"{q}: {reason}")

    def sizes(self) -> dict:
        return {"sf": self.sf, "input_rows": self.rows_per_pass, "queries": len(self.queries)}


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------


def _rollup(res) -> dict[str, int]:
    """Per-constraint violation counts from the verdict table, and the
    violation row count (the two must agree)."""
    from pyspark.sql import functions as F

    counts = {
        r["constraint"]: int(r["n"])
        for r in res.verdicts.groupBy("constraint").agg(F.sum("n_violations").alias("n")).collect()
    }
    counts["_rows"] = res.violations.count()
    return counts


def caption_screen_counts(path: str, parts: list[int]) -> dict[str, int]:
    """The ``text:*`` violation counts of the images table's partitions
    ``parts``, from the program's DuckDB twin of the caption screen (the
    ``images_banned_caption_screen`` oracle, which mirrors
    ``text_rules.screen_hits``). Exact hits of a Banned term are
    ``text:banned_ingredient``; every other hit is ``text:needs_review``."""
    import duckdb

    from pqc.image_queries import _meta_glob
    from pqc.registry import REGISTRY, _load_modules

    _load_modules()
    sql = REGISTRY["images_banned_caption_screen"].oracle
    if _meta_glob() not in sql:
        raise RuntimeError("the caption-screen oracle no longer reads the fixture projection")
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW todo AS SELECT * FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true) "
            f"WHERE part IN ({','.join(map(str, parts))})"
        )
        hits = con.execute(sql.replace(_meta_glob(), "todo")).fetchall()
    finally:
        con.close()
    banned = sum(int(n) for _canon, syn_type, kind, n in hits if kind == "exact" and syn_type == "Banned")
    return {"text:banned_ingredient": banned, "text:needs_review": sum(int(h[3]) for h in hits) - banned}


class Images(Workload):
    """A resumable validation run (``ledger.run_with_resume``) of the full
    ``ValidationSuite`` over fixture images plus two payload-free hot-band
    slabs, with a seeded quarter of the partitions already in the ledger."""

    name = "images"
    pool_rows = 6000
    payload_blocks = 10  # 2000 fixture images with payloads
    # per slab: 3000 rows, of which ~2250 are validated (a quarter of the
    # partitions is pre-recorded): above the 2000-member band cap
    slab_blocks = 15

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.tag = f"p{self.payload_blocks}_h{self.slab_blocks}_s{self.seed}"
        pool = inputs.image_pool(os.path.join(self.cache, f"image_pool_{self.pool_rows}"), self.pool_rows, _cpus())
        if self.seed == 0:  # bench.py's fixture order: rows 0..n-1
            blocks = np.arange(self.payload_blocks)
        else:
            blocks = inputs.seeded_blocks(self.seed, self.payload_blocks, self.pool_rows // inputs.BLOCK)
        self.path = inputs.images_table(
            os.path.join(self.cache, f"images_{self.tag}"), pool, self.seed, inputs.block_seqs(blocks), self.slab_blocks
        )
        meta = pq.read_table(self.path, columns=["seq", "part"]).to_pandas()
        self.rows_per_pass = len(meta)
        parts = sorted(int(p) for p in meta["part"].unique())
        rng = np.random.default_rng([self.seed, 5])
        self.done_parts = sorted(int(p) for p in rng.choice(parts, len(parts) // 4, replace=False))
        todo = meta[~meta["part"].isin(self.done_parts)]["seq"].to_numpy()
        self.n_validated = len(parts) - len(self.done_parts)
        self.expected = inputs.scheduled_counts(todo, todo < inputs.SLAB_SEQ0)
        self.expected.update(caption_screen_counts(self.path, sorted(set(parts) - set(self.done_parts))))
        self.base_ledger = inputs.publish(os.path.join(self.cache, f"ledger_{self.tag}"), self._write_base_ledger)
        self.pass_ledger = os.path.join(os.path.dirname(self.cache), "ledger_pass")

    def _write_base_ledger(self, tmp: str) -> None:
        """Pre-record ``done_parts``, fingerprinted in DuckDB through the
        program's portable hash (``pqc.exprs``)."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pqc.ledger import LEDGER_SCHEMA
        from pqc.exprs import hash64_sql_duckdb

        concat = (
            "concat_ws('|', image_id, COALESCE(CAST(w AS VARCHAR), '∅'), "
            "COALESCE(CAST(h AS VARCHAR), '∅'), COALESCE(fmt, '∅'), "
            "COALESCE(caption, '∅'), COALESCE(CAST(phash AS VARCHAR), '∅'))"
        )
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"SELECT CAST(part AS INTEGER), CAST(SUM({hash64_sql_duckdb(concat)} & 4294967295) AS BIGINT), "
                f"COUNT(*), 0, true, 'prerecorded', 'prerecorded', 0 "
                f"FROM read_parquet('{self.path}/*/*.parquet', hive_partitioning = true) "
                f"WHERE part IN ({','.join(map(str, self.done_parts))}) GROUP BY part ORDER BY part"
            ).fetchall()
        finally:
            con.close()
        types = {"int": pa.int32(), "bigint": pa.int64(), "boolean": pa.bool_(), "string": pa.string()}
        schema = pa.schema([(n, types[t]) for n, t in (f.split() for f in LEDGER_SCHEMA.split(", "))])
        pq.write_table(pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema), os.path.join(tmp, "part-00000.parquet"))

    def load(self, spark) -> None:
        from pqc.fixtures import generate_image_dim

        super().load(spark)
        self.images = spark.read.parquet(self.path)
        self.dim = generate_image_dim(self.images)

    def suite(self):
        """A ValidationSuite whose ``run`` call is timed."""
        from pqc.engine import ValidationSuite

        timed = self.engine_times = {}

        class TimedSuite(ValidationSuite):
            def run(self, ctx, drift_column: str = "w"):
                t0 = time.monotonic()
                out = super().run(ctx, drift_column)
                timed["run_s"] = time.monotonic() - t0
                return out

        return TimedSuite()

    def before_pass(self) -> None:
        shutil.rmtree(self.pass_ledger, ignore_errors=True)
        shutil.copytree(self.base_ledger, self.pass_ledger)

    def _resume(self, images) -> dict[str, int]:
        from pqc.ledger import run_with_resume

        res, skipped = run_with_resume(self.spark, images, self.pass_ledger, self.suite(), self.dim)
        try:
            t0 = time.monotonic()
            counts = _rollup(res)
            self.engine_times["rollup_s"] = time.monotonic() - t0
        finally:
            res.release()
        counts["_skipped"] = skipped
        return counts

    def warm(self) -> None:
        # one whole pass: the first pass after start-up is ~1.5x slower
        # than later ones, and a pass over a sample warms up far less
        self.before_pass()
        self._resume(self.images)

    def check_counts(self, counts: dict) -> str | None:
        """The ledger skips exactly the pre-recorded partitions and gains
        one row per validated one; every constraint's count matches the
        anomaly schedule or, for the caption screen, its DuckDB twin."""
        import pyarrow.parquet as pq

        if counts.pop("_skipped") != self.done_parts:
            return f"skipped partitions differ from the pre-recorded {self.done_parts}"
        appended = pq.read_table(self.pass_ledger).num_rows - len(self.done_parts)
        if appended != self.n_validated:
            return f"ledger gained {appended} rows, expected {self.n_validated}"
        if counts["_rows"] != sum(v for k, v in counts.items() if k != "_rows"):
            return f"violation rows {counts['_rows']} != verdict total"
        got = {k: v for k, v in counts.items() if k != "_rows"}
        if got.keys() != self.expected.keys():
            return f"constraints {sorted(got)} differ from the expected {sorted(self.expected)}"
        for k, want in self.expected.items():
            if got[k] != want:
                return f"{k}: {got[k]} violations, expected {want}"
        return None

    def run_pass(self, tally: Tally) -> None:
        tally.run("resume", lambda: self._resume(self.images), self.check_counts)

    def trace_pass(self, tracer: Tracer) -> None:
        """The resumable run's layers one at a time: the ledger
        fingerprint, the meta cache, the decode island, each constraint
        branch's count, and the near-dup and caption funnels."""
        from pyspark.sql import functions as F

        from pqc.constraints import (
            SuiteContext,
            integrity,
            near_dup,
            ranges,
            referential,
            text_rules,
            uniqueness,
        )
        from pqc.ledger import partition_fingerprints

        fps = tracer.call("ledger.fingerprint", lambda: partition_fingerprints(self.images).collect())
        todo = sorted(r["part"] for r in fps if r["part"] not in self.done_parts)
        self.parts = {"skipped": len(fps) - len(todo), "validated": len(todo)}
        ctx = SuiteContext(images=self.images.filter(F.col("part").isin(todo)), image_dim=self.dim)
        tracer.call("engine.meta", lambda: ctx.meta().count())
        tracer.call("decode", lambda: ctx.integrity().count(), python_cpu=True)
        branches = {
            "uniqueness": uniqueness.violations,
            "referential": referential.violations,
            "ranges": ranges.combined_violations,
            "integrity": integrity.combined_violations,
            "near_dup": near_dup.violations,
            "text_rules": text_rules.banned_violations,
        }
        self.layer_counts = {b: tracer.call(b, lambda fn=fn: fn(ctx).count()) for b, fn in branches.items()}
        self.layer_counts["near_dup.hot"] = tracer.call("near_dup.hot", lambda: near_dup.hot_buckets(ctx.meta()).count())
        self.layer_counts["text_rules.screen"] = tracer.call(
            "text_rules.screen", lambda: text_rules.screen_hits(ctx).count()
        )
        ctx.release()

    def sizes(self) -> dict:
        return {
            "rows": self.rows_per_pass,
            "payload_rows": self.payload_blocks * inputs.BLOCK,
            "slab_rows": 2 * self.slab_blocks * inputs.BLOCK,
            "parts_prerecorded": len(self.done_parts),
        }


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


WORKLOADS = {w.name: w for w in (Images, Queries)}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
