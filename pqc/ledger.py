"""Per-partition checkpoint ledger — resumable validation runs.

Grafts the reference's append-only results CSV + heartbeat resume
(`utils/durability.py:16-30`, `read_existing_results` `:20-26`) into a
partition-granular ledger table: after each run, one row per validated
partition `(part, input_fingerprint, n_rows, n_violations, passed,
engine_version, run_id, wall_ms)` is appended. A rerun recomputes each
partition's input fingerprint and skips partitions whose fingerprint
already appears in the ledger — same semantics as the reference's
"skip rows already in the results file", at the granularity a
distributed engine can checkpoint atomically.

The fingerprint is an order-independent content hash (sum of per-row
32-bit folds of the portable md5 hash over the identity columns), so a
partition whose *data* changed — not just its row count —
re-validates. Using pqc/exprs.hash64 instead of crc32 makes the
fingerprint engine-portable: the DuckDB oracle reproduces it exactly
(`ledger_partition_fingerprints` driver query).

Scope: partition-local constraints only. Cross-partition (global)
constraints — near-duplicate detection, table-level drift — cannot be
resumed partition-by-partition (a pair may span a validated and an
unvalidated partition); run those as a whole-table pass, or maintain
an incremental phash band index (future work).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pqc import __version__
from pqc.constraints import SuiteContext
from pqc.engine import SuiteResult, ValidationSuite

LEDGER_SCHEMA = (
    "part int, input_fingerprint bigint, n_rows bigint, n_violations bigint, "
    "passed boolean, engine_version string, run_id string, wall_ms bigint"
)


def partition_fingerprints(images: DataFrame) -> DataFrame:
    """(part, input_fingerprint, n_rows) — order-independent content hash.

    Covers every payload-free column the constraints read (image_id,
    declared dims/fmt, caption, stored phash) so a partition whose
    caption text or phash changed re-validates, not just row-count or
    id churn. `bytes` changes are caught only via their phash/dims
    proxies — hashing the payload would force a second full binary
    scan, which the single-bytes-scan invariant forbids.
    """
    from pqc.exprs import hash64

    # every field coalesced: concat_ws SKIPS nulls, so an un-coalesced
    # null would make e.g. (w=NULL,h=300) and (w=300,h=NULL) collide.
    # hash64 folded to 32 bits: portable across engines, and the
    # per-partition SUM stays far from bigint overflow (n_rows × 2^32).
    row_fp = hash64(
        F.concat_ws(
            "|",
            F.col("image_id"),
            F.coalesce(F.col("w").cast("string"), F.lit("∅")),
            F.coalesce(F.col("h").cast("string"), F.lit("∅")),
            F.coalesce(F.col("fmt"), F.lit("∅")),
            F.coalesce(F.col("caption"), F.lit("∅")),
            F.coalesce(F.col("phash").cast("string"), F.lit("∅")),
        )
    ).bitwiseAND(F.lit(0xFFFFFFFF))
    return images.groupBy("part").agg(
        F.sum(row_fp).alias("input_fingerprint"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def completed_partitions(spark: SparkSession, ledger_path: str) -> DataFrame:
    """(part, input_fingerprint) pairs already validated, or empty."""
    try:
        led = spark.read.parquet(ledger_path)
    except Exception:
        return spark.createDataFrame([], "part int, input_fingerprint bigint")
    return led.select("part", "input_fingerprint").dropDuplicates()


def run_with_resume(
    spark: SparkSession,
    images: DataFrame,
    ledger_path: str,
    suite: ValidationSuite | None = None,
    image_dim: DataFrame | None = None,
) -> tuple[SuiteResult | None, list[int]]:
    """Validate only partitions not yet in the ledger; append results.

    Returns (suite_result_or_None_if_nothing_to_do, skipped_parts).
    The part filter is an IN-list predicate on the partition column, so
    the parquet/Iceberg scan prunes skipped partitions at planning time
    — skipped data is never read.
    """
    suite = suite or ValidationSuite()
    # one fingerprint job per run: the skip/todo split and the ledger
    # rows below all reuse the collected (part, input_fingerprint) pairs
    fps = [(r["part"], r["input_fingerprint"]) for r in partition_fingerprints(images).collect()]
    done = {tuple(r) for r in completed_partitions(spark, ledger_path).collect()}
    skipped = sorted(part for part, fp in fps if (part, fp) in done)
    todo = [(part, fp) for part, fp in fps if (part, fp) not in done]
    if not todo:
        return None, skipped

    subset = images.filter(F.col("part").isin([part for part, _ in todo]))
    t0 = time.monotonic()
    ctx = SuiteContext(images=subset, image_dim=image_dim)
    result = suite.run(ctx)
    per_part = (
        result.verdicts.groupBy("part")
        .agg(
            F.max("n_checked").alias("n_rows"),
            F.sum("n_violations").alias("n_violations"),
        )
        .withColumn("passed", F.col("n_violations") == 0)
    )
    wall_ms = int((time.monotonic() - t0) * 1000)
    run_id = uuid.uuid4().hex[:12]
    ledger_rows = (
        per_part.join(
            spark.createDataFrame(todo, "part int, input_fingerprint bigint"), "part"
        )
        .select(
            "part",
            "input_fingerprint",
            F.col("n_rows").cast("bigint"),
            F.col("n_violations").cast("bigint"),
            "passed",
            F.lit(__version__).alias("engine_version"),
            F.lit(run_id).alias("run_id"),
            F.lit(wall_ms).alias("wall_ms"),
        )
    )
    ledger_rows.write.mode("append").parquet(ledger_path)
    return result, skipped


# ---------------------------------------------------------------------------
# Driver surface: the resume layer's core computation, oracle-checked
# ---------------------------------------------------------------------------


def _fp_oracle() -> str:
    from pqc.exprs import hash64_sql_duckdb
    from pqc.image_queries import _meta_glob

    concat = (
        "concat_ws('|', image_id, "
        "COALESCE(CAST(w AS VARCHAR), '∅'), "
        "COALESCE(CAST(h AS VARCHAR), '∅'), "
        "COALESCE(fmt, '∅'), COALESCE(caption, '∅'), "
        "COALESCE(CAST(phash AS VARCHAR), '∅'))"
    )
    return f"""
SELECT part,
       CAST(SUM({hash64_sql_duckdb(concat)} & 4294967295) AS BIGINT) AS input_fingerprint,
       COUNT(*) AS n_rows
FROM {_meta_glob()}
GROUP BY part
"""


def _register_driver_query() -> None:
    from pqc.registry import register

    @register("ledger_partition_fingerprints", oracle=_fp_oracle())
    def ledger_partition_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The resumable-run ledger's partition fingerprint table
        (part, input_fingerprint, n_rows) over the images fixture —
        the exact values run_with_resume skips on. Order-independent
        (SUM of per-row folds) and engine-portable, so the DuckDB
        oracle recomputes the identical bigints from the payload-free
        meta projection."""
        from pqc.fixtures import cached_images_path
        from pqc.image_queries import FIXTURE_ROWS, _ensure_meta_parquet

        _ensure_meta_parquet(spark, FIXTURE_ROWS)
        images = spark.read.parquet(cached_images_path(spark, FIXTURE_ROWS))
        return partition_fingerprints(images).orderBy("part")


_register_driver_query()
