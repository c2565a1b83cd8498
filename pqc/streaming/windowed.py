"""Structured Streaming surface.

The reference is a pure batch engine (SURVEY §1.2: no streaming
constructs), and the north rule is batch-with-resume — so streaming
here is the *ingest* story: a continuously-arriving images table is
validated incrementally, and event streams get windowed rollups with
watermarked late-data handling.

Two streaming operators:
- ``windowed_event_counts``: watermark + tumbling window aggregation
  over the events schema (the streaming twin of
  pqc/events_ops.hourly_event_rollup);
- ``streaming_validation``: readStream over an images directory →
  the batch suite's row-local checks (``ranges.row_checks``) plus the
  payload-presence check → violation stream. Cross-row constraints
  (uniqueness, near-dup) stay in the batch/resume path — they need
  global state, which the ledger handles (pqc/ledger.py).

Both are driven to completion synchronously in tests via the memory
sink + ``processAllAvailable`` (no always-on cluster in the sandbox).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pqc.exprs import dsum, dsum_sql
from pqc.io import cached_dir
from pqc.registry import register

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window rollup with late-data watermark."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    # dsum (decimal-exact) rather than SUM(double): micro-batch arrival
    # order must not change the total — fp addition isn't associative,
    # so a double sum would make the stream's answer depend on trigger
    # boundaries (and break oracle parity for the registered twin below)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_WINDOWED_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2
"""


@register("streaming_windowed_rollup", oracle=_WINDOWED_ORACLE)
def streaming_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface for the Structured Streaming path: the watermarked
    tumbling-window rollup run to completion over the events table via
    the memory sink in COMPLETE output mode — every window (including
    the open tail the append-mode watermark would hold back) is
    emitted, so the result equals the batch hourly rollup and is fully
    DuckDB-oracle-checkable. Epoch-aligned 1-hour windows ≡
    date_trunc('hour'); totals are decimal-exact so micro-batch
    boundaries can't perturb the hash."""
    stream_df = windowed_event_counts(spark, staged_events_dir(sf_dir))
    out = run_to_completion(stream_df, "pqc_stream_windowed", mode="complete")
    # copy out of the memory-sink table: a later query reusing the
    # queryName would otherwise swap results under the returned plan
    return out.localCheckpoint(eager=True)


def streaming_validation(spark: SparkSession, images_dir: str) -> DataFrame:
    """Incremental validation of an arriving images table.

    Row-local constraints only (see module docstring); emits the same
    (image_id, part, constraint, detail) violation rows as the batch
    suite so downstream sinks are interchangeable.
    """
    from pqc.constraints import flag_rows
    from pqc.constraints.integrity import NOT_NULL_BYTES
    from pqc.constraints.ranges import row_checks
    from pqc.fixtures import IMAGE_SCHEMA

    stream = (
        spark.readStream.schema(IMAGE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(images_dir)
    )
    return flag_rows(
        stream, [*row_checks(), (NOT_NULL_BYTES, F.col("bytes").isNull(), F.lit("null payload"))]
    )


def staged_events_dir(
    sf_dir: str, spark: SparkSession | None = None, n_files: int = 1
) -> str:
    """The file stream source requires a DIRECTORY; the testdata ships
    each table as one parquet file, so stage it (hard-link, falling
    back to copy) into a cached dir — production sources are already
    directories/tables. With ``n_files > 1`` (requires ``spark``) the
    table is rewritten as that many files so a 1-file-per-trigger
    stream genuinely crosses micro-batch boundaries — the stateful
    operators' cross-batch state is otherwise exercised by a single
    batch. The stage key includes the source's identity (size + mtime)
    so a regenerated events.parquet or a same-basename sf dir from
    another checkout never serves a stale copy; it lives under
    /tmp/pqc_fixtures so the documented cache-reset ritual (delete
    that dir) clears it too."""
    import os
    import shutil

    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    key = f"{os.path.basename(os.path.normpath(sf_dir))}_{st.st_size}_{int(st.st_mtime)}"
    if n_files > 1:
        return cached_dir(
            f"/tmp/pqc_fixtures/stream_src_{key}_x{n_files}",
            lambda tmp: spark.read.parquet(src)
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(tmp),
        )
    stage = f"/tmp/pqc_fixtures/stream_src_{key}"
    staged = f"{stage}/events.parquet"
    if not os.path.exists(staged):
        os.makedirs(stage, exist_ok=True)
        try:
            os.link(src, staged)
        except OSError:
            shutil.copyfile(src, staged)
    return stage


def run_to_completion(df: DataFrame, query_name: str, mode: str = "append") -> DataFrame:
    """Drive a streaming DataFrame over all currently-available input
    via the memory sink; returns the materialized result (test/sandbox
    harness — production uses a real sink + trigger). With append mode
    + watermark, windows newer than (max ts − watermark) stay open and
    are not emitted — callers account for the tail."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {query_name}")
