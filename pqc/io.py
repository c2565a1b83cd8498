"""Table IO seam.

The design target is an Iceberg catalog (BASELINE.json north_rule); the
sandbox has no Iceberg runtime jar, so this module reads/writes
Iceberg-*layout* partitioned Parquet behind one seam (SURVEY.md §7.4).
Partition pruning semantics are identical — Spark prunes partitioned
Parquet directories on partition-column predicates just as it prunes
Iceberg manifests.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided testdata table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition to engine parallelism for compute-bound
    consumers of small inputs.

    The driver testdata tables are single-file parquet with ONE row
    group (checked at sf0.1 and sf1.0), and parquet row groups are the
    unit of split: whatever ``spark.sql.files.maxPartitionBytes`` says,
    the scan yields one non-empty task per row group. Every downstream
    projection fused into that scan stage — tokenize/explode/md5 for
    the documents family, the decimal dot-product folds for the
    embeddings family — therefore ran SERIALLY on one core (guide §2.5
    "input skew": one unsplittable input; fix = repartition right after
    the read). One explicit exchange of a few MB buys ``n``-way
    parallelism for the expensive stage that follows.

    ``n`` defaults to the session's default parallelism (scale-adaptive:
    tracks $SPARK_GRAFT_CPUS locally, executor count on a cluster —
    never a constant). Only applied at call sites whose downstream
    per-row work dwarfs one small shuffle; results are partition-order
    independent everywhere by construction (decimal-exact aggregation,
    total-order windows), so placement never changes values.
    """
    n = n or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def publish_dir(tmp: str, path: str) -> None:
    """Atomically publish the freshly written directory ``tmp`` at
    ``path`` (rename into place), so readers never see a half-written
    cache. If ``path`` already holds a complete copy (``_SUCCESS``
    present: a concurrent writer won), ``tmp`` is discarded. A copy
    without ``_SUCCESS`` is the leftover of a crashed writer: it is
    removed and the rename retried, or it would be served forever."""
    try:
        os.rename(tmp, path)
        return
    except OSError:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
                return
            except OSError:
                pass
    shutil.rmtree(tmp, ignore_errors=True)


def cached_dir(path: str, write) -> str:
    """The one way to build a ``/tmp/pqc_fixtures`` directory cache:
    unless ``path/_SUCCESS`` exists, ``write(tmp)`` fills a pid-suffixed
    temp directory that :func:`publish_dir` then renames into place.
    Readers (the DuckDB oracles glob ``path/*.parquet`` without checking
    ``_SUCCESS``) never see a half-written or concurrently overwritten
    copy; a ``write`` that raises leaves nothing behind."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.build{os.getpid()}"
        try:
            write(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        publish_dir(tmp, path)
    return path


def publish_rows(path: str, rows: list[dict], schema) -> str:
    """Write ``rows`` (dicts keyed by the pyarrow ``schema``'s fields)
    as the single parquet file ``path``, atomically: a pid-suffixed
    temp file is renamed into place, so a crash mid-write never leaves
    a truncated file that an existence check would serve."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    try:
        pq.write_table(pa.Table.from_pydict(cols, schema=schema), tmp)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    os.replace(tmp, path)
    return path


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)


def write_partitioned(df: DataFrame, path: str, partition_col: str = "part") -> None:
    """Write an Iceberg-layout partitioned Parquet table."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
