"""SparkSession factory tuned for the validation engine.

Defaults follow the scale guidance in SURVEY.md §4.2: AQE on (runtime
re-planning + skew-join backstop), Arrow enabled with a bounded batch
size (image rows are wide — cap records/batch so Python workers don't
blow memory), shuffle partitions sized to cores rather than the 200
default, UTC timezone pinned so DuckDB-oracle comparisons line up.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Arrow batches carry image ``bytes`` columns through the decode UDF;
# keep batches small enough that a batch of ~0.5 MB images stays well
# under worker memory (SURVEY.md §7.4).
ARROW_MAX_RECORDS_PER_BATCH = 256


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    parallelism: int | None = None,
    app_name: str = "pqc",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    ``parallelism`` maps to ``local[N]`` — the sandbox stand-in for
    executor count; the scaling harness calls this with 8 and 32.
    """
    n = parallelism or default_parallelism()
    # One BLAS thread per Python worker: the decode island's matmuls are
    # 8×8/32×32 — parallelism comes from Spark tasks, and multi-threaded
    # OpenBLAS under N workers oversubscribes cores N× (measured: local[32]
    # SLOWER than local[8] before this pin).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # initial (pre-AQE) shuffle partition count: 2× cores so AQE's
        # skew splitting has headroom, coalesced down adaptively —
        # scale-adaptive (tracks the core dial), never a constant
        .config("spark.sql.shuffle.partitions", str(max(2 * n, 16)))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): r2-r5 set it to
        # false to squeeze scheduling overhead out of sub-second toy
        # stages, but at the driver's sf1.0 tier it coalesced the
        # byte-light, CPU-HEAVY reduce stages (md5 signature aggregates,
        # decimal dot folds — KBs of data, seconds of compute) down to
        # ONE task, serializing exactly the stages that needed the
        # cores. Coalescing now floors at default parallelism unless
        # partitions drop under minPartitionSize (1 MB) — the right
        # trade at every tier once per-row compute, not bytes, is the
        # bottleneck (guide §2.2: partition count must track work, and
        # these stages' work does not track bytes).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow shuffled hash join where the per-partition build side
        # fits — the band/self-join family is equi-join on short rows
        # where sort-merge's two sorts are pure overhead (guide §3.1)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.ui.enabled", "false")
        # finer input splits: the decode island is Python-CPU-bound, so
        # task granularity ≈ seconds, not 128MB of scan — small splits
        # keep all cores busy and bound straggler tails
        .config("spark.sql.files.maxPartitionBytes", "8m")
        # local mode funnels every shuffle through one directory; a
        # single-disk /tmp serializes all shuffle-bound stages and caps
        # multi-core scaling. Use RAM-backed tmpfs in-sandbox; on a real
        # cluster the cluster manager provides per-node local dirs and
        # this setting is moot.
        .config(
            "spark.local.dir",
            os.environ.get(
                "PQC_LOCAL_DIR",
                "/dev/shm/pqc-spark" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.sql.files.openCostInBytes", "512k")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("PQC_DRIVER_MEM", "48g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("PQC_DRIVER_JAVA_OPTS", ""),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def write_package_zip(zip_path: str) -> str:
    """Zip every ``.py`` file of the pqc package under ``pqc/`` into
    ``zip_path``, walking directories and files in sorted order (the
    ``--py-files`` payload). Returns ``zip_path``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.join("pqc", os.path.relpath(full, pkg_dir)))
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Ship the pqc package to Python workers (the local-mode analogue
    of ``spark-submit --py-files pqc.zip``) so mapInPandas closures can
    import it regardless of the driver's working directory."""
    zip_path = os.path.join(tempfile.gettempdir(), f"pqc_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        write_package_zip(zip_path)
    spark.sparkContext.addPyFile(zip_path)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
