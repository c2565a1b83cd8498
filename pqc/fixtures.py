"""Deterministic synthetic fixture tables (FIXTURES.md, seed 42).

The north-star input table (`image_id, bytes, w, h, fmt, caption,
phash` + partition column) is synthesized distributively: every row is
a pure function of its index, so generation runs as ``mapInPandas``
over ``spark.range(n)`` — no driver-side loop, no cross-row state
(near-duplicates re-derive their base row's pixels from the base
index). Anomalies are injected at fixed index residues so tests can
compute exact expected violation sets.

Anomaly schedule (index i, n rows):
- ``i % 1000 == 7``  → duplicate image_id (copies id of i-7)   ~0.1%
- ``i % 500  == 11`` → corrupted bytes (truncated 50%)         ~0.2%
- ``i % 1000 == 13`` → declared (w,h) ≠ actual pixel dims      ~0.1%
- ``i % 200  == 17`` → out-of-range declared w (0, -1, 10000)  ~0.5%
- ``i % 333  == 19`` → invalid fmt ("bmp", "", null)           ~0.3%
- ``i % 100  == 23`` → empty/null caption                      ~1%
- ``i % 200  == 29`` → mojibake artifact in caption            ~0.5%
- ``i % 200  == 31`` → near-duplicate pixels of row i-1        ~0.5%
- ``i % 500  == 37`` → stored phash corrupted (2 bits flipped) ~0.2%
- ``i % 500  == 3``  → image_id held out of the dim table (FK violation)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pqc.image.codec import encode
from pqc.image.phash import phash64
from pqc.io import cached_dir, publish_rows

SEED = 42
N_PARTS = 16

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),  # generating index (test oracle aid)
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("part", T.IntegerType(), False),
    ]
)

_SIZES = np.array([32, 64, 128, 256])
_SIZE_WEIGHTS = np.array([0.2, 0.3, 0.4, 0.1])

# Caption vocabulary mirrors the reference's constraint dims: banned
# synonyms (`banningredients.py:23-46`), green claims, plus the
# substring-inside-token trap ("tea" ∉ "stearate", `banningredients.py:415`).
BANNED_SYNONYMS = (
    "aristolochia",
    "comfrey",
    "kava kava",
    "ephedra",
    "yohimbe",
    "e 150 d",
    "e-128",
    "germanium",
)
CLAIM_PHRASES = (
    "eco friendly",
    "100% recyclable",
    "carbon neutral",
    "biodegradable packaging",
    "sustainably sourced",
)
_FILLER = (
    "water",
    "sugar",
    "salt",
    "magnesium stearate",
    "citric acid",
    "natural flavouring",
    "maltodextrin",
    "rice flour",
    "pea protein",
    "sunflower oil",
)


def _rng(i: int, salt: int = 0) -> np.random.Generator:
    return np.random.default_rng(SEED * 1_000_003 + i * 7 + salt)


def _dims_for(i: int, shift: int = 0) -> tuple[int, int]:
    rng = _rng(i, salt=1)
    sizes = _SIZES + 32 * shift  # drift variant shifts the size distribution
    w = int(rng.choice(sizes, p=_SIZE_WEIGHTS))
    h = int(rng.choice(sizes, p=_SIZE_WEIGHTS))
    return w, h


def pixels_for(i: int, shift: int = 0) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 gradient+noise image for index i."""
    w, h = _dims_for(i, shift)
    rng = _rng(i, salt=2)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (
        (xx * 255.0 / max(w - 1, 1))[..., None] * np.array([1.0, 0.5, 0.25])
        + (yy * 255.0 / max(h - 1, 1))[..., None] * np.array([0.25, 0.5, 1.0])
    ) / 2
    noise = rng.normal(0, 12.0, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def caption_for(i: int) -> str | None:
    if i % 100 == 23:
        return None if (i // 100) % 2 == 0 else ""
    rng = _rng(i, salt=3)
    fillers = rng.choice(len(_FILLER), size=4, replace=False)
    parts = [_FILLER[j] for j in fillers]
    if i % 10 == 1:  # exact banned-synonym hit
        parts.insert(1, BANNED_SYNONYMS[i % len(BANNED_SYNONYMS)])
    if i % 50 == 26:  # fuzzy-only hit: one edit, canonical disjoint
        syn = BANNED_SYNONYMS[(i + 3) % len(BANNED_SYNONYMS)]  # from exact rows
        parts.insert(1, syn[:-1] + "x" if len(syn) > 3 else syn + "x")
    text = "Ingredients: " + ", ".join(parts) + "."
    if i % 25 == 9:  # green-claim phrase
        text += " " + CLAIM_PHRASES[i % len(CLAIM_PHRASES)] + "."
    if i % 200 == 29:  # mojibake artifact (P4)
        text += " donâ€™t exceed the stated dose"
    return text


def _part_for(image_id: str) -> int:
    return int(hashlib.md5(image_id.encode()).hexdigest()[:8], 16) % N_PARTS


def row_for(i: int, shift: int = 0) -> dict:
    """Generate one fixture row — a pure function of the index."""
    image_id = f"img_{(i - 7) if (i % 1000 == 7 and i >= 7) else i:012d}"
    # 80/15/5 lsy/png/jpeg: the deliberate format skew (salting tests)
    # plus a real-JPEG slice so the T.81 codec runs through the decode
    # island's two-pass / regen-PSNR / phash gates end-to-end
    r = i % 100
    fmt = "lsy" if r < 80 else ("png" if r < 95 else "jpeg")
    if i % 200 == 31 and i >= 1:  # near-duplicate of row i-1
        base = pixels_for(i - 1, shift)
        rng = _rng(i, salt=4)
        flip = rng.integers(0, 2, size=base.shape, dtype=np.uint8)
        arr = np.clip(base.astype(np.int16) + flip.astype(np.int16) - 0, 0, 255).astype(
            np.uint8
        )
    else:
        arr = pixels_for(i, shift)
    h, w = arr.shape[:2]
    data = encode(arr, fmt, quality=95)
    ph = phash64(arr)
    if i % 500 == 37:  # stored phash disagrees with the pixels (24 bits
        ph ^= 0xFFFF00FF  # flipped — far above the lossy tolerance of 12)
    if i % 500 == 11:  # corrupted payload
        data = data[: len(data) // 2]
    if i % 1000 == 13:  # declared dims lie about the payload
        w, h = w * 2, h * 2
    if i % 200 == 17:  # out-of-range declared width
        w = (0, -1, 10000)[(i // 200) % 3]
    fmt_out: str | None = fmt
    if i % 333 == 19:  # invalid declared format
        fmt_out = ("bmp", "", None)[(i // 333) % 3]
    return {
        "seq": i,
        "image_id": image_id,
        "bytes": data,
        "w": np.int32(w),
        "h": np.int32(h),
        "fmt": fmt_out,
        "caption": caption_for(i),
        "phash": np.int64(ph),
        "part": np.int32(_part_for(image_id)),
    }


def generate_images(
    spark: SparkSession, n_rows: int, shift: int = 0, n_tasks: int | None = None
) -> DataFrame:
    """Distributed fixture generation: mapInPandas over spark.range.

    Each task generates its index range independently (rows are pure
    functions of the index) — the same pattern a 10^12-row synthetic
    load would use, just bigger numbers.
    """
    n_tasks = n_tasks or max(8, n_rows // 2000)

    # the driver may hand us a session it built itself (the harness
    # contract); make sure pqc is importable on its Python workers
    from pqc.session import _ship_package

    _ship_package(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [row_for(int(i), shift) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_rows, numPartitions=n_tasks)
        .mapInPandas(gen, schema=IMAGE_SCHEMA)
    )


def generate_image_dim(images: DataFrame) -> DataFrame:
    """Referential dim: every image_id except the deterministic 0.2%
    holdout (seq % 500 == 3) — those fact rows become FK violations
    (reference analogue: UID resolve, `app.py:1291-1297`)."""
    from pyspark.sql import functions as F

    return (
        images.filter(F.col("seq") % 500 != 3)
        .select("image_id")
        .dropDuplicates()
        .withColumn(
            "source",
            F.element_at(
                F.array(F.lit("upload"), F.lit("feed"), F.lit("scrape")),
                (F.crc32(F.col("image_id")) % 3 + 1).cast("int"),
            ),
        )
    )


def synonyms_pdf() -> pd.DataFrame:
    """Banned/restricted vocabulary dim (mirrors
    `data/banned_restricted_ingredients.csv` shape)."""
    rows = []
    for k, canon in enumerate(BANNED_SYNONYMS):
        rows.append(
            {
                "canonical": canon,
                "e_number": f"E{100 + k}" if k % 2 == 0 else "",
                "type": "Banned" if k % 3 != 0 else "Restricted",
                "synonym": canon,
            }
        )
        rows.append(
            {
                "canonical": canon,
                "e_number": f"E{100 + k}" if k % 2 == 0 else "",
                "type": "Banned" if k % 3 != 0 else "Restricted",
                "synonym": canon.replace(" ", "-"),
            }
        )
    return pd.DataFrame(rows)


def ensure_generated_parquet(
    spark: SparkSession,
    path: str,
    n_rows: int,
    row_fn,
    schema: str,
    n_tasks: int = 8,
) -> str:
    """Distributed deterministic fixture generation, the one writer of
    every generated-catalog parquet (free-from, catalog and rule packs):
    ``row_fn(i) -> dict`` must be a pure module-level function of the
    index, so every task generates its range independently — the same
    shape a 10^9-row synthetic load uses. Written once per path and
    published atomically (:func:`pqc.io.cached_dir`); the DuckDB
    oracles read the same files."""
    from pqc.session import _ship_package

    _ship_package(spark)

    def gen(batches: "Iterator[pd.DataFrame]"):
        for pdf in batches:
            yield pd.DataFrame([row_fn(int(i)) for i in pdf["id"]])

    return cached_dir(
        path,
        lambda tmp: spark.range(0, n_rows, numPartitions=n_tasks)
        .mapInPandas(gen, schema=schema)
        .write.mode("overwrite")
        .parquet(tmp),
    )


def integrity_sidecar_path(n_rows: int = 2000) -> str:
    # v2: + thumb / thumb_mean feature columns (bump on ANY schema or
    # gate-semantics change — stale sidecars silently fail oracles)
    return f"/tmp/pqc_fixtures/images_integrity_sidecar_n{n_rows}_v2.parquet"


def _sidecar_row(i: int) -> dict:
    from pqc.image.decode import _check_one

    r = row_for(i)
    c = _check_one(r["bytes"], r["fmt"], r["w"], r["h"], r["phash"])
    return {
        "seq": i,
        "image_id": r["image_id"],
        "part": int(r["part"]),
        "w": int(r["w"]),
        "h": int(r["h"]),
        "fmt": r["fmt"],
        "phash": int(r["phash"]),
        **c,
    }


def ensure_integrity_sidecar(n_rows: int = 2000) -> str:
    """Known-answer sidecar for the image decode island (media pattern
    from r4, `pqc/media.py:306`): every fixture payload is a pure
    function of its index, so the expected per-row gate outcomes
    (decode_ok/error, two-pass, dims, regen-PSNR, phash recompute) are
    rederived OUTSIDE Spark — plain driver-side numpy over each row's
    bytes — and written payload-free at fixture time. The DuckDB
    oracles over this file then prove the distributed island (Arrow
    batches, partitioned scan, per-task decode) reproduces the
    reference decode bit-for-bit, converting the suite rollups from
    rows-only to hash-checked driver evidence."""
    import os

    path = integrity_sidecar_path(n_rows)
    if not os.path.exists(path):
        from concurrent.futures import ProcessPoolExecutor

        import pyarrow as pa

        # row derivation is pure CPU (decode×2 + phash per row) — fan
        # it over processes; order is pinned by the map
        with ProcessPoolExecutor(max_workers=min(16, os.cpu_count() or 1)) as ex:
            rows = list(ex.map(_sidecar_row, range(n_rows), chunksize=64))
        schema = pa.schema(
            [
                ("seq", pa.int64()),
                ("image_id", pa.string()),
                ("part", pa.int32()),
                ("w", pa.int32()),
                ("h", pa.int32()),
                ("fmt", pa.string()),
                ("phash", pa.int64()),
                ("decode_ok", pa.bool_()),
                ("decode_error", pa.string()),
                ("actual_w", pa.int32()),
                ("actual_h", pa.int32()),
                ("dims_match", pa.bool_()),
                ("two_pass_ok", pa.bool_()),
                ("psnr_regen", pa.float64()),
                ("psnr_ok", pa.bool_()),
                ("phash_recomputed", pa.int64()),
                ("phash_hamming", pa.int32()),
                ("phash_match", pa.bool_()),
                ("thumb", pa.list_(pa.float64())),
                ("thumb_mean", pa.float64()),
            ]
        )
        publish_rows(path, rows, schema)
    return path


def cached_images_path(spark: SparkSession, n_rows: int, shift: int = 0) -> str:
    """Generate once per (n_rows, shift) and persist as Iceberg-layout
    partitioned Parquet under /tmp; reused across queries/tests."""
    # ship pqc to Python workers even when generation is skipped (a
    # foreign driver session + warm cache would otherwise hit
    # ModuleNotFoundError inside the decode island's mapInPandas)
    from pqc.session import _ship_package

    _ship_package(spark)
    return cached_dir(
        f"/tmp/pqc_fixtures/images_n{n_rows}_s{shift}",
        lambda tmp: generate_images(spark, n_rows, shift)
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(tmp),
    )
