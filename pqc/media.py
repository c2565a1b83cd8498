"""Multimodal (audio/video) columns — opaque ``bytes`` + typed
metadata, processed through Arrow-batched ``mapInPandas``.

Payloads are REAL encoded media (pqc/media_codec.py: canonical
RIFF/WAVE 16-bit PCM for audio, the RVID raw-luma container for
video), and the decode island computes RMS / zero-crossing / frame
lumas from the decoded samples — the r2 seeded-PRNG stand-in is gone.
The engine surface around the codecs: a single bytes-reading scan,
Arrow batch shape, per-task BLAS pinning (pqc/session.py), the
metadata-only frame-sampling plan, and decoded-vs-declared metadata
cross-checks (a WAV whose header disagrees with the table's
sample_rate/n_samples fails decode_ok, like the images dims gate).

Queries:
- ``media_frame_sample_plan`` (DuckDB-oracled): which frame indices a
  uniform-K sampler reads per video — pure metadata arithmetic, no
  bytes touched, so the scan prunes the payload column entirely.
- ``media_decode_features`` (rows-only): the decode island — audio
  RMS / zero-crossing / duration, video sampled-frame mean luma. Video
  reads ONLY the K sampled frame slices (random access into the
  container), not the whole file — the access pattern that matters
  when a frame is megabytes and the file is gigabytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pqc.io import cached_dir, publish_rows
from pqc.media_codec import rvid_encode, rvid_frame, rvid_header, wav_decode, wav_encode
from pqc.registry import register

N_MEDIA_ROWS = 240
N_FRAME_SAMPLES = 8
MEDIA_SEED = 1337

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'audio' | 'video'
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),  # audio
        T.StructField("n_samples", T.LongType(), True),  # audio
        T.StructField("fps", T.DoubleType(), True),  # video
        T.StructField("n_frames", T.IntegerType(), True),  # video
        T.StructField("part", T.IntegerType(), False),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("part", T.IntegerType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),  # audio
        T.StructField("zero_crossing_rate", T.DoubleType(), True),  # audio
        T.StructField("n_frames_sampled", T.IntegerType(), True),  # video
        T.StructField("mean_luma", T.DoubleType(), True),  # video
    ]
)


VIDEO_W, VIDEO_H = 16, 12  # tiny luma planes keep the fixture light


def audio_samples_for(i: int, n: int) -> np.ndarray:
    """Deterministic int16 PCM for row i: two sines + noise."""
    rng = np.random.default_rng(MEDIA_SEED + i)
    t = np.arange(n, dtype=np.float64)
    f1, f2 = 0.01 + 0.002 * (i % 11), 0.05 + 0.003 * (i % 7)
    x = 0.5 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    x += rng.normal(0, 0.05, size=n)
    return np.clip(x * 32767 / 1.2, -32768, 32767).astype(np.int16)


def video_frames_for(i: int, n_frames: int) -> np.ndarray:
    """Deterministic (n, h, w) uint8 luma planes: drifting gradient."""
    rng = np.random.default_rng(MEDIA_SEED ^ (i * 2654435761))
    f = np.arange(n_frames, dtype=np.float64)[:, None, None]
    yy, xx = np.mgrid[0:VIDEO_H, 0:VIDEO_W]
    base = (xx * 8 + yy * 4)[None, ...] + f * (1 + i % 5)
    noise = rng.normal(0, 6.0, size=(n_frames, VIDEO_H, VIDEO_W))
    return np.clip(16 + (base % 200) + noise, 0, 255).astype(np.uint8)


def _media_row(i: int) -> dict:
    kind = "audio" if i % 2 == 0 else "video"
    row = {
        "media_id": f"med_{i:08d}",
        "kind": kind,
        "bytes": None,
        "sample_rate": None,
        "n_samples": None,
        "fps": None,
        "n_frames": None,
        "part": i % 8,
    }
    if kind == "audio":
        sr = int((16000, 22050, 44100)[i % 3])
        n = int(sr * (1 + (i % 7))) // 4  # 0.25-1.75 s clips
        row["sample_rate"], row["n_samples"] = sr, n
        payload = wav_encode(audio_samples_for(i, n), sr)
    else:
        fps = float((24.0, 30.0)[i % 2])
        nf = int(24 * (2 + (i % 9)))
        row["fps"], row["n_frames"] = fps, nf
        payload = rvid_encode(video_frames_for(i, nf), fps)
    # corrupt residues: 17 (odd → video/RVID) AND 18 (even → audio/WAV)
    # so BOTH strict parsers see truncated payloads through the island
    if i % 40 in (17, 18):
        payload = payload[: int(len(payload) * 0.6)]
    row["bytes"] = payload
    return row


def media_table(spark: SparkSession, n_rows: int = N_MEDIA_ROWS) -> DataFrame:
    """Deterministic synthetic media table, generated distributively
    (every row a pure function of its index, same pattern as
    pqc/fixtures.generate_images)."""
    from pqc.session import _ship_package

    _ship_package(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([_media_row(int(i)) for i in pdf["id"]])

    return spark.range(0, n_rows, numPartitions=8).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def uniform_frame_indices(n_frames: int, k: int = N_FRAME_SAMPLES) -> np.ndarray:
    """Uniform-K sampling plan: floor(j * n_frames / k) for j in [0, k).
    Pure metadata arithmetic — mirrored exactly by the DuckDB oracle."""
    k = min(k, n_frames)
    return (np.arange(k) * n_frames // k).astype("int64")


_MEDIA_FIXTURE_VERSION = 2  # v2: real WAV/RVID payloads (r3) — bump on
# any _media_row content change or a warm cross-round cache silently
# serves stale payloads to the island


def _media_parquet_path() -> str:
    return f"/tmp/pqc_fixtures/media_n{N_MEDIA_ROWS}_v{_MEDIA_FIXTURE_VERSION}"


def cached_media_table(spark: SparkSession) -> DataFrame:
    """The media table persisted as partitioned parquet (once), so
    metadata-only consumers get REAL column pruning of the payload and
    the decode island gets a real bytes scan — same layout discipline
    as the images fixture."""
    from pqc.session import _ship_package

    _ship_package(spark)  # decode island needs pqc on workers even warm-cached
    path = cached_dir(
        _media_parquet_path(),
        lambda tmp: media_table(spark)
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(tmp),
    )
    return spark.read.parquet(path)


_FRAME_PLAN_ORACLE = f"""
WITH v AS (
  SELECT media_id, n_frames
  FROM read_parquet('{_media_parquet_path()}/*/*.parquet')
  WHERE kind = 'video'
)
SELECT media_id,
       CAST((j * n_frames) // {N_FRAME_SAMPLES} AS BIGINT) AS frame_idx
FROM v, UNNEST(generate_series(0, {N_FRAME_SAMPLES - 1})) AS g(j)
WHERE n_frames >= {N_FRAME_SAMPLES}
UNION ALL
SELECT media_id, CAST(j AS BIGINT) AS frame_idx
FROM v, UNNEST(generate_series(0, {N_FRAME_SAMPLES - 1})) AS g(j)
WHERE n_frames < {N_FRAME_SAMPLES} AND j < n_frames
"""


@register("media_frame_sample_plan", oracle=_FRAME_PLAN_ORACLE)
def media_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan (metadata only — the parquet scan prunes the
    ``bytes`` column, asserted by plan test): uniform-K indices
    floor(j·n_frames/K) per video. At corpus scale this is the manifest
    a decode fleet consumes; keeping it payload-free means planning
    runs at parquet-footer speed."""
    v = cached_media_table(spark).filter(F.col("kind") == "video").select(
        "media_id", "n_frames"
    )
    j = F.explode(F.sequence(F.lit(0), F.lit(N_FRAME_SAMPLES - 1))).alias("j")
    return (
        v.select("media_id", "n_frames", j)
        .filter(
            (F.col("n_frames") >= N_FRAME_SAMPLES)
            | (F.col("j") < F.col("n_frames"))
        )
        .select(
            "media_id",
            F.when(
                F.col("n_frames") >= N_FRAME_SAMPLES,
                F.expr(f"(j * n_frames) DIV {N_FRAME_SAMPLES}"),
            )
            .otherwise(F.col("j"))
            .cast("bigint")
            .alias("frame_idx"),
        )
    )


def _audio_features(data: bytes, decl_sr, decl_n) -> dict:
    """Real WAV decode + metadata cross-check → features."""
    sr, pcm = wav_decode(bytes(data))
    if decl_sr is not None and int(decl_sr) != sr:
        raise ValueError(f"declared sample_rate {decl_sr} != header {sr}")
    if decl_n is not None and int(decl_n) != pcm.shape[0]:
        raise ValueError(f"declared n_samples {decl_n} != decoded {pcm.shape[0]}")
    x = pcm[:, 0].astype(np.float64) / 32768.0  # channel 0
    return {
        "duration_sec": pcm.shape[0] / float(sr),
        "rms": float(np.sqrt(np.mean(x * x))),
        "zero_crossing_rate": float(
            np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))
        ),
    }


def _video_features(data: bytes, decl_fps, decl_nf) -> dict:
    """RVID header parse + K sampled frame reads (random access —
    never the whole file) → features."""
    data = bytes(data)
    _w, _h, nf, fps = rvid_header(data)
    if decl_nf is not None and int(decl_nf) != nf:
        raise ValueError(f"declared n_frames {decl_nf} != header {nf}")
    if decl_fps is not None and abs(float(decl_fps) - fps) > 1e-6:
        raise ValueError(f"declared fps {decl_fps} != header {fps}")
    idx = uniform_frame_indices(nf)
    lumas = np.stack([rvid_frame(data, int(j)) for j in idx])
    return {
        "duration_sec": nf / fps,
        "n_frames_sampled": int(len(idx)),
        "mean_luma": float(np.mean(lumas.astype(np.float64))),
    }


def _feature_row(mid, kind, part, data, sr, ns, fps, nf) -> dict:
    """One media row → feature dict with strict error capture — the
    SINGLE definition of the island's row shape, shared by the
    distributed island and the sidecar rederivation so the two can
    never drift apart (a shape change in one place would otherwise
    silently turn the oracle hash red)."""
    row = {
        "media_id": mid,
        "kind": kind,
        "part": int(part),
        "decode_ok": False,
        "duration_sec": None,
        "rms": None,
        "zero_crossing_rate": None,
        "n_frames_sampled": None,
        "mean_luma": None,
    }
    try:
        if data is None or len(data) == 0:
            raise ValueError("null/empty payload")
        if kind == "audio":
            row.update(_audio_features(data, sr, ns))
        else:
            row.update(_video_features(data, fps, nf))
        row["decode_ok"] = True
    except Exception:
        pass  # decode_ok stays False; features stay null
    return row


def decode_features(media: DataFrame) -> DataFrame:
    """The multimodal decode island: ONE bytes-reading scan, Arrow
    batches, real codec decode (pqc/media_codec.py), strict error
    capture — corrupt/truncated payloads and decoded-vs-declared
    metadata mismatches yield decode_ok=false, never garbage values."""

    def island(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = zip(
                pdf["media_id"], pdf["kind"], pdf["part"], pdf["bytes"],
                pdf["sample_rate"], pdf["n_samples"], pdf["fps"], pdf["n_frames"],
            )
            out = [_feature_row(*args) for args in cols]
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.mapInPandas(island, schema=FEATURE_SCHEMA)


def _features_sidecar_path() -> str:
    return f"/tmp/pqc_fixtures/media_features_n{N_MEDIA_ROWS}_v{_MEDIA_FIXTURE_VERSION}.parquet"


def _ensure_features_sidecar() -> str:
    """Single-node reference rederivation of the island's output,
    written payload-free at fixture time: every payload is a pure
    function of its index, so the expected features can be computed
    OUTSIDE Spark (plain driver-side numpy over each row's bytes) and
    the DuckDB oracle then checks that the distributed island (Arrow
    batches, partitioned scan, per-task decode) reproduces the same
    doubles bit-for-bit. Corrupt rows land as decode_ok=false with
    null features, exactly like the island's strict error capture."""
    import os

    path = _features_sidecar_path()
    if not os.path.exists(path):
        import pyarrow as pa

        rows = []
        for i in range(N_MEDIA_ROWS):
            r = _media_row(i)
            rows.append(
                _feature_row(
                    r["media_id"], r["kind"], r["part"], r["bytes"],
                    r["sample_rate"], r["n_samples"], r["fps"], r["n_frames"],
                )
            )
        schema = pa.schema(
            [
                ("media_id", pa.string()),
                ("kind", pa.string()),
                ("part", pa.int32()),
                ("decode_ok", pa.bool_()),
                ("duration_sec", pa.float64()),
                ("rms", pa.float64()),
                ("zero_crossing_rate", pa.float64()),
                ("n_frames_sampled", pa.int32()),
                ("mean_luma", pa.float64()),
            ]
        )
        publish_rows(path, rows, schema)
    return path


_FEATURES_ORACLE = f"""
SELECT media_id, kind, part, decode_ok, duration_sec, rms,
       zero_crossing_rate, n_frames_sampled, mean_luma
FROM read_parquet('{_features_sidecar_path()}')
"""


@register("media_decode_features", oracle=_FEATURES_ORACLE)
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-island features per media row (audio rms/zcr/duration
    from real WAV PCM, video sampled-frame luma from real RVID frames).
    Oracle: a known-answer sidecar parquet rederived single-node at
    fixture time (_ensure_features_sidecar) — the driver hash then
    proves the distributed island reproduces the reference decode
    bit-for-bit, including decode_ok=false nulls for the corrupt
    residues. Determinism, exact roundtrips, and metadata-mismatch
    handling are additionally pytest-gated (tests/test_media.py)."""
    _ensure_features_sidecar()
    return decode_features(cached_media_table(spark)).orderBy("media_id")
