"""Image island tests: codecs, fixture generation, constraint suite
violation parity against the deterministic anomaly schedule, pixel
round-trip vs the local reference decode, stats, drift, ledger resume.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pqc.constraints import SuiteContext
from pqc.constraints.drift import drift_verdict
from pqc.engine import ValidationSuite
from pqc.fixtures import (
    cached_images_path,
    generate_image_dim,
    pixels_for,
    row_for,
)
from pqc.image.codec import (
    lsy_decode,
    lsy_encode,
    png_decode,
    png_encode,
    psnr,
)
from pqc.image.phash import hamming, phash64

N_FIXTURE = 2000


# ---------------------------------------------------------------------------
# Codec unit tests
# ---------------------------------------------------------------------------


def test_png_roundtrip_exact():
    arr = pixels_for(123)
    assert np.array_equal(png_decode(png_encode(arr)), arr)


def test_png_rejects_corrupt():
    data = png_encode(pixels_for(5))
    with pytest.raises(Exception):
        png_decode(data[: len(data) // 2])
    with pytest.raises(ValueError):
        png_decode(b"notapng" + data)


def test_lsy_psnr_gate():
    for i in (1, 77, 400):
        arr = pixels_for(i)
        out = lsy_decode(lsy_encode(arr, quality=95))
        assert psnr(arr, out) >= 40.0


def test_lsy_requantize_equals_full_roundtrip():
    from pqc.image.codec import lsy_requantize

    for i in (3, 50, 212):
        a = pixels_for(i)
        assert np.array_equal(
            lsy_requantize(a, 95), lsy_decode(lsy_encode(a, 95))
        )


def test_jpeg_roundtrip_real_codec():
    """Baseline JPEG (pqc/image/jpeg.py) replaced the r1 stub: JFIF
    structure, 4:4:4 roundtrip fidelity, quality monotonicity, odd
    dimensions, and corrupt-payload rejection."""
    from pqc.image.codec import decode, encode, psnr

    a = pixels_for(1)
    data = encode(a, "jpeg", quality=90)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert b"JFIF" in data[:20]
    out = decode(data, "jpeg")
    assert out.shape == a.shape
    assert psnr(a, out) > 28  # noisy gradient fixture at q90

    # quality is monotone in reconstruction fidelity
    p50 = psnr(a, decode(encode(a, "jpeg", quality=50), "jpeg"))
    p95 = psnr(a, decode(encode(a, "jpeg", quality=95), "jpeg"))
    assert p95 > p50

    # non-multiple-of-8 dims and flat blocks reconstruct exactly
    flat = np.full((9, 13, 3), 200, np.uint8)
    assert np.array_equal(decode(encode(flat, "jpeg", 95), "jpeg"), flat)

    with pytest.raises(ValueError):
        decode(b"\xff\xd8\xff\xe0fake", "jpeg")
    with pytest.raises(ValueError):
        decode(data[: len(data) // 2], "jpeg")


def test_jpeg_fill_bytes_before_eoi_are_not_data():
    """T.81 B.1.1.2: 0xFF fill bytes padding up to a marker end the
    scan at the FIRST 0xFF of the run — a decoder that keeps
    run-internal fills as entropy data bit-unstuffs them as 1-bits
    (r4 advice). A foreign baseline JPEG with fills before EOI must
    decode identically to the unpadded stream."""
    from pqc.image.jpeg import jpeg_decode, jpeg_encode

    a = pixels_for(7)
    data = jpeg_encode(a, quality=90)
    assert data[-2:] == b"\xff\xd9"
    padded = data[:-2] + b"\xff" * 5 + b"\xff\xd9"
    assert np.array_equal(jpeg_decode(padded), jpeg_decode(data))
    filled = data[:-2] + b"\xff\xff" + data[-2:]
    assert np.array_equal(jpeg_decode(filled), jpeg_decode(data))


def test_phash_near_vs_far():
    a = pixels_for(9)
    near = np.clip(a.astype(np.int16) + 1, 0, 255).astype(np.uint8)
    assert hamming(phash64(a), phash64(near)) <= 6
    assert hamming(phash64(a), phash64(pixels_for(10))) > 10


# ---------------------------------------------------------------------------
# Fixture + suite: violations must equal the anomaly schedule exactly
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def images(spark):
    path = cached_images_path(spark, N_FIXTURE)
    df = spark.read.parquet(path)
    df.persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def suite_result(spark, images):
    dim = generate_image_dim(images)
    ctx = SuiteContext(images=images, image_dim=dim)
    res = ValidationSuite(include_text=False).run(ctx)
    res.violations.persist()
    yield res
    res.violations.unpersist()
    res.release()  # drop branch/meta/integrity caches too


def _seqs(images, violations, constraint):
    v = violations.filter(F.col("constraint") == constraint).select("image_id", "part")
    return sorted(
        r["seq"]
        for r in v.join(images, ["image_id", "part"]).select("seq").distinct().collect()
    )


def test_schema_passes(suite_result):
    assert suite_result.schema_problems == []


def test_uniqueness_violations(images, suite_result):
    # dup groups: (0,7) and (1000,1007) — every member row is flagged
    assert _seqs(images, suite_result.violations, "uniqueness:image_id") == [
        0,
        7,
        1000,
        1007,
    ]


def test_referential_violations(images, suite_result):
    assert _seqs(
        images, suite_result.violations, "referential:image_id->image_dim"
    ) == [3, 503, 1003, 1503]


def test_range_violations(images, suite_result):
    expected = [i for i in range(N_FIXTURE) if i % 200 == 17]
    assert (
        _seqs(images, suite_result.violations, "range:w,h in [1,4096]") == expected
    )


def test_fmt_domain_violations(images, suite_result):
    expected = [i for i in range(N_FIXTURE) if i % 333 == 19]
    assert _seqs(images, suite_result.violations, "domain:fmt") == expected


def test_caption_violations(images, suite_result):
    expected = [i for i in range(N_FIXTURE) if i % 100 == 23]
    assert _seqs(images, suite_result.violations, "not_null:caption") == expected


def test_decode_violations(images, suite_result):
    expected = [i for i in range(N_FIXTURE) if i % 500 == 11]
    assert _seqs(images, suite_result.violations, "integrity:decode") == expected


def test_dims_cross_violations(images, suite_result):
    # declared-dims liars + out-of-range declared widths (both decode fine)
    expected = sorted(
        i
        for i in range(N_FIXTURE)
        if (i % 1000 == 13 or i % 200 == 17) and i % 500 != 11 and i % 333 != 19
    )
    assert (
        _seqs(images, suite_result.violations, "integrity:dims_cross_check")
        == expected
    )


def test_phash_cross_violations(images, suite_result):
    expected = [i for i in range(N_FIXTURE) if i % 500 == 37]
    assert (
        _seqs(images, suite_result.violations, "integrity:phash_cross_check")
        == expected
    )


def test_psnr_gate_all_pass(suite_result):
    assert (
        suite_result.violations.filter(
            F.col("constraint") == "integrity:psnr>=40dB"
        ).count()
        == 0
    )


def test_near_dup_violations(images, suite_result):
    expected = [i for i in range(N_FIXTURE) if i % 200 == 31 and i >= 1]
    got = _seqs(
        images, suite_result.violations, "near_dup:phash_hamming<=6"
    )
    assert got == expected


def test_constraint_names_match_oracle_list():
    """The engine's names come from each constraint module and must
    equal the oracle's reference list; the relational slice (no decode
    island, near-dup or text branch) is its first five names."""
    from pqc.image_queries import SUITE_CONSTRAINT_NAMES

    assert ValidationSuite().constraint_names == list(SUITE_CONSTRAINT_NAMES)
    relational = ValidationSuite(
        include_integrity=False, include_near_dup=False, include_text=False
    )
    assert relational.constraint_names == list(SUITE_CONSTRAINT_NAMES[:5])


def test_verdict_rollup_consistent(images, suite_result):
    # per-partition verdict counts must reconcile with the violation table
    v = suite_result.verdicts
    total_viol = v.agg(F.sum("n_violations")).first()[0]
    assert total_viol == suite_result.violations.count()
    n_parts = images.select("part").distinct().count()
    n_constraints = v.select("constraint").distinct().count()
    assert v.count() == n_parts * n_constraints


# ---------------------------------------------------------------------------
# Pixel round-trip vs local reference decode (north-star invariant)
# ---------------------------------------------------------------------------


def test_engine_pixels_match_reference(images):
    from pqc.image.codec import decode

    sample = (
        images.filter(
            (F.col("seq") % 500 != 11)  # skip corrupted
            & F.col("fmt").isin("png", "lsy", "jpeg")
            & (F.col("seq") % 200 != 31)  # skip near-dups (different base)
        )
        .orderBy("seq")
        .limit(20)
        .select("seq", "bytes", "fmt")
        .collect()
    )
    # pull a few jpeg rows explicitly (they start at seq%100 == 95 and
    # the first-20 window is lsy-dominated)
    sample += (
        images.filter((F.col("fmt") == "jpeg") & (F.col("seq") % 500 != 11))
        .orderBy("seq")
        .limit(4)
        .select("seq", "bytes", "fmt")
        .collect()
    )
    assert len(sample) == 24
    for r in sample:
        ref = pixels_for(r["seq"])
        got = decode(bytes(r["bytes"]), r["fmt"])
        if r["fmt"] == "png":
            assert np.array_equal(got, ref), f"seq={r['seq']} png mismatch"
        elif r["fmt"] == "lsy":
            assert psnr(ref, got) >= 40.0, f"seq={r['seq']} lsy psnr too low"
        else:  # baseline JPEG at q95: ~36 dB vs pre-encode pixels
            assert psnr(ref, got) >= 30.0, f"seq={r['seq']} jpeg psnr too low"


# ---------------------------------------------------------------------------
# Stats, drift, ledger
# ---------------------------------------------------------------------------


def test_partition_profile(images):
    from pqc.stats import partition_profile

    prof = partition_profile(images).collect()
    assert len(prof) == images.select("part").distinct().count()
    total = sum(r["n_rows"] for r in prof)
    assert total == N_FIXTURE
    for r in prof:
        assert r["min_w"] <= r["max_w"]
        assert len(r["quantiles_w"]) == 4


def test_drift_null_vs_shifted(spark, images):
    from pqc.fixtures import cached_images_path

    base_same = spark.read.parquet(cached_images_path(spark, N_FIXTURE, shift=0))
    shifted = spark.read.parquet(cached_images_path(spark, N_FIXTURE, shift=4))
    same = drift_verdict(images, base_same, "w").first()
    assert same["passed"] and same["ks_stat"] == 0.0
    drifted = drift_verdict(images, shifted, "w").first()
    assert not drifted["passed"] and drifted["ks_stat"] > 0.5


def test_ledger_resume_equals_full_run(spark, images, tmp_path):
    from pqc.ledger import partition_fingerprints, run_with_resume

    ledger = str(tmp_path / "ledger")
    # near-dup is cross-partition (global) — excluded from per-partition
    # resume (see pqc/ledger.py docstring)
    suite = ValidationSuite(
        include_integrity=False, include_text=False, include_near_dup=False
    )
    dim = generate_image_dim(images)

    # phase 1: validate only partitions 0-7 (simulated partial run)
    first_half = images.filter(F.col("part") < 8)
    res1, skipped1 = run_with_resume(spark, first_half, ledger, suite, dim)
    assert res1 is not None and skipped1 == []

    # phase 2: full input — partitions 0-7 must be skipped via the ledger
    res2, skipped2 = run_with_resume(spark, images, ledger, suite, dim)
    assert res2 is not None
    assert skipped2 == sorted(
        r["part"] for r in first_half.select("part").distinct().collect()
    )
    validated_parts = {r["part"] for r in res2.verdicts.select("part").distinct().collect()}
    assert all(p >= 8 for p in validated_parts)
    # the ledger holds exactly one fingerprint row per partition
    recorded = spark.read.parquet(ledger).select("part", "input_fingerprint").collect()
    expected = partition_fingerprints(images).select("part", "input_fingerprint").collect()
    assert sorted(map(tuple, recorded)) == sorted(map(tuple, expected))

    # phase 3: nothing left to do
    res3, skipped3 = run_with_resume(spark, images, ledger, suite, dim)
    assert res3 is None
    assert len(skipped3) == images.select("part").distinct().count()

    # resumed verdicts (phase1 ∪ phase2) == single full run
    full = suite.run(SuiteContext(images=images, image_dim=dim)).verdicts
    combined = res1.verdicts.unionByName(res2.verdicts)
    assert sorted(map(tuple, combined.collect())) == sorted(map(tuple, full.collect()))


def test_jpeg_requantize_equals_full_roundtrip():
    """The island's jpeg regen-PSNR gate uses the entropy-free
    requantize path — it must reproduce decode(encode(x)) EXACTLY
    (Huffman coding is lossless, so any difference is a bug in the
    copied float pipeline)."""
    from pqc.image.jpeg import jpeg_decode, jpeg_encode, jpeg_requantize

    for i, q in ((3, 95), (50, 75), (212, 50)):
        a = np.ascontiguousarray(pixels_for(i)[:128, :128])
        assert np.array_equal(
            jpeg_requantize(a, q), jpeg_decode(jpeg_encode(a, q))
        ), (i, q)
    # odd, non-multiple-of-8 dims take the padded path
    b = np.ascontiguousarray(pixels_for(9)[:61, :45])
    assert np.array_equal(jpeg_requantize(b, 90), jpeg_decode(jpeg_encode(b, 90)))
