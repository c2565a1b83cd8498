"""Pixel-integrity constraints — consumers of the decode island.

Each failed gate becomes its own violation row so verdicts can be
broken down per gate (decode / two-pass agreement / dims cross-check /
PSNR / phash cross-check), mirroring the reference's per-flag QA
columns (`_qa_compare_tesseract`, `artwork_processing_common.py:256-278`).
Rows whose declared fmt is outside the codec's domain are excluded
here — they are already flagged by the fmt domain constraint, and a
decode error on them would double-count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pqc.constraints import SuiteContext, flag_rows
from pqc.image.codec import SUPPORTED_FORMATS

# the payload-presence check rides the decode island's scan so no
# other plan ever reads the bytes column
NOT_NULL_BYTES = "not_null:bytes"
NAMES = (
    NOT_NULL_BYTES,
    "integrity:decode",
    "integrity:two_pass_agreement",
    "integrity:dims_cross_check",
    "integrity:psnr>=40dB",
    "integrity:phash_cross_check",
)


def _decodable(ctx: SuiteContext) -> DataFrame:
    return ctx.integrity().filter(F.col("fmt").isin(*sorted(SUPPORTED_FORMATS)))


def combined_violations(ctx: SuiteContext) -> DataFrame:
    """All five integrity gates and the payload-presence check in ONE
    pass over the cached decode island output."""
    _, decode, two_pass, dims, psnr, phash = NAMES
    ok = F.col("decode_ok")
    null_payload = F.col("decode_error") == "null payload"
    return flag_rows(
        _decodable(ctx),
        [
            (NOT_NULL_BYTES, null_payload, F.lit("null payload")),
            # null payloads are flagged by not_null:bytes, not re-flagged here
            (decode, ~ok & ~null_payload, F.col("decode_error")),
            (two_pass, ok & ~F.col("two_pass_ok"), F.lit("passes disagree")),
            (
                dims,
                ok & ~F.col("dims_match"),
                F.concat(
                    F.lit("declared "),
                    F.col("w").cast("string"),
                    F.lit("×"),
                    F.col("h").cast("string"),
                    F.lit(" actual "),
                    F.col("actual_w").cast("string"),
                    F.lit("×"),
                    F.col("actual_h").cast("string"),
                ),
            ),
            (
                psnr,
                ok & ~F.col("psnr_ok"),
                F.concat(F.lit("psnr_regen="), F.round(F.col("psnr_regen"), 2).cast("string")),
            ),
            (
                phash,
                ok & ~F.col("phash_match"),
                F.concat(
                    F.lit("stored="),
                    F.col("phash").cast("string"),
                    F.lit(" recomputed="),
                    F.col("phash_recomputed").cast("string"),
                    F.lit(" hamming="),
                    F.col("phash_hamming").cast("string"),
                ),
            ),
        ],
    )
