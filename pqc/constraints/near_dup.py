"""Near-duplicate detection on the phash column — banded self-join.

LSH over Hamming space with **band-pair keys**: split the 64-bit phash
into 8 disjoint 8-bit bands. Two images at Hamming distance ≤ 6 have at
most 6 dirty bands, so AT LEAST TWO bands are clean (pigeonhole) — and
therefore at least one of the C(8,2) = 28 band *pairs* matches exactly.
Joining on 16-bit pair keys instead of single 8-bit bands keeps the
candidate set complete for the ≤ 6 threshold while shrinking collision
buckets from n/2^8 to n/2^16 members — candidate pairs scale as
28·n²/2^16 instead of 8·n²/2^8 (~70× fewer; measured: the single-band
version became the suite's dominant cost at 150k rows). The exact
``bit_count(a ^ b) <= t`` filter confirms survivors.

Scale notes (north_rule "salted repartitioning for phash/format skew"):
monochrome/flat corpora concentrate phashes into few values → hot
buckets. ``pqc/skew.py::band_pairs`` counts bucket sizes and diverts
buckets above a member cap before collection (pairs sharing a non-hot
band-pair keep full recall; fully hot groups are exact duplicates
caught by the cheap exact pass first).
AQE skew-join is the backstop for residual imbalance.

Reference analogue: the pictogram-membership check (SURVEY §2.8 I11)
replaced with deterministic perceptual hashing.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pqc.constraints import SuiteContext, as_violation
from pqc.skew import band_pairs

HAMMING_MAX = 6
N_BANDS = 8
BAND_BITS = 8

NAME = f"near_dup:phash_hamming<={HAMMING_MAX}"


def _band_pair_keys() -> list:
    """28 exprs: (pair_id, 16-bit combined value) per band pair (i<j)."""
    keys = []
    for pid, (i, j) in enumerate(combinations(range(N_BANDS), 2)):
        vi = f"((phash >> {i * BAND_BITS}) & 255)"
        vj = f"((phash >> {j * BAND_BITS}) & 255)"
        keys.append(
            F.struct(
                F.lit(pid).alias("band_idx"),
                F.expr(f"({vi} << 8) | {vj}").alias("band_val"),
            )
        )
    return keys


def _band_table(images: DataFrame) -> DataFrame:
    base = images.select("seq", "phash").filter(F.col("phash").isNotNull())
    return base.select(
        "seq",
        "phash",
        F.explode(F.array(*_band_pair_keys())).alias("band"),
    ).select("seq", "phash", "band.band_idx", "band.band_val")


def _screen(images: DataFrame, cap: int | None) -> tuple[DataFrame, DataFrame]:
    return band_pairs(
        _band_table(images),
        ("band_idx", "band_val"),
        F.struct("seq", "phash"),
        "seq",
        cap,
    )


def hot_buckets(images: DataFrame, cap: int | None = None) -> DataFrame:
    """(band_idx, band_val, n_members) buckets above the skew cap —
    the diverted-work surface (empty on a healthy corpus)."""
    return _screen(images, cap)[1]


def candidate_pairs(images: DataFrame, cap: int | None = None) -> DataFrame:
    """(seq_a, image_id_a, seq_b, image_id_b, hamming) confirmed pairs.

    Ordering key is ``seq`` (generation/ingest order); the keeper is
    the lower seq, mirroring first-wins dedupe
    (`artwork_processing_warnings_advisory.py:240-249`).
    """
    base = images.select("seq", "image_id", "part", "phash").filter(
        F.col("phash").isNotNull()
    )
    # SKEW GUARD (north_rule "salted repartitioning for phash/format
    # skew"): buckets above the cap are counted and diverted before
    # collection — a monochrome-heavy corpus collapses phashes onto few
    # values and one hot bucket's |members|² otherwise explodes a single
    # task. Recall: any pair sharing a non-hot band-pair is still found
    # (28 keys/pair); fully-hot groups are near-identical phashes whose
    # identical-phash members the exact-dup layer already groups.
    # Diverted buckets are surfaced via hot_buckets(). The shuffled
    # payload is just (seq, phash) — 16 bytes/row; image_id/part rejoin
    # AFTER pair confirmation, when only the (few) confirmed pairs
    # remain.
    pairs, _hot = _screen(images, cap)
    slim_pairs = (
        pairs.select(
            F.col("a.seq").alias("seq_a"),
            F.col("b.seq").alias("seq_b"),
            F.expr("bit_count(a.phash ^ b.phash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .dropDuplicates(["seq_a", "seq_b"])
    )
    ida = base.select(
        F.col("seq").alias("seq_a"), F.col("image_id").alias("image_id_a")
    )
    idb = base.select(
        F.col("seq").alias("seq_b"),
        F.col("image_id").alias("image_id_b"),
        F.col("part").alias("part_b"),
    )
    return slim_pairs.join(ida, "seq_a").join(idb, "seq_b")


def violations(ctx: SuiteContext) -> DataFrame:
    pairs = candidate_pairs(ctx.meta())
    return pairs.select(
        F.col("image_id_b").alias("image_id"),
        F.col("part_b").alias("part"),
        F.lit(NAME).alias("constraint"),
        F.concat(
            F.lit("near-dup of "),
            F.col("image_id_a"),
            F.lit(" hamming="),
            F.col("hamming").cast("string"),
        ).alias("detail"),
    )
