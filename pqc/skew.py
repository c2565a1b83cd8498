"""Skew handling — salted repartitioning / two-phase aggregation and
the hot-bucket cap for near-dup band joins (north_rule: "salted
repartitioning for phash/format skew, AQE-tuned shuffles").

Two tools:

1. ``salted_count`` / two-phase aggregation: a groupBy on a skewed key
   (``fmt`` is 85/15 in the corpus; real corpora are worse) sends every
   row of the hot key through one reducer. Salting splits each key into
   ``n_salts`` sub-keys (random-ish but deterministic via a row hash),
   partially aggregates, then combines — the hot key's work spreads over
   ``n_salts`` reducers. AQE's skew-join handles *joins*; aggregation
   skew needs this rewrite.

2. ``band_pairs``: the prescreen of every near-dup ladder groups a
   band table into buckets and pairs the members of each bucket. Band
   self-joins explode when a band value is hot (monochrome corpora
   collapse to few phashes; duplicate-heavy text to few signatures).
   Banding guarantees candidates via ANY matching band, so bucket
   sizes are counted and buckets above a member cap are diverted
   before collection: the pairing is bounded to O(cap²·n_buckets)
   while pairs that share a *non-hot* band keep full recall; fully-hot
   pairs are exact duplicates caught by the cheap exact-dup pass first
   (same screen→confirm layering as SURVEY §3.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16
DEFAULT_BAND_CAP = 2000


def with_salt(df: DataFrame, n_salts: int = DEFAULT_SALTS, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt from a row-content hash (not rand(): retries
    and resumes must see the same partitioning)."""
    basis = F.concat_ws("|", *[F.col(c).cast("string") for c in df.columns])
    return df.withColumn(salt_col, F.pmod(F.crc32(basis), F.lit(n_salts)).cast("int"))


def salted_count(df: DataFrame, key: str | Column, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Two-phase skew-safe count: groupBy(key, salt) partial → groupBy
    (key) combine. Returns (key, n_rows)."""
    key_col = F.col(key) if isinstance(key, str) else key
    salted = with_salt(df.select(key_col.alias("k")), n_salts)
    partial = salted.groupBy("k", "_salt").agg(F.count(F.lit(1)).alias("n_partial"))
    return (
        partial.groupBy("k")
        .agg(F.sum("n_partial").alias("n_rows"))
        .select(F.col("k").alias("key"), F.col("n_rows"))
    )


def band_pairs(
    bands: DataFrame,
    key_cols: tuple[str, ...],
    member: Column,
    order: str,
    cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs from a band table: ``(pairs, hot)``.

    Bucket sizes are counted first (a map-side-combined aggregate), and
    the keys of buckets above ``cap`` are broadcast and anti-joined out
    of the band table, so a hot bucket never builds its O(bucket)
    member array in one task. The cold buckets are grouped once on
    ``key_cols`` and paired bucket-locally by a double explode: the
    band rows are shuffled once and never self-joined (the count
    exchange carries one partial count per key and task).

    ``member`` is a struct column (a struct is never null, so each
    bucket's list holds exactly its rows); ``order`` names one of its
    fields, and a pair is kept iff ``a.<order> < b.<order>``.

    Returns ``pairs`` — one row per (bucket, pair), struct columns
    ``a``/``b``; callers confirm and de-duplicate — and ``hot`` —
    ``(*key_cols, n_members)`` for every bucket above ``cap``
    (default :data:`DEFAULT_BAND_CAP`).
    """
    keys = list(key_cols)
    counts = bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_members"))
    hot = counts.filter(F.col("n_members") > (cap or DEFAULT_BAND_CAP))
    cold = bands.join(F.broadcast(hot.select(*keys)), keys, "left_anti")
    pairs = (
        cold.groupBy(*keys)
        .agg(F.collect_list(member).alias("members"))
        .filter(F.size("members") >= 2)
        .select(F.explode("members").alias("a"), "members")
        .select("a", F.explode("members").alias("b"))
        .filter(F.col(f"a.{order}") < F.col(f"b.{order}"))
    )
    return pairs, hot
