"""Skew handling — salted repartitioning / two-phase aggregation, the
hot-bucket cap for near-dup band joins and the duplicate-fingerprint
collapse (north_rule: "salted repartitioning for phash/format skew,
AQE-tuned shuffles").

Three tools:

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

3. ``collapse_reps`` / ``expand_rep_pairs``: the MinHash, SimHash and
   SRP ladders collapse identical fingerprints to one min-id
   representative before banding, so m identical items cost one band
   row instead of an m²/2 bucket, screen and confirm only the
   representatives, then rebuild the exact member pair set (scores are
   functions of the fingerprints alone). The rebuild is skipped by one
   limit-1 probe when no fingerprint has a second member.
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


def collapse_reps(
    df: DataFrame, id_col: str, key_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse rows with equal ``key_col`` to their min-``id_col``
    representative: ``(reps, membership)``.

    ``reps`` is ``(key_col, rep_id)`` from a map-side-combined min
    aggregate — never a window, which would gather a hot key's whole
    group in one task. ``membership`` is ``(key_col, id_col, rep_id)``,
    one row per input row.
    """
    reps = df.groupBy(key_col).agg(F.min(id_col).alias("rep_id"))
    membership = df.select(key_col, id_col).join(reps, key_col)
    return reps, membership


def expand_rep_pairs(
    rep_pairs: DataFrame,
    membership: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str],
    within: DataFrame,
) -> DataFrame:
    """Member-level pairs from representative-level pairs.

    ``rep_pairs`` holds representative ids in ``pair_cols`` plus score
    columns; ``membership`` comes from :func:`collapse_reps`. One
    limit-1 probe job checks for a group with a second member; without
    one the collapse was an identity and ``rep_pairs`` is returned
    unchanged (no expansion stages are planned). Otherwise cross pairs
    inherit their representative pair's scores, re-ordered with
    least/greatest (group members interleave in id order), and
    within-group pairs — one self-join of ``membership`` on ``rep_id``
    — take their scores from ``within``, a ``(rep_id, *scores)`` frame
    scoring a representative against itself (inner-joined, so a
    representative missing from ``within`` contributes no pairs).
    """
    if membership.filter(F.col(id_col) != F.col("rep_id")).limit(1).count() == 0:
        return rep_pairs
    a, b = pair_cols
    scores = [c for c in rep_pairs.columns if c not in pair_cols]
    mem_a = membership.select(F.col("rep_id").alias(a), F.col(id_col).alias("_ma"))
    mem_b = membership.select(F.col("rep_id").alias(b), F.col(id_col).alias("_mb"))
    cross = (
        rep_pairs.join(mem_a, a)
        .join(mem_b, b)
        .select(
            F.least("_ma", "_mb").alias(a), F.greatest("_ma", "_mb").alias(b), *scores
        )
    )
    ga = membership.select("rep_id", F.col(id_col).alias(a))
    gb = membership.select("rep_id", F.col(id_col).alias(b))
    within_pairs = (
        ga.join(gb, "rep_id")
        .filter(F.col(a) < F.col(b))
        .join(within, "rep_id")
        .select(a, b, *scores)
    )
    return cross.unionByName(within_pairs)
