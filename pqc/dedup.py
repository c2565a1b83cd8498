"""Deduplication operator bank — exact, n-gram Jaccard, MinHash-LSH,
SimHash. Grafts the reference's dedupe-then-probe plan shape
(`banningredients.py:166-276`, SURVEY §3.3): normalize → cheap exact
screen → expensive similarity only on survivors → rejoin.

Scale notes (the part that matters at 10^12 rows):
- exact dedup shuffles 8-byte fingerprints, never text/bytes payloads;
- Jaccard pairs are generated through an inverted shingle index
  (group-by shingle), with hot-shingle capping as the skew guard;
- MinHash-LSH bounds candidate pairs by band collisions (sub-quadratic);
- all hashes are the portable md5-based ``hash64`` so the DuckDB oracle
  reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pqc.exprs import hash64, hash64_sql_duckdb, minhash_perm, minhash_perm_sql
from pqc.registry import pin, register
from pqc.skew import band_pairs, collapse_reps, expand_rep_pairs
from pqc.text import _NONEMPTY, TOKENS_SQL, nonempty_docs, tokens

SHINGLE_K = 4  # words per shingle
JACCARD_THRESHOLD = 0.2
# MinHash signature width and banding. The (b, r) dial: a pair becomes
# a candidate with P = 1-(1-j^r)^b, and the S-curve's midpoint sits at
# t ≈ (1/b)^(1/r) — pick t at the verify threshold. Here K = 64 perms
# as 32 bands × 2 rows → t = (1/32)^(1/2) ≈ 0.18, matched to the 0.2
# confirm threshold: recall 0.73 @ j=0.2, 0.95 @ j=0.3, ~1.0 @ j≥0.5,
# while sub-threshold noise pairs (j=0.05) collide with P ≈ 0.08
# (vs 0.34 for the r1-r2 8×1 banding — r=2 is what buys precision).
# Production scaling: K≈128 with r chosen by the same formula; the
# sandbox K=64 exercises the identical plan shape. Measured recall /
# candidate-count table: BASELINE.md §minhash.
MINHASH_K = 64  # permutations
MINHASH_ROWS = 2  # rows per band
MINHASH_BANDS = MINHASH_K // MINHASH_ROWS  # 32 bands
# hot-shingle document-frequency cap: shingles in > MAX_SHINGLE_DF docs
# (boilerplate) are excluded from CANDIDATE GENERATION — a stopword-
# heavy shingle otherwise makes its inverted-index bucket quadratic.
# Verification still scores candidates on the FULL shingle sets, so
# surviving pairs carry their true Jaccard; only pairs whose every
# shared shingle is boilerplate are forfeited (standard corpus-dedup
# trade). Testdata is nowhere near the cap (max df 4 at 500 docs), so
# the oracle mirror is exercised as an exact no-op here and the guard
# as a bound in tests/test_scale_mechanics.py.
MAX_SHINGLE_DF = 100

# ---------------------------------------------------------------------------
# Exact dedup (bag-of-words key): hash-groupBy on a fingerprint
# ---------------------------------------------------------------------------

_EXACT_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         {hash64_sql_duckdb(
             "array_to_string(list_sort(" + TOKENS_SQL.format(c='text') + "), ' ')"
         )} AS bow_fp
  FROM documents WHERE {_NONEMPTY}
)
SELECT bow_fp, COUNT(*) AS dup_count, MIN(doc_id) AS keeper_doc_id
FROM f GROUP BY bow_fp HAVING COUNT(*) > 1
"""


@register("exact_dup_groups", oracle=_EXACT_ORACLE)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups keyed on a bag-of-words fingerprint
    (order-insensitive: sorted-token hash). The shuffle carries only
    (doc_id, fp) — the 10^12-scale plan; `min(doc_id)` picks the
    deterministic keeper, mirroring the reference's first-wins dedupe
    (`artwork_processing_warnings_advisory.py:240-249`)."""
    docs = nonempty_docs(spark, sf_dir)
    bow_fp = hash64(F.array_join(F.array_sort(tokens(F.col("text"))), " "))
    return (
        docs.select("doc_id", bow_fp.alias("bow_fp"))
        .groupBy("bow_fp")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs via inverted shingle index
# ---------------------------------------------------------------------------


def _shingles_sql(k: int = SHINGLE_K) -> str:
    """DuckDB: distinct word-k-gram shingles per doc, pre-hashed to the
    portable 60-bit integer — the join key everywhere downstream (an
    8-byte shuffle payload instead of a ~25-byte string; the string
    itself never leaves this CTE)."""
    toks = TOKENS_SQL.format(c="text")
    return f"""
  SELECT DISTINCT doc_id,
         {hash64_sql_duckdb(f"array_to_string(t[i:i+{k - 1}], ' ')")} AS hs
  FROM (SELECT doc_id, {toks} AS t FROM documents WHERE {_NONEMPTY}),
       UNNEST(generate_series(1, len(t) - {k - 1})) AS g(i)
  WHERE len(t) >= {k}
"""


# exact-Jaccard confirm of the candidate pairs ``cand`` over the
# shingle sets ``sh``: the tail of both n-gram and MinHash oracles
_JACCARD_CONFIRM_SQL = f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.hs = b.hs
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= {JACCARD_THRESHOLD}
"""


_JACCARD_ORACLE = f"""
WITH sh AS ({_shingles_sql()}),
dfc AS (SELECT hs, COUNT(*) AS df FROM sh GROUP BY hs),
cold AS (SELECT sh.doc_id, sh.hs FROM sh JOIN dfc USING (hs) WHERE dfc.df <= {MAX_SHINGLE_DF}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM cold a JOIN cold b ON a.hs = b.hs AND a.doc_id < b.doc_id
),
{_JACCARD_CONFIRM_SQL}"""


def _shingle_df(spark: SparkSession, sf_dir: str, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, hs): distinct word-k-gram shingles per doc, hashed ONCE
    to the portable 60-bit integer at creation — every downstream join
    (df cap, candidate self-join, both intersection sides) keys on the
    8-byte hash instead of the ~25-byte shingle string, so the three
    shuffles of the Jaccard plan carry a third of the bytes. All JVM
    array ops; the string exists only inside this projection."""
    docs = nonempty_docs(spark, sf_dir)
    t = tokens(F.col("text"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(t) - (k - 1)),
        lambda i: F.array_join(F.slice(t, i, k), " "),
    )
    # hash each shingle BEFORE array_distinct: dedup runs over 8-byte
    # longs instead of ~25-char strings and the string never survives
    # the projection — exactly the oracle's shape (its DISTINCT also
    # applies to the hashed value)
    return (
        docs.filter(F.size(t) >= k)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.transform(shingles, lambda s: hash64(s)))
            ).alias("hs"),
        )
    )


def _jaccard_confirm(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    """The exact-Jaccard confirm of the n-gram and MinHash ladders →
    (doc_a, doc_b, jaccard): ``inter`` is (doc_a, doc_b, n_common),
    ``sizes`` is (doc_id, n); pairs at Jaccard ≥ JACCARD_THRESHOLD
    survive, rounded to 6 digits as in the oracles."""

    def side(s: str) -> DataFrame:
        return sizes.withColumnRenamed("doc_id", f"doc_{s}").withColumnRenamed("n", f"n{s}")

    jacc = (
        inter.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .withColumn(
            "jaccard_raw",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
    )
    return jacc.select(
        "doc_a", "doc_b", F.round(F.col("jaccard_raw"), 6).alias("jaccard")
    )


@register("ngram_jaccard_pairs", oracle=_JACCARD_ORACLE)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-4-gram Jaccard ≥ 0.2.

    Inverted-index aggregate with a hot-shingle df cap: shingle
    document frequencies are counted first and the hot shingles'
    postings are diverted before collection (:func:`pqc.skew.band_pairs`),
    so candidate pairs are generated bucket-locally (never a cross join,
    never quadratic in a boilerplate shingle's bucket).
    The bucket-local pair explode doubles as the COLD-intersection
    count (GROUP BY pair — same shuffle, one more aggregate), so the
    full-set verify reduces to
    re-joining only the HOT shingle slice for candidate pairs:
    n_common = |cold ∩| + |hot ∩|, exactly the full intersection, with
    the two big verify joins of the r2 plan replaced by joins against
    a slice that is EMPTY on a boilerplate-free corpus. Sizes still
    count the full sets, so surviving pairs carry their true Jaccard.
    This is the reference's segment-index pattern
    (`banningredients.py:172-182`) lifted to pair generation, with the
    same screen→confirm layering as MinHash below.
    """
    sh = pin(_shingle_df(spark, sf_dir))  # reused: buckets, sizes
    # ONE inverted-index aggregate: postings are grouped per cold
    # shingle once and candidate pairs + their cold-intersection counts
    # are generated bucket-locally (the postings are shuffled once to
    # build pairs, never self-joined).
    pairs, hot_keys = band_pairs(
        sh, ("hs",), F.struct("doc_id"), "doc_id", MAX_SHINGLE_DF
    )
    cold_common = pin(  # feeds hot_common AND inter
        pairs.groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_cold"))
    )
    hot = sh.join(F.broadcast(hot_keys.select("hs")), "hs", "left_semi")
    hsa = hot.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    hsb = hot.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    hot_common = (
        cold_common.select("doc_a", "doc_b")
        .join(hsa, "doc_a")
        .join(hsb, "doc_b")
        .filter(F.col("ha") == F.col("hb"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_hot"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = cold_common.join(hot_common, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        (F.col("n_cold") + F.coalesce(F.col("n_hot"), F.lit(0))).alias("n_common"),
    )
    return _jaccard_confirm(inter, sizes)


# ---------------------------------------------------------------------------
# MinHash + LSH banding (sub-quadratic candidate generation)
# ---------------------------------------------------------------------------


def _minhash_exprs_spark(h_col, k: int = MINHASH_K):
    return [F.min(minhash_perm(h_col, i + 1, 17 * i + 3)).alias(f"mh{i}") for i in range(k)]


def _mh_cols_sql(k: int) -> str:
    return ", ".join(
        f"MIN({minhash_perm_sql('hs', i + 1, 17 * i + 3)}) AS mh{i}" for i in range(k)
    )


def _band_members(b: int, rows: int = MINHASH_ROWS) -> list[int]:
    """Signature positions folded into band *b* (r consecutive rows)."""
    return list(range(b * rows, (b + 1) * rows))


def _band_key_sql(b: int, rows: int) -> str:
    parts = ", ',', ".join(f"mh{i}" for i in _band_members(b, rows))
    expr = f"concat('b{b}:', {parts})"
    return f"{hash64_sql_duckdb(expr)} AS band{b}"


def _minhash_oracle(k: int, rows: int) -> str:
    """Uncapped straight-line twin: signatures → band keys → band
    self-join → exact Jaccard. The Spark side's representative collapse
    + hot-bucket cap are exact rewrites at driver scale (no bucket can
    exceed the 2000 cap at 500 docs), so the naive derivation IS the
    expected output."""
    n_bands = k // rows
    band_keys_sql = ", ".join(_band_key_sql(b, rows) for b in range(n_bands))
    band_names = ", ".join(f"band{b}" for b in range(n_bands))
    return f"""
WITH sh AS ({_shingles_sql()}),
sig AS (SELECT doc_id, {_mh_cols_sql(k)} FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, {band_keys_sql} FROM sig),
bk AS (
  SELECT doc_id, band FROM bands
  UNPIVOT (band FOR b IN ({band_names}))
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.doc_id < b.doc_id
),
{_JACCARD_CONFIRM_SQL}"""


def _minhash_rep_candidates(
    sh: DataFrame,
    k: int = MINHASH_K,
    rows: int = MINHASH_ROWS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Banded candidate pairs among shingle-set REPRESENTATIVES.

    The duplicate-degeneracy guard (r4 verdict #1): a duplicate-heavy
    corpus — the normal case for training-data dedup — puts millions of
    byte-identical documents into ONE band bucket, making the naive
    band self-join quadratic. Fix (the standard production layering,
    composing with ``exact_dup_groups``):

    1. **Pre-collapse identical shingle sets** to one representative
       (min doc_id per set-key). Signatures/bands/candidate join/
       verify all run over representatives, so m identical docs cost
       1 unit instead of m²/2. This is EXACT — Jaccard is a function
       of the shingle sets alone, so every member pair's score equals
       its representative pair's score (reconstructed by
       :func:`pqc.skew.expand_rep_pairs`).
    2. **Hot-bucket cap** (:func:`pqc.skew.band_pairs`) as the backstop
       for near-identical-but-distinct sets that still pile into one
       bucket: bucket sizes are counted and buckets above the cap are
       diverted before collection (recall via any non-hot band, as in
       the phash path) and surfaced as stats.

    Returns ``(cand_rep_pairs, membership, hot_buckets)`` where
    membership is ``(sskey, doc_id, rep_id)``
    (:func:`pqc.skew.collapse_reps`).
    """
    n_bands = k // rows
    # ONE groupBy computes the set-key and the signature together: the
    # collapse costs no extra shuffle over the plain signature pass
    # (collect_set rides the same exchange as the mh mins)
    set_key = hash64(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_set("hs")), lambda x: x.cast("string")
            ),
        )
    )
    # pinned: reps, membership and rep_sig all consume sig — unpinned,
    # the K-min + sskey aggregate over the full shingle table re-ran
    # once per consumer (measured as the dominant minhash cost at sf1.0
    # after the band join itself was fixed)
    sig = pin(
        sh.groupBy("doc_id").agg(
            set_key.alias("sskey"), *_minhash_exprs_spark(F.col("hs"), k)
        )
    )
    reps, membership = collapse_reps(sig, "doc_id", "sskey")
    rep_sig = sig.join(
        reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"
    )

    def _band_col(b: int):
        parts: list = [F.lit(f"b{b}:")]
        for i in _band_members(b, rows):
            if i != _band_members(b, rows)[0]:
                parts.append(F.lit(","))
            parts.append(F.col(f"mh{i}").cast("string"))
        return hash64(F.concat(*parts)).alias(f"band{b}")

    bands = rep_sig.select("doc_id", *[_band_col(b) for b in range(n_bands)])
    bk = bands.select(
        "doc_id",
        F.explode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias("band"),
    )
    pairs, hot = band_pairs(bk, ("band",), F.struct("doc_id"), "doc_id")
    cand = pairs.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).dropDuplicates()
    return cand, membership, hot


def _minhash_pairs(spark: SparkSession, sf_dir: str, k: int, rows: int) -> DataFrame:
    sh = pin(_shingle_df(spark, sf_dir))  # reused: signatures, sizes, both verify sides
    cand, membership, _hot = _minhash_rep_candidates(sh, k, rows)
    membership = pin(membership)
    # verify on representative shingle sets only (members share them)
    rep_sh = pin(
        sh.join(
            membership.select(F.col("rep_id").alias("doc_id")).dropDuplicates(),
            "doc_id",
            "left_semi",
        )
    )
    sizes = rep_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sha = rep_sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sa"))
    shb = rep_sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sb"))
    inter = (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .filter(F.col("sa") == F.col("sb"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    rep_pairs = _jaccard_confirm(inter, sizes)
    # exact member-level reconstruction: cross pairs inherit the rep
    # pair's Jaccard (same sets ⇒ same score); within-group pairs are
    # identical sets ⇒ Jaccard exactly 1.0 (integer n/(n+n−n)); sizes
    # has one row per representative
    within = sizes.select(F.col("doc_id").alias("rep_id"), F.lit(1.0).alias("jaccard"))
    return expand_rep_pairs(rep_pairs, membership, "doc_id", ("doc_a", "doc_b"), within)


@register("minhash_lsh_dedup", oracle=_minhash_oracle(MINHASH_K, MINHASH_ROWS))
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(32 bands × 2 rows) near-dup candidates,
    verified with exact Jaccard ≥ 0.2.

    The scale path: signatures are 64 bigints/doc; band keys bound the
    self-join (docs collide only if BOTH rows of a band agree), so
    candidate count tracks true-duplicate density instead of corpus² —
    see the (b, r) S-curve analysis at the constants above.
    Duplicate-degenerate corpora are guarded twice over: identical
    shingle sets collapse to one representative before banding and hot
    band buckets are capped (:func:`_minhash_rep_candidates` — bounded-
    candidate proof in tests/test_scale_mechanics.py), with the exact
    member-level pair set reconstructed afterwards. Permutations are
    XOR-salted portable hashes (pqc/exprs.py) so DuckDB reproduces the
    exact signature. Verification re-joins shingles only for candidate
    pairs — the screen→confirm shape of `banningredients.py:185-268`.
    """
    return _minhash_pairs(spark, sf_dir, MINHASH_K, MINHASH_ROWS)


# Production dial (BASELINE.md §minhash-dial, measured r4): K = 128 as
# 64 bands × 2 rows moves the S-curve midpoint to t = (1/64)^(1/2) ≈
# 0.125, lifting screen recall at the j = 0.2 confirm threshold from
# 0.63 to 0.91 for 2× signature cost — the dial a 100 TB dedup pass
# would run. Registered as its own driver row so the production
# configuration itself has hash-checked evidence, not just the study.
MINHASH_K_PROD = 128
MINHASH_BANDS_PROD = MINHASH_K_PROD // MINHASH_ROWS  # 64 bands


@register(
    "minhash_lsh_dedup_k128",
    oracle=_minhash_oracle(MINHASH_K_PROD, MINHASH_ROWS),
)
def minhash_lsh_dedup_k128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`minhash_lsh_dedup` at the measured production dial (K = 128,
    64 × 2 banding): same plan shape, same exact-Jaccard confirm, same
    degeneracy guards — only the screen's operating point moves (recall
    at j = 0.2: 0.63 → 0.91, BASELINE.md). Candidates are a superset of
    the K = 64 screen's at this corpus, so the driver row is non-vacuous
    wherever the toy dial's was."""
    return _minhash_pairs(spark, sf_dir, MINHASH_K_PROD, MINHASH_ROWS)


# ---------------------------------------------------------------------------
# SimHash fingerprints (32-bit, term-frequency weighted)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32

# tok → tf → bits → sig: the (doc_id, simhash) CTE chain of every
# SimHash oracle
_SIMHASH_SIG_SQL = f"""tok AS (
  SELECT doc_id, unnest({TOKENS_SQL.format(c='text')}) AS tk
  FROM documents WHERE {_NONEMPTY}
),
tf AS (
  SELECT doc_id, {hash64_sql_duckdb('tk')} AS h, COUNT(*) AS cnt
  FROM tok GROUP BY doc_id, tk
),
bits AS (
  SELECT doc_id, g.b AS b,
         SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN cnt ELSE -cnt END) AS w
  FROM tf, UNNEST(generate_series(0, {SIMHASH_BITS - 1})) AS g(b)
  GROUP BY doc_id, g.b
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)"""

_SIMHASH_ORACLE = f"""
WITH {_SIMHASH_SIG_SQL}
SELECT doc_id, simhash FROM sig
"""


@register("simhash_fingerprint", oracle=_SIMHASH_ORACLE)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency-weighted 32-bit SimHash per document.

    Relational formulation: token-frequency table → explode over bit
    positions → signed weight sum per bit → recompose the integer.
    Every step is a hash aggregate (map-side combined); nothing leaves
    the JVM. Hamming-ball near-dup search over these is the text twin
    of the phash band join in pqc/constraints/near_dup.py.
    """
    return _simhash_df(spark, sf_dir)


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — shared by the fingerprint query and the
    hamming-ball search below."""
    docs = nonempty_docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tk"))
    # hash BEFORE the shuffle: grouping term counts by the 60-bit hash
    # instead of the term string shuffles 8-byte keys (guide §2.3) and
    # is weight-exact — the oracle's per-(doc, term) rows with equal h
    # contribute identical signs, so summing their counts first changes
    # nothing in any bit's weight.
    tf = tok.select("doc_id", hash64(F.col("tk")).alias("h")).groupBy(
        "doc_id", "h"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # all 32 signed bit-weights as ONE aggregate pass over the tf rows:
    # the r5 plan exploded tf × 32 bit positions (≈128M rows at sf1.0)
    # through an extra (doc_id, b) exchange; 32 conditional sums ride
    # the single (doc_id) exchange instead — same values, two fewer
    # passes and one fewer shuffle
    wcols = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"w{b}")
        for b in range(SIMHASH_BITS)
    ]
    sig = tf.groupBy("doc_id").agg(*wcols)
    code = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"w{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        code = term if code is None else code + term
    return sig.select("doc_id", code.cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# SimHash hamming-ball near-dup search (text twin of the phash band join)
# ---------------------------------------------------------------------------

SIMHASH_HAMMING_MAX = 3
SIMHASH_BANDS = 4  # 4 × 8-bit bands: ≤ 3 dirty bits ⇒ ≥ 1 clean band

_SIMHASH_ND_ORACLE = f"""
WITH {_SIMHASH_SIG_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
"""


@register("simhash_near_dup_pairs", oracle=_SIMHASH_ND_ORACLE)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-ball near-dup search over the SimHash fingerprints —
    the text twin of the phash band join (pqc/constraints/near_dup.py).

    4 disjoint 8-bit bands: two fingerprints at hamming ≤ 3 have at
    most 3 dirty bands, so at least one band matches exactly
    (pigeonhole-complete ⇒ the banded set EQUALS the quadratic truth,
    which is what the oracle computes directly). Candidates bound by
    band collisions (n²/2^8 per band at corpus scale instead of n²);
    the exact bit_count confirm runs only on collisions."""
    sig = _simhash_df(spark, sf_dir)
    return _simhash_pairs(sig)


def _simhash_rep_candidates(sig: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Banded hamming-ball candidates among DISTINCT fingerprints.

    Same duplicate-degeneracy layering as :func:`_minhash_rep_candidates`
    (r4 verdict #1): identical simhashes collapse to one representative
    before banding — a corpus of m identical documents contributes ONE
    band row instead of an m²/2 bucket join — and the representative
    band table goes through the hot-bucket cap
    (:func:`pqc.skew.band_pairs`) as the backstop. Exact:
    hamming is a function of the two fingerprints alone.

    Returns ``(rep_pairs, reps, hot)``: rep_pairs is
    ``(sim_a, sim_b, ra, rb, hamming)`` over distinct fingerprints;
    reps is ``(simhash, rep_id)``.
    """
    reps, _membership = collapse_reps(sig, "doc_id", "simhash")
    band_keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.expr(f"(simhash >> {i * 8}) & 255").alias("band_val"),
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    bk = (
        reps.select("simhash", "rep_id", F.explode(band_keys).alias("band"))
        .select("simhash", "rep_id", "band.band_idx", "band.band_val")
    )
    pairs, hot = band_pairs(
        bk, ("band_idx", "band_val"), F.struct("simhash", "rep_id"), "rep_id"
    )
    rep_pairs = (
        pairs.select(
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
            F.col("a.rep_id").alias("ra"),
            F.col("b.rep_id").alias("rb"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .dropDuplicates(["sim_a", "sim_b"])
    )
    return rep_pairs, reps, hot


def _simhash_pairs(sig: DataFrame) -> DataFrame:
    """Banded hamming-ball pairs (doc_a, doc_b, hamming) from a
    (doc_id, simhash) signature table — shared by the pair query and
    the transitive clustering below. Degeneracy-guarded via
    representative collapse + hot-bucket cap
    (:func:`_simhash_rep_candidates`); the member-level pair set is
    reconstructed exactly by :func:`pqc.skew.expand_rep_pairs` (cross
    pairs inherit their fingerprints' hamming; identical-fingerprint
    pairs are hamming 0)."""
    sig = pin(sig)
    rep_pairs, reps, _hot = _simhash_rep_candidates(sig)
    # the screen returns only reps; the expansion needs the membership
    _, membership = collapse_reps(sig, "doc_id", "simhash")
    # ra < rb by the pair order, so on an identity collapse these rep
    # pairs ARE the member pairs
    rep_pairs = rep_pairs.select(
        F.col("ra").alias("doc_a"), F.col("rb").alias("doc_b"), "hamming"
    )
    within = reps.select("rep_id", F.lit(0).cast("int").alias("hamming"))
    return expand_rep_pairs(
        rep_pairs, pin(membership), "doc_id", ("doc_a", "doc_b"), within
    )


# ---------------------------------------------------------------------------
# Transitive near-dup clustering (connected components, hash-to-min)
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 32  # hard bound; min-label propagation converges in
# O(graph diameter) rounds and near-dup components are shallow


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation
    ("hash-to-min"): every node starts labelled with itself; each round
    every node takes the minimum label among itself and its neighbours;
    fixpoint = each node labelled with its component's minimum node id.

    ``nodes``: one column ``doc_id``; ``edges``: ``(src, dst)``,
    expected symmetric. Returns ``(doc_id, cluster_id)``. Ids must be
    numeric: the convergence probe sums them as decimals.

    Scale shape: each round is one broadcast hash join (the whole
    label table broadcast onto the cached edge partitions, which are
    scanned in place) + one map-side-combined min aggregate. The
    broadcast ships all |V| labels every round, so it grows with the
    vertex count: on a mostly-distinct corpus |V| ≈ n, and at 10^12
    scale it must be gated on a size estimate and fall back to a
    shuffle join (ADVICE r6; still open). Lineage is truncated per
    round with ``localCheckpoint`` (an iterative plan otherwise grows
    one join deeper per round and re-executes from scratch at every
    convergence probe); the round count stays O(log n) worst-case /
    O(diameter) typical. The convergence probe is one scalar
    aggregate action per round — driver-side by necessity, O(1) data
    to the driver.
    """
    # materialize the edge list ONCE: every round's joins + the
    # convergence probe would otherwise re-execute the caller's edge
    # plan (for near_dup_clusters: the banded SimHash self-join)
    # 2-3× per round. Repartitioned to core count first — the edge plan
    # otherwise checkpoints with its last shuffle's partitioning (152
    # post-AQE partitions at sf1.0), and every round re-schedules that
    # many tasks for a scan whose work fits the cores exactly.
    par = edges.sparkSession.sparkContext.defaultParallelism
    edges = edges.repartition(par).localCheckpoint(eager=False)
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id")).localCheckpoint()

    def _label_sum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = _label_sum(labels)
    for _ in range(CC_MAX_ITERS):
        # labels are |V| rows next to |E| edges — broadcast them so the
        # cached edge partitions are scanned in place and the min
        # aggregate partial-combines map-side (guide §3.1); without the
        # hint the checkpointed relation has no size estimate and the
        # planner shuffles all edges every round
        nbr_min = (
            edges.join(
                F.broadcast(labels.withColumnRenamed("doc_id", "dst")), "dst"
            )
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
            .withColumnRenamed("src", "doc_id")
        )
        stepped = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                "cluster_id"
            ),
        )
        # path compression — L(v) <- L(L(v)): valid because labels are
        # node ids and L is monotone (L(u) <= u), so chasing one pointer
        # only lowers the label; rounds drop from O(eccentricity) to
        # O(log diameter) (measured 10 -> 5 on the 308-doc component)
        ptr = stepped.select(
            F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("parent")
        )
        # lazy checkpoint: the convergence probe below is the action
        # that materializes it — eager=True would cost a second job per
        # round (measured ~2× the loop's scheduling floor at toy scale)
        new_labels = (
            stepped.join(ptr, "cluster_id", "left")
            .select("doc_id", F.coalesce("parent", "cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=False)
        )
        # convergence probe: labels are monotone non-increasing, so the
        # label sum strictly decreases iff any label changed — one
        # scalar aggregate over |V| rows replaces the r5 per-round
        # equi-join of old vs new labels (half the per-round jobs).
        # Decimal sum: exact at any corpus size (1e12 ids overflow a
        # bigint sum), O(1) bytes to the driver.
        labels = new_labels
        label_sum = _label_sum(labels)
        if label_sum == prev_sum:
            return labels
        prev_sum = label_sum
    # returning partially-propagated labels would be SILENT data
    # corruption (split components with wrong keepers/sizes that only
    # surfaces as an unexplained oracle mismatch) — fail loud
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ITERS} rounds"
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_SIMHASH_SIG_SQL},
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
),
edges AS (
  SELECT da AS src, db AS dst FROM pairs
  UNION ALL
  SELECT db AS src, da AS dst FROM pairs
),
reach AS (
  SELECT doc_id AS v, doc_id AS u FROM sig
  UNION
  SELECT r.v, e.dst AS u FROM reach r JOIN edges e ON r.u = e.src
),
comp AS (SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY v),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM comp c JOIN sizes s USING (cluster_id)
"""


@register("near_dup_clusters", oracle=_CLUSTERS_ORACLE)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clusters: connected components over
    the SimHash hamming-ball pair graph, each document labelled with
    its component's minimum doc_id (the canonical keeper in first-wins
    dedup) plus the component size.

    Pairwise near-dup detection alone under-removes: A~B and B~C at
    hamming ≤ 3 often leaves A,C unpaired though all three are
    variants of one document — training-data dedup drops whole
    components, not pairs. The Spark side iterates hash-to-min
    (``connected_components``: O(diameter) shuffle rounds); the DuckDB
    twin derives the same fixpoint from first principles — a recursive
    transitive-closure CTE, MIN over the reachable set — so the two
    engines agree on every label via completely different algorithms.
    """
    sig = pin(_simhash_df(spark, sf_dir))
    # CC runs on the REPRESENTATIVE graph, not the member graph: a
    # member pair exists iff its two fingerprints are within the
    # hamming ball (pairs are functions of the fingerprints, and
    # same-fingerprint members are a clique), so member-graph
    # components are exactly the rep-graph components expanded through
    # group membership — and the component's min doc_id equals the min
    # rep_id, because every rep IS its group's min. The r5 plan
    # expanded the full member pair set (≈4M rows / 8M directed edges
    # at sf1.0) only to contract it again; the rep graph is orders of
    # magnitude smaller on duplicate-heavy corpora and identical in
    # the labels it induces.
    rep_pairs, reps, _hot = _simhash_rep_candidates(sig)
    # both edge directions from ONE pass over the screen: the executed
    # plan of a union of two rep_pairs selects reuses none of their
    # exchanges, so it ran the whole band screen twice
    edges = rep_pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("ra").alias("src"), F.col("rb").alias("dst")),
                F.struct(F.col("rb").alias("src"), F.col("ra").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    rep_labels = connected_components(
        reps.select(F.col("rep_id").alias("doc_id")), edges
    )
    labels = (
        sig.join(reps, "simhash")
        .join(
            rep_labels.withColumnRenamed("doc_id", "rep_id"), "rep_id"
        )
        .select("doc_id", "cluster_id")
    )
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    ).orderBy("doc_id")
