"""Similarity-search operator bank over `embeddings` (vec_id,
embedding: array<float>, label).

Brute-force cosine top-k is the correctness baseline; IVF bucketing is
the scale path (search only the query's cluster). All dot products are
computed with exact decimal accumulation (pqc/exprs.py ``dsum``
rationale) so the DuckDB oracle matches bit-for-bit — no float-sum
order sensitivity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pqc.exprs import hash64
from pqc.io import cached_dir, load_table, spread
from pqc.registry import pin, register
from pqc.skew import band_pairs, collapse_reps, expand_rep_pairs

KNN_K = 10
N_QUERIES = 10
# K ≈ √n (22 ≈ √500) per the standard IVF sizing rule — measured on
# this corpus vs K=8 with the query set DISJOINT from the centroid
# set: avg candidates/query 63 → 22 (3× less verify work). Both IVF
# driver queries now run TRAINED (Lloyd-refined) centroids. Measured
# recall (BASELINE.md §ivf): on the isotropic random testdata, recall
# tracks the COVERAGE FRACTION regardless of training (the worst case
# for any clustering index — there is no structure to exploit); on a
# clustered corpus of the same size/dim, training is decisive
# (recall@5 at 2-probe: 0.32 untrained → 0.70 at 1 Lloyd iter → 0.94
# at 3 iters, at ~10% coverage). At 10^12 rows: sample-train with a
# few Lloyd rounds, keep K ≈ √n, raise nprobe for recall.
IVF_N_CENTROIDS = 22
# queries sit OUTSIDE [0, K): a query that is itself a centroid gets a
# self-anchored bucket and inflates measured recall (r3 review catch)
IVF_QUERY_LO, IVF_QUERY_HI = 30, 40

_DEC = "decimal(28,12)"


def _dot(a: Column, b: Column) -> Column:
    """Exact (order-independent) dot product of two array<float> cols.

    Elements are widened float→double (exact), multiplied pairwise in
    double (deterministic), accumulated in decimal (associative; the
    (29,12) sum is cast back to (28,12) losslessly — no scale rounding
    occurs because precision stays under 38). Stays array-local — no
    explode, no shuffle.
    """
    prods = F.zip_with(
        a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC)
    )
    return F.aggregate(
        prods, F.lit(0).cast(_DEC), lambda acc, v: (acc + v).cast(_DEC)
    ).cast("double")


def _norm2(a: Column) -> Column:
    return _dot(a, a)


def _dot_fast(a: Column, b: Column) -> Column:
    """Cheap engine-local double dot product for PRESCREENING only.

    A left-to-right float64 fold — ~4× cheaper than the decimal fold
    but order-sensitive, so it can never feed an oracle-checked value.
    Used as the screen in screen→confirm: for unit-norm d=64 vectors
    the fold's rounding error is < d·2⁻⁵⁰ ≈ 6e-14, so screening at
    (threshold − PRESCREEN_EPS) with PRESCREEN_EPS = 1e-9 provably
    keeps every pair the exact confirm would accept — the prescreen
    changes cost, never results.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


PRESCREEN_EPS = 1e-9

# chunk size for the blocked-matmul candidate screen below: ~1024
# vectors/chunk keeps a chunk pair under ~1 MB of Arrow payload while
# each task's matmul (1024² × d flops) stays far above the Python
# dispatch overhead it amortises
PAIR_CHUNK = 1024
PAIR_CHUNK_MAX = 64  # cap on chunk count: ≤ 64·65/2 = 2080 block tasks


def _numpy_pair_candidates(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b) with id_a < id_b and BLAS-approx cosine ≥
    threshold − PRESCREEN_EPS — a provable superset of the exact pairs.

    This is the screen of the screen→confirm ladder run as a blocked
    numpy matmul instead of a per-pair Catalyst array fold (guide §4.2:
    hand whole batches to vectorized native code). The engine-local
    fold (`_dot_fast`) costs ~15 µs per pair in codegen; one
    1024×1024×64 block is ~130 MFLAP of dgemm — microseconds per
    thousand pairs. Same slack argument as `_dot_fast`: float64 matmul
    error for unit-scale d=64 vectors is < d·2⁻⁵² ≈ 1.5e-14 ≪
    PRESCREEN_EPS, so screening at (threshold − eps) keeps every pair
    the decimal-exact confirm would accept — cost changes, results
    never.

    Shape: chunk vectors by pmod(id, C) → collect each chunk to one row
    → broadcast self-join of chunk rows (C(C+1)/2 block tasks, the only
    nested loop is over ≤ C² tiny packed rows) → mapInPandas computes
    the block matmul and emits only surviving id pairs. Each unordered
    pair lands in exactly one (ck ≤ ck_b) block, so the output is
    duplicate-free by construction. C adapts to corpus size
    (ceil(n/PAIR_CHUNK), capped) — never a constant tuned to one scale.
    """
    import math

    spark = emb.sparkSession
    keyed = emb.select(F.col(id_col).alias("id"), F.col(emb_col).alias("e"))
    n = keyed.count()
    if n == 0:
        return spark.createDataFrame([], "id_a long, id_b long")
    c = max(1, min(PAIR_CHUNK_MAX, math.ceil(n / PAIR_CHUNK)))
    packed = pin(
        keyed.groupBy(F.pmod(F.col("id"), F.lit(c)).alias("ck")).agg(
            F.collect_list(F.struct("id", "e")).alias("rows")
        )
    )
    right = packed.select(F.col("ck").alias("ck_b"), F.col("rows").alias("rows_b"))
    blocks = packed.join(F.broadcast(right), F.col("ck") <= F.col("ck_b"))
    n_blocks = c * (c + 1) // 2
    par = spark.sparkContext.defaultParallelism
    blocks = blocks.repartition(min(n_blocks, 2 * par))
    thr = threshold - PRESCREEN_EPS

    def block_screen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs_a: list = []
            outs_b: list = []
            for rows_a, rows_b, same in zip(
                pdf["rows"], pdf["rows_b"], (pdf["ck"] == pdf["ck_b"]).tolist()
            ):
                ids_a = np.fromiter((r["id"] for r in rows_a), np.int64, len(rows_a))
                mat_a = np.asarray([r["e"] for r in rows_a], dtype=np.float64)
                na = np.linalg.norm(mat_a, axis=1)
                na[na == 0.0] = np.inf  # zero vectors can never pass the confirm
                if same:
                    ids_b, mat_b, nb = ids_a, mat_a, na
                else:
                    ids_b = np.fromiter(
                        (r["id"] for r in rows_b), np.int64, len(rows_b)
                    )
                    mat_b = np.asarray([r["e"] for r in rows_b], dtype=np.float64)
                    nb = np.linalg.norm(mat_b, axis=1)
                    nb[nb == 0.0] = np.inf
                sim = (mat_a / na[:, None]) @ (mat_b / nb[:, None]).T
                ia, ib = np.nonzero(sim >= thr)
                pa, pb = ids_a[ia], ids_b[ib]
                keep = pa < pb
                lo, hi = (pa, pb) if same else (
                    np.minimum(pa, pb), np.maximum(pa, pb)
                )
                if not same:
                    keep = pa != pb
                outs_a.append(lo[keep])
                outs_b.append(hi[keep])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(outs_a) if outs_a else np.array([], np.int64),
                    "id_b": np.concatenate(outs_b) if outs_b else np.array([], np.int64),
                }
            )

    return blocks.select("ck", "ck_b", "rows", "rows_b").mapInPandas(
        block_screen, "id_a long, id_b long"
    )


def _dot_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`_dot` via positional list indexing."""
    return (
        f"(SELECT CAST(SUM(CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
        f" AS DECIMAL(38,12))) AS DOUBLE)"
        f" FROM UNNEST(generate_series(1, len({a}))) AS g(i))"
    )


def _with_norm(emb: DataFrame) -> DataFrame:
    """``emb`` + its per-vector norm ``nrm``, computed once per vector
    (never per pair)."""
    return emb.withColumn("nrm", F.sqrt(_norm2(F.col("embedding"))))


def _emb_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + ``nrm``. spread(): the single-row-group parquet
    otherwise pins the decimal norm/assignment folds to one scan task
    (guide §2.5)."""
    return _with_norm(spread(load_table(spark, sf_dir, "embeddings")))


def _top_k(scored: DataFrame, k: int, score: Column) -> DataFrame:
    """The ``k`` best rows per ``qid`` with their rank ``rk``: a
    row_number over ``qid`` ordered ``score DESC, cid ASC`` — the
    oracles' ranking, a total order because cid is unique per qid."""
    w = W.partitionBy("qid").orderBy(score.desc(), F.col("cid").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


_KNN_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cid, embedding AS ce, label FROM embeddings),
scored AS (
  SELECT qid, cid, label,
         {_dot_sql('qe', 'ce')} /
           (sqrt({_dot_sql('qe', 'qe')}) * sqrt({_dot_sql('ce', 'ce')})) AS cos
  FROM q JOIN c ON qid <> cid
)
SELECT qid, cid, label, ROUND(cos, 8) AS cosine, rk FROM (
  SELECT qid, cid, label, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rk
  FROM scored
) WHERE rk <= {KNN_K}
"""


@register("knn_brute_force_cosine", oracle=_KNN_ORACLE)
def knn_brute_force_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    all candidates — a broadcast nested-loop that scales linearly in
    corpus size and is the exactness baseline for the IVF variant.
    Dot products run as JVM array folds (zip_with + aggregate), not
    UDFs; ranking is one window shuffle on qid.
    """
    # norms once per vector BEFORE the pair join (a per-pair recompute
    # triples the O(d) decimal folds — measured as the #1 testdata cost
    # in BENCH_r01; same value either way so the oracle hash holds)
    emb = _emb_with_norm(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("nq"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        "label",
        F.col("nrm").alias("nc"),
    )
    # screen→confirm: rank ALL pairs by the cheap double fold, keep the
    # fast top-K plus everything within 2·PRESCREEN_EPS of the fast Kth
    # value — a provable superset of the exact top-K (any pair outside
    # it is > eps below K pairs whose exact cosine beats it; see
    # _dot_fast's error bound) — then compute the decimal-exact cosine
    # only for survivors. Exact ranks over survivors equal global ranks
    # for rk ≤ K, so the output is bit-identical to the r5 all-pairs
    # decimal plan at ~1/K of the decimal-fold work.
    fast = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "acos", _dot_fast(F.col("qe"), F.col("ce")) / (F.col("nq") * F.col("nc"))
        )
    )
    wfast = W.partitionBy("qid").orderBy(F.col("acos").desc(), F.col("cid").asc())
    ranked = fast.withColumn("rkf", F.row_number().over(wfast))
    kth = F.max(F.when(F.col("rkf") == KNN_K, F.col("acos"))).over(
        W.partitionBy("qid")
    )
    surv = ranked.withColumn("kth", kth).filter(
        (F.col("rkf") <= KNN_K)
        | (F.col("acos") >= F.col("kth") - 2 * PRESCREEN_EPS)
    )
    scored = surv.withColumn(
        "cos", _dot(F.col("qe"), F.col("ce")) / (F.col("nq") * F.col("nc"))
    )
    return _top_k(scored, KNN_K, F.col("cos")).select(
        "qid", "cid", "label", F.round("cos", 8).alias("cosine"), "rk"
    )


def _argmax_assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, centroid_id): cosine-argmax assignment as a map-side-
    combinable ``max_by`` AGGREGATE instead of a sort window — at
    corpus scale a window over n×K scored rows costs shuffle + sort,
    while max_by partial-combines inside each scan task and shuffles
    one row per vector. Deterministic despite ties-in-cosine because
    the ordering struct ends with the (unique) negated centroid_id —
    the total order has no ties, matching the oracle's
    ``ORDER BY acos DESC, centroid_id ASC`` row_number exactly."""
    return (
        emb.crossJoin(F.broadcast(cent))
        .withColumn(
            "acos",
            _dot(F.col("embedding"), F.col("ce")) / (F.col("nrm") * F.col("cn")),
        )
        .groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(centroid_id, struct(acos, -centroid_id))"
            ).alias("centroid_id")
        )
    )


def _seed_centroids(emb: DataFrame) -> DataFrame:
    """(centroid_id, ce, cn): the K ≈ √n deterministic seed centroids,
    the first K vectors of ``emb`` (which carries ``nrm``)."""
    return emb.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )


EMB_DIM = 64
IVF_NPROBE = 2

# trained-centroid CTEs shared by the IVF oracles: one Lloyd
# iteration from the deterministic init (decimal-exact per-dimension
# means so both engines produce bit-identical centroids)
_TRAINED_CENT_SQL = f"""
cent0 AS (SELECT vec_id AS centroid_id, embedding AS ce
          FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}),
assign0 AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, cent0.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dot_sql('e.embedding', 'cent0.ce')} /
                      (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                       * sqrt({_dot_sql('cent0.ce', 'cent0.ce')})) DESC,
                      cent0.centroid_id ASC
           ) AS rk
    FROM embeddings e CROSS JOIN cent0
  ) WHERE rk = 1
),
dims AS (
  SELECT a.centroid_id, g.i,
         CAST(SUM(CAST(CAST(e.embedding[g.i] AS DOUBLE) AS DECIMAL(38,12)))
              AS DOUBLE) / COUNT(*) AS v
  FROM embeddings e
  JOIN assign0 a ON e.vec_id = a.vec_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS g(i)
  GROUP BY a.centroid_id, g.i
),
cent AS (SELECT centroid_id, list(v ORDER BY i) AS ce FROM dims GROUP BY centroid_id)
"""


def _scored_assign_sql(src: str) -> str:
    """``scored_assign``: every vector of ``src`` ranks the centroids of
    the ``cent`` CTE by cosine (``rk`` 1 = its bucket; ties broken by
    centroid_id, as in :func:`_argmax_assign`)."""
    return f"""scored_assign AS (
  SELECT e.vec_id, cent.centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_dot_sql('e.embedding', 'cent.ce')} /
                    (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                     * sqrt({_dot_sql('cent.ce', 'cent.ce')})) DESC,
                    cent.centroid_id ASC
         ) AS rk
  FROM {src} e CROSS JOIN cent
)"""


def _ivf_oracle(nprobe: int) -> str:
    """Twin of :func:`_ivf_topk` → (qid, centroid_id, cid, cosine, rk):
    trained centroids, the corpus bucketed at rk 1, each query searching
    its ``nprobe`` best buckets."""
    return f"""
WITH {_TRAINED_CENT_SQL},
{_scored_assign_sql('embeddings')},
bucket AS (
  SELECT e.vec_id AS cid, e.embedding AS ce2, s.centroid_id
  FROM embeddings e JOIN scored_assign s ON e.vec_id = s.vec_id AND s.rk = 1
),
q AS (
  SELECT e.vec_id AS qid, e.embedding AS qe, s.centroid_id
  FROM embeddings e JOIN scored_assign s ON e.vec_id = s.vec_id AND s.rk <= {nprobe}
  WHERE e.vec_id >= {IVF_QUERY_LO} AND e.vec_id < {IVF_QUERY_HI}
)
SELECT qid, centroid_id, cid, ROUND(cos, 8) AS cosine, rk FROM (
  SELECT q.qid, q.centroid_id, b.cid,
         {_dot_sql('q.qe', 'b.ce2')} /
           (sqrt({_dot_sql('q.qe', 'q.qe')}) * sqrt({_dot_sql('b.ce2', 'b.ce2')})) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY {_dot_sql('q.qe', 'b.ce2')} /
             (sqrt({_dot_sql('q.qe', 'q.qe')}) * sqrt({_dot_sql('b.ce2', 'b.ce2')})) DESC,
             b.cid ASC
         ) AS rk
  FROM q JOIN bucket b ON q.centroid_id = b.centroid_id AND q.qid <> b.cid
) WHERE rk <= 5
"""


def _lloyd_refined_centroids(emb: DataFrame) -> DataFrame:
    """One Lloyd iteration from the deterministic seed centroids (the
    DuckDB oracle mirrors exactly one round): assign every vector
    (cosine argmax), then per-dimension decimal-exact means →
    (centroid_id, ce, cn). The plan (broadcast assign → one posexplode
    aggregate) is map-side-combinable throughout."""
    assign = _argmax_assign(emb, _seed_centroids(emb))
    dims = (
        emb.join(assign, "vec_id")
        .select("centroid_id", F.posexplode("embedding").alias("i", "val"))
        .groupBy("centroid_id", "i")
        .agg(
            (
                F.sum(F.col("val").cast("double").cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("v")
        )
    )
    return (
        dims.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("i", "v"))).alias("sv"))
        .select("centroid_id", F.transform("sv", lambda x: x["v"]).alias("ce"))
        .withColumn("cn", F.sqrt(_norm2(F.col("ce"))))
    )


# cache-key token for the persisted IVF index: bump on ANY change to
# _lloyd_refined_centroids / seed selection, or warm caches silently
# serve centroids trained by the old code
_IVF_INDEX_VERSION = "v3"


def _cached_trained_centroids(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> DataFrame:
    """Trained centroids with the production build/query split: train
    ONCE per embeddings identity and persist the index to
    parquet; every subsequent ANN query reads the ~K-row index instead
    of re-running Lloyd. Centroid values are decimal-exact and fully
    deterministic, and parquet round-trips doubles bit-exactly, so the
    cached index is indistinguishable from a fresh training run — the
    oracles (which re-derive training in SQL) stay hash-green either
    way. Keyed on file size+mtime like the other /tmp/pqc_fixtures
    caches (the documented delete-to-reset ritual applies), PLUS a
    training-algorithm version token — bump _IVF_INDEX_VERSION with
    any _lloyd_refined_centroids change or stale indexes serve old
    centroids silently. Published atomically
    (:func:`pqc.io.cached_dir`)."""
    import os

    src = f"{sf_dir}/embeddings.parquet"
    st = os.stat(src)
    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{st.st_size}_{int(st.st_mtime)}_k{IVF_N_CENTROIDS}"
        f"_{_IVF_INDEX_VERSION}"
    )
    path = cached_dir(
        f"/tmp/pqc_fixtures/ivf_cent_{key}",
        lambda tmp: _lloyd_refined_centroids(emb).write.mode("overwrite").parquet(tmp),
    )
    return spark.read.parquet(path)


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Top-5 IVF neighbours of each query over its ``nprobe`` nearest
    TRAINED buckets → (qid, centroid_id, cid, cosine, rk).

    The corpus is bucketed by the map-side-combined ``max_by`` argmax
    (:func:`_argmax_assign`: one shuffled row per vector, no sort over
    n×K scored rows). Only the 10 query vectors rank all K centroids,
    with a window ordered ``acos DESC, centroid_id ASC`` as in the
    oracle; rank 1 is the query's own bucket. Each cid lives in one
    bucket, so a query meets every candidate at most once across its
    probes."""
    emb = pin(_emb_with_norm(spark, sf_dir))
    cent = _cached_trained_centroids(spark, sf_dir, emb)
    bucket = emb.join(_argmax_assign(emb, cent), "vec_id").select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("nc"),
        "centroid_id",
    )
    probe = W.partitionBy("qid").orderBy(
        F.col("acos").desc(), F.col("centroid_id").asc()
    )
    q = (
        emb.filter((F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("nq"),
        )
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "acos", _dot(F.col("qe"), F.col("ce")) / (F.col("nq") * F.col("cn"))
        )
        .withColumn("probe", F.row_number().over(probe))
        .filter(F.col("probe") <= nprobe)
        .select("qid", "qe", "nq", "centroid_id")
    )
    scored = (
        bucket.join(F.broadcast(q), "centroid_id")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "cos", _dot(F.col("qe"), F.col("ce")) / (F.col("nq") * F.col("nc"))
        )
    )
    return _top_k(scored, 5, F.col("cos")).select(
        "qid", "centroid_id", "cid", F.round("cos", 8).alias("cosine"), "rk"
    )


@register("ivf_ann_topk", oracle=_ivf_oracle(1))
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbours with TRAINED centroids,
    single-probe: one Lloyd refinement of the deterministic seed
    (r3 shipped untrained first-K-vector anchors — measured recall@5
    was 0.24 at 1-probe, unusable; training is the fix, and the
    decimal-exact per-dimension means keep both engines bit-identical),
    vectors bucketed by nearest trained centroid, each query searches
    only its own bucket.

    The scale story: training runs on a sample (here the corpus),
    assignment is a broadcast join against K ≈ √n centroids (linear
    scan, no shuffle of embeddings beyond the bucket-id attach);
    search joins bucket-mates on centroid_id — the candidate set
    shrinks ~K× vs brute force. Same two-stage screen→confirm shape
    as the reference prescreen (SURVEY §3.3). `ivf_multiprobe_topk`
    adds the nprobe recall dial on the same trained index.
    """
    return _ivf_topk(spark, sf_dir, 1)


@register(
    "ivf_multiprobe_topk",
    oracle=f"SELECT qid, cid, cosine, rk FROM ({_ivf_oracle(IVF_NPROBE)})",
)
def ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat with TRAINED centroids and multi-probe — the corpus-
    scale ANN path the plain `ivf_ann_topk` approximates: one Lloyd
    refinement of the deterministic seed (per-dimension decimal-exact
    means keep both engines bit-identical), vectors bucketed by their
    nearest trained centroid, queries probe their nearest two
    centroids (IVF_NPROBE) and search both buckets. Multi-probe
    recovers most boundary-straddling neighbours that single-probe
    misses, at 2/K of the brute-force candidate set; at 100 TB the
    same plan trains on a sample (k≈√n, a few rounds) and the probe
    count becomes the recall/latency dial. The trained index comes
    from the persisted build/query-split cache
    (_cached_trained_centroids) shared with ivf_ann_topk."""
    return _ivf_topk(spark, sf_dir, IVF_NPROBE).drop("centroid_id")


NEAR_DUP_COS = 0.95
NEAR_DUP_SCOPE = 300  # bounded pair-search scope for the oracle tier

# Seeded near-duplicates: the raw `embeddings` testdata (500 random
# unit vectors) contains NO pair with cos >= 0.95, so the near-dup
# driver rows hash-matched on 0 rows in r3 — vacuous evidence (both
# engines agreeing that nothing matches proves nothing about the pair
# logic). Both engines therefore extend the corpus with deterministic
# near-dup copies: for each seed id s, vector s+ND_COPY_OFFSET is the
# seed's embedding shifted by +0.01 per element (cos ≈ 0.997 against
# unit-norm seeds — above threshold, far from the boundary). Pure
# IEEE-double arithmetic on identical inputs, so Spark and DuckDB
# construct bit-identical vectors and the value hash stays exact.
ND_SEED_IDS = (3, 41, 117, 188, 226, 299)  # all < NEAR_DUP_SCOPE
ND_COPY_OFFSET = 10_000
ND_PERTURB = 0.01

_ND_SEED_LIST = ", ".join(str(s) for s in ND_SEED_IDS)

# DuckDB twin of _augmented_embeddings (originals widened float->double
# so both sides run the same double arithmetic)
_AUG_EMB_SQL = f"""
aug AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding, label
  FROM embeddings
  UNION ALL
  SELECT vec_id + {ND_COPY_OFFSET},
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) + CAST({ND_PERTURB} AS DOUBLE)),
         label
  FROM embeddings WHERE vec_id IN ({_ND_SEED_LIST})
)
"""


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ deterministic near-dup copies (see ND_SEED_IDS)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = spread(emb).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )
    copies = emb.filter(F.col("vec_id").isin(*ND_SEED_IDS)).select(
        (F.col("vec_id") + ND_COPY_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(ND_PERTURB)
        ).alias("embedding"),
        "label",
    )
    return base.unionByName(copies)


def _cosine_confirm(
    cand: DataFrame, vecs: DataFrame, on: tuple[str, ...] = ()
) -> DataFrame:
    """The confirm step of every embedding near-dup ladder →
    (id_a, id_b, *on, cosine).

    ``cand`` holds screened (id_a, id_b) pairs; ``vecs`` is
    (vec_id, embedding, nrm, *on). Side b joins on ``["id_b", *on]``,
    so a pair whose sides disagree on ``on`` (e.g. two buckets) drops
    out in the join. Survivors pass the ``_dot_fast`` double-fold screen
    at ``NEAR_DUP_COS − PRESCREEN_EPS`` (a provable superset, see
    ``_dot_fast``), then the decimal-exact cosine decides and is
    rounded to 8 digits, as in every oracle."""

    def side(s: str) -> DataFrame:
        return vecs.select(
            F.col("vec_id").alias(f"id_{s}"),
            F.col("embedding").alias(f"e{s}"),
            F.col("nrm").alias(f"n{s}"),
            *on,
        )

    def cos(dot) -> Column:
        return dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))

    return (
        cand.join(side("a"), "id_a")
        .join(side("b"), ["id_b", *on])
        .filter(cos(_dot_fast) >= NEAR_DUP_COS - PRESCREEN_EPS)
        .withColumn("cos", cos(_dot))
        .filter(F.col("cos") >= NEAR_DUP_COS)
        .select("id_a", "id_b", *on, F.round("cos", 8).alias("cosine"))
    )


def _in_bucket_near_dups(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(id_a, id_b, centroid_id, cosine): near-dup pairs that share
    their nearest centroid in ``cent``.

    The blocked-matmul screen runs over the WHOLE corpus: its survivors
    are a superset of every pair with exact cos ≥ 0.95, so survivors ∩
    same-bucket ≡ the oracle's in-bucket pair set. The exact assignment
    then runs only for the candidate ids (the argmax is per-vector, so
    restricting its input cannot change any assigned value)."""
    cand = pin(_numpy_pair_candidates(emb, NEAR_DUP_COS))
    ids = (
        cand.select(F.col("id_a").alias("vec_id"))
        .unionByName(cand.select(F.col("id_b").alias("vec_id")))
        .dropDuplicates()
    )
    sub = emb.join(ids, "vec_id", "left_semi")
    side = sub.join(_argmax_assign(sub, cent), "vec_id")
    return _cosine_confirm(cand, side, on=("centroid_id",))


_EMB_ND_ORACLE = f"""
WITH {_AUG_EMB_SQL},
e AS (SELECT vec_id, embedding FROM aug
      WHERE vec_id < {NEAR_DUP_SCOPE} OR vec_id >= {ND_COPY_OFFSET}),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_dot_sql('a.embedding', 'b.embedding')} /
           (sqrt({_dot_sql('a.embedding', 'a.embedding')})
            * sqrt({_dot_sql('b.embedding', 'b.embedding')})) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos, 8) AS cosine
FROM pairs WHERE cos >= {NEAR_DUP_COS}
"""


@register("embedding_near_dup_pairs", oracle=_EMB_ND_ORACLE)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.95) — the
    embedding leg of the dedup family. Exact pairwise on a bounded
    scope here (oracle-checkable); the corpus-scale path is the IVF
    bucket prefilter (`ivf_ann_topk`): assign → pair only within
    buckets → exact-verify survivors, the same screen→confirm shape
    as MinHash-LSH. The corpus carries seeded near-dup copies (see
    ND_SEED_IDS) so the driver row checks real pairs, not an empty
    set — r3's 0-row hash match was vacuous evidence."""
    emb = pin(
        _with_norm(
            _augmented_embeddings(spark, sf_dir).filter(
                (F.col("vec_id") < NEAR_DUP_SCOPE)
                | (F.col("vec_id") >= ND_COPY_OFFSET)
            )
        )
    )
    # screen→confirm: the blocked-matmul screen prunes the ~n²/2
    # candidate space to near-threshold pairs with provable slack
    # (see _numpy_pair_candidates — the r5 per-pair `_dot_fast` fold
    # was the same screen at ~15 µs/pair, quadratic in Catalyst); the
    # decimal-exact oracle-grade cosine is then computed only for
    # survivors, so the result set is bit-identical.
    return _cosine_confirm(_numpy_pair_candidates(emb, NEAR_DUP_COS), emb)


# twin of _in_bucket_near_dups over the augmented corpus, given the
# ``cent`` CTE: rank → same-bucket pairs → decimal cosine confirm
_IN_BUCKET_ND_SQL = f"""{_scored_assign_sql('aug')},
side AS (
  SELECT e.vec_id, e.embedding, s.centroid_id
  FROM aug e JOIN scored_assign s ON e.vec_id = s.vec_id AND s.rk = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.centroid_id,
         {_dot_sql('a.embedding', 'b.embedding')} /
           (sqrt({_dot_sql('a.embedding', 'a.embedding')})
            * sqrt({_dot_sql('b.embedding', 'b.embedding')})) AS cos
  FROM side a JOIN side b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, centroid_id, ROUND(cos, 8) AS cosine
FROM pairs WHERE cos >= {NEAR_DUP_COS}
"""

_EMB_ND_BUCKETED_ORACLE = f"""
WITH {_AUG_EMB_SQL},
cent AS (SELECT vec_id AS centroid_id, embedding AS ce
         FROM aug WHERE vec_id < {IVF_N_CENTROIDS}),
{_IN_BUCKET_ND_SQL}"""


@register("embedding_near_dup_bucketed", oracle=_EMB_ND_BUCKETED_ORACLE)
def embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale embedding near-dup (cos ≥ 0.95), UNBOUNDED scope:
    IVF-bucket prefilter → in-bucket pairs → exact cosine verify — the
    screen→confirm shape that replaces the exact all-pairs baseline
    (`embedding_near_dup_pairs`, kept as the bounded exactness control).

    Scale story: pair generation is an equi-join on centroid_id, so
    candidates shrink ~K× vs n²/2 (and with trained/multi-probe
    centroids, near-linearly in cluster balance); norms attach once per
    vector before the join. Recall trade: a pair straddling two
    centroids is missed — standard single-probe IVF semantics, and the
    oracle mirrors the same bucketing so the contract is explicit.
    Runs over the seeded-near-dup corpus (ND_SEED_IDS) so the driver
    row checks real in-bucket pairs rather than an empty set."""
    emb = pin(_with_norm(_augmented_embeddings(spark, sf_dir)))
    return _in_bucket_near_dups(emb, _seed_centroids(emb))


# the trained-centroid chain retargeted at the augmented corpus CTE
_EMB_ND_TRAINED_ORACLE = f"""
WITH {_AUG_EMB_SQL},
{_TRAINED_CENT_SQL.replace('FROM embeddings', 'FROM aug')},
{_IN_BUCKET_ND_SQL}"""


@register("embedding_near_dup_trained", oracle=_EMB_ND_TRAINED_ORACLE)
def embedding_near_dup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_near_dup_bucketed` with TRAINED buckets: one
    decimal-exact Lloyd refinement over the (augmented) corpus replaces
    the raw seed anchors, then in-bucket pairing + double-prescreen →
    decimal confirm as before. Closes the r4 note that the bucketed
    near-dup still used untrained seed assignment while the kNN path
    trained — on clustered corpora trained buckets concentrate true
    neighbours (recall table in BASELINE.md §ivf), so the prefilter
    misses fewer straddling pairs at the same probe budget. The oracle
    mirrors the full train→assign→pair→confirm chain in SQL."""
    # training stays full-corpus (the centroid VALUES depend on every
    # vector); only the post-training assignment shrinks to the blocked
    # screen's candidate ids — see _in_bucket_near_dups
    emb = pin(_with_norm(_augmented_embeddings(spark, sf_dir)))
    return _in_bucket_near_dups(emb, _lloyd_refined_centroids(emb))


_NORM_ORACLE = f"""
SELECT label, COUNT(*) AS n_vectors,
       ROUND(CAST(SUM(CAST(nrm AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 8)
         AS avg_norm,
       ROUND(MIN(nrm), 8) AS min_norm,
       ROUND(MAX(nrm), 8) AS max_norm
FROM (SELECT label, sqrt({_dot_sql('embedding', 'embedding')}) AS nrm FROM embeddings)
GROUP BY label
"""


@register("embedding_norm_stats", oracle=_NORM_ORACLE)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm profile — the stats-layer entry for
    vector columns (degenerate-embedding detection at corpus scale:
    zero / exploding norms are data-quality violations)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    nrm = F.sqrt(_norm2(F.col("embedding")))
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("nrm").cast(_DEC)).cast("double") / F.count(F.lit(1)), 8
            ).alias("avg_norm"),
            F.round(F.min("nrm"), 8).alias("min_norm"),
            F.round(F.max("nrm"), 8).alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# SRP-LSH (sign-random-projection) bucketed near-dup — the
# data-INDEPENDENT LSH alternative to the IVF (trained) bucketing above
# ---------------------------------------------------------------------------

SRP_BITS = 16
SRP_BANDS = 2  # 2 × 8-bit bands
SRP_BAND_BITS = SRP_BITS // SRP_BANDS


def _srp_planes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, derived from md5 so the
    SAME literal constants are embedded in the Spark plan and the
    DuckDB SQL — portability by construction (the MinHash XOR-salt
    trick, applied to geometry). Components are k/1000 rationals: both
    engines parse the identical decimal literal to the identical
    double."""
    import hashlib

    planes = []
    for i in range(SRP_BITS):
        row = []
        for j in range(EMB_DIM):
            h = int(hashlib.md5(f"srp:{i}:{j}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


_SRP_PLANES = _srp_planes()


def _srp_code(v: Column) -> Column:
    """16-bit SRP code: bit i = [dot(v, plane_i) > 0]. Projections use
    the decimal-exact fold so the sign — and therefore every bucket —
    is bit-identical across engines."""
    bits = []
    for i, row in enumerate(_SRP_PLANES):
        plane = F.array(*[F.lit(c) for c in row])
        bits.append(
            F.when(_dot(v, plane) > 0, F.lit(1 << i).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    code = bits[0]
    for b in bits[1:]:
        code = code + b
    return code


def _srp_code_sql(v: str) -> str:
    terms = []
    for i, row in enumerate(_SRP_PLANES):
        lit = "[" + ", ".join(repr(c) for c in row) + "]"
        terms.append(
            f"CASE WHEN {_dot_sql(v, lit)} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
        )
    return "(" + " + ".join(terms) + ")"


_SRP_ND_ORACLE = f"""
WITH {_AUG_EMB_SQL},
sig AS (SELECT vec_id, embedding, {_srp_code_sql('embedding')} AS code FROM aug),
bk AS (
  SELECT vec_id, embedding, g.b AS band_idx,
         (code >> (g.b * {SRP_BAND_BITS})) & {(1 << SRP_BAND_BITS) - 1} AS band_val
  FROM sig, UNNEST(generate_series(0, {SRP_BANDS - 1})) AS g(b)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS ea, b.embedding AS eb
  FROM bk a JOIN bk b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos, 8) AS cosine FROM (
  SELECT id_a, id_b,
         {_dot_sql('ea', 'eb')} /
           (sqrt({_dot_sql('ea', 'ea')}) * sqrt({_dot_sql('eb', 'eb')})) AS cos
  FROM cand
) WHERE cos >= {NEAR_DUP_COS}
"""


@register("srp_lsh_near_dup", oracle=_SRP_ND_ORACLE)
def srp_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup (cos ≥ 0.95) via sign-random-projection LSH —
    the data-INDEPENDENT bucketing alternative to the IVF prefilter
    (`embedding_near_dup_bucketed`): 16 fixed hyperplanes give a 16-bit
    code whose per-bit disagreement probability is θ/π, banded 2×8 so
    near-identical vectors (seeded pairs: θ ≈ 4.4°, per-bit agreement
    ≈ 0.975, P[8-bit band clean] ≈ 0.82 each, P[miss both] ≈ 0.033)
    almost surely share a
    band while random pairs (θ ≈ 90°) collide with P ≈ 2·2⁻⁸ ≈ 0.008.

    IVF-vs-SRP trade at corpus scale: SRP needs no training and its
    buckets are fixed-cost to compute (16 array folds per row, no
    assignment join), but bucket occupancy follows the data's angular
    distribution; IVF adapts buckets to the corpus (better candidate
    efficiency on clustered data — see the coverage-law table in
    BASELINE.md) at the price of sample-training. Candidates come from
    an equi-join on (band_idx, band_val) — never all-pairs — with the
    duplicate-degeneracy guards of the MinHash path (identical-vector
    collapse + hot-bucket cap, :func:`_srp_rep_candidates`), and the
    double-prescreen → decimal-confirm ladder prices the survivors."""
    return _srp_pairs(_augmented_embeddings(spark, sf_dir))


def _srp_rep_candidates(emb: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Confirmed SRP near-dup pairs among DISTINCT vectors (r4 verdict
    #1: the band self-join was uncapped). Identical vectors — the
    dominant mass of a duplicate-heavy corpus, and all landing in ONE
    bucket since the code is a function of the vector — collapse to
    min(vec_id) representatives before banding; the representative
    band table then goes through the hot-bucket cap
    (:func:`pqc.skew.band_pairs`: bucket sizes counted, hot buckets
    diverted before collection) as the backstop for
    near-identical-but-distinct pileups, and the band collisions go
    through :func:`_cosine_confirm`. Exact: cosine is a function of the
    two vectors alone, so member pairs inherit their representatives'
    score (reconstructed by :func:`pqc.skew.expand_rep_pairs` in
    :func:`_srp_pairs`).

    Returns ``(rep_pairs, membership, hot)``: rep_pairs is
    ``(id_a, id_b, cosine)`` over representatives; membership is
    ``(vkey, vec_id, rep_id)`` (:func:`pqc.skew.collapse_reps`).
    """
    vkey = hash64(
        F.concat_ws(",", F.transform(F.col("embedding"), lambda x: x.cast("string")))
    )
    keyed = emb.select("vec_id", "embedding", vkey.alias("vkey"))
    reps, membership = collapse_reps(keyed, "vec_id", "vkey")
    # pinned: feeds the SRP codes AND the post-dedup vector re-attach
    rep_vecs = pin(
        _with_norm(
            keyed.join(
                reps.select(F.col("rep_id").alias("vec_id")), "vec_id", "left_semi"
            )
        )
    )
    sig = rep_vecs.select("vec_id", _srp_code(F.col("embedding")).alias("code"))
    # the band table and its self-join carry ONLY (vec_id, band) — the
    # r5 plan shuffled each vector's 512-byte embedding through the
    # band join and the pair dedup (~60× the bytes of the id pair);
    # vectors re-attach once per surviving distinct pair (guide §2.3:
    # shuffle keys and metadata, move payloads once)
    bk = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        (
                            F.shiftright(F.col("code"), b * SRP_BAND_BITS)
                            .bitwiseAND(F.lit((1 << SRP_BAND_BITS) - 1))
                        ).alias("band_val"),
                    )
                    for b in range(SRP_BANDS)
                ]
            )
        ).alias("band"),
    ).select("vec_id", "band.band_idx", "band.band_val")
    pairs, hot = band_pairs(bk, ("band_idx", "band_val"), F.struct("vec_id"), "vec_id")
    id_pairs = pairs.select(
        F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
    ).dropDuplicates(["id_a", "id_b"])
    return _cosine_confirm(id_pairs, rep_vecs), membership, hot


def _srp_pairs(emb: DataFrame) -> DataFrame:
    rep_pairs, membership, _hot = _srp_rep_candidates(emb)
    # within-group pairs: identical vectors, scored with the SAME
    # expression the oracle evaluates for them — dot(v,v)/(√·√) on the
    # group's vector (decimal fold + IEEE sqrt: bit-identical both
    # engines; never synthesized as a 1.0 literal)
    # threshold on the UNROUNDED self-cosine (mirroring the rep-pair /
    # cross path and the oracle), then round for output — filtering on
    # the rounded value was a latent parity trap for any future
    # threshold within 5e-9 of a representable cosine (r5 ADVICE)
    self_cos = _dot(F.col("embedding"), F.col("embedding")) / (
        F.sqrt(_norm2(F.col("embedding"))) * F.sqrt(_norm2(F.col("embedding")))
    )
    within = (
        emb.select(F.col("vec_id").alias("rep_id"), self_cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= NEAR_DUP_COS)
        .select("rep_id", F.round("cos_raw", 8).alias("cosine"))
    )
    return expand_rep_pairs(
        rep_pairs, pin(membership), "vec_id", ("id_a", "id_b"), within
    )


# ---------------------------------------------------------------------------
# Scalar int8 quantization + quantized kNN — the memory-bandwidth lever
# ---------------------------------------------------------------------------

QUANT_BITS_MAX = 127

# Quantization rule, written as FLOOR(x + 0.5) on BOTH engines so no
# engine-specific round-half semantics can drift: per-vector scale
# s = maxabs/127, q_j = floor(v_j/s + 0.5) clipped to [-127, 127].
# The quantized dot Σ q_a·q_b is INTEGER arithmetic — bit-exact on any
# engine — and the rescale s_a·s_b·Σ is one double multiply.


def _quantize(v: Column) -> Column:
    """array<int> int8-range codes for an embedding (struct with its
    double scale)."""
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    s = maxabs / QUANT_BITS_MAX
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-QUANT_BITS_MAX),
            F.least(
                F.lit(QUANT_BITS_MAX),
                F.floor(x.cast("double") / s + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    return F.struct(q.alias("q"), s.alias("s"))


_QUANT_SQL = f"""
  SELECT vec_id,
         list_transform(embedding,
           x -> GREATEST(-{QUANT_BITS_MAX}, LEAST({QUANT_BITS_MAX},
                CAST(FLOOR(CAST(x AS DOUBLE) / (list_max(list_transform(embedding,
                     y -> abs(CAST(y AS DOUBLE)))) / {QUANT_BITS_MAX}) + 0.5) AS INT)))
         ) AS q,
         list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
           / {QUANT_BITS_MAX} AS s
  FROM embeddings
"""

_IQ_DOT_SQL = (
    "(SELECT CAST(SUM(CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT)) AS BIGINT)"
    " FROM UNNEST(generate_series(1, len({a}))) AS g(i))"
)

_QKNN_ORACLE = f"""
WITH qt AS ({_QUANT_SQL}),
qry AS (SELECT vec_id AS qid, q AS qa, s AS sa FROM qt
        WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}),
cand AS (SELECT vec_id AS cid, q AS qb, s AS sb FROM qt),
scored AS (
  SELECT qid, cid,
         {_IQ_DOT_SQL.format(a='qa', b='qb')} AS idot,
         sa * sb AS ss
  FROM qry JOIN cand ON qid <> cid
)
SELECT qid, cid, idot, ROUND(ss * idot, 8) AS qscore, rk FROM (
  SELECT qid, cid, idot, ss,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY ss * idot DESC, cid ASC
         ) AS rk
  FROM scored
) WHERE rk <= 5
"""


@register("quantized_knn_topk", oracle=_QKNN_ORACLE)
def quantized_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbours by int8-quantized dot product — the memory-
    bandwidth lever for 100 TB ANN: per-vector scalar quantization
    (s = maxabs/127, floor(x/s + 0.5), clipped) shrinks the scanned
    bytes 4× vs float32 and turns the inner loop into integer
    multiply-adds; the rescale s_a·s_b·Σq_aq_b preserves ranking to
    within quantization error (measured recall@5 vs the exact float
    ranking in BASELINE.md §quant). Cross-engine exactness comes free:
    the integer dot is bit-exact by construction (no decimal
    accumulator needed — this is WHY production ANN quantizes), the
    rounding rule is written as FLOOR(x+0.5) on both engines, and only
    one double multiply touches floats. At corpus scale the quantized
    codes are the stored/scanned representation; full-precision
    vectors are fetched only to re-rank the top candidates."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    qt = emb.select("vec_id", _quantize(F.col("embedding")).alias("z")).select(
        "vec_id", F.col("z.q").alias("q"), F.col("z.s").alias("s")
    )
    qry = qt.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    ).select(F.col("vec_id").alias("qid"), F.col("q").alias("qa"), F.col("s").alias("sa"))
    cand = qt.select(
        F.col("vec_id").alias("cid"), F.col("q").alias("qb"), F.col("s").alias("sb")
    )
    idot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = (
        cand.crossJoin(F.broadcast(qry))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("idot", idot)
        .withColumn("ss", F.col("sa") * F.col("sb"))
    )
    qscore = F.col("ss") * F.col("idot")
    return _top_k(scored, 5, qscore).select(
        "qid", "cid", "idot", F.round(qscore, 8).alias("qscore"), "rk"
    )
