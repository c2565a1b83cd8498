"""Scale-mechanics tests: partition pruning on the Iceberg-layout
table, salted aggregation equivalence, hot-band capping, and sketch
accuracy (HLL / percentile_approx) against exact values."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pqc.fixtures import cached_images_path
from pqc.skew import band_pairs, salted_count, with_salt


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partition_pruning_on_part_filter(spark):
    images = spark.read.parquet(cached_images_path(spark, 2000))
    pruned = images.filter(F.col("part") == 3)
    plan = _plan(pruned.select("image_id"))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "part" in m.group(1), plan[:1500]
    # pruning actually works: only partition-3 rows are read
    assert pruned.count() == images.filter("part = 3").count() > 0


def test_salted_count_equals_plain_count(spark):
    images = spark.read.parquet(cached_images_path(spark, 2000))
    plain = {
        r["fmt"]: r["n"]
        for r in images.groupBy("fmt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {r["key"]: r["n_rows"] for r in salted_count(images, "fmt").collect()}
    assert salted == plain


def test_salt_is_deterministic(spark):
    images = spark.read.parquet(cached_images_path(spark, 2000)).select(
        "image_id", "fmt"
    )
    a = {r["image_id"]: r["_salt"] for r in with_salt(images).collect()}
    b = {r["image_id"]: r["_salt"] for r in with_salt(images).collect()}
    assert a == b
    assert len(set(a.values())) > 1  # actually spreads


def test_capped_band_join_drops_only_hot_buckets(spark):
    import pandas as pd

    rows = [("a", 0, 1)] * 50 + [("b", 0, 2)] * 3 + [("c", 1, 1)] * 5
    pdf = pd.DataFrame(rows, columns=["id", "band_idx", "band_val"])
    bands = spark.createDataFrame(pdf).withColumn(
        "row", F.monotonically_increasing_id()
    )
    pairs, hot = band_pairs(
        bands, ("band_idx", "band_val"), F.struct("id", "row"), "row", cap=10
    )
    hot_rows = hot.collect()
    assert len(hot_rows) == 1 and hot_rows[0]["n_members"] == 50
    # the two cold buckets survive: C(3,2) + C(5,2) in-bucket pairs
    pair_ids = [(r["a"]["id"], r["b"]["id"]) for r in pairs.collect()]
    assert sorted(pair_ids) == [("b", "b")] * 3 + [("c", "c")] * 10


def test_band_pairs_counts_hot_bucket_without_collecting(spark):
    """One bucket of 10⁶ members above a cap of 100: the bucket is
    counted and diverted, never collected into a member array."""
    n = 10**6
    bands = spark.range(n).select(F.lit(0).alias("band"), "id")
    pairs, hot = band_pairs(bands, ("band",), F.struct("id"), "id", cap=100)
    assert [tuple(r) for r in hot.collect()] == [(0, n)]
    assert pairs.count() == 0


def test_hll_and_quantile_sketch_accuracy(spark):
    from pqc.stats import partition_profile

    images = spark.read.parquet(cached_images_path(spark, 2000))
    prof = partition_profile(images, part_col="part")
    totals = prof.agg(
        F.sum("n_rows").alias("n"),
        F.sum("approx_distinct_image_id").alias("approx_sum"),
    ).first()
    exact_distinct = images.select("image_id").distinct().count()
    # per-partition HLLs sum to ≈ total distinct (parts are disjoint by id hash)
    assert abs(totals["approx_sum"] - exact_distinct) / exact_distinct < 0.05
    # percentile_approx at accuracy 10k ≈ exact interpolated percentile
    one = prof.filter(F.col("part") == 0).first()
    exact_p50 = (
        images.filter("part = 0")
        .agg(F.expr("percentile(w, 0.5)").alias("p"))
        .first()["p"]
    )
    approx_p50 = one["quantiles_w"][1]
    assert abs(approx_p50 - exact_p50) <= 32  # within one size bucket


def test_near_dup_skew_guard_bounds_hot_corpus(spark):
    """A phash-degenerate (monochrome-like) corpus must not explode:
    hot buckets are diverted before collect_list, pairs stay bounded,
    and pairs sharing only non-hot band-pairs keep full recall."""
    from pqc.constraints.near_dup import candidate_pairs, hot_buckets

    n_hot = 3000
    rows = [(i, f"img_{i:012d}", i % 4, 0x1234567890AB) for i in range(n_hot)]
    # one genuine near-dup pair with a distinct phash (1 bit apart)
    rows += [
        (n_hot, f"img_{n_hot:012d}", 0, 0x0F0F0F0F0F0F0F0F),
        (n_hot + 1, f"img_{n_hot + 1:012d}", 1, 0x0F0F0F0F0F0F0F0E),
    ]
    images = spark.createDataFrame(
        rows, "seq long, image_id string, part int, phash long"
    )
    hot = hot_buckets(images, cap=100).collect()
    assert len(hot) == 28  # all 28 band-pair buckets of the hot phash
    assert all(r["n_members"] == n_hot for r in hot)

    pairs = candidate_pairs(images, cap=100).collect()
    # the distinct-phash pair survives; the 3000² hot clique is diverted
    assert {(r["seq_a"], r["seq_b"]) for r in pairs} == {(n_hot, n_hot + 1)}


def test_near_dup_cap_preserves_normal_fixture_pairs(spark):
    """Default cap leaves the healthy fixture's pair set unchanged."""
    from pqc.constraints.near_dup import candidate_pairs

    images = spark.read.parquet(cached_images_path(spark, 2000))
    capped = {
        (r["seq_a"], r["seq_b"]) for r in candidate_pairs(images).collect()
    }
    uncapped = {
        (r["seq_a"], r["seq_b"])
        for r in candidate_pairs(images, cap=10**9).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_hot_shingle_cap_bounds_boilerplate_corpus(spark, tmp_path):
    """A shared boilerplate 4-gram in every doc must not generate n²/2
    candidates: the df cap diverts it, while pairs that also share a
    rare shingle keep their true (full-set) Jaccard."""
    import pandas as pd

    from pqc.dedup import _shingle_df

    boiler = "terms and conditions apply"
    docs = [(i, boiler + f" unique tail {i} {i} {i} {i}") for i in range(120)]
    # docs 200/201 share rare shingles on top of the boilerplate
    docs += [
        (200, boiler + " rare shared shingle here alpha"),
        (201, boiler + " rare shared shingle here beta"),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "t"
    pdf["n_chars"] = pdf["text"].str.len()
    sf = str(tmp_path)
    pdf.to_parquet(f"{sf}/documents.parquet")

    from pqc.exprs import hash64

    sh = _shingle_df(spark, sf)
    _pairs, hot = band_pairs(sh, ("hs",), F.struct("doc_id"), "doc_id", cap=100)
    n_hot_boiler = (
        hot.filter(F.col("hs") == hash64(F.lit(boiler))).first()["n_members"]
    )
    assert n_hot_boiler == 122  # the df-122 shingle is diverted

    from pqc.dedup import ngram_jaccard_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(spark, sf).collect()}
    # 100-101 found via their rare shared shingles; true jaccard uses
    # the FULL sets (boilerplate included in sizes/intersection)
    assert (200, 201) in pairs
    assert all(k == (200, 201) for k in pairs)


# ---------------------------------------------------------------------------
# Duplicate-degenerate corpora through the MinHash / SimHash / SRP band
# joins (r4 verdict #1): m identical documents previously made ONE band
# bucket m²/2-quadratic. The representative collapse must bound the
# candidate join to distinct-fingerprint pairs while the OUTPUT stays
# the exact member-level pair set.
# ---------------------------------------------------------------------------

N_DUP = 400  # identical copies — naive banding would join 79 800 pairs


def _write_dup_docs(tmp_path) -> str:
    import pandas as pd

    copy_text = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(i, copy_text) for i in range(N_DUP)]
    docs += [
        (900, "completely different subject matter about maritime navigation charts"),
        (901, "another unrelated piece concerning volcanic soil chemistry analysis"),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "t"
    pdf["n_chars"] = pdf["text"].str.len()
    sf = str(tmp_path)
    pdf.to_parquet(f"{sf}/documents.parquet")
    return sf


def test_minhash_dup_degenerate_corpus_bounded(spark, tmp_path):
    """400 byte-identical docs: the banded candidate join must see ONE
    representative (zero or near-zero rep pairs), while the output is
    the exact quadratic truth — every copy pair at Jaccard 1.0."""
    from pqc.dedup import (
        MINHASH_K,
        MINHASH_ROWS,
        _minhash_pairs,
        _minhash_rep_candidates,
        _shingle_df,
    )

    sf = _write_dup_docs(tmp_path)
    sh = _shingle_df(spark, sf)
    cand, membership, hot = _minhash_rep_candidates(sh, MINHASH_K, MINHASH_ROWS)
    # 3 distinct shingle sets -> at most C(3,2) candidate rep pairs
    assert cand.count() <= 3
    mem = {r["doc_id"]: r["rep_id"] for r in membership.collect()}
    assert sum(1 for v in mem.values() if v == 0) == N_DUP  # one group

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in _minhash_pairs(spark, sf, MINHASH_K, MINHASH_ROWS).collect()}
    expected = {(a, b) for a in range(N_DUP) for b in range(a + 1, N_DUP)}
    assert set(pairs) == expected
    assert all(v == 1.0 for v in pairs.values())


def test_simhash_dup_degenerate_corpus_bounded(spark):
    """Identical fingerprints collapse before banding; the member pair
    set (hamming 0 within, fingerprint hamming across) is reconstructed
    exactly."""
    from pqc.dedup import _simhash_pairs, _simhash_rep_candidates

    rows = [(i, 0x12345678) for i in range(N_DUP)]
    rows += [(900, 0x12345679), (901, 0x7F0F0F0F)]  # 1-bit neighbour + far
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    rep_pairs, _, _ = _simhash_rep_candidates(sig)
    rp = {(r["sim_a"], r["sim_b"]): r["hamming"] for r in rep_pairs.collect()}
    assert rp == {(0x12345678, 0x12345679): 1}  # 3 reps, 1 confirmed pair

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in _simhash_pairs(sig).collect()}
    expected_within = {(a, b): 0 for a in range(N_DUP) for b in range(a + 1, N_DUP)}
    expected_cross = {(i, 900): 1 for i in range(N_DUP)}
    assert pairs == {**expected_within, **expected_cross}


def test_srp_dup_degenerate_corpus_bounded(spark):
    """Identical vectors collapse before SRP banding; every copy pair
    comes back with the decimal-exact self-cosine, and the candidate
    join is bounded to distinct-vector pairs."""
    import numpy as np

    from pqc.similarity import EMB_DIM, _srp_pairs, _srp_rep_candidates

    rng = np.random.default_rng(7)
    v0 = rng.normal(size=EMB_DIM).tolist()
    far = (-np.asarray(v0)).tolist()  # cosine -1: never a candidate match
    rows = [(i, v0) for i in range(N_DUP)] + [(900, far)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cand, membership, _ = _srp_rep_candidates(emb)
    assert cand.count() == 0  # 2 distinct vectors, opposite half-spaces
    assert membership.filter(F.col("rep_id") == 0).count() == N_DUP

    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in _srp_pairs(emb).collect()}
    expected = {(a, b) for a in range(N_DUP) for b in range(a + 1, N_DUP)}
    assert set(pairs) == expected
    assert all(abs(v - 1.0) < 1e-8 for v in pairs.values())
