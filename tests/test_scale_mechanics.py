"""Scale-mechanics tests: partition pruning on the Iceberg-layout
table, salted aggregation equivalence, hot-band capping, and sketch
accuracy (HLL / percentile_approx) against exact values."""

from __future__ import annotations

import re

import pytest
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


# Two duplicate groups whose fingerprints are near-dups of each other,
# a singleton neighbour of both and a far item. Member ids interleave
# across the groups so the expanded pairs need least/greatest ordering.
_GROUP_IDS = {"g0": (1, 4, 9), "g1": (2, 5, 7), "nb": (3,), "far": (8,)}


def _simhash_case(spark, tmp_path):
    from pqc.dedup import _simhash_pairs

    fps = {"g0": 0x12345678, "g1": 0x12345679, "nb": 0x1234567B, "far": 0x7F0F0F0F}

    def run(rows, _tag):
        sig = spark.createDataFrame(rows, "doc_id long, simhash long")
        return {(r["doc_a"], r["doc_b"]): r["hamming"]
                for r in _simhash_pairs(sig).collect()}

    def close(ids):
        by_id = {i: fp for i, fp in ids}
        return lambda x, y: bin(by_id[x] ^ by_id[y]).count("1") <= 3

    return fps, run, close, lambda v: v == 0


def _minhash_case(spark, tmp_path):
    import pandas as pd

    from pqc.dedup import (
        JACCARD_THRESHOLD,
        MINHASH_K,
        MINHASH_ROWS,
        _minhash_pairs,
        _shingle_df,
    )

    base = ("the quick brown fox jumps over the lazy dog while the farmer "
            "watches from the porch of the old red barn")
    fps = {
        "g0": base,
        "g1": base.replace("red barn", "red shed"),
        "nb": base.replace("old red barn", "new blue house"),
        "far": "completely different subject matter about maritime navigation "
               "charts and the tides of the northern coast",
    }

    def write(rows, tag) -> str:
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pdf["lang"] = "en"
        pdf["source"] = "t"
        pdf["n_chars"] = pdf["text"].str.len()
        sf = tmp_path / tag
        sf.mkdir()
        pdf.to_parquet(sf / "documents.parquet")
        return str(sf)

    def run(rows, tag):
        sf = write(rows, tag)
        return {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in _minhash_pairs(spark, sf, MINHASH_K, MINHASH_ROWS).collect()}

    def close(ids):
        sets: dict = {}
        for r in _shingle_df(spark, write(ids, "truth")).collect():
            sets.setdefault(r["doc_id"], set()).add(r["hs"])
        return lambda x, y: (
            len(sets[x] & sets[y]) / len(sets[x] | sets[y]) >= JACCARD_THRESHOLD
        )

    return fps, run, close, lambda v: v == 1.0


def _srp_case(spark, tmp_path):
    import numpy as np

    from pqc.similarity import EMB_DIM, NEAR_DUP_COS, _srp_pairs

    rng = np.random.default_rng(11)
    v0 = rng.normal(size=EMB_DIM)
    fps = {
        "g0": v0.tolist(),
        "g1": (v0 + 1e-3 * rng.normal(size=EMB_DIM)).tolist(),
        "nb": (v0 + 2e-2 * rng.normal(size=EMB_DIM)).tolist(),
        "far": (-v0).tolist(),
    }

    def run(rows, _tag):
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        return {(r["id_a"], r["id_b"]): r["cosine"] for r in _srp_pairs(emb).collect()}

    def close(ids):
        vec = {i: np.asarray(v) for i, v in ids}
        return lambda x, y: (
            vec[x] @ vec[y] / np.linalg.norm(vec[x]) / np.linalg.norm(vec[y])
            >= NEAR_DUP_COS
        )

    return fps, run, close, lambda v: abs(v - 1.0) < 1e-8


@pytest.mark.parametrize(
    "case", [_minhash_case, _simhash_case, _srp_case], ids=["minhash", "simhash", "srp"]
)
def test_rep_expansion_two_duplicate_groups(spark, tmp_path, case):
    """Member pairs rebuilt from representative pairs equal the
    brute-force pair set — including cross pairs between two
    multi-member groups — and each cross pair carries exactly the score
    the ladder gives its representatives on the de-duplicated corpus,
    where the collapse is an identity."""
    fps, run, close, within_ok = case(spark, tmp_path)
    rows = [(i, fps[item]) for item, ids in _GROUP_IDS.items() for i in ids]
    rep_of = {i: min(ids) for ids in _GROUP_IDS.values() for i in ids}
    is_close = close(rows)
    ids = sorted(rep_of)
    truth = {(x, y) for x in ids for y in ids if x < y and is_close(x, y)}
    # multi×multi cross pairs, and the neighbour pairs with both groups
    assert {(1, 2), (4, 5), (2, 9), (7, 9), (3, 4), (3, 7)} <= truth

    pairs = run(rows, "full")
    assert set(pairs) == truth
    dedup = run([(i, fps[item]) for item, ids in _GROUP_IDS.items()
                 for i in ids[:1]], "dedup")
    for (x, y), score in pairs.items():
        rx, ry = sorted((rep_of[x], rep_of[y]))
        if rx == ry:
            assert within_ok(score), ((x, y), score)
        else:
            assert score == dedup[(rx, ry)], ((x, y), score, dedup.get((rx, ry)))
