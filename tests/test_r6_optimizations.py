"""Focused tests for the r6 optimization internals.

The oracle-parity suite already proves end-to-end equivalence at
sf0.01; these tests pin the NEW mechanisms at their decision
boundaries, where the corpus data never lands:

- the blocked-matmul candidate screen must keep every pair at or just
  above the exact threshold (screen slack), including pairs crafted
  within 1e-7 of 0.95 — far inside the 1e-9 screen margin's danger
  zone only if the error analysis were wrong;
- the numeric-id connected-components path (monotone decimal-sum
  convergence probe) must converge transitively exactly like the
  join-probe path the string-id tests exercise.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F


def _unit(v):
    v = np.asarray(v, dtype=np.float64)
    return v / np.linalg.norm(v)


def _pair_at_cosine(rng, dim, cos):
    """Two unit vectors with exact-ish cosine `cos` (float64 math)."""
    a = _unit(rng.normal(size=dim))
    b = rng.normal(size=dim)
    b = _unit(b - np.dot(a, b) * a)  # orthogonal to a
    return a, cos * a + math.sqrt(1.0 - cos * cos) * b


def test_numpy_pair_screen_is_superset_at_threshold(spark):
    """Pairs constructed at cosines straddling 0.95 within 1e-7: the
    blocked screen must keep every pair whose EXACT decimal cosine
    passes, and the shared confirm (`_cosine_confirm`) must reject the
    rest — the final set equals the brute-force decimal computation."""
    from pqc.similarity import (
        NEAR_DUP_COS,
        _cosine_confirm,
        _dot,
        _norm2,
        _numpy_pair_candidates,
        _with_norm,
    )

    rng = np.random.default_rng(42)
    dim = 64
    rows = []
    vid = 0
    # 12 crafted pairs at cosines tightly straddling the threshold,
    # plus background noise vectors
    for cos in (0.94999990, 0.94999999, 0.95, 0.95000001, 0.9500001, 0.96):
        for _ in range(2):
            a, b = _pair_at_cosine(rng, dim, cos)
            rows.append((vid, a.tolist())); vid += 1
            rows.append((vid, b.tolist())); vid += 1
    for _ in range(40):
        rows.append((vid, _unit(rng.normal(size=dim)).tolist())); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cand = _numpy_pair_candidates(emb, NEAR_DUP_COS)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in _cosine_confirm(cand, _with_norm(emb)).collect()
    }
    # brute-force decimal-exact truth over ALL pairs (the r5 plan)
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.sqrt(_norm2(F.col("embedding"))).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.sqrt(_norm2(F.col("embedding"))).alias("nb"),
    )
    truth = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= NEAR_DUP_COS)
        .select("id_a", "id_b", F.round("cos", 8).alias("cosine"))
        .collect()
    }
    assert set(got) == set(truth)
    assert got == truth  # identical decimal-exact scores, not just ids
    # non-vacuous: some crafted pairs pass, some near-misses exist
    assert len(truth) >= 6


def test_numpy_pair_screen_chunking_covers_cross_chunk_pairs(spark):
    """A near-dup pair split across pmod chunks must still surface
    (each unordered pair lands in exactly one chunk block)."""
    from pqc.similarity import PAIR_CHUNK, _numpy_pair_candidates

    rng = np.random.default_rng(7)
    dim = 64
    v = _unit(rng.normal(size=dim))
    # ids chosen so the pair members land in DIFFERENT pmod chunks for
    # any C >= 2, and enough filler rows to force C > 1
    rows = [(0, v.tolist()), (1, (v * 1.0).tolist())]
    for i in range(2, PAIR_CHUNK * 2 + 2):
        rows.append((i, _unit(rng.normal(size=dim)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cand = {(r["id_a"], r["id_b"]) for r in _numpy_pair_candidates(emb, 0.95).collect()}
    assert (0, 1) in cand


def test_connected_components_numeric_sum_probe(spark):
    """Numeric ids take the decimal-sum convergence probe; the labels
    must match the transitive truth on a multi-round path graph."""
    from pqc.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    one_way = [(i, i + 1) for i in range(5)] + [(6, 7)]  # 0..5 path, 6-7, 8 alone
    edges = spark.createDataFrame(
        one_way + [(b, a) for a, b in one_way], "src long, dst long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 6, 7: 6, 8: 8}
