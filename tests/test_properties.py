"""Property-based tests (hypothesis, seeded/deterministic profile):
codec roundtrips over arbitrary image shapes, hash stability, and the
uniqueness-constraint ↔ injected-duplicates equivalence."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from pqc.image.codec import lsy_decode, lsy_encode, png_decode, png_encode, psnr
from pqc.image.phash import hamming, phash64

_FAST = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _arr(w: int, h: int, seed_: int) -> np.ndarray:
    rng = np.random.default_rng(seed_)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@seed(42)
@_FAST
@given(
    w=st.integers(min_value=1, max_value=90),
    h=st.integers(min_value=1, max_value=90),
    s=st.integers(min_value=0, max_value=2**31),
)
def test_png_roundtrip_any_shape(w, h, s):
    a = _arr(w, h, s)
    assert np.array_equal(png_decode(png_encode(a)), a)


@seed(42)
@_FAST
@given(
    w=st.integers(min_value=8, max_value=90),
    h=st.integers(min_value=8, max_value=90),
    s=st.integers(min_value=0, max_value=2**31),
    q=st.integers(min_value=80, max_value=100),
)
def test_lsy_roundtrip_monotone_quality(w, h, s, q):
    # pure-noise images are the worst case for a DCT codec; the property
    # is determinism + shape preservation + quality monotonicity, not an
    # absolute PSNR bar (that is asserted on the fixture distribution)
    a = _arr(w, h, s)
    out_q = lsy_decode(lsy_encode(a, q))
    assert out_q.shape == a.shape
    out_q2 = lsy_decode(lsy_encode(a, q))
    assert np.array_equal(out_q, out_q2)  # determinism
    if q <= 95:
        hi = psnr(a, lsy_decode(lsy_encode(a, min(100, q + 5))))
        lo = psnr(a, out_q)
        assert hi >= lo - 0.5  # monotone up to rounding noise


@seed(42)
@_FAST
@given(
    w=st.integers(min_value=32, max_value=80),
    h=st.integers(min_value=32, max_value=80),
    s=st.integers(min_value=0, max_value=2**31),
)
def test_phash_stability_under_tiny_perturbation(w, h, s):
    rng = np.random.default_rng(s ^ 0xABCDEF)
    base = (
        (np.linspace(0, 255, w)[None, :, None] * np.ones((h, 1, 3)))
        + rng.normal(0, 8, size=(h, w, 3))
    ).clip(0, 255).astype(np.uint8)
    jig = np.clip(base.astype(np.int16) + 1, 0, 255).astype(np.uint8)
    assert hamming(phash64(base), phash64(jig)) <= 8


def test_uniqueness_constraint_equals_injected_duplicates(spark):
    """Inject a known duplicate set into a unique id column; the
    uniqueness constraint must flag exactly the injected rows."""
    from pyspark.sql import functions as F

    from pqc.constraints import SuiteContext, uniqueness

    rng = np.random.default_rng(7)
    n = 5000
    ids = [f"u{i}" for i in range(n)]
    dup_positions = sorted(rng.choice(np.arange(1, n), size=37, replace=False))
    for p in dup_positions:
        ids[p] = ids[p - 1]  # duplicate the predecessor's id
    pdf = pd.DataFrame(
        {
            "seq": range(n),
            "image_id": ids,
            "w": 64,
            "h": 64,
            "fmt": "png",
            "caption": "x",
            "phash": range(n),
            "part": [i % 8 for i in range(n)],
        }
    )
    images = spark.createDataFrame(pdf)
    ctx = SuiteContext(images=images)
    got = {
        r["image_id"]
        for r in uniqueness.violations(ctx).select("image_id").distinct().collect()
    }
    expected = {ids[p] for p in dup_positions}
    assert got == expected
    # every flagged id is reported once per occurrence
    n_rows = uniqueness.violations(ctx).count()
    assert n_rows == sum(ids.count(i) for i in expected)


@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
        min_size=0,
        max_size=64,
    )
)
@settings(max_examples=200, deadline=None)
@seed(42)
def test_hash64_portable_python_vs_duckdb(s):
    """The engine's cross-engine determinism rests on hash64: Spark
    conv(substring(md5,1,15),16,10) == DuckDB ('0x'||…)::BIGINT. Check
    the shared definition against DuckDB for arbitrary unicode."""
    import hashlib

    import duckdb

    expected = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    got = duckdb.connect().execute(
        "SELECT (('0x' || substring(md5(?), 1, 15))::BIGINT)", [s]
    ).fetchone()[0]
    assert got == expected


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=2, max_size=40),
    st.lists(st.integers(min_value=0, max_value=30), min_size=2, max_size=40),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@seed(7)
def test_ks_statistic_matches_numpy_reference(spark, a, b):
    """Differential property (SURVEY §5): the relational KS statistic
    equals the classical ECDF formulation for arbitrary samples, and a
    location-shifted copy never decreases it."""
    import numpy as np

    from pqc.constraints.drift import ks_statistic

    cur = spark.createDataFrame([(float(x),) for x in a], "v double")
    base = spark.createDataFrame([(float(x),) for x in b], "v double")
    got = ks_statistic(cur, base, "v").first()["ks_stat"]

    xs = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(np.sort(a), xs, side="right") / len(a)
    cb = np.searchsorted(np.sort(b), xs, side="right") / len(b)
    expected = float(np.max(np.abs(ca - cb)))
    assert abs(got - expected) < 1e-12

    shifted = spark.createDataFrame([(float(x) + 40.0,) for x in a], "v double")
    assert ks_statistic(cur, shifted, "v").first()["ks_stat"] >= got - 1e-12


@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=60),
    st.sampled_from([0.25, 0.5, 0.75, 0.95]),
)
@settings(max_examples=30, deadline=None)
def test_quantile_exact_matches_rational_reference(vals, q):
    """pqc/exprs.quantile_exact (integer lo/hi interpolation on the
    1/20 grid) must equal the EXACT rational linear-interpolated
    quantile, correctly rounded to double — i.e. the SQL twin's output
    is the closest double to (lo*(20-j) + hi*j)/20. (numpy's
    lo + (hi-lo)*q drifts in the last ulp — e.g. [0,3] @ 0.95 gives
    2.8499999999999996 — which is exactly the cross-engine failure
    mode this helper eliminates.)"""
    from fractions import Fraction

    import duckdb

    from pqc.exprs import quantile_exact_sql

    s = sorted(vals)
    n = len(s)
    k20 = (n - 1) * round(q * 20)
    j = k20 % 20
    lo = s[k20 // 20]
    hi = s[min(k20 // 20 + 1, n - 1)]
    expected = float(Fraction(lo * (20 - j) + hi * j, 20))
    arr_sql = "list_sort([" + ", ".join(map(str, vals)) + "])"
    got = duckdb.sql(
        f"SELECT {quantile_exact_sql(arr_sql, q)} AS v"
    ).fetchone()[0]
    assert got == expected, (vals, q, got, expected)


def test_connected_components_chain_and_islands(spark):
    """Hash-to-min label propagation must converge transitively on a
    path graph (0-1-2-3-4 collapses to one cluster labelled 0 — needs
    multiple rounds, not one) and leave islands as singletons. Ids are
    longs, as for every caller: the convergence probe sums them."""
    from pqc.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    chain = [(i, i + 1) for i in range(4)]  # 0..4 path
    pair = [(5, 6)]
    edges_one_way = chain + pair  # 7 isolated
    edges = spark.createDataFrame(
        edges_one_way + [(b, a) for a, b in edges_one_way], "src long, dst long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 5, 7: 7}


@given(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, width=32),
        min_size=64, max_size=64,
    ),
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, width=32),
        min_size=64, max_size=64,
    ),
)
@settings(max_examples=200, deadline=None)
def test_prescreen_slack_bounds_double_fold_error(a, b):
    """Soundness of the screen→confirm ladder (pqc/similarity.py): the
    left-to-right float64 dot-product fold must never differ from the
    exact rational dot by more than PRESCREEN_EPS (scaled by the norm
    product), or the prescreen could drop a pair the decimal confirm
    would accept."""
    from fractions import Fraction

    import numpy as np

    from pqc.similarity import PRESCREEN_EPS

    af = np.array(a, dtype=np.float32).astype(np.float64)
    bf = np.array(b, dtype=np.float32).astype(np.float64)
    # the engine's fold order: left-to-right double accumulation
    acc = 0.0
    for x, y in zip(af, bf):
        acc += x * y
    exact = sum(Fraction(x) * Fraction(y) for x, y in zip(af, bf))
    na2 = sum(Fraction(x) * Fraction(x) for x in af)
    nb2 = sum(Fraction(y) * Fraction(y) for y in bf)
    denom = float(na2 * nb2) ** 0.5
    if denom < 1e-6:  # near-zero vectors never reach the threshold path
        return
    assert abs(acc - float(exact)) / denom < PRESCREEN_EPS


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing guarantee (Schleimer et al.): two documents
    sharing a run of at least w+k-1 words share at least one selected
    fingerprint. Crafted docs with an exactly-minimal shared run (7
    words at k=4, w=4) embedded in otherwise-disjoint text must
    collide; fully disjoint docs must not."""
    from pqc.text import WINNOW_K, WINNOW_W, winnow_fps

    run = "golden retrievers chase tennis balls every morning"  # 7 words
    assert len(run.split()) == WINNOW_K + WINNOW_W - 1
    docs = spark.createDataFrame(
        [
            ("a", f"alpha beta gamma delta {run} epsilon zeta eta theta"),
            ("b", f"one two three four five {run} six seven eight nine"),
            ("c", "completely unrelated words with nothing in common here at all"),
        ],
        "doc_id string, text string",
    )
    fps = winnow_fps(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc["a"] & by_doc["b"], "shared 7-word run must share a fingerprint"
    assert not (by_doc["a"] & by_doc["c"])
    assert not (by_doc["b"] & by_doc["c"])


def test_winnowing_short_docs_emit_min_gram(spark):
    """Sub-window docs (k..k+w-2 tokens → 1..w-1 grams) must emit
    exactly one fingerprint — min over all their grams — instead of
    being invisible to copy-detection (r4 advice). An identical short
    doc pair must therefore collide."""
    from pyspark.sql import functions as F

    from pqc.exprs import hash64
    from pqc.text import WINNOW_K, WINNOW_W, winnow_fps

    short = "tiny duplicated phrase here nine"  # 5 tokens → 2 grams
    assert WINNOW_K <= len(short.split()) < WINNOW_K + WINNOW_W - 1
    docs = spark.createDataFrame(
        [("s1", short), ("s2", short), ("s3", "other words entirely different")],
        "doc_id string, text string",
    )
    fps = winnow_fps(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert len(by_doc["s1"]) == 1 and by_doc["s1"] == by_doc["s2"]
    assert by_doc["s3"] and not (by_doc["s1"] & by_doc["s3"])
    # the emitted value IS the min gram hash
    toks = short.split()
    grams = [" ".join(toks[i : i + WINNOW_K]) for i in range(len(toks) - WINNOW_K + 1)]
    expected = (
        spark.createDataFrame([(g,) for g in grams], "g string")
        .select(hash64(F.col("g")).alias("h"))
        .agg(F.min("h"))
        .first()[0]
    )
    assert by_doc["s1"] == {expected}
