"""Every registered query must match its DuckDB oracle — the local twin
of the driver's CORRECTNESS gate, run at sf0.001 for speed (the driver
runs sf0.01; tests/test_oracle_parity_sf001 marks the full tier)."""

from __future__ import annotations

import pytest

from pqc.registry import REGISTRY, all_oracles, all_queries

from .conftest import SF_DIR_SMALL
from .oracle_util import compare

all_queries()  # force registration


@pytest.mark.parametrize("name", sorted(all_oracles().keys()))
def test_query_matches_oracle(spark, name):
    rq = REGISTRY[name]
    df = rq.fn(spark, SF_DIR_SMALL)
    compare(df, rq.oracle, SF_DIR_SMALL, name=name)


@pytest.mark.parametrize("tier", ["presence", "serving", "claims"])
def test_bulk_tier_rows_match_rule_sql(spark, tier):
    """The bulk oracles compare aggregates only, where row errors can
    cancel out. Run each bulk tier's shared rule builder over its
    generated 5000-row parquet and compare every row with the same
    rule's SQL builder over the same files."""
    from pqc import catalog_packs as cp
    from pqc import rule_packs as rp

    ensure, path, plan, sql = {
        "presence": (
            cp._ensure_presence_bulk, cp._presence_bulk_path,
            cp._presence_flags, cp._presence_sql,
        ),
        "serving": (
            rp._ensure_serving_bulk, rp._serving_bulk_path,
            rp._serving_checks, rp._serving_sql,
        ),
        "claims": (
            cp._ensure_claims_bulk, cp._claims_bulk_path,
            lambda c: cp._claim_detect_plan(spark, c), cp._claim_detect_sql,
        ),
    }[tier]
    ensure(spark)
    rows = plan(spark.read.parquet(path()))
    oracle = "WITH " + sql(f"read_parquet('{path()}/*.parquet')")
    compare(rows, oracle, SF_DIR_SMALL, name=f"{tier}_bulk_rows")


def test_oracle_dtypes_match():
    """Regression for the r2/r3 red driver rows: DuckDB types SUM(BIGINT)
    as HUGEINT, which pandas surfaces as float64, while Spark emits int64
    — same values, different driver value-hash. The strict harness must
    reject that pairing (pre-r4 it passed silently), and the live DuckDB
    behaviour must match the mechanism this test encodes."""
    import pandas as pd

    from .oracle_util import assert_dtype_kinds_match, duck_connection

    spk = pd.DataFrame({"k": [1], "n": pd.Series([0], dtype="int64")})
    bad = pd.DataFrame({"k": [1], "n": pd.Series([0.0], dtype="float64")})
    with pytest.raises(AssertionError, match="dtype-kind"):
        assert_dtype_kinds_match(spk, bad, name="hugeint-regression")

    con = duck_connection(SF_DIR_SMALL)
    try:
        raw = con.execute(
            "SELECT SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS n FROM documents"
        ).df()
        fixed = con.execute(
            "SELECT CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n FROM documents"
        ).df()
    finally:
        con.close()
    assert raw["n"].dtype.kind == "f", "HUGEINT no longer floats — revisit casts"
    assert fixed["n"].dtype.kind == "i"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"constraint", "n_checked", "n_violations", "passed"}
