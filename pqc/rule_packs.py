"""Deterministic rule packs from the reference's constraint catalog
(SURVEY §2.9) — NPM/HFSS scoring, per-serving mass sanity, E-number
canonicalisation, pack-size parsing, unit normalisation.

Each query runs over an inline fixture defined ONCE in Python and
rendered to both a Spark DataFrame and a DuckDB VALUES CTE, so the
oracle checks the exact rule arithmetic. All expressions are pure
Catalyst (when-ladders, regexp) — these packs run at scan speed over
10^12 rows.

DuckDB's regex engine (RE2) lacks lookarounds, so every pattern here
sticks to the common Java-regex ∩ RE2 subset.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pqc.registry import register

# ---------------------------------------------------------------------------
# Inline-fixture helpers
# ---------------------------------------------------------------------------


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return repr(v)


def values_cte(rows: list[tuple], cols: list[str], name: str) -> str:
    body = ",\n    ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    return f"{name} AS (SELECT * FROM (VALUES\n    {body}\n) AS _t({', '.join(cols)}))"


def spark_inline(spark: SparkSession, rows: list[tuple], cols: list[str]) -> DataFrame:
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


# ---------------------------------------------------------------------------
# NPM / HFSS scorer (SURVEY §2.4 A6; spec hfss.py:51-93, prompts.py:725-765)
# ---------------------------------------------------------------------------

# 2004/05 Nutrient Profiling Model cutoffs (food): value > cutoff → +1 pt
NPM_ENERGY_KJ = [335, 670, 1005, 1340, 1675, 2010, 2345, 2680, 3015, 3350]
NPM_SATFAT_G = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
NPM_SUGARS_G = [4.5, 9, 13.5, 18, 22.5, 27, 31, 36, 40, 45]
NPM_SODIUM_MG = [90, 180, 270, 360, 450, 540, 630, 720, 810, 900]
NPM_FIBRE_G = [0.9, 1.9, 2.8, 3.7, 4.7]
NPM_PROTEIN_G = [1.6, 3.2, 4.8, 6.4, 8.0]
HFSS_FOOD_THRESHOLD = 4

_NPM_COLS = [
    "sku_id",
    "energy_kj",
    "satfat_g",
    "sugars_g",
    "sodium_mg",
    "fibre_g",
    "protein_g",
    "fvn_pct",
]
# rows straddle every cutoff family; row 5 exercises the protein cap
# (A-points ≥ 11 & FVN < 5 ⇒ protein score = 0, hfss.py:66-67)
NPM_FIXTURE = [
    ("low_all", 100.0, 0.5, 2.0, 50.0, 0.5, 1.0, 0.0),
    ("mid", 1005.0, 3.5, 13.5, 270.0, 2.8, 4.8, 45.0),
    ("boundary_exact", 335.0, 1.0, 4.5, 90.0, 0.9, 1.6, 40.0),
    ("just_over", 335.1, 1.01, 4.6, 90.5, 1.0, 1.7, 41.0),
    ("high_sugar", 800.0, 2.0, 46.0, 100.0, 0.0, 2.0, 0.0),
    ("protein_cap", 3400.0, 11.0, 46.0, 950.0, 0.0, 9.0, 4.0),
    ("protein_kept_fvn", 3400.0, 11.0, 46.0, 950.0, 0.0, 9.0, 80.0),
    ("fvn_two_points", 200.0, 0.5, 1.0, 40.0, 5.0, 8.5, 61.0),
    ("healthy", 400.0, 0.3, 3.0, 60.0, 6.0, 7.0, 85.0),
]


def _points_expr_spark(col: str, cutoffs: list[float]):
    expr = F.lit(0)
    for c in cutoffs:
        expr = expr + F.when(F.col(col) > c, 1).otherwise(0)
    return expr


def _points_expr_sql(col: str, cutoffs: list[float]) -> str:
    return "(" + " + ".join(
        f"CASE WHEN {col} > {c} THEN 1 ELSE 0 END" for c in cutoffs
    ) + ")"


_FVN_SQL = (
    "(CASE WHEN fvn_pct >= 80 THEN 5 WHEN fvn_pct > 60 THEN 2 "
    "WHEN fvn_pct > 40 THEN 1 ELSE 0 END)"
)

_NPM_ORACLE = f"""
WITH {values_cte(NPM_FIXTURE, _NPM_COLS, 'n')},
scored AS (
  SELECT sku_id,
         {_points_expr_sql('energy_kj', NPM_ENERGY_KJ)}
         + {_points_expr_sql('satfat_g', NPM_SATFAT_G)}
         + {_points_expr_sql('sugars_g', NPM_SUGARS_G)}
         + {_points_expr_sql('sodium_mg', NPM_SODIUM_MG)} AS a_points,
         {_points_expr_sql('fibre_g', NPM_FIBRE_G)} AS fibre_pts,
         {_points_expr_sql('protein_g', NPM_PROTEIN_G)} AS protein_pts_raw,
         {_FVN_SQL} AS fvn_pts
  FROM n
)
SELECT sku_id, a_points,
       CASE WHEN a_points >= 11 AND fvn_pts < 5 THEN 0 ELSE protein_pts_raw END
         AS protein_pts,
       fibre_pts, fvn_pts,
       a_points
         - (CASE WHEN a_points >= 11 AND fvn_pts < 5 THEN 0 ELSE protein_pts_raw END)
         - fibre_pts - fvn_pts AS npm_score,
       (a_points
         - (CASE WHEN a_points >= 11 AND fvn_pts < 5 THEN 0 ELSE protein_pts_raw END)
         - fibre_pts - fvn_pts) >= {HFSS_FOOD_THRESHOLD} AS is_hfss
FROM scored
"""


@register("npm_hfss_score", oracle=_NPM_ORACLE)
def npm_hfss_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NPM 2004/05 scorer with protein cap + HFSS classification
    (deterministic re-impl of the reference's LLM-spec'd scorer,
    `hfss.py:51-93`): pure when-ladders, zero shuffle."""
    n = spark_inline(spark, NPM_FIXTURE, _NPM_COLS)
    a_points = (
        _points_expr_spark("energy_kj", NPM_ENERGY_KJ)
        + _points_expr_spark("satfat_g", NPM_SATFAT_G)
        + _points_expr_spark("sugars_g", NPM_SUGARS_G)
        + _points_expr_spark("sodium_mg", NPM_SODIUM_MG)
    )
    fibre = _points_expr_spark("fibre_g", NPM_FIBRE_G)
    protein_raw = _points_expr_spark("protein_g", NPM_PROTEIN_G)
    fvn = (
        F.when(F.col("fvn_pct") >= 80, 5)
        .when(F.col("fvn_pct") > 60, 2)
        .when(F.col("fvn_pct") > 40, 1)
        .otherwise(0)
    )
    scored = n.select(
        "sku_id",
        a_points.alias("a_points"),
        fibre.alias("fibre_pts"),
        protein_raw.alias("protein_pts_raw"),
        fvn.alias("fvn_pts"),
    )
    protein = F.when(
        (F.col("a_points") >= 11) & (F.col("fvn_pts") < 5), 0
    ).otherwise(F.col("protein_pts_raw"))
    npm = F.col("a_points") - protein - F.col("fibre_pts") - F.col("fvn_pts")
    return scored.select(
        "sku_id",
        "a_points",
        protein.alias("protein_pts"),
        "fibre_pts",
        "fvn_pts",
        npm.alias("npm_score"),
        (npm >= HFSS_FOOD_THRESHOLD).alias("is_hfss"),
    )


# ---------------------------------------------------------------------------
# Per-serving mass sanity (flagship arithmetic check, prompts.py:1952-2001)
# ---------------------------------------------------------------------------

_SERVING_COLS = ["sku_id", "scope", "amount_value", "amount_unit", "serving_size_g"]
# the five MUST-NEVER-FLAG anti-examples (prompts.py:1995-2001) + positives
SERVING_FIXTURE = [
    ("anti1", "per_serving", 10.0, "g", 12.5),
    ("anti2", "per_serving", 5.6, "g", 9.0),
    ("anti3", "per_serving", 5.0, "g", 9.1),
    ("anti4", "per_serving", 1143.0, "mg", 7.0),
    ("anti5_per100", "per_100g", 150.0, "g", 9.0),
    ("pos_g", "per_serving", 15.0, "g", 9.0),
    ("pos_mg_typo", "per_serving", 1143000.0, "mg", 7.0),
    ("pos_ug_typo", "per_serving", 50.0, "g", 0.009),
    ("ok_ug", "per_serving", 400.0, "ug", 0.5),
    ("ok_mcg", "per_serving", 200.0, "mcg", 1.0),
    ("boundary_equal", "per_serving", 9.0, "g", 9.0),
]

_UNIT_TO_G_SQL = (
    "(CASE amount_unit WHEN 'g' THEN 1.0 WHEN 'mg' THEN 0.001 "
    "WHEN 'ug' THEN 0.000001 WHEN 'mcg' THEN 0.000001 "
    "WHEN 'µg' THEN 0.000001 ELSE NULL END)"
)


def _serving_sql(src: str) -> str:
    """The per-serving rule over ``src`` (the fixture columns) as a CTE
    tail → (sku_id, amount_g, flagged, suggested_fix), ``amount_g``
    unrounded. Twin of :func:`_serving_checks`."""
    return f"""conv AS (
  SELECT sku_id, scope, serving_size_g,
         amount_value * {_UNIT_TO_G_SQL} AS amount_g
  FROM {src}
)
SELECT sku_id, amount_g,
       (scope = 'per_serving' AND amount_g > serving_size_g + 0.000001)
         AS flagged,
       CASE
         WHEN NOT (scope = 'per_serving' AND amount_g > serving_size_g + 0.000001)
           THEN NULL
         WHEN amount_g / serving_size_g > 5000 THEN 'ug'
         WHEN amount_g / serving_size_g > 5 THEN 'mg'
         ELSE 'review'
       END AS suggested_fix
FROM conv
"""


_SERVING_ORACLE = f"""
WITH m AS (
WITH {values_cte(SERVING_FIXTURE, _SERVING_COLS, 's')},
{_serving_sql('s')})
SELECT sku_id, flagged, suggested_fix, ROUND(amount_g, 9) AS amount_g FROM m
"""


@register("per_serving_sanity", oracle=_SERVING_ORACLE)
def per_serving_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-serving mass sanity: flag iff scope=per_serving ∧ amount_g >
    serving_size_g + 1e-6 (`prompts.py:1981-1985`); suggested_fix
    ratio > 5000 ⇒ ug, > 5 ⇒ mg (`:1986-1989`); unit map includes the
    malformed 'ug'/'mcg' spellings (`:1970-1973`)."""
    s = spark_inline(spark, SERVING_FIXTURE, _SERVING_COLS)
    return _serving_checks(s).select(
        "sku_id", "flagged", "suggested_fix", F.round("amount_g", 9).alias("amount_g")
    )


def _serving_checks(s: DataFrame) -> DataFrame:
    """(sku_id, amount_g, flagged, suggested_fix) — the per-serving rule
    shared by the fixture query and the bulk tier. Twin of
    :func:`_serving_sql`."""
    factor = (
        F.when(F.col("amount_unit") == "g", 1.0)
        .when(F.col("amount_unit") == "mg", 0.001)
        .when(F.col("amount_unit").isin("ug", "mcg", "µg"), 0.000001)
        .otherwise(F.lit(None))
    )
    amount_g = F.col("amount_value") * factor
    flagged = (F.col("scope") == "per_serving") & (
        amount_g > F.col("serving_size_g") + 0.000001
    )
    ratio = amount_g / F.col("serving_size_g")
    fix = (
        F.when(~flagged, F.lit(None))
        .when(ratio > 5000, "ug")
        .when(ratio > 5, "mg")
        .otherwise("review")
    )
    return s.select(
        "sku_id",
        amount_g.alias("amount_g"),
        flagged.alias("flagged"),
        fix.alias("suggested_fix"),
    )


# ---------------------------------------------------------------------------
# Per-serving sanity, bulk tier (r4 verdict item 4): the same arithmetic
# over a generated multi-thousand-row catalog parquet so the scan-scale
# plan shape has driver evidence (the inline fixture above proves the
# boundary semantics; this proves the scan → filter → hash-aggregate
# plan with typo slices injected at deterministic residues).
# ---------------------------------------------------------------------------

N_SERVING_BULK = 5000
_SERVING_BULK_SEED = 883


def _serving_bulk_row(i: int) -> dict:
    import numpy as np

    rng = np.random.default_rng(_SERVING_BULK_SEED * 65_537 + i)
    unit = ("g", "mg", "ug", "mcg")[i % 4]
    scope = "per_100g" if i % 9 == 0 else "per_serving"
    serving = float(rng.integers(10, 100)) / 2.0  # 5..50 g
    # amounts sized to their unit so healthy rows sit under the serving
    base = {"g": rng.integers(1, 40) / 10.0,       # 0.1-4 g
            "mg": float(rng.integers(1, 2000)),    # ≤2 g
            "ug": float(rng.integers(1, 900)),
            "mcg": float(rng.integers(1, 900))}[unit]
    if i % 11 == 0:  # unit-typo slice: value entered in the wrong scale
        base = base * 1000.0
    if i % 23 == 0:  # microgram-scale dose keyed in as grams (ratio > 5000)
        unit = "g"
        base = float(rng.integers(280_000, 600_000))
    return {
        "sku_id": f"sku_{i:06d}",
        "scope": scope,
        "amount_value": float(base),
        "amount_unit": unit,
        "serving_size_g": serving,
    }


def _serving_bulk_path() -> str:
    return f"/tmp/pqc_fixtures/serving_bulk_n{N_SERVING_BULK}_v2"


_SERVING_BULK_ORACLE = f"""
WITH m AS (
WITH {_serving_sql(f"read_parquet('{_serving_bulk_path()}/*.parquet')")})
SELECT flagged, suggested_fix, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(amount_g AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_amount_g
FROM m GROUP BY flagged, suggested_fix
"""


def _ensure_serving_bulk(spark: SparkSession) -> str:
    from pqc.fixtures import ensure_generated_parquet

    return ensure_generated_parquet(
        spark, _serving_bulk_path(), N_SERVING_BULK, _serving_bulk_row,
        "sku_id string, scope string, amount_value double, "
        "amount_unit string, serving_size_g double",
    )


@register("per_serving_sanity_bulk", oracle=_SERVING_BULK_ORACLE)
def per_serving_sanity_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`per_serving_sanity` at catalog scale: 5000 generated rows with
    deterministic unit-typo slices, same flag/fix ladder, rolled up per
    (flagged, suggested_fix) with a decimal-exact mass total. Plan:
    parquet scan (column-pruned) → scalar expressions → one map-side-
    combined hash aggregate — no dim, no shuffle beyond the combine."""
    from pqc.exprs import dsum

    _ensure_serving_bulk(spark)
    m = _serving_checks(spark.read.parquet(_serving_bulk_path()))
    return m.groupBy("flagged", "suggested_fix").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(dsum(F.col("amount_g")), 6).alias("sum_amount_g"),
    )


# ---------------------------------------------------------------------------
# E-number canonicalisation (P5, banningredients.py:110-117)
# ---------------------------------------------------------------------------

_ENUM_COLS = ["raw"]
ENUM_FIXTURE = [
    ("E 150 d",),
    ("e-150D",),
    ("E0150d",),
    ("e150d",),
    ("E 102",),
    ("e-0042a",),
    ("not an enumber",),
    ("E950",),
]

# normalize: lower → drop separators between E/digits/letter → strip
# leading zeros in the number part. RE2-safe (no lookarounds).
_ENUM_SQL = r"""
WITH {cte}
SELECT raw,
       CASE WHEN regexp_matches(lower(raw), '^e[ \t-]*0*[0-9]+[ \t-]*[a-z]?$')
            THEN regexp_replace(
                   regexp_replace(lower(raw), '[ \t-]', '', 'g'),
                   '^e0*', 'e')
            ELSE NULL END AS canonical
FROM e
""".format(cte=values_cte(ENUM_FIXTURE, _ENUM_COLS, "e"))


@register("enumber_canonicalization", oracle=_ENUM_SQL)
def enumber_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`E 150 d`/`e-150D`/`E0150d` → `e150d` (`banningredients.py:110-117`)
    as two regexp passes — validity gate then separator/zero strip."""
    e = spark_inline(spark, ENUM_FIXTURE, _ENUM_COLS)
    low = F.lower(F.col("raw"))
    is_enum = low.rlike(r"^e[ \t-]*0*[0-9]+[ \t-]*[a-z]?$")
    canon = F.regexp_replace(
        F.regexp_replace(low, r"[ \t-]", ""), r"^e0*", "e"
    )
    return e.select("raw", F.when(is_enum, canon).otherwise(F.lit(None)).alias("canonical"))


# ---------------------------------------------------------------------------
# Pack-size regex bank (F1, artwork_processing.py:146-164)
# ---------------------------------------------------------------------------

_PACK_COLS = ["raw"]
PACK_FIXTURE = [
    ("6 x 330 ml",),
    ("4x25g",),
    ("120 capsules",),
    ("60 tablets",),
    ("750 ml",),
    ("1.5 l",),
    ("NW: 5.2 kg",),
    ("net weight 450 g",),
    ("12 x 1.5 l multipack",),
    ("no size here",),
]

_PACK_SQL = r"""
WITH {cte}
SELECT raw,
  CASE
    WHEN regexp_matches(lower(raw), '[0-9]+ *x *[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)') THEN 'MULTIPACK'
    WHEN regexp_matches(lower(raw), '[0-9]+ *(capsules|tablets|caps|tabs|sachets)') THEN 'COUNT'
    WHEN regexp_matches(lower(raw), '(nw|net weight)[: ]+[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)') THEN 'LABELED'
    WHEN regexp_matches(lower(raw), '[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)') THEN 'SINGLE_QTY'
    ELSE 'NONE' END AS kind,
  CASE
    WHEN regexp_matches(lower(raw), '[0-9]+ *x *[0-9]+') THEN
      CAST(regexp_extract(lower(raw), '([0-9]+) *x', 1) AS INT)
    WHEN regexp_matches(lower(raw), '[0-9]+ *(capsules|tablets|caps|tabs|sachets)') THEN
      CAST(regexp_extract(lower(raw), '([0-9]+) *(capsules|tablets|caps|tabs|sachets)', 1) AS INT)
    ELSE NULL END AS count,
  CASE WHEN regexp_matches(lower(raw), '[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)') THEN
    CAST(replace(regexp_extract(lower(raw), '([0-9]+[.,]?[0-9]*) *(ml|cl|l|g|kg)', 1), ',', '.') AS DOUBLE)
    ELSE NULL END AS qty,
  CASE WHEN regexp_matches(lower(raw), '[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)') THEN
    regexp_extract(lower(raw), '[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)', 1)
    ELSE NULL END AS unit
FROM p
""".format(cte=values_cte(PACK_FIXTURE, _PACK_COLS, "p"))


@register("pack_size_parse", oracle=_PACK_SQL)
def pack_size_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pack-size regex bank (MULTIPACK `N×Q U`, COUNT
    `120 capsules`, LABELED `NW: 5.2 kg`, SINGLE_QTY) as a pure
    regexp_extract cascade with decimal-comma repair
    (`artwork_processing.py:146-164,277-278`)."""
    p = spark_inline(spark, PACK_FIXTURE, _PACK_COLS)
    low = F.lower(F.col("raw"))
    multi = low.rlike(r"[0-9]+ *x *[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)")
    count_kind = low.rlike(r"[0-9]+ *(capsules|tablets|caps|tabs|sachets)")
    labeled = low.rlike(r"(nw|net weight)[: ]+[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)")
    single = low.rlike(r"[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)")
    kind = (
        F.when(multi, "MULTIPACK")
        .when(count_kind, "COUNT")
        .when(labeled, "LABELED")
        .when(single, "SINGLE_QTY")
        .otherwise("NONE")
    )
    cnt = (
        F.when(
            low.rlike(r"[0-9]+ *x *[0-9]+"),
            F.regexp_extract(low, r"([0-9]+) *x", 1).cast("int"),
        )
        .when(
            count_kind,
            F.regexp_extract(
                low, r"([0-9]+) *(capsules|tablets|caps|tabs|sachets)", 1
            ).cast("int"),
        )
        .otherwise(F.lit(None))
    )
    qty = F.when(
        single,
        F.replace(
            F.regexp_extract(low, r"([0-9]+[.,]?[0-9]*) *(ml|cl|l|g|kg)", 1),
            F.lit(","),
            F.lit("."),
        ).cast("double"),
    ).otherwise(F.lit(None))
    unit = F.when(
        single, F.regexp_extract(low, r"[0-9]+[.,]?[0-9]* *(ml|cl|l|g|kg)", 1)
    ).otherwise(F.lit(None))
    return p.select(
        "raw", kind.alias("kind"), cnt.alias("count"), qty.alias("qty"), unit.alias("unit")
    )


# ---------------------------------------------------------------------------
# Unit normalisation + salt/sodium conversion (F2)
# ---------------------------------------------------------------------------

_UNIT_COLS = ["sku_id", "qty", "unit", "sodium_mg"]
UNIT_FIXTURE = [
    ("a", 330.0, "ml", 400.0),
    ("b", 1.5, "l", 1200.0),
    ("c", 33.0, "cl", 0.0),
    ("d", 450.0, "g", 150.0),
    ("e", 2.5, "kg", 900.0),
    ("f", 100.0, "unknown", 250.0),
]

_UNIT_ORACLE = f"""
WITH {values_cte(UNIT_FIXTURE, _UNIT_COLS, 'u')}
SELECT sku_id,
  CASE unit WHEN 'ml' THEN qty WHEN 'cl' THEN qty*10 WHEN 'l' THEN qty*1000
            WHEN 'g' THEN qty WHEN 'kg' THEN qty*1000 ELSE NULL END AS qty_base,
  CASE unit WHEN 'ml' THEN 'ml' WHEN 'cl' THEN 'ml' WHEN 'l' THEN 'ml'
            WHEN 'g' THEN 'g' WHEN 'kg' THEN 'g' ELSE NULL END AS base_unit,
  ROUND(sodium_mg * 2.5 / 1000, 6) AS salt_g
FROM u
"""


@register("unit_normalization", oracle=_UNIT_ORACLE)
def unit_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml/cl/l/g/kg → base units (`competitor_match.py:49-55,94-96`,
    `_norm_unit` `artwork_processing.py:465-477`) plus the
    salt = sodium × 2.5 conversion (`prompts.py:523`)."""
    u = spark_inline(spark, UNIT_FIXTURE, _UNIT_COLS)
    qty_base = (
        F.when(F.col("unit") == "ml", F.col("qty"))
        .when(F.col("unit") == "cl", F.col("qty") * 10)
        .when(F.col("unit") == "l", F.col("qty") * 1000)
        .when(F.col("unit") == "g", F.col("qty"))
        .when(F.col("unit") == "kg", F.col("qty") * 1000)
        .otherwise(F.lit(None))
    )
    base_unit = (
        F.when(F.col("unit").isin("ml", "cl", "l"), "ml")
        .when(F.col("unit").isin("g", "kg"), "g")
        .otherwise(F.lit(None))
    )
    return u.select(
        "sku_id",
        qty_base.alias("qty_base"),
        base_unit.alias("base_unit"),
        F.round(F.col("sodium_mg") * 2.5 / 1000, 6).alias("salt_g"),
    )
