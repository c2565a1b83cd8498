"""Second tranche of the reference's constraint catalog (SURVEY §2.9)
plus remaining operator-inventory items — each a Catalyst-pure query
with a DuckDB oracle.

Covers: ingredient-presence membership map with proximity windows and
implication rules (J7), FNV percentage accumulation (A7), per-group
set union (A4), max_by selection (W5), bbox IoU geometry (F7), JSON
extraction (F8), dictionary spelling check, caffeine age-restriction
thresholds, vegan-flag token conflict, legal-category format rules,
nutrition-claim detection with negation exclusion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pqc.io import load_table
from pqc.registry import register
from pqc.rule_packs import spark_inline, values_cte

# ---------------------------------------------------------------------------
# J7: ingredient-presence membership with proximity + implication rules
# (ingredient_presence_fast.py:142-216)
# ---------------------------------------------------------------------------

_PRES_COLS = ["row_id", "statement"]
PRESENCE_FIXTURE = [
    (1, "water, soy lecithin, sugar"),
    (2, "water, lecithin (sunflower), soy protein isolate far away from it all"),
    (3, "contains ala from flaxseed"),
    (4, "alpha lipoic acid with ala 300mg"),
    (5, "manuka blend with natural sweetness"),
    (6, "omega-3 fish oil with epa and dha"),
    (7, "plain water and salt"),
    (8, "soy free but contains lecithin"),
]
PROXIMITY_CHARS = 40  # soy within 40 chars of lecithin (…fast.py:171-183)

_PRES_NORM = "(' ' || trim(regexp_replace(lower(statement), '[^a-z0-9]+', ' ', 'g')) || ' ')"


def _presence_sql(src: str) -> str:
    """The membership map over ``src`` (row_id, statement) as a CTE
    tail: ``n`` then the SELECT of the five flags. Twin of
    :func:`_presence_flags`."""
    return f"""n AS (SELECT row_id, {_PRES_NORM} AS s FROM {src})
SELECT row_id,
  instr(s, ' lecithin ') > 0 AS lecithin,
  -- soy counts only within ±{PROXIMITY_CHARS} chars of lecithin
  (instr(s, ' soy ') > 0 AND instr(s, ' lecithin ') > 0
   AND ABS(instr(s, ' soy ') - instr(s, ' lecithin ')) <= {PROXIMITY_CHARS})
    AS soy_lecithin,
  -- bare 'ala' counts only when 'lipoic' appears in the statement
  (instr(s, ' ala ') > 0 AND instr(s, ' lipoic ') > 0) AS ala_lipoic,
  instr(s, ' omega 3 ') > 0 AS omega3,
  -- implication rule: manuka ⇒ honey (…fast.py:199-207)
  (instr(s, ' honey ') > 0 OR instr(s, ' manuka ') > 0) AS honey
FROM n
"""


_PRESENCE_ORACLE = f"""
WITH {values_cte(PRESENCE_FIXTURE, _PRES_COLS, 'p')},
{_presence_sql('p')}"""


@register("ingredient_presence_map", oracle=_PRESENCE_ORACLE)
def ingredient_presence_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership map with proximity windows and implication rules
    (`scan_product` `ingredient_presence_fast.py:142-216`): boundary
    token hits via padded normalized text, proximity = |instr-instr| ≤
    window (`:171-183`), ambiguous 'ala' gated on 'lipoic' (`:164-169`),
    manuka ⇒ honey implication (`:199-207`). Pure string expressions —
    a MapType-per-row at scan speed."""
    return _presence_flags(spark_inline(spark, PRESENCE_FIXTURE, _PRES_COLS))


def _presence_flags(p: DataFrame) -> DataFrame:
    """(row_id, lecithin, soy_lecithin, ala_lipoic, omega3, honey) over
    (row_id, statement) — shared by the fixture query and the bulk
    tier. Twin of :func:`_presence_sql`."""
    s = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.col("statement")), "[^a-z0-9]+", " ")),
        F.lit(" "),
    )
    n = p.select("row_id", s.alias("s"))
    pos = lambda tok: F.instr(F.col("s"), f" {tok} ")  # noqa: E731
    return n.select(
        "row_id",
        (pos("lecithin") > 0).alias("lecithin"),
        (
            (pos("soy") > 0)
            & (pos("lecithin") > 0)
            & (F.abs(pos("soy") - pos("lecithin")) <= PROXIMITY_CHARS)
        ).alias("soy_lecithin"),
        ((pos("ala") > 0) & (pos("lipoic") > 0)).alias("ala_lipoic"),
        (pos("omega 3") > 0).alias("omega3"),
        ((pos("honey") > 0) | (pos("manuka") > 0)).alias("honey"),
    )


# ---------------------------------------------------------------------------
# A7: FNV percentage accumulation with presumptive caps (prompts.py:685-716)
# ---------------------------------------------------------------------------

_FNV_COLS = ["sku_id", "ingredient", "pct", "eligible", "presumptive"]
FNV_FIXTURE = [
    ("a", "tomato", 40.0, True, False),
    ("a", "onion", 12.5, True, False),
    ("a", "sugar", 10.0, False, False),
    ("b", "fruit blend", None, True, True),  # presumptive 30
    ("b", "apple", 20.0, True, False),
    ("c", "veg mix", None, True, True),
    ("c", "carrot", None, True, True),
    ("d", "water", 90.0, False, False),
]
PRESUMPTIVE_PCT = 30.0
PRESUMPTIVE_CAP = 45.0

_FNV_ORACLE = f"""
WITH {values_cte(FNV_FIXTURE, _FNV_COLS, 'f')},
per_sku AS (
  SELECT sku_id,
    CAST(SUM(CASE WHEN eligible AND NOT presumptive THEN COALESCE(pct, 0) ELSE 0 END)
      AS DECIMAL(18,4)) AS certain,
    CAST(SUM(CASE WHEN eligible AND presumptive THEN {PRESUMPTIVE_PCT} ELSE 0 END)
      AS DECIMAL(18,4)) AS presumed
  FROM f GROUP BY sku_id
)
SELECT sku_id,
  CAST(CEIL(CASE WHEN certain > 0 THEN certain
            ELSE LEAST(presumed, CAST({PRESUMPTIVE_CAP} AS DECIMAL(18,4))) END)
    AS BIGINT) AS fnv_pct
FROM per_sku
"""


@register("fnv_accumulation", oracle=_FNV_ORACLE)
def fnv_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FNV estimator (`prompts.py:685-716`): sum printed % of eligible
    ingredients; presumptive entries score 30 capped at 45 total;
    certain > 0 ⇒ presumptive = 0; round up."""
    f = spark_inline(spark, FNV_FIXTURE, _FNV_COLS)
    certain = F.sum(
        F.when(
            F.col("eligible") & ~F.col("presumptive"), F.coalesce(F.col("pct"), F.lit(0.0))
        ).otherwise(0.0).cast("decimal(18,4)")
    )
    presumed = F.sum(
        F.when(F.col("eligible") & F.col("presumptive"), PRESUMPTIVE_PCT)
        .otherwise(0.0)
        .cast("decimal(18,4)")
    )
    per_sku = f.groupBy("sku_id").agg(certain.alias("certain"), presumed.alias("presumed"))
    fnv = F.ceil(
        F.when(F.col("certain") > 0, F.col("certain")).otherwise(
            F.least(F.col("presumed"), F.lit(PRESUMPTIVE_CAP).cast("decimal(18,4)"))
        )
    )
    return per_sku.select("sku_id", fnv.cast("bigint").alias("fnv_pct"))


# ---------------------------------------------------------------------------
# A4: per-group set union (pictograms analogue, app.py:994,1013-1021)
# ---------------------------------------------------------------------------

_SETS_ORACLE = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
       COUNT(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
"""


@register("user_event_type_sets", oracle=_SETS_ORACLE)
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-union across a group, sorted for determinism — the
    pictograms-across-images union (`app.py:1013-1021`) as
    collect_set + array_sort (emitted joined: list renderings differ
    across engines, strings hash identically)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.countDistinct("event_type").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# W5: max_by selection (largest-candidate, artwork_processing.py:1308-1371)
# ---------------------------------------------------------------------------

_MAXBY_ORACLE = """
SELECT p_brand, p_name AS priciest_part, ROUND(max_price, 2) AS max_price FROM (
  SELECT p_brand, p_name,
         MAX(p_retailprice) OVER (PARTITION BY p_brand) AS max_price,
         ROW_NUMBER() OVER (
           PARTITION BY p_brand ORDER BY p_retailprice DESC, p_name DESC
         ) AS rk
  FROM part
) WHERE rk = 1
"""


@register("max_by_selection", oracle=_MAXBY_ORACLE)
def max_by_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-candidate selection: `max_by(value, score)` per group
    with a deterministic tiebreak (the widest-bbox pick,
    `artwork_processing.py:1308-1371`)."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.max_by(
            F.col("p_name"), F.struct(F.col("p_retailprice"), F.col("p_name"))
        ).alias("priciest_part"),
        F.round(F.max("p_retailprice"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# F7: bbox IoU + merge decision (artwork_processing_warnings_advisory.py:223-236)
# ---------------------------------------------------------------------------

_BOX_COLS = ["pair_id", "ax0", "ay0", "ax1", "ay1", "bx0", "by0", "bx1", "by1"]
BOX_FIXTURE = [
    (1, 0, 0, 100, 100, 50, 50, 150, 150),
    (2, 0, 0, 10, 10, 20, 20, 30, 30),
    (3, 0, 0, 100, 100, 10, 10, 90, 90),
    (4, 0, 0, 100, 100, 100, 100, 200, 200),
    (5, 0, 0, 60, 40, 30, 0, 90, 40),
]
IOU_MERGE_THRESHOLD = 0.35

_IOU_EXPR = """
  CAST(GREATEST(0, LEAST(ax1, bx1) - GREATEST(ax0, bx0))
       * GREATEST(0, LEAST(ay1, by1) - GREATEST(ay0, by0)) AS DOUBLE)
  / ((ax1-ax0)*(ay1-ay0) + (bx1-bx0)*(by1-by0)
     - GREATEST(0, LEAST(ax1, bx1) - GREATEST(ax0, bx0))
       * GREATEST(0, LEAST(ay1, by1) - GREATEST(ay0, by0)))
"""

_IOU_ORACLE = f"""
WITH {values_cte(BOX_FIXTURE, _BOX_COLS, 'b')}
SELECT pair_id, ROUND({_IOU_EXPR}, 6) AS iou,
       ({_IOU_EXPR}) >= {IOU_MERGE_THRESHOLD} AS should_merge,
       LEAST(ax0, bx0) AS mx0, LEAST(ay0, by0) AS my0,
       GREATEST(ax1, bx1) AS mx1, GREATEST(ay1, by1) AS my1
FROM b
"""


@register("bbox_iou_merge", oracle=_IOU_ORACLE)
def bbox_iou_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox IoU + union-merge decision as pure integer arithmetic
    (`_merge_nearby_boxes` IoU ≥ 0.35,
    `artwork_processing_warnings_advisory.py:223-236`; union
    `supplier_addresses.py:146-151`)."""
    b = spark_inline(spark, BOX_FIXTURE, _BOX_COLS)
    ix = F.greatest(F.lit(0), F.least("ax1", "bx1") - F.greatest("ax0", "bx0"))
    iy = F.greatest(F.lit(0), F.least("ay1", "by1") - F.greatest("ay0", "by0"))
    inter = (ix * iy).cast("double")
    area_a = (F.col("ax1") - F.col("ax0")) * (F.col("ay1") - F.col("ay0"))
    area_b = (F.col("bx1") - F.col("bx0")) * (F.col("by1") - F.col("by0"))
    iou = inter / (area_a + area_b - inter)
    return b.select(
        "pair_id",
        F.round(iou, 6).alias("iou"),
        (iou >= IOU_MERGE_THRESHOLD).alias("should_merge"),
        F.least("ax0", "bx0").alias("mx0"),
        F.least("ay0", "by0").alias("my0"),
        F.greatest("ax1", "bx1").alias("mx1"),
        F.greatest("ay1", "by1").alias("my1"),
    )


# ---------------------------------------------------------------------------
# F8: JSON decode over events.props (app.py:103,1013-1441)
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
FROM events
GROUP BY 1
"""


@register("json_extraction", oracle=_JSON_ORACLE)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: parse the JSON props column and aggregate an extracted field
    (`json.loads` verdict parsing, `app.py:1013,1087,1288`). Spark side
    uses get_json_object — schema-on-read without a UDF."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("bigint").alias("k_sum"),
    )


# ---------------------------------------------------------------------------
# Spelling check: dictionary + edit-distance ≤ 1 (prompts.py:1167-1193)
# ---------------------------------------------------------------------------

_SPELL_COLS = ["row_id", "token"]
SPELL_FIXTURE = [
    (1, "ingredient"),
    (2, "ingrediant"),  # 1 edit → flagged with suggestion
    (3, "suggar"),  # 1 edit from sugar
    (4, "xylophone"),  # >1 edit from any dict word → unknown, not flagged
    (5, "water"),
    (6, "BRND123"),  # brand/sku-like token → skipped
    (7, "sal"),  # <4 chars → skipped (token>=4 rule)
    (8, "protien"),  # 1 edit from protein
]
DICTIONARY = (
    "ingredient",
    "ingredients",
    "sugar",
    "water",
    "protein",
    "flavouring",
    "preservative",
)

_DICT_SQL = ", ".join(f"('{w}')" for w in DICTIONARY)

_SPELL_ORACLE = f"""
WITH {values_cte(SPELL_FIXTURE, _SPELL_COLS, 's')},
d AS (SELECT * FROM (VALUES {_DICT_SQL}) AS _d(word)),
eligible AS (
  SELECT row_id, lower(token) AS tok FROM s
  WHERE length(token) >= 4
    AND NOT regexp_matches(token, '[0-9]')
    AND lower(token) NOT IN (SELECT word FROM d)
),
best AS (
  SELECT e.row_id, e.tok, d.word, levenshtein(e.tok, d.word) AS dist,
         ROW_NUMBER() OVER (
           PARTITION BY e.row_id
           ORDER BY levenshtein(e.tok, d.word) ASC, d.word ASC, e.tok ASC
         ) AS rk
  FROM eligible e CROSS JOIN d
)
SELECT row_id, tok AS token, word AS suggestion
FROM best WHERE rk = 1 AND dist = 1
"""


@register("spelling_check", oracle=_SPELL_ORACLE)
def spelling_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingredient spelling check (`prompts.py:1186-1193`): tokens ≥ 4
    chars, digit-bearing brand/SKU tokens skipped, dictionary words
    pass; non-dictionary tokens exactly one edit from a dictionary word
    are flagged with the suggestion (edit distance via the built-in
    JVM levenshtein — no UDF)."""
    s = spark_inline(spark, SPELL_FIXTURE, _SPELL_COLS)
    d = F.broadcast(spark_inline(spark, [(w,) for w in DICTIONARY], ["word"]))
    eligible = (
        s.filter(
            (F.length("token") >= 4) & ~F.col("token").rlike("[0-9]")
        )
        .select("row_id", F.lower(F.col("token")).alias("tok"))
        .join(d, F.col("tok") == F.col("word"), "left_anti")
    )
    from pyspark.sql import Window as W

    # length-band blocking: levenshtein == 1 implies |Δlen| <= 1, so
    # exploding each dictionary word to its three admissible lengths
    # turns the bounded nested loop into a broadcast equi-join — at
    # corpus scale the candidate set is (tokens × words of ±1 length),
    # not (tokens × dictionary). Output-equivalent: every dist-1 pair
    # survives the block, and dist>=2 rows are filtered below anyway.
    dk = d.select(
        "word",
        F.explode(
            F.array(F.length("word") - 1, F.length("word"), F.length("word") + 1)
        ).alias("lk"),
    )
    best = (
        eligible.withColumn("lk", F.length("tok"))
        .join(F.broadcast(dk), "lk")
        .withColumn("dist", F.levenshtein("tok", "word"))
    )
    # tok is the final tie-break: two row tokens at equal distance from
    # the same word would otherwise pick nondeterministically per engine
    w = W.partitionBy("row_id").orderBy(
        F.col("dist").asc(), F.col("word").asc(), F.col("tok").asc()
    )
    return (
        best.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("dist") == 1))
        .select("row_id", F.col("tok").alias("token"), F.col("word").alias("suggestion"))
    )


# ---------------------------------------------------------------------------
# Caffeine age-restriction thresholds (prompts.py:543-601)
# ---------------------------------------------------------------------------

_CAF_COLS = ["row_id", "product_kind", "caffeine_mg", "basis_ml", "per_serving_mg"]
CAFFEINE_FIXTURE = [
    (1, "drink", 32.0, 100.0, None),
    (2, "drink", 14.9, 100.0, None),
    (3, "drink", 15.0, 100.0, None),
    (4, "drink", 75.0, 250.0, None),
    (5, "food", None, None, 150.0),
    (6, "food", None, None, 149.9),
    (7, "food", None, None, 200.0),
]

_CAF_ORACLE = f"""
WITH {values_cte(CAFFEINE_FIXTURE, _CAF_COLS, 'c')}
SELECT row_id,
  CASE WHEN product_kind = 'drink'
       THEN caffeine_mg * 100.0 / basis_ml >= 15.0
       ELSE per_serving_mg >= 150.0 END AS age_restricted,
  CASE WHEN product_kind = 'drink'
       THEN ROUND(caffeine_mg * 100.0 / basis_ml, 4) ELSE NULL END AS mg_per_100ml
FROM c
"""


@register("caffeine_age_restriction", oracle=_CAF_ORACLE)
def caffeine_age_restriction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Age-restriction rule: drinks ≥ 15 mg caffeine/100 ml (after
    normalising the stated basis, `prompts.py:554-559`), foods ≥ 150
    mg/serving (`:593-595`)."""
    c = spark_inline(spark, CAFFEINE_FIXTURE, _CAF_COLS)
    per100 = F.col("caffeine_mg") * 100.0 / F.col("basis_ml")
    restricted = F.when(
        F.col("product_kind") == "drink", per100 >= 15.0
    ).otherwise(F.col("per_serving_mg") >= 150.0)
    return c.select(
        "row_id",
        restricted.alias("age_restricted"),
        F.when(F.col("product_kind") == "drink", F.round(per100, 4)).alias(
            "mg_per_100ml"
        ),
    )


# ---------------------------------------------------------------------------
# Vegan-flag token conflict (prompts.py:1545-1566)
# ---------------------------------------------------------------------------

_VEGAN_COLS = ["row_id", "statement"]
VEGAN_FIXTURE = [
    (1, "suitable for vegans. contains pea protein"),
    (2, "vegan friendly! made with Gelatine for texture"),
    (3, "vegan. whey protein isolate blend"),
    (4, "100% plant based, no animal ingredients"),
    (5, "vegan society approved; contains honey notes"),
    (6, "not labelled vegan, contains milk"),
]
ANIMAL_TERMS = ("gelatine", "gelatin", "whey", "honey", "milk", "egg", "beeswax", "lanolin")

_ANIMAL_SQL = ", ".join(f"('{t}')" for t in ANIMAL_TERMS)

_VEGAN_ORACLE = f"""
WITH {values_cte(VEGAN_FIXTURE, _VEGAN_COLS, 'v')},
a AS (SELECT * FROM (VALUES {_ANIMAL_SQL}) AS _a(term)),
n AS (SELECT row_id, statement,
             (' ' || trim(regexp_replace(lower(statement), '[^a-z0-9]+', ' ', 'g')) || ' ')
               AS s
      FROM v)
SELECT n.row_id, a.term AS conflicting_term,
       regexp_extract(lower(n.statement),
                      '[a-z]*' || a.term || '[a-z]*', 0) AS exact_spelling
FROM n JOIN a ON instr(n.s, ' ' || a.term || ' ') > 0
WHERE instr(n.s, ' vegan ') > 0 OR instr(n.s, ' vegans ') > 0
"""


@register("vegan_flag_conflict", oracle=_VEGAN_ORACLE)
def vegan_flag_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vegan-claim vs animal-derived-term conflict, echoing the exact
    spelling found (`prompts.py:1562-1566`)."""
    v = spark_inline(spark, VEGAN_FIXTURE, _VEGAN_COLS)
    a = F.broadcast(spark_inline(spark, [(t,) for t in ANIMAL_TERMS], ["term"]))
    s = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.col("statement")), "[^a-z0-9]+", " ")),
        F.lit(" "),
    )
    n = v.select("row_id", "statement", s.alias("s"))
    return (
        n.join(a, F.instr(F.col("s"), F.concat(F.lit(" "), F.col("term"), F.lit(" "))) > 0)
        .filter(
            (F.instr(F.col("s"), " vegan ") > 0) | (F.instr(F.col("s"), " vegans ") > 0)
        )
        .select(
            "row_id",
            F.col("term").alias("conflicting_term"),
            F.expr(
                "regexp_extract(lower(statement), concat('[a-z]*', term, '[a-z]*'), 0)"
            ).alias("exact_spelling"),
        )
    )


# ---------------------------------------------------------------------------
# Legal-category format rules (prompts.py:1636-1656)
# ---------------------------------------------------------------------------

_LEGAL_COLS = ["row_id", "licence", "pack_desc"]
LEGAL_FIXTURE = [
    (1, "THR01234/0001", "30 ml oral liquid"),
    (2, "PL 12345/0067", "28 tablets"),
    (3, "NR 54321/0002", "capsules x 60"),
    (4, "THR1234/001", "60 ml"),  # malformed THR
    (5, "XX 99999/0001", "powder 200 g"),  # unknown prefix
    (6, "PL12345/0067", "250 ml solution"),  # PL without space → malformed
]

_LEGAL_ORACLE = f"""
WITH {values_cte(LEGAL_FIXTURE, _LEGAL_COLS, 'l')}
SELECT row_id,
  CASE
    WHEN regexp_matches(licence, '^THR[0-9]{{5}}/[0-9]{{4}}$') THEN 'THR'
    WHEN regexp_matches(licence, '^PL [0-9]{{5}}/[0-9]{{4}}$') THEN 'PL'
    WHEN regexp_matches(licence, '^NR [0-9]{{5}}/[0-9]{{4}}$') THEN 'NR'
    ELSE 'INVALID' END AS licence_kind,
  CASE WHEN regexp_matches(lower(pack_desc), '(ml|liquid|solution|drops)')
       THEN 'liquid' ELSE 'solid' END AS form
FROM l
"""


@register("legal_category_format", oracle=_LEGAL_ORACLE)
def legal_category_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legal-category rules: THR code format `THR00000/0000`
    (`prompts.py:1647`), `PL `/`NR ` licence prefixes (`:1648-1649`),
    liquid/solid classification by pack-size keywords (`:1655-1656`)."""
    l = spark_inline(spark, LEGAL_FIXTURE, _LEGAL_COLS)  # noqa: E741
    kind = (
        F.when(F.col("licence").rlike(r"^THR[0-9]{5}/[0-9]{4}$"), "THR")
        .when(F.col("licence").rlike(r"^PL [0-9]{5}/[0-9]{4}$"), "PL")
        .when(F.col("licence").rlike(r"^NR [0-9]{5}/[0-9]{4}$"), "NR")
        .otherwise("INVALID")
    )
    form = F.when(
        F.lower(F.col("pack_desc")).rlike("(ml|liquid|solution|drops)"), "liquid"
    ).otherwise("solid")
    return l.select("row_id", kind.alias("licence_kind"), form.alias("form"))


# ---------------------------------------------------------------------------
# Daily unit-dose extractor (prompts.py:415-475)
# ---------------------------------------------------------------------------

_DOSE_COLS = ["row_id", "directions"]
DOSE_FIXTURE = [
    (1, "take two tablets twice daily"),
    (2, "one capsule daily"),
    (3, "take 3 tablets per day"),
    (4, "two capsules three times daily with food"),
    (5, "take one to two tablets daily"),  # range → max = 2
    (6, "apply liberally as needed"),  # no dose
    (7, "4 gummies once daily"),
    (8, "take ten drops twice a day"),
]

_WORDNUM_SQL = (
    "CASE {c} WHEN 'one' THEN 1 WHEN 'two' THEN 2 WHEN 'three' THEN 3 "
    "WHEN 'four' THEN 4 WHEN 'five' THEN 5 WHEN 'six' THEN 6 "
    "WHEN 'seven' THEN 7 WHEN 'eight' THEN 8 WHEN 'nine' THEN 9 "
    "WHEN 'ten' THEN 10 ELSE TRY_CAST({c} AS INT) END"
)
_UNITS_RE = "(tablets?|capsules?|gummies|drops?|softgels?)"
_QTY_RE = "([a-z0-9]+)(?: to ([a-z0-9]+))? " + _UNITS_RE
_FREQ_RE = "(once|twice|three times|[0-9]+ times) (daily|a day|per day)"

_DOSE_ORACLE = f"""
WITH {values_cte(DOSE_FIXTURE, _DOSE_COLS, 'd')},
parsed AS (
  SELECT row_id, lower(directions) AS s,
         regexp_extract(lower(directions), '{_QTY_RE}', 1) AS q1,
         regexp_extract(lower(directions), '{_QTY_RE}', 2) AS q2,
         regexp_extract(lower(directions), '{_FREQ_RE}', 1) AS freq
  FROM d
),
n AS (
  SELECT row_id,
         COALESCE({_WORDNUM_SQL.format(c="NULLIF(q2, '')")},
                  {_WORDNUM_SQL.format(c="NULLIF(q1, '')")}) AS units,
         CASE freq WHEN 'once' THEN 1 WHEN 'twice' THEN 2
                   WHEN 'three times' THEN 3
                   WHEN '' THEN CASE WHEN regexp_matches(
                     (SELECT lower(directions) FROM d dd WHERE dd.row_id = n0.row_id),
                     '(daily|per day|a day)') THEN 1 ELSE NULL END
                   ELSE TRY_CAST(regexp_extract(freq, '([0-9]+)', 1) AS INT) END
           AS times_per_day
  FROM parsed n0
)
SELECT row_id, units, times_per_day,
       units * times_per_day AS daily_units
FROM n
"""


@register("daily_dose_extractor", oracle=_DOSE_ORACLE)
def daily_dose_extractor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily unit-dose extraction (`prompts.py:415-475`): word-number
    map, range 'one to two' → max (`:465-469`), frequency math 'two
    tablets twice daily' = 4 (`:470-475`); bare 'daily' with no
    multiplier = once."""
    d = spark_inline(spark, DOSE_FIXTURE, _DOSE_COLS)
    s = F.lower(F.col("directions"))
    q1 = F.regexp_extract(s, _QTY_RE, 1)
    q2 = F.regexp_extract(s, _QTY_RE, 2)
    freq = F.regexp_extract(s, _FREQ_RE, 1)

    def wordnum(col):
        words = {
            "one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
            "six": 6, "seven": 7, "eight": 8, "nine": 9, "ten": 10,
        }
        expr = F.lit(None).cast("int")
        for w_, v in words.items():
            expr = F.when(col == w_, v).otherwise(expr)
        return F.coalesce(expr, col.cast("int"))

    units = F.coalesce(
        wordnum(F.nullif(q2, F.lit(""))), wordnum(F.nullif(q1, F.lit("")))
    )
    times = (
        F.when(freq == "once", 1)
        .when(freq == "twice", 2)
        .when(freq == "three times", 3)
        .when(
            freq == "",
            F.when(s.rlike("(daily|per day|a day)"), 1).otherwise(F.lit(None)),
        )
        .otherwise(F.regexp_extract(freq, "([0-9]+)", 1).cast("int"))
    )
    return d.select(
        "row_id",
        units.alias("units"),
        times.alias("times_per_day"),
        (units * times).alias("daily_units"),
    )


# ---------------------------------------------------------------------------
# Nutrition-claim detection with negation exclusion (prompts.py:111-138)
# ---------------------------------------------------------------------------

_CLAIMD_COLS = ["row_id", "copy_text"]
CLAIM_DETECT_FIXTURE = [
    (1, "high in protein and fibre"),
    (2, "not high in sugar"),
    (3, "rich in omega 3"),
    (4, "a source of calcium"),
    (5, "no added sugar, never high in salt"),
    (6, "provides 100% of your daily value of vitamin c"),
    (7, "tastes great with milk"),
    (8, "low fat, but isn't rich in anything"),
]
_CLAIM_FAMS = [
    ("HIGH_IN", "high in [a-z0-9 ]+"),
    ("RICH_IN", "rich in [a-z0-9 ]+"),
    ("SOURCE_OF", "source of [a-z0-9 ]+"),
    ("DAILY_VALUE", "daily value"),
]
_NEG = "(not|no|never|isn t|without) "

_CLAIMD_FAMS_SQL = ", ".join(f"('{k}', '{p}')" for k, p in _CLAIM_FAMS)


def _claim_detect_sql(src: str) -> str:
    """Claim hits (row_id, family) over ``src`` (row_id, copy_text) as a
    CTE tail: ``fam``, ``n``, then the regex-minus-negation SELECT. Twin
    of :func:`_claim_detect_plan`."""
    return f"""fam AS (SELECT * FROM (VALUES {_CLAIMD_FAMS_SQL}) AS _f(family, pat)),
n AS (SELECT row_id,
             (' ' || trim(regexp_replace(lower(copy_text), '[^a-z0-9]+', ' ', 'g')) || ' ')
               AS s
      FROM {src})
SELECT n.row_id, fam.family
FROM n JOIN fam
  ON regexp_matches(n.s, fam.pat)
 AND NOT regexp_matches(n.s, '{_NEG}' || fam.pat)
"""


_CLAIMD_ORACLE = f"""
WITH {values_cte(CLAIM_DETECT_FIXTURE, _CLAIMD_COLS, 'c')},
{_claim_detect_sql('c')}"""


@register("nutrition_claim_detect", oracle=_CLAIMD_ORACLE)
def nutrition_claim_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Claim-pattern families HIGH_IN/RICH_IN/SOURCE_OF/DAILY_VALUE with
    a negation-window exclusion (`prompts.py:126-138`): a family hit
    preceded by not/no/never/without does not count."""
    c = spark_inline(spark, CLAIM_DETECT_FIXTURE, _CLAIMD_COLS)
    return _claim_detect_plan(spark, c)


def _claim_detect_plan(spark: SparkSession, c: DataFrame) -> DataFrame:
    """scan → normalize → broadcast family dim → regex hit minus
    negation-window hit. Shared by the semantics fixture above and the
    bulk tier below."""
    fam = F.broadcast(spark_inline(spark, _CLAIM_FAMS, ["family", "pat"]))
    s = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.col("copy_text")), "[^a-z0-9]+", " ")),
        F.lit(" "),
    )
    n = c.select("row_id", s.alias("s"))
    hit = F.expr("s rlike pat")
    negated = F.expr(f"s rlike concat('{_NEG}', pat)")
    return n.crossJoin(fam).filter(hit & ~negated).select("row_id", "family")


# ---------------------------------------------------------------------------
# Bulk tiers (r4 verdict item 4): the flagship rule packs above prove
# SEMANTICS over ≤10-row inline VALUES; these run the same plans over
# generated multi-thousand-row catalog parquet so the scan-scale plan
# shape (parquet scan → normalize → broadcast dim → hash aggregate,
# nothing driver-side) has hash-checked driver evidence too.
# ---------------------------------------------------------------------------

N_BULK_ROWS = 5000
_BULK_SEED = 991


_CLAIM_TAILS = ["protein", "fibre", "omega 3", "calcium", "vitamin c", "iron"]
_CLAIM_FILL = [
    "crunchy oat clusters",
    "with real fruit pieces",
    "a family favourite",
    "best served chilled",
    "tastes great with milk",
    "now in a bigger pack",
]
_NEGATORS = ["not", "no", "never", "without"]


def _claims_bulk_row(i: int) -> dict:
    import numpy as np

    rng = np.random.default_rng(_BULK_SEED * 65_537 + i)
    parts = [str(rng.choice(_CLAIM_FILL))]
    if i % 10 < 4:  # 40% of rows carry one claim phrase
        fam = i % 4
        if fam == 3:
            phrase = "daily value"
        else:
            lead = ("high in", "rich in", "a source of")[fam]
            phrase = f"{lead} {rng.choice(_CLAIM_TAILS)}"
        if i % 20 < 2:  # the i%20<2 residues (one fam-0 and one fam-1 slot) negated
            phrase = f"{_NEGATORS[i % 4]} {phrase}"
        parts.append(phrase)
    parts.append(str(rng.choice(_CLAIM_FILL)))
    return {"row_id": i, "copy_text": ", ".join(parts)}


def _claims_bulk_path() -> str:
    return f"/tmp/pqc_fixtures/claims_bulk_n{N_BULK_ROWS}"


_CLAIMD_BULK_ORACLE = f"""
WITH m AS (
WITH {_claim_detect_sql(f"read_parquet('{_claims_bulk_path()}/*.parquet')")})
SELECT family, COUNT(*) AS n_hits FROM m GROUP BY family
"""


def _ensure_claims_bulk(spark: SparkSession) -> str:
    from pqc.fixtures import ensure_generated_parquet

    return ensure_generated_parquet(
        spark, _claims_bulk_path(), N_BULK_ROWS, _claims_bulk_row,
        "row_id long, copy_text string",
    )


@register("nutrition_claim_detect_bulk", oracle=_CLAIMD_BULK_ORACLE)
def nutrition_claim_detect_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`nutrition_claim_detect` at catalog scale: the same normalize →
    broadcast-family → regex-minus-negation plan over a generated
    {N}-row parquet (claims present in 40% of rows, a quarter of those
    negated), rolled up per family. The scan reads two columns, the
    dim is broadcast, and both aggregations are map-side combined —
    the 10^9-row plan shape, hash-checked."""
    _ensure_claims_bulk(spark)
    c = spark.read.parquet(_claims_bulk_path())
    return (
        _claim_detect_plan(spark, c)
        .groupBy("family")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


_PRES_FAR_FILLER = (
    "unbleached wheat flour cane sugar cocoa butter skimmed milk powder "
    "emulsifier of vegetable origin"
)


def _presence_bulk_row(i: int) -> dict:
    import numpy as np

    rng = np.random.default_rng(_BULK_SEED * 131_071 + i)
    fillers = ["water", "sugar", "rice flour", "pea protein", "citric acid",
               "maltodextrin", "natural flavouring"]
    base = list(rng.choice(fillers, size=3, replace=False))
    r = i % 11
    if r == 1:
        base.insert(1, "soy lecithin")  # near: proximity hit
    elif r == 2:  # far: lecithin yes, soy-lecithin proximity NO
        base = ["soy protein isolate", _PRES_FAR_FILLER, "lecithin"] + base
    elif r == 3:
        base.insert(1, "alpha lipoic acid with ala 300mg")
    elif r == 4:
        base.insert(0, "contains ala from flaxseed")
    elif r == 5:
        base.append("manuka blend")
    elif r == 6:
        base.insert(1, "omega-3 fish oil with epa and dha")
    elif r == 7:
        base.append("acacia honey")
    return {"row_id": i, "statement": ", ".join(base)}


def _presence_bulk_path() -> str:
    return f"/tmp/pqc_fixtures/presence_bulk_n{N_BULK_ROWS}"


_PRESENCE_BULK_ORACLE = f"""
WITH m AS (
WITH {_presence_sql(f"read_parquet('{_presence_bulk_path()}/*.parquet')")})
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN lecithin THEN 1 ELSE 0 END) AS BIGINT) AS n_lecithin,
       CAST(SUM(CASE WHEN soy_lecithin THEN 1 ELSE 0 END) AS BIGINT) AS n_soy_lecithin,
       CAST(SUM(CASE WHEN ala_lipoic THEN 1 ELSE 0 END) AS BIGINT) AS n_ala_lipoic,
       CAST(SUM(CASE WHEN omega3 THEN 1 ELSE 0 END) AS BIGINT) AS n_omega3,
       CAST(SUM(CASE WHEN honey THEN 1 ELSE 0 END) AS BIGINT) AS n_honey
FROM m
"""


def _ensure_presence_bulk(spark: SparkSession) -> str:
    from pqc.fixtures import ensure_generated_parquet

    return ensure_generated_parquet(
        spark, _presence_bulk_path(), N_BULK_ROWS, _presence_bulk_row,
        "row_id long, statement string",
    )


@register("ingredient_presence_map_bulk", oracle=_PRESENCE_BULK_ORACLE)
def ingredient_presence_map_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ingredient_presence_map` at catalog scale: proximity windows
    (near/far soy↔lecithin at controlled distances), ambiguity gates
    and implication rules evaluated as pure string expressions over a
    generated 5000-row parquet, reduced to one map-side-combined
    aggregate row — presence mapping at scan speed, no UDF, no
    shuffle beyond the final combine."""
    _ensure_presence_bulk(spark)
    m = _presence_flags(spark.read.parquet(_presence_bulk_path()))
    return m.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("lecithin").cast("int")).alias("n_lecithin"),
        F.sum(F.col("soy_lecithin").cast("int")).alias("n_soy_lecithin"),
        F.sum(F.col("ala_lipoic").cast("int")).alias("n_ala_lipoic"),
        F.sum(F.col("omega3").cast("int")).alias("n_omega3"),
        F.sum(F.col("honey").cast("int")).alias("n_honey"),
    )
