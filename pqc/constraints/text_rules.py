"""Caption text rules — the reference's banned-ingredient screen
(`prompts/banningredients.py`) as a distributed two-stage plan.

Stage shape (SURVEY §3.3, `bulk_find_banned_candidates`
`banningredients.py:146-276`):
1. normalise caption (mojibake repair P4 + lower, `banningredients.py:74-117`)
2. segment on [;,.()/] and " and " (`segment_ingredients` `:121-128`)
3. dedupe segments (work ∝ distinct segments, `:170-182`)
4. exact screen: token-boundary regex join vs broadcast synonym dim
   (`_whole_word_in_segment` `:131-139` — the "tea ∉ stearate" rule)
5. fuzzy screen only on non-exact survivors: JVM-side levenshtein
   ratio vs variants (deterministic stand-in for token_set_ratio;
   `:207-268`), flagged needs_review
6. fan hits back to rows, best-evidence-first (exact > fuzzy, `:216-219`)

Everything is Catalyst: broadcast joins + rlike + levenshtein. No UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pqc.constraints import SuiteContext, flag_rows

NAMES = ("text:banned_ingredient", "text:needs_review")

FUZZY_RATIO_MIN = 0.85

# Windows-1252 mojibake artifacts (banningredients.py:74-81)
_MOJIBAKE = [("â€™", "'"), ("â€œ", '"'), ("â€\x9d", '"'), ("â€“", "-"), ("â€”", "-"), ("Â", "")]


def repair_mojibake(col: Column) -> Column:
    for bad, good in _MOJIBAKE:
        col = F.replace(col, F.lit(bad), F.lit(good))
    return col


def norm_caption(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(repair_mojibake(col)), r"\s+", " "))


def segment_caption(col: Column) -> Column:
    """Split a caption into ingredient-statement-like segments."""
    cleaned = F.regexp_replace(norm_caption(col), r"\band\b", ",")
    segs = F.split(cleaned, r"[;,.()/\[\]]")
    return F.filter(
        F.transform(segs, lambda s: F.trim(s)), lambda s: F.length(s) >= 2
    )


def _synonym_dim(ctx: SuiteContext) -> DataFrame:
    """Broadcastable synonym dim with precompiled boundary patterns."""
    spark = ctx.images.sparkSession
    if "synonyms" in ctx.extras:
        syn = ctx.extras["synonyms"]
    else:
        from pqc.fixtures import synonyms_pdf

        syn = spark.createDataFrame(synonyms_pdf())
    # token-boundary pattern with flexible inner whitespace/hyphens
    # (banningredients.py:83-84,131-139): custom word class excludes
    # hyphen so "kava-kava" still matches "kava kava"
    pat = F.concat(
        F.lit("(?<![a-z0-9])"),
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("synonym")), r"([.^$*+?()\[\]{}|\\])", r"\\$1"),
            r"[\s-]+",
            r"[\\s-]+",
        ),
        F.lit("(?![a-z0-9])"),
    )
    return syn.select(
        F.lower(F.col("canonical")).alias("canonical"),
        F.col("type").alias("syn_type"),
        F.lower(F.col("synonym")).alias("variant"),
        pat.alias("pattern"),
        # the variant's first token appears LITERALLY in any regex
        # match (the pattern's flexibility is only in the separator
        # runs between tokens), so a substring test on it is a
        # theorem-true prefilter for the boundary regex — evaluated
        # first in the join condition, it spares the regex engine for
        # the overwhelming majority of (segment, variant) combinations
        F.regexp_extract(F.lower(F.col("synonym")), r"^[^\s-]+", 0).alias("tok0"),
    )


def screen_hits(ctx: SuiteContext) -> DataFrame:
    """(image_id, part, canonical, syn_type, segment, match_kind, score).

    match_kind: 'exact' (boundary regex hit, score 100) or 'fuzzy'
    (levenshtein ratio ≥ 0.85, score = 100*ratio). Best evidence per
    (row, canonical) with exact beating fuzzy — `banningredients.py:216-219`.
    """
    images = ctx.meta().filter(F.col("caption").isNotNull())
    segs = images.select(
        "image_id",
        "part",
        F.explode(segment_caption(F.col("caption"))).alias("segment"),
    )
    # dedupe the probe side: work scales with distinct segments (:170-182).
    # Persisted (released via ctx.release()): the exact pass, the fuzzy
    # pass, and its anti-join all probe this small set — without the
    # cache each branch re-runs the full explode+dedup over every caption.
    uniq = ctx.track_persist(segs.select("segment").dropDuplicates())
    dim = F.broadcast(_synonym_dim(ctx))

    exact = uniq.join(
        dim,
        F.col("segment").contains(F.col("tok0")) & F.expr("segment rlike pattern"),
    ).select(
        "segment",
        "canonical",
        "syn_type",
        F.lit("exact").alias("match_kind"),
        F.lit(100.0).alias("score"),
    )
    # fuzzy pass probes contiguous token n-grams (1-3 words) of each
    # segment — the deterministic twin of token_set_ratio's subset
    # matching (banningredients.py:207-268). JVM levenshtein only,
    # length-prefiltered to keep the candidate set tight.
    from pqc.text import word_grams

    grams = uniq.select(
        "segment", F.explode(word_grams(F.col("segment"))).alias("gram")
    )
    fuzzy = (
        grams.join(
            dim,
            (
                F.abs(F.length("gram") - F.length("variant"))
                <= F.greatest(F.lit(2), F.length("variant") * 0.25)
            )
            & (F.length("variant") >= 4),
        )
        .withColumn(
            "ratio",
            1
            - F.levenshtein("gram", "variant")
            / F.greatest(F.length("gram"), F.length("variant")),
        )
        .filter(F.col("ratio") >= FUZZY_RATIO_MIN)
        .groupBy("segment", "canonical", "syn_type")
        .agg(F.max(F.col("ratio") * 100).alias("score"))
        .select(
            "segment",
            "canonical",
            "syn_type",
            F.lit("fuzzy").alias("match_kind"),
            "score",
        )
        .join(exact.select("segment", "canonical"), ["segment", "canonical"], "left_anti")
    )
    hits = exact.unionByName(fuzzy)
    # fan hits back to rows; keep best evidence per (row, canonical).
    # The hit set is bounded by |distinct segments| × |dim| — broadcast
    # it so the (large) segment stream never shuffles.
    joined = segs.join(F.broadcast(hits), "segment")
    # the segment tiebreak makes the pick DETERMINISTIC when two
    # segments tie on (is_exact, score) — required for the violation-
    # row oracle (the detail string embeds the winning segment)
    return joined.groupBy("image_id", "part", "canonical", "syn_type").agg(
        F.max_by(
            F.struct("match_kind", "score", "segment"),
            F.struct(
                (F.col("match_kind") == "exact").cast("int").alias("is_exact"),
                F.col("score"),
                F.col("segment"),
            ),
        ).alias("best")
    ).select(
        "image_id",
        "part",
        "canonical",
        "syn_type",
        F.col("best.match_kind").alias("match_kind"),
        F.col("best.score").alias("score"),
        F.col("best.segment").alias("segment"),
    )


def banned_violations(ctx: SuiteContext) -> DataFrame:
    """Exact Banned-type hits are violations; fuzzy hits and Restricted
    types surface as needs_review. One pass over screen_hits (a
    filter-union would recompute the whole screen per branch); the two
    conditions are disjoint, so each hit flags at most one row."""
    banned, review = NAMES
    kind, canonical, segment = F.col("match_kind"), F.col("canonical"), F.col("segment")
    return flag_rows(
        screen_hits(ctx),
        [
            (
                banned,
                (kind == "exact") & (F.col("syn_type") == "Banned"),
                F.concat(canonical, F.lit(" in segment '"), segment, F.lit("'")),
            ),
            (
                review,
                (kind == "fuzzy") | (F.col("syn_type") == "Restricted"),
                F.concat(
                    canonical,
                    F.lit(" ("),
                    kind,
                    F.lit(" "),
                    F.round("score", 1).cast("string"),
                    F.lit(") in '"),
                    segment,
                    F.lit("'"),
                ),
            ),
        ],
    )
