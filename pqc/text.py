"""Text-analysis operator bank over `documents` — the training-data
pipeline primitives (language-ID, quality scoring, token counting,
fingerprinting) plus the reference's normalisation machinery
(SURVEY §2.2 P2-P6) expressed as Column builders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pqc.exprs import davg_sql, hash64, hash64_sql_duckdb
from pqc.io import load_table, spread
from pqc.registry import pin, register

STOPWORDS = ("the", "a", "and", "of", "to", "in")

# ---------------------------------------------------------------------------
# Normalisation column builders (reference SURVEY §2.2; reused by dedup)
# ---------------------------------------------------------------------------


def norm_text(col: Column) -> Column:
    """P3-style normalisation: lower + whitespace collapse + trim.

    (Mojibake repair P4 and accent folding are applied by
    ``norm_caption`` in pqc/normalize.py for the images table; the
    synthetic documents corpus is ASCII.)
    """
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


NORM_SQL = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"


def tokens(col: Column) -> Column:
    return F.split(norm_text(col), " ")


TOKENS_SQL = f"string_split({NORM_SQL}, ' ')"


def word_grams(segment_col: Column, n_max: int = 3) -> Column:
    """Distinct 1..n_max-word grams of a space-tokenized string column —
    the shared partial_ratio stand-in used by the caption screen, the
    novel-food screen, and their oracles (word_grams_sql below).

    NB: each transform lambda must take exactly ONE parameter — a second
    parameter would silently bind to the element index."""
    toks = F.split(segment_col, " ")

    def _one(n: int) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.array_distinct(F.concat(*[_one(n) for n in range(1, n_max + 1)]))


def word_grams_sql(src: str, key_cols: str, seg_col: str = "segment", n_max: int = 3) -> str:
    """DuckDB twin of :func:`word_grams`: a SELECT producing
    (key_cols..., gram) rows of distinct 1..n_max-word grams."""
    ns = ", ".join(str(n) for n in range(1, n_max + 1))
    return f"""
  SELECT DISTINCT {key_cols}, array_to_string(t[i:i+n-1], ' ') AS gram
  FROM (SELECT {key_cols}, string_split({seg_col}, ' ') AS t FROM {src}),
       UNNEST(generate_series(1, len(t))) AS gi(i),
       UNNEST([{ns}]) AS gn(n)
  WHERE i + n - 1 <= len(t)
"""

_NONEMPTY = "text IS NOT NULL AND length(trim(text)) > 0"


def nonempty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` rows with non-blank text (the oracles' ``_NONEMPTY``)
    — the input of every text and dedup query. spread(): the
    one-row-group parquet otherwise runs the whole tokenize cascade on
    a single scan task."""
    return spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    )


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------

_TOKCOUNT_ORACLE = f"""
WITH t AS (
  SELECT lang, len({TOKENS_SQL.format(c='text')}) AS n_tokens
  FROM documents WHERE {_NONEMPTY}
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {davg_sql('n_tokens')} AS avg_tokens,
       MAX(n_tokens) AS max_tokens
FROM t GROUP BY lang
"""


@register("token_count_stats", oracle=_TOKCOUNT_ORACLE)
def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting per language — all JVM-side array ops
    (split + size), no UDF; single low-cardinality shuffle."""
    docs = nonempty_docs(spark, sf_dir)
    from pqc.exprs import davg

    return (
        docs.select("lang", F.size(tokens(F.col("text"))).alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            davg(F.col("n_tokens")).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


_STOP_LIST_SQL = "(" + ", ".join(f"'{s}'" for s in STOPWORDS) + ")"

_LANGID_ORACLE = f"""
WITH t AS (
  SELECT lang,
         len(list_filter({TOKENS_SQL.format(c='text')}, x -> x IN {_STOP_LIST_SQL}))
           AS n_stop,
         len({TOKENS_SQL.format(c='text')}) AS n_tok
  FROM documents WHERE {_NONEMPTY}
)
SELECT lang,
       CASE WHEN CAST(n_stop AS DOUBLE) / n_tok >= 0.05 THEN 'en' ELSE 'other' END
         AS predicted,
       COUNT(*) AS n_docs
FROM t GROUP BY 1, 2
"""


@register("lang_id_confusion", oracle=_LANGID_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (stopword-ratio) vs the labeled lang —
    emitted as a confusion rollup. The n-gram scorer runs entirely in
    codegen'd array expressions (filter lambda), no Python."""
    docs = nonempty_docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    n_tok = F.size(toks)
    predicted = F.when(
        n_stop.cast("double") / n_tok >= 0.05, F.lit("en")
    ).otherwise(F.lit("other"))
    return (
        docs.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         {TOKENS_SQL.format(c='text')} AS tok
  FROM documents WHERE {_NONEMPTY}
)
SELECT doc_id,
       ROUND(
         0.4 * LEAST(1.0, CAST(len(tok) AS DOUBLE) / 50)
         + 0.3 * (CAST(len(list_filter(tok, x -> x IN {_STOP_LIST_SQL})) AS DOUBLE)
                  / len(tok))
         + 0.3 * (CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok)),
         6) AS quality
FROM t
"""


@register("quality_score", oracle=_QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality score: length + stopword-ratio + lexical
    diversity, the deterministic core of the reference's structure
    acceptance gates (SURVEY §2.8 I7) re-targeted at corpus curation.
    Pure array expressions; embarrassingly parallel (no shuffle)."""
    docs = nonempty_docs(spark, sf_dir)
    tok = tokens(F.col("text"))
    n = F.size(tok).cast("double")
    n_stop = F.size(F.filter(tok, lambda x: x.isin(*STOPWORDS))).cast("double")
    n_uniq = F.size(F.array_distinct(tok)).cast("double")
    quality = (
        0.4 * F.least(F.lit(1.0), n / 50) + 0.3 * (n_stop / n) + 0.3 * (n_uniq / n)
    )
    return docs.select("doc_id", F.round(quality, 6).alias("quality"))


_FP_ORACLE = f"""
SELECT doc_id,
       {hash64_sql_duckdb(NORM_SQL.format(c='text'))} AS fingerprint
FROM documents WHERE {_NONEMPTY}
"""


@register("doc_fingerprint", oracle=_FP_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document content fingerprint: portable 60-bit md5 hash of
    normalized text (see pqc/exprs.py) — the building block of exact
    dedup at 10^12 scale: dedup shuffles 8-byte fingerprints, never
    the payloads. For partial-overlap detection see
    `winnowing_fingerprints` (the rolling-hash window-min scheme)."""
    return nonempty_docs(spark, sf_dir).select(
        "doc_id", hash64(norm_text(F.col("text"))).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# TF-IDF-style salient terms (exact-arithmetic ranking)
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3

_TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL.format(c='text')}) AS term
  FROM documents WHERE {_NONEMPTY}
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term)
SELECT doc_id, term, tf, df, ROUND(CAST(tf AS DOUBLE) / df, 8) AS score, rk
FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY CAST(tf.tf AS DOUBLE) / dfc.df DESC, tf.term ASC
         ) AS rk
  FROM tf JOIN dfc USING (term)
)
WHERE rk <= {TFIDF_TOP_K}
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K salient terms per document ranked by tf/df — the
    rare-term salience ranking TF-IDF induces, with the logarithm
    dropped so the score is a single exact double division (ln()
    differs between engines in the last ulp, and for a PER-DOCUMENT
    ranking tf·ln(N/df) and tf/df order differently only when two
    terms tie on tf AND nearly tie on df — the deterministic
    (score desc, term asc) tie-break pins those).

    Plan: two map-side-combined aggregates (tf per (doc, term); df per
    term), one equi-join on term (vocab-sized right side — broadcast
    when it fits, shuffle join at corpus scale), one rank window
    partitioned by doc_id. Nothing leaves the JVM. The document-
    frequency join is the inverted-index shape every downstream
    salience/keyword extractor at 10^12 rows uses."""
    docs = nonempty_docs(spark, sf_dir)
    # pinned: tf feeds BOTH the rank input and the document-frequency
    # aggregate — unpersisted, the scan + normalize + tokenize +
    # explode + tf aggregate (the query's dominant cost at corpus
    # scale) executes twice. df comes from tf, not the raw token table:
    # tf's rows ARE the distinct (doc, term) pairs, so COUNT(*) per
    # term equals COUNT(DISTINCT doc_id) without the countDistinct
    # expand over the exploded tokens (one less wide shuffle).
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = pin(tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") / F.col("df")).desc(), F.col("term").asc()
    )
    return (
        tf.join(dfc, "term")
        .select("doc_id", "term", "tf", "df", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf").cast("double") / F.col("df"), 8).alias("score"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

WINNOW_K = 4  # words per gram (same granularity as the shingle bank)
WINNOW_W = 4  # window: one fingerprint selected per w consecutive grams

_WINNOW_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL.format(c='text')} AS t
  FROM documents WHERE {_NONEMPTY}
),
grams AS (
  SELECT doc_id, g.i AS i,
         {hash64_sql_duckdb(f"array_to_string(t[i:i+{WINNOW_K - 1}], ' ')")} AS h
  FROM toks, UNNEST(generate_series(1, len(t) - {WINNOW_K - 1})) AS g(i)
  WHERE len(t) >= {WINNOW_K}
),
wmin AS (
  SELECT doc_id,
         MIN(h) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING
         ) AS fingerprint,
         i,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM grams
)
SELECT DISTINCT doc_id, fingerprint
FROM wmin WHERE i <= GREATEST(n - {WINNOW_W} + 1, 1)
"""


@register("winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every word-k-gram in document order, slide a w-gram window,
    keep the minimum hash per window, emit the distinct selected
    hashes. The classic guarantee: any two documents sharing a run of
    at least w+k-1 words share at least one fingerprint, while only
    ~2/(w+1) of all gram hashes are kept — the storage/recall dial for
    copy-detection at corpus scale.

    Plan: one projection builds the ordered gram-hash table (the same
    portable 60-bit hash as the shingle bank, so both engines agree
    bitwise), one bounded-frame window min per document (sorted within
    doc partitions only — no global sort), then distinct. At 10^12
    docs the window never leaves its document, so this parallelizes
    per-doc exactly like the shingle pipeline."""
    return winnow_fps(nonempty_docs(spark, sf_dir))


def winnow_fps(docs: DataFrame) -> DataFrame:
    """Winnowing core over any (doc_id, text) DataFrame — split out so
    the shared-run guarantee is testable on crafted documents
    (tests/test_properties.py) independent of the corpus query."""
    t = tokens(F.col("text"))
    grams = (
        docs.filter(F.size(t) >= WINNOW_K)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (WINNOW_K - 1)),
                    lambda i: F.array_join(F.slice(t, i, WINNOW_K), " "),
                )
            ).alias("i0", "gram"),
        )
        .select("doc_id", (F.col("i0") + 1).alias("i"), hash64(F.col("gram")).alias("h"))
    )
    win = W.partitionBy("doc_id").orderBy("i").rowsBetween(0, WINNOW_W - 1)
    cnt = W.partitionBy("doc_id")
    return (
        grams.select(
            "doc_id",
            "i",
            F.min("h").over(win).alias("fingerprint"),
            F.count(F.lit(1)).over(cnt).alias("n"),
        )
        # docs with fewer than W grams (K..K+W-2 tokens) still emit ONE
        # fingerprint — min over all grams, the standard sub-window
        # winnowing rule (r4 advice: they were invisible to
        # copy-detection before; the i=1 frame already spans them all)
        .filter(F.col("i") <= F.greatest(F.col("n") - WINNOW_W + 1, F.lit(1)))
        .select("doc_id", "fingerprint")
        .dropDuplicates()
    )


# ---------------------------------------------------------------------------
# BPE-ish subword token counting (regex pre-tokenizer)
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenization approximated RE2-safe (the original
# pattern uses lookahead, which the DuckDB/RE2 oracle cannot run):
# letter runs | digit runs | non-alnum-non-space runs. On normalized
# (lowercased) text this splits "don't stop 123x" into
# [don, ', t, stop, 123, x] — the unit a byte-pair encoder would
# further merge, so its count upper-bounds BPE token count far more
# tightly than whitespace words do.
BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

_BPE_ORACLE = f"""
WITH t AS (
  SELECT lang,
         len({TOKENS_SQL.format(c='text')}) AS n_ws,
         len(regexp_extract_all({NORM_SQL.format(c='text')}, '{BPE_REGEX}')) AS n_bpe
  FROM documents WHERE {_NONEMPTY}
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
       {davg_sql('n_bpe')} AS avg_bpe_tokens,
       ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS bpe_per_word
FROM t GROUP BY lang
"""


@register("bpe_token_stats", oracle=_BPE_ORACLE)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-grade token counting: the whitespace count next to a
    BPE-ish regex pre-tokenizer count (letter/digit/punctuation runs,
    RE2-safe — see BPE_REGEX), per language. The bpe_per_word ratio is
    the cost model every LLM-data pipeline needs before a real
    tokenizer pass: token budgets, truncation planning, and corpus
    pricing are all linear in it. Pure Catalyst regexp_extract_all —
    no UDF, one low-cardinality shuffle."""
    from pqc.exprs import davg

    docs = nonempty_docs(spark, sf_dir)
    norm = norm_text(F.col("text"))
    n_ws = F.size(tokens(F.col("text")))
    n_bpe = F.size(F.regexp_extract_all(norm, F.lit(BPE_REGEX), F.lit(0)))
    return (
        docs.select("lang", n_ws.alias("n_ws"), n_bpe.alias("n_bpe"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").cast("bigint").alias("total_ws_tokens"),
            F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
            davg(F.col("n_bpe")).alias("avg_bpe_tokens"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6
            ).alias("bpe_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style quality filter chain (keep/drop + first-failing reason)
# ---------------------------------------------------------------------------

# Rule ladder, applied in order; the verdict is the FIRST failing rule
# (the reason a curation pipeline logs). Thresholds are compared on
# identically-derived doubles in both engines, so the boolean ladder is
# bit-stable cross-engine.
QF_MIN_WORDS = 8
QF_MAX_WORDS = 5000
QF_MIN_STOPWORD_RATIO = 0.05
QF_WORD_LEN_LO, QF_WORD_LEN_HI = 2.0, 12.0
QF_MIN_LEXICAL_DIVERSITY = 0.30
QF_MAX_DIGIT_RATIO = 0.30

_QF_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

_QFILTER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {TOKENS_SQL.format(c='text')} AS tok,
         {NORM_SQL.format(c='text')} AS nt
  FROM documents WHERE {_NONEMPTY}
),
m AS (
  SELECT doc_id, lang,
         len(tok) AS n_words,
         CAST(len(list_filter(tok, x -> x IN {_QF_STOP_SQL})) AS DOUBLE)
           / len(tok) AS stop_ratio,
         CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE)
           / len(tok) AS mean_word_len,
         CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) AS lex_div,
         CAST(length(nt) - length(regexp_replace(nt, '[0-9]', '', 'g')) AS DOUBLE)
           / length(nt) AS digit_ratio
  FROM t
)
SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
       CASE
         WHEN n_words < {QF_MIN_WORDS} THEN 'too_short'
         WHEN n_words > {QF_MAX_WORDS} THEN 'too_long'
         WHEN stop_ratio < CAST({QF_MIN_STOPWORD_RATIO} AS DOUBLE) THEN 'low_stopword_ratio'
         WHEN mean_word_len < CAST({QF_WORD_LEN_LO} AS DOUBLE)
           OR mean_word_len > CAST({QF_WORD_LEN_HI} AS DOUBLE) THEN 'abnormal_word_length'
         WHEN lex_div < CAST({QF_MIN_LEXICAL_DIVERSITY} AS DOUBLE) THEN 'low_lexical_diversity'
         WHEN digit_ratio > CAST({QF_MAX_DIGIT_RATIO} AS DOUBLE) THEN 'digit_heavy'
         ELSE 'keep'
       END AS verdict
FROM m
"""


@register("quality_filter_chain", oracle=_QFILTER_ORACLE)
def quality_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus curation gate: a fixed rule ladder (length /
    stopword ratio / mean word length / lexical diversity / digit
    density) whose verdict is 'keep' or the FIRST failing rule — the
    reason string a training-data pipeline logs per dropped document.
    Complements `quality_score` (continuous score, same features): the
    chain is the thresholded production form. Pure array expressions,
    embarrassingly parallel, no shuffle — at 10^12 docs this is a scan-
    speed map with the verdict feeding a partitioned filter."""
    docs = nonempty_docs(spark, sf_dir)
    tok = tokens(F.col("text"))
    nt = norm_text(F.col("text"))
    n = F.size(tok)
    stop_ratio = (
        F.size(F.filter(tok, lambda x: x.isin(*STOPWORDS))).cast("double") / n
    )
    mean_word_len = (
        F.aggregate(F.transform(tok, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x)
        .cast("double") / n
    )
    lex_div = F.size(F.array_distinct(tok)).cast("double") / n
    digit_ratio = (
        (F.length(nt) - F.length(F.regexp_replace(nt, "[0-9]", ""))).cast("double")
        / F.length(nt)
    )
    verdict = (
        F.when(n < QF_MIN_WORDS, "too_short")
        .when(n > QF_MAX_WORDS, "too_long")
        .when(stop_ratio < QF_MIN_STOPWORD_RATIO, "low_stopword_ratio")
        .when(
            (mean_word_len < QF_WORD_LEN_LO) | (mean_word_len > QF_WORD_LEN_HI),
            "abnormal_word_length",
        )
        .when(lex_div < QF_MIN_LEXICAL_DIVERSITY, "low_lexical_diversity")
        .when(digit_ratio > QF_MAX_DIGIT_RATIO, "digit_heavy")
        .otherwise("keep")
    )
    return docs.select(
        "doc_id", "lang", n.cast("bigint").alias("n_words"), verdict.alias("verdict")
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (hash-bucket splits)
# ---------------------------------------------------------------------------

# per-mille keep rates per language stratum: training mixes are
# rebalanced by downsampling over-represented strata; the hash-bucket
# rule makes the sample a PURE FUNCTION of (salt, doc_id) — stable
# across runs, resumable, joinable (membership recomputable anywhere),
# and exactly mirrored by the oracle.
SAMPLE_SALT = "smp1:"
SAMPLE_RATES_PM = {"en": 500, "de": 300, "fr": 300}
SAMPLE_DEFAULT_PM = 150

_RATE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES_PM.items())
    + f" ELSE {SAMPLE_DEFAULT_PM} END"
)

_SAMPLE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         {hash64_sql_duckdb(f"concat('{SAMPLE_SALT}', CAST(doc_id AS VARCHAR))")} % 1000
           AS bucket
  FROM documents WHERE {_NONEMPTY}
)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
FROM d WHERE bucket < {_RATE_SQL}
"""


@register("stratified_sample", oracle=_SAMPLE_ORACLE)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: keep a document iff
    hash64(salt || doc_id) mod 1000 falls under its language stratum's
    per-mille rate. The standard training-mix downsampler at 10^12
    rows: no RNG state, no shuffle (a scan-speed filter), membership
    reproducible by any engine from the id alone — which is also what
    makes train/eval splits leak-proof and resumable. The portable
    md5-based hash64 (pqc/exprs.py) keeps the bucket assignment — and
    therefore the exact sampled id set — identical in the DuckDB twin."""
    docs = nonempty_docs(spark, sf_dir)
    bucket = F.pmod(
        hash64(F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string"))),
        F.lit(1000),
    )
    rate = F.lit(SAMPLE_DEFAULT_PM)
    for k, v in reversed(SAMPLE_RATES_PM.items()):
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return (
        docs.select("doc_id", "lang", bucket.cast("bigint").alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination screen (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------

# Training-data hygiene: documents sharing word-k-grams with a held-out
# benchmark/eval set must be flagged (and usually dropped) before
# training. The eval set here is the "leaked benchmark" scenario —
# passages drawn from known corpus documents — so the screen flags both
# the leaked sources and their partial-overlap relatives.
CONTAM_GRAM_K = 5
CONTAM_EVAL_IDS = (8, 70, 98, 285, 393)

_CONTAM_IDS_SQL = ", ".join(str(i) for i in CONTAM_EVAL_IDS)

_CONTAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL.format(c='text')} AS tok
  FROM documents WHERE {_NONEMPTY}
),
g AS (
  SELECT DISTINCT doc_id,
         {hash64_sql_duckdb(f"array_to_string(tok[i:i+{CONTAM_GRAM_K - 1}], ' ')")} AS hg
  FROM t, UNNEST(generate_series(1, len(tok) - {CONTAM_GRAM_K - 1})) AS s(i)
  WHERE len(tok) >= {CONTAM_GRAM_K}
),
ev AS (SELECT DISTINCT hg FROM g WHERE doc_id IN ({_CONTAM_IDS_SQL})),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
hits AS (
  SELECT g.doc_id, COUNT(*) AS n_overlap
  FROM g JOIN ev USING (hg) GROUP BY g.doc_id
)
SELECT h.doc_id, h.n_overlap, s.n_grams,
       ROUND(CAST(h.n_overlap AS DOUBLE) / s.n_grams, 6) AS overlap_ratio,
       h.doc_id IN ({_CONTAM_IDS_SQL}) AS is_eval_doc
FROM hits h JOIN sizes s USING (doc_id)
"""


@register("decontamination_screen", oracle=_CONTAM_ORACLE)
def decontamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every document sharing at least
    one word-5-gram with the eval set, with its overlap count and
    ratio. The eval grams are a broadcast-sized dim (benchmarks are
    tiny next to corpora); the corpus side is the same hashed-shingle
    projection the dedup bank uses, so at 10^12 docs this is one
    broadcast semi-join over 8-byte keys — no second tokenization
    pass, no shuffle of text. Flags both leaked sources (is_eval_doc)
    and cross-document partial overlaps (the seeded near-dup
    relatives of the eval ids), so the driver row checks a mixed
    result set."""
    docs = nonempty_docs(spark, sf_dir)
    t = tokens(F.col("text"))
    k = CONTAM_GRAM_K
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (k - 1)),
        lambda i: F.array_join(F.slice(t, i, k), " "),
    )
    g = pin(
        docs.filter(F.size(t) >= k)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("s"))
        .select("doc_id", hash64(F.col("s")).alias("hg"))
    )
    ev = F.broadcast(
        g.filter(F.col("doc_id").isin(*CONTAM_EVAL_IDS)).select("hg").dropDuplicates()
    )
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        g.join(ev, "hg", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_overlap",
        "n_grams",
        F.round(F.col("n_overlap").cast("double") / F.col("n_grams"), 6).alias(
            "overlap_ratio"
        ),
        F.col("doc_id").isin(*CONTAM_EVAL_IDS).alias("is_eval_doc"),
    )


# ---------------------------------------------------------------------------
# Intra-document repetition stats (repetitive-text filter)
# ---------------------------------------------------------------------------

REP_GRAM_K = 3

_REP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL.format(c='text')} AS tok
  FROM documents WHERE {_NONEMPTY}
),
g AS (
  SELECT doc_id,
         {hash64_sql_duckdb(f"array_to_string(tok[i:i+{REP_GRAM_K - 1}], ' ')")} AS hg
  FROM t, UNNEST(generate_series(1, len(tok) - {REP_GRAM_K - 1})) AS s(i)
  WHERE len(tok) >= {REP_GRAM_K}
),
pg AS (SELECT doc_id, hg, COUNT(*) AS c FROM g GROUP BY doc_id, hg)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       COUNT(*) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS rep_ratio,
       CAST(MAX(c) AS BIGINT) AS max_gram_count
FROM pg GROUP BY doc_id
"""


@register("repetition_stats", oracle=_REP_ORACLE)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetitive-text statistics per document: total vs distinct
    word-3-gram counts, the repeated-gram fraction (the classic
    "duplicated n-grams" curation filter), and the hottest gram's
    multiplicity. Unlike the dedup shingle bank this keeps gram
    MULTIPLICITY (repetition is invisible after dedup). Two hash
    aggregates over 8-byte gram hashes — map-side combined, shuffle
    keyed on (doc_id), embarrassingly parallel at corpus
    scale."""
    docs = nonempty_docs(spark, sf_dir)
    t = tokens(F.col("text"))
    k = REP_GRAM_K
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (k - 1)),
        lambda i: F.array_join(F.slice(t, i, k), " "),
    )
    g = (
        docs.filter(F.size(t) >= k)
        .select("doc_id", F.explode(grams).alias("s"))
        .select("doc_id", hash64(F.col("s")).alias("hg"))
    )
    pg = g.groupBy("doc_id", "hg").agg(F.count(F.lit(1)).alias("c"))
    return pg.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)).cast("double") / F.sum("c"), 6
        ).alias("rep_ratio"),
        F.max("c").cast("bigint").alias("max_gram_count"),
    )
