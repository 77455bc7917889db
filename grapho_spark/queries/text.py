"""Text-analysis operators over the ``documents`` table: token
counting (whitespace + BPE-ish regex), quality scoring, language ID
(marker-word + charset heuristic), document fingerprinting (k-min
rolling hash). Part of the large-scale training-data pipeline surface
(no reference counterpart — SURVEY.md §2.4 / build plan §7.2 phase 7).

All of these are pure per-row projections built from JVM built-in
expressions (whole-stage codegen, no Python in the hot path) — they
scale linearly with a parquet scan, no shuffle at all for the per-doc
forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grapho_spark.queries import query
from grapho_spark.tables import load_table

# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

LANG_MARKERS = {
    "de": ("der", "die", "und", "das", "nicht", "ist"),
    "en": ("the", "and", "of", "is", "that", "with"),
    "es": ("el", "la", "los", "que", "y", "de"),
    "fr": ("le", "la", "les", "et", "est", "que"),
}


@query(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars_measured,
       length(text) * 1.0 / len(string_split_regex(trim(text), '\\s+')) AS chars_per_token
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pre-tokens per doc."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_RE), F.lit(0)))
    return d.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_measured"),
        (F.length("text") * F.lit(1.0) / ws).alias("chars_per_token"),
    )


@query(
    "text_quality_scores",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, source, text,
         string_split_regex(trim(text), '\\s+') AS words
  FROM documents)
SELECT doc_id, lang, source,
       len(words) AS n_words,
       length(text) * 1.0 / len(words) AS avg_word_len,
       len(list_filter(words, w -> w IN ({_STOP_SQL}))) * 1.0 / len(words) AS stopword_ratio,
       len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1.0 / length(text) AS punct_ratio,
       len(list_distinct(words)) * 1.0 / len(words) AS distinct_ratio,
       0.25 * least(len(words) / 64.0, 1.0)
         + 0.25 * (len(list_filter(words, w -> w IN ({_STOP_SQL}))) * 1.0 / len(words))
         + 0.25 * (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1.0 / length(text))
         + 0.25 * (len(list_distinct(words)) * 1.0 / len(words)) AS quality_score
FROM toks
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: length, stopword ratio, punctuation
    ratio, lexical diversity, blended into a [0,1] score.

    All per-row float math (no aggregation) — identical IEEE ops on
    both engines, so exact parity without rounding.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), r"\s+")
    d = d.select("doc_id", "lang", "source", "text", words.alias("words"))
    n_words = F.size("words")
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    stop_ratio = (
        F.size(F.expr(f"filter(words, w -> w IN ({stop_in}))")) * F.lit(1.0) / n_words
    )
    punct_ratio = (
        F.size(F.regexp_extract_all("text", F.lit("[^a-zA-Z0-9 ]"), F.lit(0))) * F.lit(1.0)
        / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct("words")) * F.lit(1.0) / n_words
    quality = (
        F.lit(0.25) * F.least(n_words / F.lit(64.0), F.lit(1.0))
        + F.lit(0.25) * stop_ratio
        + F.lit(0.25) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.25) * distinct_ratio
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        n_words.alias("n_words"),
        (F.length("text") * F.lit(1.0) / n_words).alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        quality.alias("quality_score"),
    )


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    marks = ", ".join(f"'{w}'" for w in markers)
    return f"len(list_filter(words, w -> w IN ({marks})))"


@query(
    "text_language_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql(LANG_MARKERS['de'])} AS s_de,
         {_lang_score_sql(LANG_MARKERS['en'])} AS s_en,
         {_lang_score_sql(LANG_MARKERS['es'])} AS s_es,
         {_lang_score_sql(LANG_MARKERS['fr'])} AS s_fr,
         CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 1 ELSE 0 END AS s_zh
  FROM (SELECT doc_id, lang, text,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)),
labeled AS (
  SELECT doc_id, lang,
         CASE WHEN s_zh > 0 THEN 'zh'
              WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
              WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
              WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS predicted_lang
  FROM scored)
SELECT lang, predicted_lang, COUNT(*) AS n_docs
FROM labeled
GROUP BY lang, predicted_lang
""",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-word counts per language + CJK
    charset check; confusion-matrix style output vs the labeled lang.
    Deterministic argmax with a fixed preference order for ties.
    """
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("words", F.split(F.trim(F.lower("text")), r"\s+"))
    scores = {
        code: F.size(
            F.expr(
                "filter(words, w -> w IN ({}))".format(
                    ", ".join(f"'{w}'" for w in marks)
                )
            )
        )
        for code, marks in LANG_MARKERS.items()
    }
    s_zh = F.when(F.col("text").rlike("[一-鿿]"), 1).otherwise(0)
    scored = d.select(
        "doc_id",
        "lang",
        scores["de"].alias("s_de"),
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["fr"].alias("s_fr"),
        s_zh.alias("s_zh"),
    )
    best = F.greatest("s_de", "s_en", "s_es", "s_fr")
    predicted = (
        F.when(F.col("s_zh") > 0, "zh")
        .when(best == 0, "unknown")
        .when(F.col("s_en") >= F.greatest("s_de", "s_es", "s_fr"), "en")
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr"), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
    )
    return (
        scored.select("doc_id", "lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "text_fingerprints",
    oracle="""
WITH shingled AS (
  SELECT doc_id,
         [md5(substring(text, i, 8)) for i in range(1, greatest(length(text) - 7, 1) + 1)]
           AS hashes
  FROM documents)
SELECT doc_id,
       list_sort(hashes)[1] AS min_hash,
       array_to_string(list_sort(hashes)[1:4], '|') AS fingerprint_k4
FROM shingled
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: rolling char-8-gram hashes, k-min
    sketch (winnowing-style). md5 is the engine-portable hash; min over
    hex strings = min over the hash space.
    """
    d = load_table(spark, sf_dir, "documents")
    hashes = F.expr(
        "transform(sequence(1, greatest(length(text) - 7, 1)), i -> md5(substring(text, i, 8)))"
    )
    sorted_h = F.array_sort(hashes)
    return d.select(
        "doc_id",
        sorted_h.getItem(0).alias("min_hash"),
        F.array_join(F.slice(sorted_h, 1, 4), "|").alias("fingerprint_k4"),
    )


@query(
    "text_top_bigrams_per_lang",
    oracle="""
WITH words AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents),
bigrams AS (
  SELECT lang, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
  FROM (SELECT doc_id, lang, unnest(ws) AS w,
               generate_subscripts(ws, 1) AS pos
        FROM words)),
counted AS (
  SELECT lang, bg, COUNT(*) AS n
  FROM bigrams WHERE bg IS NOT NULL
  GROUP BY lang, bg)
SELECT lang, bg, n
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bg) AS rn
      FROM counted)
WHERE rn <= 5
""",
)
def text_top_bigrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language: posexplode tokens -> window
    lead -> count -> ranked top-k (deterministic tiebreak on the
    bigram itself).

    Scale: the explode is map-side; counting shuffles (lang, bigram)
    pairs with map-side partial aggregation; top-k per group is the
    standard ranked-window pattern.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("pos", "w"),
    )
    w_lead = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        "lang",
        F.concat_ws(" ", F.col("w"), F.lead("w").over(w_lead)).alias("bg"),
        F.lead("w").over(w_lead).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    counted = bigrams.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("n"))
    w_rank = Window.partitionBy("lang").orderBy(F.desc("n"), "bg")
    return (
        counted.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 5)
        .select("lang", "bg", "n")
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents),
n_total AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
df_t AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
tf_lt AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY lang, term),
scored AS (
  SELECT lang, tf_lt.term,
         round(tf * ln(n * 1.0 / df), 6) AS tfidf
  FROM tf_lt JOIN df_t ON tf_lt.term = df_t.term, n_total)
SELECT lang, term, tfidf, rn
FROM (SELECT lang, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS rn
      FROM scored)
WHERE rn <= 5
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language: corpus-wide document frequency
    joined onto per-language term frequency; score = tf * ln(N/df),
    rounded to 6dp BEFORE ranking so libm last-ulp differences cannot
    reorder near-ties (term tiebreak handles exact ties).

    Scale: two aggregations over the exploded token stream (one
    shuffle each, map-side combined); the df table joins on term —
    the same partitioning as tf, so AQE reuses the exchange.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    )
    from grapho_spark.sparkutil import materialize

    toks = materialize(toks)
    n_total = toks.select(F.countDistinct("doc_id").alias("n"))
    df_t = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tf_lt = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf_lt.join(df_t, "term")
        .crossJoin(F.broadcast(n_total))
        .select(
            "lang",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", "tfidf", "rn")
    )


@query(
    "corpus_curation_funnel",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         string_split_regex(trim(text), '\\s+') AS words
  FROM documents),
q AS (
  SELECT doc_id, lang, text,
         0.25 * least(len(words) / 64.0, 1.0)
           + 0.25 * (len(list_filter(words, w -> w IN ({_STOP_SQL}))) * 1.0 / len(words))
           + 0.25 * (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1.0 / length(text))
           + 0.25 * (len(list_distinct(words)) * 1.0 / len(words)) AS quality_score
  FROM scored),
flagged AS (
  SELECT lang,
         CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END AS quality_ok,
         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(trim(lower(text))))
              THEN 1 ELSE 0 END AS canonical
  FROM q)
SELECT COUNT(*) AS n_total,
       CAST(SUM(quality_ok) AS BIGINT) AS n_quality_pass,
       CAST(SUM(quality_ok * canonical) AS BIGINT) AS n_after_dedup,
       CAST(SUM(CASE WHEN quality_ok * canonical = 1 AND lang = 'en'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_english_kept
FROM flagged
""",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation funnel in one pass: total docs ->
    quality-score gate (>= 0.5) -> exact-dedup keep-canonical (min
    doc_id per normalized-text hash) -> language filter. The funnel
    counts are what a data-pipeline dashboard reports per snapshot.

    Scale: one window over the text-hash partitioning + one global
    aggregate; no joins. The quality expression is identical to
    text_quality_scores (bitwise — it hash-matches standalone), so the
    0.5 threshold cannot flicker cross-engine.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), r"\s+")
    stop_ratio = (
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))) * F.lit(1.0)
        / F.size(words)
    )
    punct_ratio = (
        F.size(F.regexp_extract_all("text", F.lit("[^a-zA-Z0-9 ]"), F.lit(0)))
        * F.lit(1.0)
        / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct(words)) * F.lit(1.0) / F.size(words)
    quality = (
        F.lit(0.25) * F.least(F.size(words) / F.lit(64.0), F.lit(1.0))
        + F.lit(0.25) * stop_ratio
        + F.lit(0.25) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.25) * distinct_ratio
    )
    w_hash = Window.partitionBy(F.md5(F.trim(F.lower("text"))))
    flagged = d.select(
        "lang",
        F.when(quality >= 0.5, 1).otherwise(0).alias("quality_ok"),
        F.when(F.col("doc_id") == F.min("doc_id").over(w_hash), 1)
        .otherwise(0)
        .alias("canonical"),
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("quality_ok").alias("n_quality_pass"),
        F.sum(F.col("quality_ok") * F.col("canonical")).alias("n_after_dedup"),
        F.sum(
            F.when(
                (F.col("quality_ok") * F.col("canonical") == 1)
                & (F.col("lang") == "en"),
                1,
            ).otherwise(0)
        ).alias("n_english_kept"),
    )


@query(
    "deterministic_stratified_sample",
    oracle="""
WITH bucketed AS (
  SELECT doc_id, lang,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % 100 AS BIGINT) AS bucket
  FROM documents),
sampled AS (
  SELECT doc_id, lang FROM bucketed
  WHERE bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 30 END))
SELECT lang, COUNT(*) AS n_sampled,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM sampled GROUP BY lang
""",
)
def deterministic_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling: md5-hash buckets of the doc id
    pick ~10% of English and ~30% of every other language — the same
    rows on every engine, every run, any partitioning (unlike
    TABLESAMPLE/rand(), which are engine- and plan-dependent). This is
    how eval/holdout sets stay stable across pipeline reruns.

    Scale: pure map-side filter; the sample predicate pushes into the
    scan's row iteration (no shuffle until the summary aggregate).
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(30))
    sampled = d.select("doc_id", "lang").filter(bucket < rate)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


@query(
    "text_repetition_signals",
    oracle="""
WITH w AS (
  SELECT lang, string_split(text, ' ') AS words FROM documents),
m AS (
  SELECT lang,
         len(words) AS n_words,
         len(list_distinct(words)) AS n_distinct,
         len(words) - 1 AS n_bigrams,
         len(list_distinct(list_transform(range(1, len(words)),
             i -> words[i] || ' ' || words[i+1]))) AS n_distinct_bigrams
  FROM w)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_distinct * 2 < n_words THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_diversity,
       CAST(SUM(CASE WHEN (n_bigrams - n_distinct_bigrams) * 20 > n_bigrams
                THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_words) AS corpus_distinct_ratio
FROM m GROUP BY lang
""",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/diversity quality signals (the Gopher-rules family):
    per-document distinct-word ratio and duplicated-bigram fraction,
    rolled up per language as filter counts. Thresholds are integer
    comparisons (n_distinct*2 < n_words; dup_bigrams*20 > n_bigrams)
    and the corpus ratio is ONE division of exact integer sums, so no
    float-summation-order drift can split the engines.

    Scale: pure per-row array expressions in codegen (no explode, no
    UDF) + one partial-aggregated groupBy on a 5-value key. The bigram
    array is built once per row via sequence+element_at — O(len)
    memory, no self-join.
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    )
    n = F.size("words")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at("words", i), F.element_at("words", i + 1)),
    )
    m = d.select(
        "lang",
        n.alias("n_words"),
        F.size(F.array_distinct("words")).alias("n_distinct"),
        (n - 1).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("n_distinct") * 2 < F.col("n_words"), 1).otherwise(0)
        ).cast("long").alias("n_low_diversity"),
        F.sum(
            F.when(
                (F.col("n_bigrams") - F.col("n_distinct_bigrams")) * 20
                > F.col("n_bigrams"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_repetitive"),
        (
            F.sum("n_distinct").cast("double") / F.sum("n_words")
        ).alias("corpus_distinct_ratio"),
    )


@query(
    "corpus_mixture_weights",
    oracle="""
WITH per_source AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources
        FROM per_source)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
       CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens) AS sampling_weight
FROM per_source, tot
""",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: per-source token counts, corpus
    share, and the per-source sampling weight that equalizes the token
    mixture (weight = uniform_target / actual_share). The multiplier a
    data-loader applies to hit a target mix — the standard knob for
    up/down-weighting sources in LLM pre-training corpora.

    Determinism: shares and weights are SINGLE divisions of exact
    integer sums (no float accumulation), so both engines produce
    bit-identical doubles.

    Scale: one partial-aggregated groupBy on the source key; the
    total rides a broadcast of the tiny per-source aggregate, not a
    second pass over the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias(
            "token_share"
        ),
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_sources") * F.col("n_tokens"))
        ).alias("sampling_weight"),
    )


EPOCH_BUDGET = 2_000_000  # target training tokens for the epoch plan
MAX_EPOCHS = 4  # repeat cap per source (data-quality ceiling)


@query(
    "corpus_epoch_plan",
    oracle=f"""
WITH per_source AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT COUNT(*) AS n_sources FROM per_source),
plan AS (
  SELECT source, n_tokens,
         CAST({EPOCH_BUDGET} // n_sources AS BIGINT) AS target_tokens
  FROM per_source, tot)
SELECT source, n_tokens, target_tokens,
       CAST(CASE WHEN target_tokens >= {MAX_EPOCHS} * n_tokens
                 THEN {MAX_EPOCHS} * n_tokens ELSE target_tokens END
            AS BIGINT) AS planned_tokens,
       CAST(CASE WHEN target_tokens >= {MAX_EPOCHS} * n_tokens
                 THEN target_tokens - {MAX_EPOCHS} * n_tokens ELSE 0 END
            AS BIGINT) AS shortfall_tokens,
       CAST(CASE WHEN target_tokens >= {MAX_EPOCHS} * n_tokens
                 THEN {MAX_EPOCHS} * n_tokens ELSE target_tokens END
            AS DOUBLE) / n_tokens AS epochs,
       target_tokens >= {MAX_EPOCHS} * n_tokens AS capped
FROM plan
""",
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch/repeat plan for a fixed training-token budget:
    each source gets an equal share of EPOCH_BUDGET tokens; a source
    smaller than its share is REPEATED (epochs > 1) up to MAX_EPOCHS
    (the data-quality repeat ceiling — the 'how many times may we
    repeat Wikipedia' knob), and any remaining gap is reported as
    shortfall for the mixer to redistribute. Complements
    corpus_mixture_weights (which rebalances shares WITHIN the
    available data; this plans repeats AGAINST a budget).

    Determinism: the plan is pure int64 arithmetic (min/cap/shortfall
    on exact token sums); ``epochs`` is the single closing division.

    Scale: one partial-aggregated groupBy on source plus a broadcast
    of the tiny per-source aggregate — the corpus is read once.
    """
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    tot = per_source.agg(F.count(F.lit(1)).alias("n_sources"))
    plan = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        # integer division on both sides (a double divide + cast would
        # TRUNCATE in Spark but ROUND in DuckDB)
        F.expr(f"{EPOCH_BUDGET} div n_sources").cast("long").alias(
            "target_tokens"
        ),
    )
    cap = F.lit(MAX_EPOCHS) * F.col("n_tokens")
    is_capped = F.col("target_tokens") >= cap
    planned = F.when(is_capped, cap).otherwise(F.col("target_tokens"))
    return plan.select(
        "source",
        "n_tokens",
        "target_tokens",
        planned.cast("long").alias("planned_tokens"),
        F.when(is_capped, F.col("target_tokens") - cap)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("shortfall_tokens"),
        (planned.cast("double") / F.col("n_tokens")).alias("epochs"),
        is_capped.alias("capped"),
    )


CHUNK_W = 32  # tokens per context window
CHUNK_S = 24  # stride (windows overlap by W - S tokens)


@query(
    "text_chunk_windows",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents),
s AS (
  SELECT doc_id, words,
         unnest(range(0, len(words), {CHUNK_S})) AS start
  FROM w)
SELECT doc_id,
       CAST(start / {CHUNK_S} AS BIGINT) AS chunk_idx,
       len(list_slice(words, start + 1, start + {CHUNK_W})) AS n_chunk_tokens,
       array_to_string(list_slice(words, start + 1, start + {CHUNK_W}), ' ')
         AS chunk_text
FROM s
""",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into overlapping
    windows of ``CHUNK_W`` whitespace tokens at stride ``CHUNK_S`` —
    the pre-training step that turns variable-length documents into
    model-sized training sequences (overlap preserves cross-boundary
    context).

    Scale: per-row array build + explode, no shuffle at all — chunking
    100 TB is a map-only job whose output feeds the tokenizer
    directly. The words array is bound to a column BEFORE the explode
    so project-collapse cannot inline the split into every consumer.
    """
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("words", F.split(F.trim("text"), r"\s+"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.lit(0), F.size("words") - 1),
        F.lit(CHUNK_S),
    )
    chunk = F.slice(F.col("words"), F.col("start") + 1, CHUNK_W)
    return (
        d.select("doc_id", "words", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


PACK_CTX = 256  # token budget per packed training sequence


@query(
    "text_pack_sequences",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\\s+')) AS n
  FROM documents),
cum AS (
  SELECT source, n,
         SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n AS tokens_before
  FROM tok)
SELECT source,
       CAST(FLOOR(tokens_before / {PACK_CTX}.0) AS BIGINT) AS seq_bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_tokens
FROM cum
GROUP BY source, seq_bin
""",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chop): documents are concatenated
    per source in doc_id order and chopped into ``PACK_CTX``-token
    training sequences; a document belongs to the bin where it starts.
    Reports docs and tokens per packed sequence — the packing
    efficiency view a data-loader needs before training.

    Determinism: bin assignment is integer math over an exact integer
    running sum with a total per-source order (doc_id), identical in
    both engines.

    Scale: the running sum is a window partitioned BY SOURCE — packing
    parallelizes across shards (the way production packers run) rather
    than forcing one global sequential pass.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.trim("text"), r"\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.select("doc_id", "source", n.alias("n")).withColumn(
        "tokens_before", F.sum("n").over(w) - F.col("n")
    )
    return (
        cum.groupBy(
            "source",
            F.floor(F.col("tokens_before") / F.lit(float(PACK_CTX)))
            .cast("long")
            .alias("seq_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
    )


VOCAB_TOP_K = 64


@query(
    "text_vocab_coverage",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents),
counts AS (SELECT term, COUNT(*) AS n_occurrences FROM toks GROUP BY term),
tot AS (SELECT SUM(n_occurrences) AS total FROM counts),
topk AS (
  SELECT term, n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term) AS rank
  FROM counts
  QUALIFY rank <= {VOCAB_TOP_K})
SELECT rank, term, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(SUM(n_occurrences) OVER (ORDER BY rank
              ROWS UNBOUNDED PRECEDING) AS DOUBLE) / total AS cum_share
FROM topk, tot
""",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design statistic: the top-``VOCAB_TOP_K`` vocabulary by
    corpus frequency with each prefix's cumulative share of all token
    occurrences — how much of the corpus a vocabulary of size k covers.

    Determinism: integer counts, ties broken by term; each share is a
    single division of exact integer sums.

    Scale: the global top-k is ``orderBy().limit()`` — Spark plans
    TakeOrderedAndProject (per-partition partial top-k, k rows to the
    driver-side merge), NOT a single-partition global sort. Only the
    k-row result uses a one-partition window.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    from grapho_spark.sparkutil import materialize

    counts = materialize(counts)
    tot = counts.agg(F.sum("n_occurrences").alias("total"))
    topk = (
        counts.orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(VOCAB_TOP_K)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n_occurrences"), F.asc("term"))
            ),
        )
    )
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return topk.crossJoin(F.broadcast(tot)).select(
        "rank",
        "term",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        (F.sum("n_occurrences").over(w_cum).cast("double") / F.col("total")).alias(
            "cum_share"
        ),
    )


@query(
    "text_unigram_logprob",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents),
freq AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
tot AS (SELECT SUM(c) AS total FROM freq),
scored AS (
  SELECT t.doc_id,
         CAST(round(ln(CAST(total AS DOUBLE) / c), 6) AS DECIMAL(18,6)) AS neglogp
  FROM toks t JOIN freq USING (term), tot)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST((2 * CAST(SUM(neglogp) * 1000000 AS BIGINT) + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_neglogp
FROM scored GROUP BY doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal per document: average -ln p(term) under the
    corpus unigram distribution — the cheap perplexity proxy used for
    quality filtering (high surprisal = off-distribution/noisy text;
    in production the LM is trained on a reference corpus, here on the
    corpus itself).

    Determinism: per-token surprisal is ONE double division + ln
    rounded at 6dp (empirically libm-stable, same policy as TF-IDF),
    accumulated as EXACT decimals so Spark's and DuckDB's different
    summation orders cannot diverge; the final mean is one division
    rounded at 6dp.

    Scale: two aggregations over the exploded token stream; the
    frequency table is vocabulary-sized — broadcast to the scoring
    join, so the token stream never shuffles twice.
    """
    from grapho_spark.sparkutil import materialize

    d = load_table(spark, sf_dir, "documents")
    toks = materialize(
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
        )
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("total"))
    neglogp = F.round(
        F.log(F.col("total").cast("double") / F.col("c")), 6
    ).cast("decimal(18,6)")
    scored = toks.join(F.broadcast(freq), "term").crossJoin(F.broadcast(tot)).select(
        "doc_id", neglogp.alias("neglogp")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.sum("neglogp") * 1_000_000).cast("long").alias("_sm"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # exact half-up integer mean at 1e-6 resolution: round(x/n, 6)
            # on a double lands on half boundaries where Spark and DuckDB
            # round differently (observed at sf0.1); integer math cannot
            (
                F.expr("(2 * _sm + n_tokens) div (2 * n_tokens)").cast("double")
                / 1_000_000.0
            ).alias("avg_neglogp"),
        )
    )


SPAN_W = 16  # tokens per span window
SPAN_S = 8  # span stride


@query(
    "text_repeated_spans",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
  FROM documents),
spans AS (
  SELECT DISTINCT doc_id,
         array_to_string(words[i:i+{SPAN_W - 1}], ' ') AS span
  FROM w, UNNEST(range(1, greatest(len(words) - {SPAN_W - 1}, 1) + 1, {SPAN_S}))
         AS t(i)),
rep AS (
  SELECT span FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(r.span) AS BIGINT) AS n_repeated,
       CAST(COUNT(r.span) AS DOUBLE) / COUNT(*) AS repeat_fraction
FROM spans s LEFT JOIN rep r ON s.span = r.span
GROUP BY s.doc_id
""",
)
def text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span signal (the industrial
    substring-dedup statistic): slide a {SPAN_W}-token window at
    stride {SPAN_S} over every document, find windows whose exact text
    occurs in >= 2 distinct documents, and report each document's
    distinct-span count and repeated fraction — the per-doc evidence
    for span-level (not whole-doc) duplication in a training corpus.

    Scale: one explode + two aggregations keyed on the span text; at
    100 TB the span table shuffles once (map-side combined) and the
    repeated-span set is the join's build side — no pairwise document
    comparison anywhere.
    """
    from grapho_spark.sparkutil import materialize

    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("words", F.split(F.trim(F.lower("text")), r"\s+"))
    spans_expr = (
        f"transform(sequence(1, greatest(size(words) - {SPAN_W - 1}, 1), {SPAN_S}), "
        f"i -> concat_ws(' ', slice(words, i, {SPAN_W})))"
    )
    spans = materialize(
        d.select("doc_id", F.explode(F.expr(spans_expr)).alias("span")).distinct()
    )
    rep = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span", F.lit(1).alias("_rep"))
    )
    return (
        spans.join(rep, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.coalesce(F.col("_rep"), F.lit(0))).cast("long").alias("n_repeated"),
            (
                F.sum(F.coalesce(F.col("_rep"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("repeat_fraction"),
        )
    )


@query(
    "text_bigram_logprob",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
  FROM documents),
uni AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest(words) AS term FROM w) GROUP BY term),
tot AS (SELECT SUM(c) AS total FROM uni),
bigr AS (
  SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
  FROM w, range(1, 1000) t(i) WHERE i < len(words)),
bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY w1, w2),
fc AS (SELECT w1, COUNT(*) AS c1 FROM bigr GROUP BY w1),
scored AS (
  SELECT b.doc_id,
         CAST(round(-ln(0.75 * bc.c12 / fc.c1
                        + 0.25 * u.c / CAST(total AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS neglogp
  FROM bigr b
  JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
  JOIN fc ON b.w1 = fc.w1
  JOIN uni u ON b.w2 = u.term, tot)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST((2 * CAST(SUM(neglogp) * 1000000 AS BIGINT) + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_neglogp
FROM scored GROUP BY doc_id
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document with unigram interpolation
    (0.75 * p(w2|w1) + 0.25 * p(w2)) — the next step up from
    text_unigram_logprob as a perplexity-proxy quality score; the
    interpolation term keeps unseen-bigram surprisal finite without a
    smoothing hyperparameter per vocab size.

    Determinism: per-bigram surprisal is a fixed scalar expression
    rounded at 6dp then accumulated as EXACT decimals (same policy as
    the unigram scorer); the final mean is one rounded division.

    Scale: bigram and first-token count tables are vocabulary^2-sparse
    (bounded by corpus tokens, zipf-concentrated) — broadcast or
    shuffle-joined on w1/w2; the token stream is scanned a bounded
    number of times with map-side combine. No per-doc state beyond the
    final groupBy.
    """
    from grapho_spark.sparkutil import materialize

    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("words"))
    uni = (
        w.select(F.explode("words").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("total"))
    bigr = materialize(
        w.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("words", 1, F.size("words") - 1),
                    F.slice("words", 2, F.size("words") - 1),
                )
            ).alias("pr"),
        ).select("doc_id", F.col("pr.0").alias("w1"), F.col("pr.1").alias("w2"))
    )
    bc = bigr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    fc = bigr.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    neglogp = F.round(
        -F.log(
            F.lit(0.75) * F.col("c12") / F.col("c1")
            + F.lit(0.25) * F.col("c") / F.col("total").cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        bigr.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(fc), "w1")
        .join(F.broadcast(uni), F.col("w2") == F.col("term"))
        .crossJoin(F.broadcast(tot))
        .select("doc_id", neglogp.alias("neglogp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (F.sum("neglogp") * 1_000_000).cast("long").alias("_sm"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            # same exact half-up integer mean as the unigram scorer
            (
                F.expr("(2 * _sm + n_bigrams) div (2 * n_bigrams)").cast("double")
                / 1_000_000.0
            ).alias("avg_neglogp"),
        )
    )


@query(
    "text_zipf_slope",
    oracle="""
WITH freq AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents) GROUP BY term),
ranked AS (
  SELECT CAST(round(ln(row_number() OVER (ORDER BY c DESC, term)), 6)
              AS DECIMAL(18,6)) AS lx,
         CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS ly
  FROM freq),
m AS (
  SELECT count(*) AS n,
         CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
         CAST(sum(lx*ly) AS DOUBLE) AS sxy, CAST(sum(lx*lx) AS DOUBLE) AS sxx
  FROM ranked)
SELECT CAST(n AS BIGINT) AS n_terms,
       round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope
FROM m
""",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: least-squares slope of
    ln(frequency) on ln(rank) (a natural corpus near -1; strong
    deviations flag synthetic or templated text). Per-term logs round
    at 6dp then accumulate as exact decimals; the slope is one rounded
    division of integer-exact moment combinations.

    Scale: one vocabulary rollup; the global frequency rank is
    vocabulary-sized (zipf-concentrated), distributed-rankable the
    same way as the Gini rank.
    """
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), "term")
    ranked = freq.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("lx"),
        F.round(F.log(F.col("c").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("ly"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("double").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return m.select(
        n.cast("long").alias("n_terms"),
        F.round(
            (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx), 6
        ).alias("zipf_slope"),
    )


@query(
    "text_trending_terms",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents),
counts AS (
  SELECT source, term, count(*) AS c FROM toks GROUP BY source, term),
ranked AS (
  SELECT source, term, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rk
  FROM counts),
top AS (SELECT * FROM ranked WHERE rk <= 5),
base AS (
  SELECT term, count(*) AS c_base FROM toks GROUP BY term),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all FROM toks),
src_tot AS (
  SELECT source, count(*) AS n_src FROM toks GROUP BY source)
SELECT t.source, t.term, t.c AS n_in_source, t.rk,
       round((t.c * 1.0 / s.n_src) / (b.c_base * 1.0 / x.n_all), 6) AS lift
FROM top t
JOIN base b USING (term)
JOIN src_tot s ON s.source = t.source
CROSS JOIN tot x
""",
)
def text_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trending terms: each source's top-5 terms by count
    with their lift — the term's in-source frequency relative to its
    corpus-wide frequency (lift >> 1 means the term is characteristic
    of the source, the keyword-extraction signal dashboards surface).

    Scale: two token rollups (per-source and global) with map-side
    combine; the per-source top-5 is a partitioned rank; frequency
    dims broadcast to the lift join.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )
    counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), "term")
    top = counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
    base = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c_base"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_all"))
    src_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    return (
        top.join(F.broadcast(base), "term")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "term",
            F.col("c").alias("n_in_source"),
            "rk",
            F.round(
                (F.col("c") * F.lit(1.0) / F.col("n_src"))
                / (F.col("c_base") * F.lit(1.0) / F.col("n_all")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "text_psi_drift_by_source",
    oracle="""
WITH binned AS (
  SELECT source,
         LEAST(CAST(FLOOR(n_chars / 500.0) AS BIGINT), 7) AS bin
  FROM documents),
per_source AS (
  SELECT source, bin, COUNT(*) AS c FROM binned GROUP BY source, bin),
src_tot AS (
  SELECT source, COUNT(*) AS tot FROM binned GROUP BY source),
gbin AS (
  SELECT bin, COUNT(*) AS gc FROM binned GROUP BY bin),
gtotal AS (SELECT COUNT(*) AS gtot FROM binned),
scaffold AS (
  SELECT s.source, b.bin
  FROM (SELECT DISTINCT source FROM binned) s,
       (SELECT UNNEST(range(8)) AS bin) b),
terms AS (
  SELECT sc.source,
         CAST(round(
           ((COALESCE(ps.c, 0) + 0.5) / (st.tot + 4.0)
              - (COALESCE(g.gc, 0) + 0.5) / (gt.gtot + 4.0))
           * ln(((COALESCE(ps.c, 0) + 0.5) / (st.tot + 4.0))
                / ((COALESCE(g.gc, 0) + 0.5) / (gt.gtot + 4.0))), 6)
           AS DECIMAL(18,6)) AS contrib
  FROM scaffold sc
  JOIN src_tot st ON sc.source = st.source
  LEFT JOIN per_source ps ON sc.source = ps.source AND sc.bin = ps.bin
  LEFT JOIN gbin g ON sc.bin = g.bin
  CROSS JOIN gtotal gt)
SELECT source, CAST(SUM(contrib) AS DOUBLE) AS psi
FROM terms
GROUP BY source
ORDER BY source
""",
)
def text_psi_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift detection: how far each
    source's document-length distribution drifts from the corpus-wide
    distribution over 8 fixed 500-char bins (PSI > 0.25 is the classic
    retrain-trigger threshold). Laplace smoothing (+0.5 per bin) keeps
    empty bins finite; each bin's contribution rounds at 6dp and
    accumulates as an exact decimal (the repo's standard libm-parity
    policy), so the per-source sum is engine-exact.

    Scale: two count rollups (per-source-bin and global-bin) over one
    scan; everything after is |sources| x 8 rows — the scaffold cross
    join, smoothing math, and the final sum all run on broadcast-sized
    tables. The document bodies never shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    binned = d.select(
        "source",
        F.least(F.floor(F.col("n_chars") / 500.0).cast("long"), F.lit(7)).alias("bin"),
    )
    per_source = binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    src_tot = binned.groupBy("source").agg(F.count(F.lit(1)).alias("tot"))
    glob = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("gc"))
    gtot = binned.count()
    scaffold = (
        src_tot.select("source", "tot")
        .crossJoin(F.broadcast(spark.range(8).select(F.col("id").alias("bin"))))
    )
    p = (F.coalesce(F.col("c"), F.lit(0)) + 0.5) / (F.col("tot") + 4.0)
    q = (F.coalesce(F.col("gc"), F.lit(0)) + 0.5) / (F.lit(gtot) + 4.0)
    terms = (
        scaffold.join(per_source, ["source", "bin"], "left")
        .join(F.broadcast(glob), ["bin"], "left")
        .select(
            "source",
            F.round((p - q) * F.log(p / q), 6).cast("decimal(18,6)").alias("contrib"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(F.sum("contrib").cast("double").alias("psi"))
        .orderBy("source")
    )


@query(
    "corpus_weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         round(round(ln((CAST(CAST('0x' || substring(
                  md5(CAST(doc_id AS VARCHAR)), 1, 8) AS VARCHAR)::UBIGINT
                  % 1000000 AS DOUBLE) + 0.5) / 1000000.0), 6)
               / n_chars, 12) AS sample_key
  FROM documents)
SELECT doc_id, lang, n_chars, sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT 25
""",
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    each document draws a deterministic hash uniform u and competes on
    key = ln(u)/weight; the global top-k by key IS an exact weighted
    sample. Weight here is n_chars (length-proportional corpus
    sampling); any quality score slots in unchanged. Hash-derived
    uniforms make the sample identical on every engine, run, and
    partitioning — rand()-based weighted sampling is none of those.
    ln rounds at 6dp and the key at 12dp (the repo's libm-parity
    policy), with doc_id breaking boundary ties.

    Scale: the key is pure map-side codegen; the global top-k is
    TakeOrderedAndProject (k rows per partition, no sort
    materialization) — this is exactly how you draw a 1M-doc training
    mix from a 100 TB corpus in one pass.
    """
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1_000_000
    ).cast("double") + F.lit(0.5)
    key = F.round(F.round(F.log(u / 1_000_000.0), 6) / F.col("n_chars"), 12)
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(25)
    )


@query(
    "text_inverted_index",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, UNNEST(string_split(trim(lower(text)), ' ')) AS term
  FROM documents),
postings AS (
  SELECT term,
         CAST(COUNT(*) AS BIGINT) AS df,
         list_sort(list(doc_id)) AS posting_list
  FROM tok
  WHERE term NOT IN ({{stops}}) AND length(term) >= 3
  GROUP BY term)
SELECT term, df, posting_list
FROM postings
WHERE df BETWEEN 40 AND 200
ORDER BY df DESC, term
LIMIT 50
""".format(stops=_STOP_SQL),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index build: term -> sorted posting list of containing
    doc_ids plus document frequency, for mid-frequency terms (stopword
    + df-band filtering keeps head terms from exploding the lists —
    exactly the skew control a 100 TB index build needs). Output is
    the 50 highest-df indexed terms with full posting lists, value-
    compared element-wise against the oracle.

    Scale: the (doc, term) pairs dedup map-side under the distinct,
    one shuffle on term builds each posting via sort_array(collect_set)
    — deterministic regardless of arrival order; the df band bounds
    any single reducer's list. Head terms (stopwords) never shuffle at
    all.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
        )
        .filter(~F.col("term").isin(*STOPWORDS) & (F.length("term") >= 3))
        .distinct()
    )
    postings = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("posting_list"),
    )
    return (
        postings.filter((F.col("df") >= 40) & (F.col("df") <= 200))
        .select("term", "df", "posting_list")
        .orderBy(F.desc("df"), "term")
        .limit(50)
    )


@query(
    "text_bm25_search",
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(trim(lower(text)), ' ')) AS term
  FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term IN ('hash', 'join') GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 6)
           AS DECIMAL(18,6)) AS c
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s)
SELECT doc_id,
       CAST(SUM(c) AS DOUBLE) AS bm25
FROM contrib
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
""",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for the query "hash join" (k1=1.2,
    b=0.75, the BM25+ idf that stays positive for common terms): the
    scoring function behind every lexical search engine, composed from
    the same token pipeline as the inverted index. Per-term
    contributions round at 6dp and accumulate as exact decimals; the
    top-10 is engine-exact with doc_id tie-breaks.

    Scale: doc lengths and term stats are two rollups over the token
    stream; only rows for the QUERY terms survive into the scoring
    join (the corpus-wide token volume never joins anything), and
    df/avgdl are broadcast scalars. Ranking ends in per-partition
    top-k.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("term").isin("hash", "join"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


@query(
    "text_phrase_search",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS words
  FROM documents),
bigr AS (
  SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
  FROM w, range(1, 100000) t(i) WHERE i < len(words))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM bigr
WHERE w1 = 'hash' AND w2 = 'join'
GROUP BY doc_id
ORDER BY n_occurrences DESC, doc_id
LIMIT 20
""",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("hash join" as adjacent tokens): the
    positional-index complement to BM25's bag-of-words scoring —
    phrase hits need token ADJACENCY, which term frequency cannot see.
    Top-20 docs by occurrence count with doc_id tie-breaks.

    Scale: adjacency pairs are generated map-side per document (zip of
    the token array with its own tail — no positional join); the
    phrase filter collapses the stream before the only shuffle. A
    production positional index stores (term, doc, positions) lists;
    this is the query-time shape over raw text.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("words"))
    bigr = w.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("words", 1, F.size("words") - 1),
                F.slice("words", 2, F.size("words") - 1),
            )
        ).alias("pr"),
    ).select("doc_id", F.col("pr.0").alias("w1"), F.col("pr.1").alias("w2"))
    return (
        bigr.filter((F.col("w1") == "hash") & (F.col("w2") == "join"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "doc_id")
        .limit(20)
    )


@query(
    "text_langid_prf_metrics",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql(LANG_MARKERS['de'])} AS s_de,
         {_lang_score_sql(LANG_MARKERS['en'])} AS s_en,
         {_lang_score_sql(LANG_MARKERS['es'])} AS s_es,
         {_lang_score_sql(LANG_MARKERS['fr'])} AS s_fr,
         CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 1 ELSE 0 END AS s_zh
  FROM (SELECT doc_id, lang, text,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)),
labeled AS (
  SELECT doc_id, lang,
         CASE WHEN s_zh > 0 THEN 'zh'
              WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
              WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
              WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS predicted_lang
  FROM scored),
metrics AS (
  SELECT l.lang,
         CAST(COUNT(*) FILTER (WHERE predicted_lang = l.lang) AS BIGINT) AS tp,
         CAST(COUNT(*) AS BIGINT) AS n_actual
  FROM labeled l GROUP BY l.lang),
pred_tot AS (
  SELECT predicted_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_predicted
  FROM labeled GROUP BY predicted_lang)
SELECT m.lang, m.tp, m.n_actual,
       COALESCE(p.n_predicted, 0) AS n_predicted,
       round(CAST(m.tp AS DOUBLE) / m.n_actual, 6) AS recall,
       CASE WHEN COALESCE(p.n_predicted, 0) = 0 THEN NULL
            ELSE round(CAST(m.tp AS DOUBLE) / p.n_predicted, 6) END AS precision
FROM metrics m LEFT JOIN pred_tot p USING (lang)
ORDER BY m.lang
""",
)
def text_langid_prf_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language precision/recall of the heuristic language
    identifier against the labeled lang column — the model-evaluation
    rollup a curation pipeline runs before trusting a classifier for
    quota decisions. Integer tp/actual/predicted counts with one
    rounded division each.

    Scale: two rollups of the prediction stream (by actual, by
    predicted) joined on the tiny language set — the classifier scan
    itself is the only data-sized pass.
    """
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("words", F.split(F.trim(F.lower("text")), r"\s+"))
    scores = {
        code: F.size(
            F.expr(
                "filter(words, w -> w IN ({}))".format(
                    ", ".join(f"'{w}'" for w in marks)
                )
            )
        )
        for code, marks in LANG_MARKERS.items()
    }
    s_zh = F.when(F.col("text").rlike("[一-鿿]"), 1).otherwise(0)
    scored = d.select(
        "lang",
        scores["de"].alias("s_de"),
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["fr"].alias("s_fr"),
        s_zh.alias("s_zh"),
    )
    best = F.greatest("s_de", "s_en", "s_es", "s_fr")
    predicted = (
        F.when(F.col("s_zh") > 0, "zh")
        .when(best == 0, "unknown")
        .when(F.col("s_en") >= F.greatest("s_de", "s_es", "s_fr"), "en")
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr"), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
    )
    labeled = scored.select("lang", predicted.alias("predicted_lang"))
    metrics = labeled.groupBy("lang").agg(
        F.count(F.when(F.col("predicted_lang") == F.col("lang"), 1))
        .cast("long")
        .alias("tp"),
        F.count(F.lit(1)).cast("long").alias("n_actual"),
    )
    pred_tot = labeled.groupBy(
        F.col("predicted_lang").alias("lang")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_predicted"))
    return (
        metrics.join(F.broadcast(pred_tot), "lang", "left")
        .select(
            "lang",
            "tp",
            "n_actual",
            F.coalesce(F.col("n_predicted"), F.lit(0)).alias("n_predicted"),
            F.round(F.col("tp").cast("double") / F.col("n_actual"), 6).alias(
                "recall"
            ),
            F.when(
                F.coalesce(F.col("n_predicted"), F.lit(0)) == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.round(F.col("tp").cast("double") / F.col("n_predicted"), 6)
            )
            .alias("precision"),
        )
        .orderBy("lang")
    )


@query(
    "text_pmi_collocations",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS words
  FROM documents),
uni AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest(words) AS term FROM w) GROUP BY term),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
bigr AS (
  SELECT words[i] AS w1, words[i + 1] AS w2
  FROM w, range(1, 100000) t(i) WHERE i < len(words)),
bc AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY w1, w2
  HAVING COUNT(*) >= 25)
SELECT bc.w1, bc.w2, CAST(bc.c12 AS BIGINT) AS n_cooccur,
       round(ln(CAST(bc.c12 AS DOUBLE) * t.n
                / (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi
FROM bc
JOIN uni u1 ON bc.w1 = u1.term
JOIN uni u2 ON bc.w2 = u2.term
CROSS JOIN tot t
ORDER BY pmi DESC, bc.w1, bc.w2
LIMIT 25
""",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information: the 25
    adjacent-token pairs most over-represented vs independence
    (PMI = ln(p(w1,w2) / p(w1)p(w2))), with a min-count floor so rare
    coincidences cannot top the list — how multiword expressions get
    discovered for tokenizer merges. One ln per surviving pair,
    rounded at 6dp; ranking tie-breaks on the pair.

    Scale: unigram and bigram count tables are zipf-sparse rollups
    with map-side partials; only floor-passing pairs join the
    (broadcast) unigram stats, and ranking is per-partition top-k.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.split(F.trim(F.lower("text")), r"\s+").alias("words"))
    uni = (
        w.select(F.explode("words").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n"))
    bigr = w.select(
        F.explode(
            F.arrays_zip(
                F.slice("words", 1, F.size("words") - 1),
                F.slice("words", 2, F.size("words") - 1),
            )
        ).alias("pr")
    ).select(F.col("pr.0").alias("w1"), F.col("pr.1").alias("w2"))
    bc = (
        bigr.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 25)
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    return (
        bc.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("n_cooccur"),
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("n")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Distributed BPE vocabulary induction (Sennrich et al. 2016, the
# standard subword tokenizer-training algorithm). The corpus-scale
# work is exactly ONE stage: the word-frequency count. Every merge
# round after that runs on the distinct-word table (vocab-sized, not
# corpus-sized) — the classic map-reduce BPE shape, which is why BPE
# trainers scale to 100 TB corpora: 100 TB of text collapses to a few
# million (word, count) rows before the first merge is considered.
#
# Segmentations are carried as delimited strings ("|s| |p| |a| |r| |k|")
# so that applying a merge is ONE built-in leftmost-nonoverlapping
# replace() per word — each piece carries its own boundary markers, so
# consecutive merge sites don't share separator characters and the
# string-level replace is exactly the left-to-right greedy BPE apply
# (verified identical on Spark and DuckDB, incl. the "b b b b" and
# "a a a" overlap cases). All integer counts; no floats anywhere in
# training, so the argmax merge choice is engine-exact.
# --------------------------------------------------------------------------

BPE_ROUNDS = 8
BPE_WORD_RE = "[a-z]+"


def _bpe_train(spark: SparkSession, sf_dir: str):
    """(merges, vocab) after BPE_ROUNDS greedy merge rounds.

    merges: (merge_round, left_piece, right_piece, merged, pair_count)
    vocab:  (w, cnt, n_pieces) — the trained segmentation lookup.

    Scale: the word count shuffles once on word (map-side combine);
    each round is a vocab-sized pair count + a 1-row argmax broadcast
    back onto the vocab table. checkpoint_state pins per-round state
    so round N does not replay rounds 1..N-1 (the iterative-loop
    lineage lesson, PERF.md). Both frames are session memo tables
    (sparkutil.memo_table), trained once per (session, sf_dir)."""
    from functools import cache

    from grapho_spark.sparkutil import memo_table

    train = cache(lambda: _bpe_rounds(spark, sf_dir))
    return (
        memo_table(spark, f"bpe_merges:{sf_dir}", lambda: train()[0]),
        memo_table(spark, f"bpe_vocab:{sf_dir}", lambda: train()[1]),
    )


def _bpe_rounds(spark: SparkSession, sf_dir: str):
    """(merges, vocab) frames of the BPE_ROUNDS training loop."""
    from functools import reduce

    from grapho_spark.sparkutil import checkpoint_state, materialize

    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(BPE_WORD_RE), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    seg = materialize(
        wc.select(
            "w", "cnt", F.expr(r"rtrim(regexp_replace(w, '(.)', '|$1| '))").alias("seg")
        )
    )

    winners = []
    for r in range(1, BPE_ROUNDS + 1):
        arr = "split(seg, ' ')"
        pairs = seg.select(
            "cnt",
            F.explode(
                F.arrays_zip(
                    F.expr(f"slice({arr}, 1, size({arr}) - 1)"),
                    F.expr(f"slice({arr}, 2, size({arr}) - 1)"),
                )
            ).alias("z"),
        ).select("cnt", F.col("z.0").alias("p1"), F.col("z.1").alias("p2"))
        # The zero-count sentinel keeps the round a NO-OP when the
        # pair stream is exhausted before BPE_ROUNDS (all-single-piece
        # words): without it the 0-row winner crossJoin would silently
        # EMPTY the vocab. Its pattern ('\x01 \x01') can never match a
        # delimited segmentation, and the merges output filters
        # pair_count > 0 so sentinel rounds don't surface.
        sentinel = spark.createDataFrame(
            [("\x01", "\x01", 0, "", "")],
            "p1 string, p2 string, pair_count long, "
            "left_piece string, right_piece string",
        )
        win = materialize(
            pairs.groupBy("p1", "p2")
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
            .select(
                "p1",
                "p2",
                "pair_count",
                F.expr("replace(p1, '|', '')").alias("left_piece"),
                F.expr("replace(p2, '|', '')").alias("right_piece"),
            )
            .unionByName(sentinel)
            .orderBy(F.desc("pair_count"), "left_piece", "right_piece")
            .limit(1)
        )
        winners.append(
            win.select(
                F.lit(r).cast("int").alias("merge_round"),
                "left_piece",
                "right_piece",
                F.concat("left_piece", "right_piece").alias("merged"),
                "pair_count",
            )
        )
        seg = checkpoint_state(
            seg.crossJoin(F.broadcast(win)).select(
                "w",
                "cnt",
                F.expr(
                    "replace(seg, p1 || ' ' || p2,"
                    " '|' || left_piece || right_piece || '|')"
                ).alias("seg"),
            )
        )

    merges = reduce(lambda a, b: a.unionAll(b), winners).filter(F.col("pair_count") > 0)
    return merges, seg.select("w", "cnt", F.size(F.split("seg", " ")).alias("n_pieces"))


def _duck_bpe_ctes() -> str:
    """The same training unrolled as a DuckDB CTE chain: wc -> seg0 ->
    (pr{r}, win{r}, seg{r}) per round. Emits seg{BPE_ROUNDS} and
    win1..win{BPE_ROUNDS}."""
    parts = [
        f"""wc AS (
  SELECT w, COUNT(*) AS cnt FROM (
    SELECT UNNEST(regexp_extract_all(lower(text), '{BPE_WORD_RE}')) AS w
    FROM documents)
  GROUP BY w)""",
        r"""seg0 AS (
  SELECT w, cnt, rtrim(regexp_replace(w, '(.)', '|\1| ', 'g')) AS seg
  FROM wc)""",
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""pr{r} AS (
  SELECT s.arr[t.i] AS p1, s.arr[t.i + 1] AS p2,
         CAST(SUM(s.cnt) AS BIGINT) AS pair_count
  FROM (SELECT cnt, string_split(seg, ' ') AS arr FROM seg{r - 1}) s,
       UNNEST(range(1, len(s.arr))) AS t(i)
  GROUP BY p1, p2)"""
        )
        parts.append(
            f"""win{r} AS (
  SELECT p1, p2, pair_count, left_piece, right_piece FROM (
    SELECT p1, p2, pair_count,
           replace(p1, '|', '') AS left_piece,
           replace(p2, '|', '') AS right_piece
    FROM pr{r}
    UNION ALL
    SELECT chr(1), chr(1), CAST(0 AS BIGINT), '', '')
  ORDER BY pair_count DESC, left_piece, right_piece LIMIT 1)"""
        )
        parts.append(
            f"""seg{r} AS (
  SELECT s.w, s.cnt,
         replace(s.seg, n.p1 || ' ' || n.p2,
                 '|' || n.left_piece || n.right_piece || '|') AS seg
  FROM seg{r - 1} s CROSS JOIN win{r} n)"""
        )
    return ",\n".join(parts)


_DUCK_BPE_MERGES = " UNION ALL ".join(
    f"""SELECT CAST({r} AS INTEGER) AS merge_round, left_piece, right_piece,
       left_piece || right_piece AS merged, pair_count
FROM win{r} WHERE pair_count > 0"""
    for r in range(1, BPE_ROUNDS + 1)
)


@query(
    "text_bpe_merges",
    oracle=f"""
WITH {_duck_bpe_ctes()}
SELECT * FROM ({_DUCK_BPE_MERGES}) ORDER BY merge_round
""",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: BPE_ROUNDS=8 greedy merge rounds over
    the corpus word-frequency table — each round counts adjacent piece
    pairs weighted by word frequency, picks the argmax pair
    (deterministic tie-break: count DESC, then piece strings), and
    rewrites every affected segmentation with one built-in replace().
    Returns the learned merge table, i.e. the tokenizer itself.

    Scale: ONE corpus shuffle total (the word count, map-side
    combine); all 8 merge rounds run on the distinct-word
    table, which is ~10^6-10^7 rows for a 100 TB corpus — the pair
    count is vocab-sized, the argmax is a 1-row broadcast, and the
    merge apply is map-only. The oracle unrolls all rounds as CTEs.
    """
    merges, _ = _bpe_train(spark, sf_dir)
    return merges.orderBy("merge_round")


@query(
    "text_bpe_tokenize",
    oracle=f"""
WITH {_duck_bpe_ctes()},
vocab AS (
  SELECT w, len(string_split(seg, ' ')) AS n_pieces FROM seg{BPE_ROUNDS}),
tok AS (
  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '{BPE_WORD_RE}')) AS w
  FROM documents)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(t.w)) AS BIGINT) AS n_letters,
       CAST(SUM(v.n_pieces) AS BIGINT) AS n_bpe_tokens,
       round(CAST(SUM(v.n_pieces) AS DOUBLE) / COUNT(*), 6) AS pieces_per_word
FROM tok t JOIN vocab v USING (w)
GROUP BY t.doc_id
""",
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE vocabulary to every document: per-doc
    post-merge token counts. The tokenizer application is a broadcast
    join of the (word -> piece count) lookup against the corpus token
    stream — no per-document string processing at all, which is how a
    production tokenizer-aware pipeline counts tokens at ingest
    (the vocab table IS the tokenizer; OOV words would fall back to
    char count — the fixture vocab is closed so the join is inner).

    Scale: map-only over the corpus after the vocab broadcast; the
    groupBy(doc_id) rollup reuses the scan partitioning (doc rows are
    contiguous), and all counts are integers until the final ratio.
    """
    _, vocab = _bpe_train(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(BPE_WORD_RE), F.lit(0))
        ).alias("w"),
    )
    return tok.join(F.broadcast(vocab.select("w", "n_pieces")), "w").groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.length("w")).cast("long").alias("n_letters"),
        F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
        F.round(
            F.sum("n_pieces").cast("double") / F.count(F.lit(1)), 6
        ).alias("pieces_per_word"),
    )


@query(
    "text_bpe_fertility_by_lang",
    oracle=f"""
WITH {_duck_bpe_ctes()},
vocab AS (
  SELECT w, len(string_split(seg, ' ')) AS n_pieces FROM seg{BPE_ROUNDS}),
tok AS (
  SELECT lang, UNNEST(regexp_extract_all(lower(text), '{BPE_WORD_RE}')) AS w
  FROM documents)
SELECT t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(v.n_pieces) AS BIGINT) AS n_bpe_tokens,
       round(CAST(SUM(v.n_pieces) AS DOUBLE) / COUNT(*), 6) AS fertility
FROM tok t JOIN vocab v USING (w)
GROUP BY t.lang
ORDER BY t.lang
""",
)
def text_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (BPE pieces per word) per language — the
    standard tokenizer-fairness dial: a language whose words fragment
    into more pieces pays proportionally more of the training budget
    and of every context window, so multilingual pipelines track
    fertility per language against the shared vocabulary (the metric
    behind 'vocabulary allocation' debates in multilingual tokenizer
    design).

    Scale: identical shape to text_bpe_tokenize — broadcast vocab
    join over the corpus token stream, map-side integer partials,
    then a languages-sized rollup; the fertility division happens
    once per language.
    """
    _, vocab = _bpe_train(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(BPE_WORD_RE), F.lit(0))
        ).alias("w"),
    )
    return (
        tok.join(F.broadcast(vocab.select("w", "n_pieces")), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_pieces").cast("double") / F.count(F.lit(1)), 6
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------- count-min sketch

CMS_D = 4  # hash rows
CMS_W = 512  # buckets per row


def _cms_bucket_spark(col: str, j: int) -> str:
    """Bucket of ``col`` under hash row ``j`` — md5 is the
    engine-portable hash family (dedup.py's protocol), seed mixed in
    as a string prefix, 32-bit hex window -> integer -> mod W."""
    return (
        f"cast(conv(substring(md5(concat('cms{j}:', {col})), 1, 8), 16, 10) "
        f"as bigint) % {CMS_W}"
    )


def _cms_bucket_duck(col: str) -> str:
    """DuckDB twin of _cms_bucket_spark with ``j`` as a column."""
    return (
        f"CAST('0x' || substring(md5('cms' || j || ':' || {col}), 1, 8) "
        f"AS UBIGINT)::BIGINT % {CMS_W}"
    )


CMS_TOPK = 20


@query(
    "text_cms_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
cms AS (
  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT j, {_cms_bucket_duck('w')} AS bucket
        FROM toks, (SELECT unnest([0, 1, 2, 3]) AS j))
  GROUP BY j, bucket),
exact AS (SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS exact_count
          FROM toks GROUP BY w),
tot AS (SELECT CAST(SUM(exact_count) AS BIGINT) AS total FROM exact),
cand AS (SELECT term, exact_count FROM exact
         ORDER BY exact_count DESC, term LIMIT {CMS_TOPK}),
est AS (
  SELECT c2.term, MIN(cms.c) AS cms_estimate
  FROM (SELECT term, j, {_cms_bucket_duck('term')} AS bucket
        FROM cand, (SELECT unnest([0, 1, 2, 3]) AS j)) c2
  JOIN cms ON cms.j = c2.j AND cms.bucket = c2.bucket
  GROUP BY c2.term)
SELECT cand.term, cand.exact_count, est.cms_estimate,
       est.cms_estimate - cand.exact_count AS overestimate,
       (2 * total + {CMS_W - 1}) // {CMS_W} AS eps_bound,
       (est.cms_estimate - cand.exact_count)
         <= ((2 * total + {CMS_W - 1}) // {CMS_W}) AS within_bound
FROM cand JOIN est USING (term), tot
""",
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, validated
    against exact counts for the top-{CMS_TOPK} terms — the mergeable
    frequency sketch a streaming/multi-shard pipeline uses where exact
    per-term counts are too wide to keep (vocab-sized state vs a fixed
    {CMS_D}x{CMS_W} integer grid). Every candidate's estimate must
    dominate its exact count (CMS never underestimates) and the query
    carries the Markov tail bound ceil(2N/W) in-band (`eps_bound`,
    `within_bound`) — the wedge-cap convention: the certificate ships
    WITH the scores, not in a side query.

    Scale: the sketch build is ONE map-side-combined aggregate whose
    result is {CMS_D}*{CMS_W} cells regardless of corpus size, and
    cell-wise addition merges sketches across shards/streams (same
    mergeability contract as the HLL/ANF sketches). Candidates come
    from the exact top-k pass here (test-SF luxury); at 100 TB the
    candidate set comes from a sampled pre-pass, and only the tiny
    candidate list joins the 2048-row sketch (both broadcast-sized).
    """
    from grapho_spark.sparkutil import materialize

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
    # r15: ONE token-sized aggregation. The exact term-frequency table
    # is materialized and everything else (sketch cells, total, top-k
    # candidates) folds over it — the r14 form re-ran a token-sized
    # aggregate per consumer (cms from raw tokens, exact twice for
    # tot + cand, cand twice for est + output). Cell values are the
    # term-frequency rollup, bit-identical to folding the raw stream
    # (cell addition is associative); at 100 TB the same fold runs as
    # the map-side-combined aggregate directly on the stream.
    exact = materialize(
        toks.groupBy(F.col("w").alias("term")).agg(
            F.count(F.lit(1)).cast("long").alias("exact_count")
        )
    )
    stack_tok = ", ".join(
        f"{j}, {_cms_bucket_spark('term', j)}" for j in range(CMS_D)
    )
    cms = (
        exact.selectExpr("exact_count", f"stack({CMS_D}, {stack_tok}) AS (j, bucket)")
        .groupBy("j", "bucket")
        .agg(F.sum("exact_count").cast("long").alias("c"))
    )
    tot = exact.agg(F.sum("exact_count").cast("long").alias("total"))
    cand = materialize(
        exact.orderBy(F.desc("exact_count"), F.asc("term")).limit(CMS_TOPK)
    )
    stack_cand = ", ".join(
        f"{j}, {_cms_bucket_spark('term', j)}" for j in range(CMS_D)
    )
    est = (
        cand.selectExpr("term", f"stack({CMS_D}, {stack_cand}) AS (j, bucket)")
        .join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("term")
        .agg(F.min("c").alias("cms_estimate"))
    )
    bound = F.expr(f"(2 * total + {CMS_W - 1}) div {CMS_W}")
    return (
        cand.join(F.broadcast(est), "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
            bound.alias("eps_bound"),
            ((F.col("cms_estimate") - F.col("exact_count")) <= bound).alias(
                "within_bound"
            ),
        )
    )


# ------------------------------------------- content-defined chunking

CDC_MOD = 16  # boundary when H(prev,cur) % CDC_MOD == 0 (~16-token chunks)


def _cdc_flag(div_engine: str) -> str:
    """Boundary flag for a (prev, cur) token pair — md5 of the joined
    pair reduced mod CDC_MOD (the gear-hash shape at token granularity;
    identical text on both engines)."""
    h = (
        f"CAST(conv(substring(md5(concat('cdc:', prev, '|', w)), 1, 8), 16, 10) AS BIGINT)"
        if div_engine == "spark"
        else "CAST('0x' || substring(md5('cdc:' || prev || '|' || w), 1, 8) AS UBIGINT)::BIGINT"
    )
    return (
        f"CASE WHEN prev IS NULL THEN 1 "
        f"WHEN ({h}) % {CDC_MOD} = 0 THEN 1 ELSE 0 END"
    )


@query(
    "text_cdc_chunking",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, i AS pos, words[i] AS w
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents),
       UNNEST(range(1, len(words) + 1)) AS t(i)),
flagged AS (
  SELECT doc_id, pos, w,
         LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM tok),
cid AS (
  SELECT doc_id, pos, w,
         SUM({_cdc_flag('duck')})
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
  FROM flagged),
chunks AS (
  SELECT doc_id, chunk_id,
         string_agg(w, ' ' ORDER BY pos) AS chunk,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM cid GROUP BY doc_id, chunk_id),
rep AS (
  SELECT chunk FROM chunks GROUP BY chunk
  HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(c.n_tokens) AS BIGINT) AS n_tokens,
       CAST((2 * 1000000 * SUM(c.n_tokens) + COUNT(*)) // (2 * COUNT(*))
            AS DOUBLE) / 1000000.0 AS avg_chunk_tokens,
       CAST(COUNT(r.chunk) AS BIGINT) AS n_repeated_chunks
FROM chunks c LEFT JOIN rep r ON c.chunk = r.chunk
GROUP BY c.doc_id
""",
)
def text_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/dedup-storage
    technique at token granularity): a chunk boundary falls where the
    hash of the local token pair ≡ 0 mod {CDC_MOD}, so boundaries are
    determined by CONTENT, not position — inserting one word near the
    top of a document shifts every fixed-size chunk after it (breaking
    fixed-chunk dedup, text_chunk_dedup_rewrite's known weakness) but
    moves only the ONE content-defined chunk containing the edit.
    Reports per-document chunk stats and how many of its chunks recur
    verbatim in other documents — the storage-dedup signal.

    Scale: boundary flags and chunk ids are doc-partitioned window
    sums (shard-parallel, no global sort); the only corpus-wide
    shuffle keys on the chunk text for the recurrence count (at
    100 TB, on its 16-byte hash). Expected chunk length is the single
    knob ({CDC_MOD}); the hash is the portable md5 family.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = tok.withColumn("prev", F.lag("w").over(wdoc))
    cid = flagged.select(
        "doc_id",
        "pos",
        "w",
        F.sum(F.expr(_cdc_flag("spark")))
        .over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
        .alias("chunk_id"),
    )
    chunks = cid.groupBy("doc_id", "chunk_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s.w
            ),
        ).alias("chunk"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    rep = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chunk", F.lit(1).alias("_rep"))
    )
    return (
        chunks.join(rep, "chunk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            (
                F.expr(
                    "(2 * 1000000 * SUM(n_tokens) + COUNT(*)) div (2 * COUNT(*))"
                ).cast("double")
                / 1_000_000.0
            ).alias("avg_chunk_tokens"),
            F.sum(F.coalesce(F.col("_rep"), F.lit(0)))
            .cast("long")
            .alias("n_repeated_chunks"),
        )
    )


@query(
    "text_distinct_ngram_diversity",
    oracle="""
WITH w AS (
  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS words
  FROM documents),
uni AS (
  SELECT source, unnest(words) AS g FROM w),
bi AS (
  SELECT source, words[i] || ' ' || words[i + 1] AS g
  FROM w, UNNEST(range(1, len(words))) t(i)),
stats AS (
  SELECT u.source,
         CAST(COUNT(*) AS BIGINT) AS n_unigrams,
         CAST(COUNT(DISTINCT u.g) AS BIGINT) AS n_distinct_unigrams
  FROM uni u GROUP BY u.source),
bstats AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_bigrams
  FROM bi GROUP BY source)
SELECT s.source, s.n_unigrams, s.n_distinct_unigrams,
       CAST((2 * 1000000 * s.n_distinct_unigrams + s.n_unigrams)
            // (2 * s.n_unigrams) AS DOUBLE) / 1000000.0 AS distinct1,
       b.n_bigrams, b.n_distinct_bigrams,
       CAST((2 * 1000000 * b.n_distinct_bigrams + b.n_bigrams)
            // (2 * b.n_bigrams) AS DOUBLE) / 1000000.0 AS distinct2
FROM stats s JOIN bstats b USING (source)
""",
)
def text_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source (the anti-mode-collapse /
    template-detection metric): distinct unigrams and bigrams over
    their totals — a source whose distinct-2 ratio craters is
    boilerplate or machine-generated and gets down-weighted or
    deduplicated harder upstream.

    Scale: two map-side-combined aggregates keyed on (source, gram);
    the distinct counts are the only shuffle, and the gram can ride
    as a 16-byte hash at 100 TB. The ratios are integer micro-unit
    half-up divisions.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("source", F.split(F.trim(F.lower("text")), r"\s+").alias("words"))
    uni = w.select("source", F.explode("words").alias("g"))
    bi = w.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(words) - 1), "
                "i -> concat(words[i - 1], ' ', words[i]))"
            )
        ).alias("g"),
    )

    def stats(df, total_name, distinct_name, ratio_name):
        return df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias(total_name),
            F.countDistinct("g").alias(distinct_name),
            (
                F.expr(
                    f"(2 * 1000000 * COUNT(DISTINCT g) + COUNT(*)) "
                    f"div (2 * COUNT(*))"
                ).cast("double")
                / 1_000_000.0
            ).alias(ratio_name),
        )

    s1 = stats(uni, "n_unigrams", "n_distinct_unigrams", "distinct1")
    s2 = stats(bi, "n_bigrams", "n_distinct_bigrams", "distinct2")
    return s1.join(s2, "source").select(
        "source",
        "n_unigrams",
        "n_distinct_unigrams",
        "distinct1",
        "n_bigrams",
        "n_distinct_bigrams",
        "distinct2",
    )
