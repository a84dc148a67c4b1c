"""Document-quality filters for training-data pipelines.

The standard cheap pre-filters applied before model-based scoring,
in the style of the Gopher rules (Rae et al. 2021, "Scaling Language
Models", App. A) and C4's heuristics — re-expressed as Spark column
expressions / explode-aggregate plans:

* quality_repetition    — word / bigram repetition fractions (the
  "most frequent n-gram share" family). Explode → two-level partial
  aggregate; shuffle key is (doc_id, token), so the plan is
  shared-nothing at any corpus size.
* quality_gopher_filter — per-doc scalar signals (word count, mean
  word length, alphabetic-word fraction, stopword hits) and the
  conjunctive keep flag. Pure JVM-side expressions, no shuffle.
* corpus_length_filter  — per-language length-percentile trim
  (drop the tails). One window over (lang, n_chars).

All three carry exact DuckDB oracles: ratios are IEEE divisions of
exact integers computed identically in both engines.

No kawa twin (the reference is a transport library); these belong to
the mandated LLM-pipeline surface alongside llm_text/llm_dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kawa_spark.io import table, spread
from kawa_spark.plans.materialize import materialize
from kawa_spark.registry import register
from kawa_spark.queries.llm_text import LANG_MARKERS

# repetition thresholds (Gopher-style, tuned to produce a real split
# on any natural corpus; mirrored in the oracles)
TOP_WORD_FRAC_MAX = 0.2
TOP_BIGRAM_FRAC_MAX = 0.18

_WORDS_SQL = "string_split_regex(lower(text), '\\s+')"


@register(
    "quality_repetition",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), wx AS (
      SELECT doc_id, unnest(w) AS tok FROM ws
    ), wc AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM wx GROUP BY 1, 2
    ), wstats AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             COUNT(*) AS n_distinct, MAX(c) AS top_word_n
      FROM wc GROUP BY 1
    ), bgx AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(w) - 1),
               i -> array_to_string(w[i:i+1], ' '))) AS bg
      FROM ws WHERE len(w) >= 2
    ), bc AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bgx GROUP BY 1, 2
    ), bstats AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             MAX(c) AS top_bigram_n
      FROM bc GROUP BY 1
    )
    SELECT w.doc_id, w.n_words,
      CAST(w.n_distinct AS DOUBLE) / w.n_words AS uniq_word_frac,
      CAST(w.top_word_n AS DOUBLE) / w.n_words AS top_word_frac,
      CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams AS top_bigram_frac,
      (CAST(w.top_word_n AS DOUBLE) / w.n_words > {TOP_WORD_FRAC_MAX}
       OR COALESCE(CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams
                   > {TOP_BIGRAM_FRAC_MAX}, FALSE)) AS is_repetitive
    FROM wstats w LEFT JOIN bstats b ON w.doc_id = b.doc_id
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals: distinct-word fraction and the share of the
    single most frequent word / bigram. Two explode → count → per-doc
    max pipelines; partial aggregation keeps the (doc_id, token)
    shuffle proportional to distinct tokens, not corpus bytes."""
    # spread the single-file local scan before the CPU-bound explode
    # stages (file splits provide this for free at real scale)
    d = spread(table(spark, sf_dir, "documents"))
    ws = d.select("doc_id", F.split(F.lower("text"), r"\s+").alias("w"))

    wc = (
        ws.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
    )
    wstats = wc.groupBy("doc_id").agg(
        F.sum("count").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("count").alias("top_word_n"),
    )

    n = F.size("w")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice("w", i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bc = (
        ws.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
    )
    bstats = bc.groupBy("doc_id").agg(
        F.sum("count").alias("n_bigrams"),
        F.max("count").alias("top_bigram_n"),
    )

    top_word_frac = F.col("top_word_n").cast("double") / F.col("n_words")
    top_bigram_frac = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    return (
        wstats.join(bstats, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_distinct").cast("double") / F.col("n_words")).alias(
                "uniq_word_frac"
            ),
            top_word_frac.alias("top_word_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            (
                (top_word_frac > TOP_WORD_FRAC_MAX)
                | F.coalesce(
                    top_bigram_frac > TOP_BIGRAM_FRAC_MAX, F.lit(False)
                )
            ).alias("is_repetitive"),
        )
    )


@register(
    "quality_gopher_filter",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, lang, text, {_WORDS_SQL} AS w FROM documents
    )
    SELECT doc_id, lang,
      len(w) AS n_words,
      CAST(list_aggregate(list_transform(w, x -> len(x)), 'sum') AS DOUBLE)
        / len(w) AS mean_word_len,
      CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        / len(w) AS alpha_word_frac,
      len(regexp_extract_all(lower(text),
          '\\b(the|and|is|of|to|in|that|for)\\b')) AS stopword_hits,
      (len(w) BETWEEN 10 AND 2000
       AND CAST(list_aggregate(list_transform(w, x -> len(x)), 'sum') AS DOUBLE)
             / len(w) BETWEEN 2 AND 12
       AND CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
             / len(w) >= 0.8
       AND len(regexp_extract_all(lower(text),
           '\\b(the|and|is|of|to|in|that|for)\\b')) >= 1) AS keep
    FROM ws
    """,
)
def quality_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule scalar signals + conjunctive keep flag. Pure
    column expressions (one scan, no shuffle, whole-stage codegen);
    at 100 TB this is a map-only pass."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), r"\s+")
    n = F.size(w).alias("n_words")
    mean_wl = (
        F.aggregate(
            F.transform(w, F.length), F.lit(0), lambda acc, x: acc + x
        ).cast("double")
        / F.size(w)
    ).alias("mean_word_len")
    alpha_frac = (
        F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double")
        / F.size(w)
    ).alias("alpha_word_frac")
    stop_hits = F.regexp_count(F.lower("text"), F.lit(LANG_MARKERS["en"])).alias(
        "stopword_hits"
    )
    keep = (
        F.size(w).between(10, 2000)
        & (
            F.aggregate(
                F.transform(w, F.length), F.lit(0), lambda acc, x: acc + x
            ).cast("double")
            / F.size(w)
        ).between(2, 12)
        & (
            F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double")
            / F.size(w)
            >= 0.8
        )
        & (F.regexp_count(F.lower("text"), F.lit(LANG_MARKERS["en"])) >= 1)
    ).alias("keep")
    return d.select("doc_id", "lang", n, mean_wl, alpha_frac, stop_hits, keep)


@register(
    "corpus_length_filter",
    oracle="""
    SELECT doc_id, lang, n_chars,
      PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars) AS len_pct,
      PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars)
        BETWEEN 0.05 AND 0.95 AS keep
    FROM documents
    """,
)
def corpus_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-percentile trim: drop the 5% shortest and
    longest docs per lang. One window (shuffle on lang; a skewed
    dominant language should be range-partitioned on (lang, n_chars)
    at real scale — percent_rank only needs rank & count, both
    computable with a 2-pass partial-agg variant if one lang
    dominates)."""
    d = table(spark, sf_dir, "documents")
    pr = F.percent_rank().over(
        Window.partitionBy("lang").orderBy("n_chars")
    )
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        pr.alias("len_pct"),
        pr.between(0.05, 0.95).alias("keep"),
    )


@register(
    "quality_lm_commonness",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), posts AS (
      SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg
      FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
    ), counts AS (
      SELECT bg, COUNT(*) AS n_bg FROM posts GROUP BY bg
    ), corpus AS (
      SELECT CAST(SUM(CAST(n_bg AS HUGEINT) * n_bg) AS DOUBLE)
               / CAST(SUM(n_bg) AS DOUBLE) AS corpus_avg
      FROM counts
    ), scored AS (
      SELECT p.doc_id,
             COUNT(*) AS n_bigrams,
             CAST(SUM(c.n_bg) AS BIGINT) AS sum_commonness
      FROM posts p JOIN counts c ON p.bg = c.bg
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_bigrams, sum_commonness,
           CAST(sum_commonness AS DOUBLE) / n_bigrams AS avg_commonness,
           CAST(sum_commonness AS DOUBLE) / n_bigrams / corpus_avg
             AS commonness_ratio,
           CAST(sum_commonness AS DOUBLE) / n_bigrams / corpus_avg >= 0.5
             AS keep
    FROM scored, corpus
    """,
)
def quality_lm_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-lite rarity filter — the n-gram stand-in for CCNet-style
    perplexity filtering: a document whose bigrams are systematically
    rarer than the corpus norm is likely garbled/off-distribution.
    Score = mean corpus frequency of the doc's bigram occurrences,
    normalized by the corpus-wide mean (Σn²/Σn over the count table)
    so the keep threshold is scale-free — a fixed absolute cutoff
    would flip with corpus size.

    Exactness: counts are integers end-to-end (the Σn² sum in
    DECIMAL/HUGEINT so it can't overflow at corpus scale); the only
    float ops are two divisions of identical exact operands, so even
    the boolean keep flag hash-matches the oracle.

    Scale: explode → (bigram-keyed count + postings⋈counts join, both
    shuffling on the bigram; the count table is partial-aggregated
    map-side) → one doc_id aggregate. The corpus norm is a 1-row
    broadcast. Nothing driver-side, no UDF; bigram skew (stopword
    pairs) rides the same two-level agg AQE handles for any hot key.

    r15 optimization round, two plan changes (rows bit-identical,
    oracle untouched):

    * The corpus norm is now derived from the per-doc table instead
      of a second read of the bigram count table: over the posting
      rows, Σ_docs sum_commonness == Σ_b n_b² and Σ_docs n_bigrams
      == Σ_b n_b EXACTLY (every posting row of bigram b contributes
      n_b to exactly one doc's sum), so the same two integers reach
      the same one double division — but the aggregate now reads the
      small per-doc frame, eliminating the third consumer of the
      corpus-sized postings and the duplicate count-table subtree.
    * The registered form materializes the per-doc table (|docs|
      rows — the output's own cardinality, not the posting table's)
      with the postings cached for the build (plans.materialize;
      docs/SCALE.md, "Lazy cores"), so the output and the corpus norm
      both read the checkpoint."""
    from kawa_spark.functions.hof import bigrams, bind

    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    # short-doc guard lives in hof.bigrams: a 0/1-word doc yields an
    # empty array (zero posting rows), matching the oracle's empty
    # generate_series — the unguarded sequence(1, 0) form crashes
    bg_col = bind(F.split(F.lower(F.col("text")), " "), bigrams)
    posts = d.select("doc_id", F.explode(bg_col).alias("bg"))
    counts = posts.groupBy("bg").agg(F.count(F.lit(1)).alias("n_bg"))
    scored = materialize(
        posts.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("n_bg").alias("sum_commonness"),
        ),
        posts,
    )
    # Σ_docs sum_commonness == Σ_b n_b², Σ_docs n_bigrams == Σ_b n_b:
    # identical integers to the old counts-table aggregate, summed in
    # DECIMAL so corpus scale cannot wrap, cast to DOUBLE only at the
    # division — the same IEEE value the oracle computes from counts.
    corpus = scored.agg(
        (
            F.sum(F.col("sum_commonness").cast("decimal(38,0)"))
            .cast("double")
            / F.sum(F.col("n_bigrams").cast("decimal(38,0)")).cast("double")
        ).alias("corpus_avg")
    )
    avg = F.col("sum_commonness").cast("double") / F.col("n_bigrams")
    ratio = avg / F.col("corpus_avg")
    return scored.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "n_bigrams",
        "sum_commonness",
        avg.alias("avg_commonness"),
        ratio.alias("commonness_ratio"),
        (ratio >= 0.5).alias("keep"),
    )
