"""Corpus-preparation operators: splits, stratified sampling, n-gram
statistics, TF-IDF, containment similarity.

These are the remaining standard stages of a training-data build
(after dedup/quality/chunking in llm_dedup/llm_text): deterministic
dataset splits, balanced sampling, and corpus-level term statistics.
All hash/integer/log arithmetic — every query here is oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kawa_spark.io import table, spread
from kawa_spark.plans.materialize import materialize
from kawa_spark.queries.llm_dedup import _SHINGLES_SQL as _SHINGLES_SQL_LOCAL
from kawa_spark.registry import register


@register(
    "corpus_split",
    oracle="""
    SELECT
      doc_id,
      CASE
        WHEN ('0x' || substring(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
          THEN 'train'
        WHEN ('0x' || substring(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
          THEN 'valid'
        ELSE 'test'
      END AS split
    FROM documents
    """,
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split: a pure function of the document
    id (content-hash bucketing), stable across runs, engines, and
    re-partitionings — the property rand(seed) splits do NOT have."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split#"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return d.select("doc_id", split.alias("split"))


@register(
    "corpus_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('strat#' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang, rn FROM ranked WHERE rn <= 20
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-language sample: hash-ordered row_number caps each
    stratum at 20 docs — deterministic stratified sampling (the fix
    for head-heavy corpora where one language dominates)."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("strat#"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
    )


@register(
    "corpus_bigrams",
    oracle="""
    WITH words AS (
      SELECT string_split(lower(text), ' ') AS w FROM documents
    ), bigrams AS (
      SELECT array_to_string(w[i:i+1], ' ') AS bigram
      FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
)
def corpus_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram frequencies (top 50): explode 2-gram
    shingles, count, top-k — the n-gram-LM statistics pass. Partial
    aggregation keeps the shuffle proportional to distinct bigrams."""
    # single-file local input arrives as ONE partition; the explode +
    # map-side partial agg are CPU-bound, so spread across cores first
    # (a no-op cost at real scale where file splits provide this)
    from kawa_spark.functions.hof import bigrams, bind

    d = spread(table(spark, sf_dir, "documents"))
    # let-bind the word array (functions/hof.py): an unbound split()
    # inside the per-position lambda re-splits the doc per bigram.
    # hof.bigrams also guards 0/1-word docs (empty array, zero rows —
    # matching the oracle's empty generate_series)
    bg_col = bind(F.split(F.lower(F.col("text")), " "), bigrams)
    return (
        d.select(F.explode(bg_col).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(50)
    )


@register(
    "corpus_tfidf",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), terms AS (
      SELECT doc_id, unnest(w) AS term FROM words
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT
      tf.doc_id,
      tf.term,
      tf.tf,
      df.df,
      CAST(n.n_docs AS DOUBLE) / df.df AS idf_ratio,
      tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf_linear
    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    WHERE tf.doc_id < 50
    """,
)
def corpus_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF statistics (restricted to doc_id < 50 for output size).

    The hash-checked weight is the LINEAR idf form (n_docs/df):
    division and multiplication are IEEE correctly-rounded and thus
    engine-identical, while ln() differs by 1 ulp between libms
    (measured Spark-vs-DuckDB) — so the log transform belongs after
    the comparison boundary. Scale: df is the heavy aggregate —
    shuffle keyed on term with map-side partials; n_docs is a scalar
    (at scale a broadcast single-row join)."""
    d = spread(table(spark, sf_dir, "documents"))
    terms = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    # the tf branch only surfaces doc_id < 50: push that filter below
    # the aggregate (it commutes with the group key) so the per-doc
    # term counting touches 50 docs, not the corpus. The df branch
    # still sees every doc, as it must.
    tf = (
        terms.filter(F.col("doc_id") < 50)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # n_docs stays IN the plan as a broadcast 1-row cross join — a
    # driver-side d.count() here was a whole extra job per invocation
    # (measured 0.68 s → 2.37 s bench regression in r2)
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf_ratio = F.col("n_docs") / F.col("df")
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            idf_ratio.alias("idf_ratio"),
            (F.col("tf") * idf_ratio).alias("tfidf_linear"),
        )
    )


@register(
    "corpus_dedup_report",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM documents) AS n_docs,
      (SELECT COUNT(DISTINCT md5(text)) FROM documents) AS n_unique_exact,
      (SELECT COUNT(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
       FROM documents) AS n_unique_norm,
      (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
      CAST((SELECT COUNT(DISTINCT md5(text)) FROM documents) AS DOUBLE)
        / (SELECT COUNT(*) FROM documents) AS exact_unique_ratio
    """,
)
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup dashboard: corpus size, exact-unique and
    normalized-unique counts, language spread, uniqueness ratio — the
    one-row summary a pipeline run reports. Computed in a single
    aggregate pass (the oracle's scalar subqueries state the
    semantics; Catalyst's form here scans once)."""
    d = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_exact"),
        F.countDistinct(F.md5(norm)).alias("n_unique_norm"),
        F.countDistinct("lang").alias("n_langs"),
        (
            F.countDistinct(F.md5("text")).cast("double") / F.count(F.lit(1))
        ).alias("exact_unique_ratio"),
    )


# Inverted-index boilerplate guard (relative since r7, same reasoning
# as llm_dedup's posting cap): a shingle is dropped from the INDEX
# when it appears in more than max(IDX_DF_FLOOR, docs/IDX_DF_DIVISOR)
# documents — >0.1% of the corpus, floored at 100. An absolute cap is
# wrong at both ends: on a 10^10-doc corpus a fixed 100 evicts nearly
# every shingle (recall → 0), while a high fixed cap lets candidate
# fan-out grow quadratically as df drifts up with corpus size.
IDX_DF_FLOOR = 100
IDX_DF_DIVISOR = 1000


@register(
    "similarity_containment",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1)),
               i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+2], ' ')))
               AS shingles
      FROM documents
    ), posting AS (
      SELECT doc_id, s AS sh FROM (
        SELECT doc_id, unnest(shingles) AS s FROM sh
      )
    ), idxcap AS (
      SELECT greatest({IDX_DF_FLOOR},
                      CAST(ceil(COUNT(*) / {float(IDX_DF_DIVISOR)}) AS BIGINT))
               AS df_cap
      FROM documents
    ), capped AS (
      SELECT doc_id, sh FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY sh) AS df FROM posting
      ) WHERE df <= (SELECT df_cap FROM idxcap)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.sh = b.sh AND a.doc_id <> b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
      CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(sa.shingles) AS containment_a_in_b
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE sa.lang = sb.lang
      AND CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(sa.shingles) >= 0.25
    """,
)
def similarity_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment |A∩B| / |A| — catches a short document
    embedded inside a longer one, which symmetric jaccard misses
    (the quote/boilerplate detection primitive).

    Round-2 rewrite: candidates come from an INVERTED-INDEX join on
    exploded shingle hashes (pairs sharing ≥1 indexed shingle), not a
    lang-blocked all-pairs product — round 1 needed a doc_id < 300
    demo bound; this runs unbounded. Shingles appearing in more than
    max(IDX_DF_FLOOR, 0.1% of the corpus) docs are dropped from the
    *index* (boilerplate shingles would quadratically explode the
    candidate set) but still count in the exact containment, which is
    computed on the full shingle arrays of candidate pairs only. A
    true pair is missed only if ALL its shared shingles are
    boilerplate — exactly the pairs the operator should not fire on.
    The candidate rule — including the in-plan corpus count the
    relative cap reads — is mirrored in the oracle, so the capped
    semantics are hash-verified.

    Scale: the index join shuffles on the shingle hash; per-shingle
    fan-out is ≤ cap², and the exact verify touches candidates
    only — no all-pairs term anywhere.

    The registered form materializes the bounded pair output
    (containment ≥ 0.25 inside df-capped candidates — dedup-rate-
    sized) with the NARROW capped-posting table — (doc_id, sh) longs,
    the only frame two consumers genuinely share (both sides of the
    index self-join) — cached for the build (plans.materialize;
    docs/SCALE.md, "Lazy cores").
    The wide shingle-array table is deliberately NOT cached: a
    first r15 form cached it for the verify sides too, which fed the
    planner accurate (large) in-memory statistics and flipped every
    verify join from broadcast to sort-merge — shuffling the
    candidate pairs' shingle ARRAYS twice, measured 57 s → 232 s at
    the 10× probe. The verify sides read the lazy scan (shingling a
    candidate-verify pass is cheaper than shuffling arrays; at real
    scale the planner's parquet-based estimates pick the robust
    strategy).
    """
    from kawa_spark.queries.llm_dedup import _shingles

    d = spread(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "lang", _shingles(F.col("text")).alias("shingles")
    )
    # posting key = xxhash64 of the shingle (8-byte join/shuffle key),
    # NOT md5: the output exposes only containment ratios (set sizes),
    # so the oracle indexes the raw string shingles and any
    # injective-in-practice hash yields the same candidates — the
    # hash-function policy from llm_dedup._shingle_hashes.
    posting = d.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.xxhash64("s").alias("sh")
    )
    # document-frequency cap: the window count shuffles on the same
    # key the index self-join uses, so the guard adds no extra
    # repartitioning
    idxcap = d.groupBy().agg(
        F.greatest(
            F.lit(IDX_DF_FLOOR).cast("long"),
            F.ceil(F.count(F.lit(1)) / F.lit(float(IDX_DF_DIVISOR))).cast("long"),
        ).alias("df_cap")
    )
    w_df = Window.partitionBy("sh")
    capped = (
        posting.crossJoin(F.broadcast(idxcap))
        .withColumn("df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("df") <= F.col("df_cap"))
        .drop("df", "df_cap")
    )
    cand = (
        capped.alias("pa")
        .join(capped.alias("pb"), "sh")
        .filter(F.col("pa.doc_id") != F.col("pb.doc_id"))
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("shingles").alias("sh_a"),
    )
    sb = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("shingles").alias("sh_b"),
    )
    containment = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size("sh_a")
    )
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("lang_a") == F.col("lang_b"))
        .select("doc_a", "doc_b", containment.alias("containment_a_in_b"))
        .filter(F.col("containment_a_in_b") >= 0.25)
    )
    return materialize(out, capped)


SEQ_CAPACITY = 2048  # tokens per packed training sequence


@register(
    "corpus_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(string_split_regex(lower(text), '\\s+')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, lang, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, lang, n_tokens,
      CAST((cum_tokens - n_tokens) // {SEQ_CAPACITY} AS BIGINT) AS seq_id,
      CAST((cum_tokens - n_tokens) % {SEQ_CAPACITY} AS BIGINT) AS seq_offset
    FROM packed
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: docs are laid head-to-tail in
    doc_id order within each language stream and cut into
    SEQ_CAPACITY-token training sequences (seq_id, seq_offset) — the
    standard "concat then chunk" packing used to build fixed-length
    LM batches. One running-sum window per lang; all integer
    arithmetic, so the assignment is oracle-exact. At 100 TB the
    per-lang ordered window is the scale constraint: a dominant
    language should be pre-split by a coarse doc_id range (the
    running sum then needs one extra prefix-offset join per range —
    the classic two-pass distributed prefix sum)."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.lower("text"), r"\s+")).alias("n_tokens")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select("doc_id", "lang", n_tokens)
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return toks.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(start / SEQ_CAPACITY).alias("seq_id"),
        (start % SEQ_CAPACITY).alias("seq_offset"),
    )


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL_LOCAL} AS hs FROM documents
    ), eval_set AS (
      SELECT DISTINCT u.h
      FROM (SELECT unnest(hs) AS h FROM sh WHERE doc_id % 29 = 0) u
    ), corpus AS (
      SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % 29 <> 0
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS n_overlap
      FROM corpus c JOIN eval_set e ON c.h = e.h
      GROUP BY c.doc_id
    )
    SELECT
      s.doc_id,
      len(s.hs) AS n_shingles,
      COALESCE(h.n_overlap, 0) AS n_overlap,
      CAST(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / len(s.hs) AS DOUBLE)
        AS contamination,
      COALESCE(h.n_overlap, 0) * 2 >= len(s.hs) AS contaminated
    FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
    WHERE s.doc_id % 29 <> 0
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data step that drops
    documents overlapping an evaluation set. Eval set = doc_id % 29
    == 0 (a deterministic stand-in for a real benchmark corpus);
    overlap = shared distinct 3-word shingle hashes; a doc is
    contaminated when ≥ half its shingles appear in the eval set.

    Scale: the eval side is the SMALL side by construction
    (benchmarks are MBs; corpora are TBs), so its distinct shingle
    hashes broadcast and the corpus side never shuffles — one scan,
    map-side join, per-doc aggregate keyed on doc_id. The
    contamination ratio divides two exact ints, so the oracle
    hash-matches. Threshold compare is int×2 vs int — no float
    boundary."""
    from kawa_spark.queries.llm_dedup import _shingle_hashes

    d = table(spark, sf_dir, "documents").select(
        "doc_id", _shingle_hashes(F.col("text")).alias("hs")
    )
    is_eval = F.col("doc_id") % 29 == 0
    eval_hashes = (
        d.filter(is_eval)
        .select(F.explode("hs").alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # Single corpus pass: explode_outer keeps empty-shingle docs, the
    # broadcast left join marks eval hits, and ONE per-doc aggregate
    # yields both the shingle count and the overlap count. (The
    # previous hits-then-rejoin shape shingled the full corpus TWICE —
    # md5 over every shingle is the dominant cost; measured 8.8 s →
    # ~4 s at sf0.1.)
    per_doc = (
        d.filter(~is_eval)
        .select("doc_id", F.explode_outer("hs").alias("h"))
        .join(F.broadcast(eval_hashes), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("h").cast("int").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_overlap"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.col("n_shingles"))
        .cast("double")
        .alias("contamination"),
        (F.col("n_overlap") * 2 >= F.col("n_shingles")).alias("contaminated"),
    )


VOCAB_TOP = 500


@register(
    "corpus_vocab_coverage",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
      FROM documents
    ), counts AS (
      SELECT word, COUNT(*) AS n
      FROM words WHERE word <> ''
      GROUP BY word
    ), tot AS (
      SELECT SUM(n) AS total FROM counts
    ), ranked AS (
      SELECT word, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank,
             SUM(n) OVER (ORDER BY n DESC, word
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    )
    SELECT word, n, rank,
           CAST(CAST(cum AS DOUBLE) / total AS DOUBLE) AS coverage
    FROM ranked, tot
    WHERE rank <= {VOCAB_TOP}
    """,
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training vocabulary: top words by frequency with the
    cumulative corpus-coverage fraction a vocab of that size buys —
    the curve that picks a BPE vocab size.

    Scale (VERDICT r11 item 5): the word-count aggregate
    partial-aggregates map-side (shuffle ∝ distinct words, not
    tokens). The top-VOCAB_TOP cut happens FIRST as a TakeOrdered
    over (n desc, word) — per-partition heaps + a bounded merge, no
    global sort and no unpartitioned window over the count table
    (distinct words grow with corpus size; the r11 form's full-table
    cumsum window sorted ~10⁸ rows in one partition at 100 TB). The
    rank/cumsum window then runs over that ≤VOCAB_TOP-row set —
    bounded by construction (the post-limit-window class of
    llm_similarity's K_CLUSTERS table). Exact rewrite: the top-K by
    the window's own ordering IS the rank ≤ K prefix, so rank and
    cum are unchanged. Only the top rows are emitted; cum/total is
    exact-int ÷ exact-int, one double division. Plan-pinned:
    TakeOrderedAndProject feeds the Window
    (test_plan_audit.py::test_vocab_coverage_window_input_is_bounded)."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.col("n").desc(), "word").limit(VOCAB_TOP)
    w = Window.orderBy(F.col("n").desc(), "word")
    ranked = top.select(
        "word",
        "n",
        F.row_number().over(w).alias("rank"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "word",
        "n",
        "rank",
        (F.col("cum").cast("double") / F.col("total")).cast("double").alias("coverage"),
    )


MIX_TOTAL = 200


@register(
    "corpus_mixture_sample",
    oracle=f"""
    WITH w AS (
      SELECT source,
             (CAST(substring(source, 4) AS INT) % 3) + 1 AS wt,
             COUNT(*) AS n_avail
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(wt) AS sum_wt FROM w
    ), quota AS (
      SELECT source, wt, n_avail,
             LEAST(n_avail, ({MIX_TOTAL} * wt) // sum_wt) AS q
      FROM w, tot
    ), ranked AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5('mix#' || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rn
      FROM documents d
    )
    SELECT r.doc_id, r.source, r.rn, q.wt, CAST(q.q AS BIGINT) AS quota
    FROM ranked r JOIN quota q ON r.source = q.source
    WHERE r.rn <= q.q
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: each domain (source) gets an
    integer quota ∝ its mixture weight (here a deterministic
    weight-of-source stand-in), capped by availability, filled with
    the domain's hash-first documents — the domain-reweighting step
    of a training-data build (upsample code, downsample crawl).

    All-integer quota arithmetic (floor division against Σweights) —
    no float boundary anywhere, so the exact sample is hash-verified.
    Scale: weights/quotas live in a tiny per-domain table (broadcast);
    the corpus needs one hash-ranked window per domain — a single
    shuffle on source; a dominant domain's window is the same
    per-stratum-cap pattern as corpus_stratified_sample and shares
    its mitigation (coarse pre-split by doc_id range)."""
    d = table(spark, sf_dir, "documents")
    wt = (F.substring("source", 4, 10).cast("int") % 3) + 1
    w = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_avail")
    ).withColumn("wt", wt)
    tot = w.agg(F.sum("wt").alias("sum_wt"))
    quota = w.join(F.broadcast(tot), F.lit(True)).select(
        F.col("source").alias("q_source"),
        "wt",
        F.least(
            F.col("n_avail"),
            F.floor(F.lit(MIX_TOTAL) * F.col("wt") / F.col("sum_wt")),
        ).alias("quota"),
    )
    h = F.md5(F.concat(F.lit("mix#"), F.col("doc_id").cast("string")))
    win = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    ranked = d.select("doc_id", "source", F.row_number().over(win).alias("rn"))
    return ranked.join(
        F.broadcast(quota), F.col("source") == F.col("q_source")
    ).filter(F.col("rn") <= F.col("quota")).select(
        "doc_id", "source", "rn", "wt", "quota"
    )


@register(
    "corpus_shuffle_deterministic",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5('shuffle#42#' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    ), s AS (
      SELECT doc_id, hk,
             CAST(('0x' || substring(hk, 1, 2))::BIGINT AS INTEGER) AS shard
      FROM h
    )
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (ORDER BY shard, hk, doc_id) - 1 AS global_pos
    FROM s
    """,
)
def corpus_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every document gets a
    stable global position in a pseudo-random order — the reproducible
    epoch-ordering step of a training run (same position for the same
    doc on every engine, retry, and partitioning; rand(seed) has none
    of those properties).

    The order is (shard, md5 key, doc_id) where shard = first byte of
    the key: equivalent to one global ORDER BY the oracle can state
    directly, but computed WITHOUT a global sort window (a
    single-partition row_number over 100 TB is the classic scale
    killer). Instead: a row_number window per shard (256-way
    parallel, each ~1/256 of the corpus), plus shard offsets from a
    256-row cumulative sum broadcast back — global_pos = shard offset
    + within-shard rank. The only full-corpus shuffle is the one the
    window needs, keyed on the uniformly-distributed hash shard, so
    there is no skew and no driver bottleneck at any corpus size."""
    d = table(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.lit("shuffle#42#"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", hk.alias("hk")).withColumn(
        "shard", F.conv(F.substring(F.col("hk"), 1, 2), 16, 10).cast("int")
    )
    w_local = Window.partitionBy("shard").orderBy("hk", "doc_id")
    ranked = keyed.withColumn("rk", F.row_number().over(w_local))
    w_cum = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        keyed.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset", F.coalesce(F.sum("n").over(w_cum), F.lit(0).cast("long"))
        )
        .select("shard", "offset")
    )
    return (
        ranked.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "shard",
            (F.col("offset") + F.col("rk") - 1).alias("global_pos"),
        )
    )


@register(
    "corpus_domain_stats",
    oracle="""
    WITH urls AS (
      SELECT doc_id, lang, n_chars,
             'https://' || source || '.example.com/' || lang || '/'
               || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ), parsed AS (
      SELECT doc_id, n_chars,
             regexp_extract(url, 'https?://([^/]+)/', 1) AS domain,
             regexp_extract(url, 'https?://[^/]+/([^/]+)/', 1) AS path_head
      FROM urls
    )
    SELECT domain,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT path_head) AS n_path_heads,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM parsed
    GROUP BY domain
    """,
)
def corpus_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus statistics — the provenance-accounting step
    of a web-scale training build (docs, path diversity, volume per
    registered domain, the input to per-domain caps and mixtures).

    The synthetic corpus carries no URLs, so the query SYNTHESIZES a
    deterministic URL per document from (source, lang, doc_id) —
    mirrored verbatim in the oracle, the same planted-input pattern
    as dedup_embedding_cosine — and then runs the REAL parsing +
    aggregation machinery on it: regexp host/path extraction (all
    codegen'd JVM expressions, no UDF) and a per-domain aggregate.
    Scale: URL parse is map-only; the aggregate shuffles one narrow
    row per doc on the domain key; the distinct-path count
    partial-aggregates map-side. Domain skew (one giant domain) is
    the standard two-level agg AQE already handles."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    parsed = d.select(
        "doc_id",
        "n_chars",
        F.regexp_extract(url, r"https?://([^/]+)/", 1).alias("domain"),
        F.regexp_extract(url, r"https?://[^/]+/([^/]+)/", 1).alias("path_head"),
    )
    return parsed.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("path_head").alias("n_path_heads"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )
