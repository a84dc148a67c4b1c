"""Deduplication operators for training-data pipelines.

Five tiers, all shared-nothing / shuffle-on-key designs that survive
100 TB:

* exact        — hash-groupBy on a content digest (1 shuffle on md5).
* exact_norm   — same after whitespace/case normalization.
* minhash LSH  — shingle → minhash signature → band → bucket self-join
                 → exact-jaccard verify on candidates only. Never
                 all-pairs: the bucket join's output is the candidate
                 set, and buckets are tiny for non-dup corpora.
* simhash      — 64-bit weighted fingerprint, banded hamming join.
* ngram posting— exact jaccard via shingle posting-list self-join
                 (touches only pairs sharing ≥1 shingle; round 7,
                 replacing the earlier lang×length-bucket blocking).

Embedding-cosine near-dup lives in llm_similarity.py (same LSH
machinery). ALL tiers (including simhash, since round 2) are
md5-based so DuckDB can replay them — the LSH pipelines are
hash-exact, giving full value-hash oracles, not just rows-only
checks.

Skew guards: every self-join key is size-capped —
* minhash band buckets larger than ``BUCKET_CAP`` are dropped (a
  degenerate bucket, e.g. empty docs, would otherwise be quadratic);
* ngram-jaccard postings of shingles whose document frequency
  exceeds max(DF_CAP_FLOOR, |docs|/DF_CAP_DIVISOR) — >0.1% of the
  corpus, floored at 100 — are removed from the similarity universe
  (the standard boilerplate/stop-shingle cut), bounding the posting
  self-join at cap/2 · |postings|.
Both guards are mirrored bit-for-bit in the DuckDB oracles, so the
capped semantics themselves are hash-verified.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kawa_spark.io import table, spread
from kawa_spark.plans.materialize import materialize
from kawa_spark.queries.stats import md5_long, md5_long_sql
from kawa_spark.registry import register

N_PERM = 16  # minhash permutations
N_BANDS = 4  # → 4 rows/band; P(candidate) = 1-(1-j^4)^4
BUCKET_CAP = 200  # max LSH band-bucket size admitted to the self-join
# Posting-join boilerplate guard: a shingle is "boilerplate" (evicted
# from the similarity universe) when its document frequency exceeds
# max(DF_CAP_FLOOR, corpus_docs / DF_CAP_DIVISOR) — i.e. >0.1% of the
# corpus, floored at 100 docs. RELATIVE, not absolute (r7.2): a fixed
# cap either never binds (quadratic candidate growth as df drifts up
# with corpus size — measured 29× at 10× synthetic data) or evicts
# everything on small corpora; the relative form binds exactly when a
# shingle stops being discriminative for THIS corpus.
DF_CAP_FLOOR = 100
DF_CAP_DIVISOR = 1000
# signature-agreement prefilter for candidate verification: a band
# collision guarantees 4 equal positions, so requiring ≥5 demands
# agreement BEYOND the colliding band — a 16-int comparison that
# culls noise pairs before the expensive shingle-set intersection
SIG_MIN_MATCH = 5


@register(
    "dedup_exact",
    oracle="""
    SELECT
      md5(text) AS content_hash,
      MIN(doc_id) AS keeper_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest → groupBy. The digest (not the text) is the
    shuffle key, so 100 TB of text shuffles as 32-char hashes. Keeper
    policy = min(doc_id) for determinism."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# The ONE normalized-digest construction (lower / trim / collapse
# whitespace, then md5), shared by dedup_exact_norm and
# dedup_incremental in BOTH engines — a drift here would silently
# diverge the two keys' digests (the helper-drift class the r9
# review fixed once already).
_NORM_SQL = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"


def _norm_digest(c: F.Column) -> F.Column:
    """Spark twin of ``_NORM_SQL`` wrapped in md5."""
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


@register(
    "dedup_exact_norm",
    oracle=f"""
    SELECT
      md5({_NORM_SQL.format(c='text')}) AS norm_hash,
      MIN(doc_id) AS keeper_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(_norm_digest(F.col("text")).alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingles(text_col: F.Column) -> F.Column:
    """Distinct 3-word shingles of the lowercased text.

    The word array is let-bound (functions/hof.py) before the
    per-position lambda touches it: an unbound ``split(...)``
    reference inside the lambda re-runs the full regex split at EVERY
    shingle position — O(words²) per document; measured 3.5 s → 0.8 s
    for the sf0.1 corpus scan, and this expression is the CPU floor
    of the whole dedup/decontamination tier at 100 TB."""
    from kawa_spark.functions.hof import bind

    words = F.split(F.lower(text_col), r"\s+")

    def body(ws: F.Column) -> F.Column:
        n = F.size(ws)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
            )
        )

    return bind(words, body)


_SHINGLES_SQL = """
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1)),
      i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+2], ' ')))
"""


def _shingle_hashes(text_col: F.Column) -> F.Column:
    """Distinct shingles as xxhash64 LONGS: set operations
    (intersect / distinct-union) compare and shuffle 8-byte ints
    instead of ~20-char strings — the arrays riding the block join
    shrink ~3× and the per-pair jaccard cost drops with them.

    xxhash64, not md5: the operators built on this (jaccard,
    decontamination overlap) expose only SET-SIZE arithmetic, never
    the hash values, so the oracle twins compute the same sizes on
    the raw string shingles and any injective-in-practice hash
    matches them. That frees the Spark side to use the native
    codegen'd hash (~10× cheaper than md5 string + base conversion —
    this stage is the dedup tier's CPU bill at 100 TB). Operators
    whose CANDIDATE SET depends on hash values (minhash banding)
    keep the md5 scheme so their oracles replay it exactly."""
    return F.transform(_shingles(text_col), lambda s: F.xxhash64(s))


_MH_PRIME = 1_000_000_007


def _mh_fragments() -> tuple[str, str, str, str]:
    """The md5 minhash SQL fragments shared by the self-join oracle
    (_minhash_oracle) and the cross-snapshot oracle
    (_inc_minhash_oracle) — ONE definition of the permutation family,
    band layout, and signature-agreement count, so the two keys'
    candidate semantics can never drift."""
    # one md5 per shingle; permutation i = (h1 + i·h2) mod P over the
    # two 60-bit halves of the digest (classic a+b·i minhash family)
    hs = (
        "list_transform(list_transform(shingles, s -> md5(s)), x -> "
        f"{{'h1': ('0x' || substring(x, 1, 15))::BIGINT % {_MH_PRIME}, "
        f"'h2': ('0x' || substring(x, 17, 15))::BIGINT % {_MH_PRIME}}}"
        ")"
    )
    sig = ", ".join(
        f"list_min(list_transform(hs, t -> (t.h1 + {i} * t.h2) % {_MH_PRIME}))"
        f" AS mh{i}"
        for i in range(N_PERM)
    )
    rows_per_band = N_PERM // N_BANDS
    bands = ", ".join(
        " || '|' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + f" AS band{b}"
        for b in range(N_BANDS)
    )
    n_match = " + ".join(
        f"CAST(sa.mh{i} = sb.mh{i} AS INT)" for i in range(N_PERM)
    )
    return hs, sig, bands, n_match


def _minhash_oracle() -> str:
    return _minhash_pairs_sql("documents")


def _minhash_pairs_sql(src: str) -> str:
    """The full minhash pair-detection statement over any relation
    ``src`` carrying (doc_id, text) — _minhash_oracle binds it to
    ``documents`` (byte-identical to the pre-r11 string), the
    dedup_lsh_recall oracle to the plant-extended universe."""
    hs, sig, bands, n_match = _mh_fragments()
    band_unnest = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM banded"
        for b in range(N_BANDS)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM {src}
    ), hashed AS (
      SELECT doc_id, shingles, {hs} AS hs FROM sh
    ), sigs AS (
      SELECT doc_id,
             list_transform(hs, t -> t.h1 * {_MH_PRIME} + t.h2) AS vh,
             {sig}
      FROM hashed
    ), banded AS (
      SELECT doc_id, {bands} FROM sigs
    ), bandrows AS (
      {band_unnest}
    ), capped AS (
      SELECT doc_id, band_id, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bucket_n
        FROM bandrows
      ) WHERE bucket_n <= {BUCKET_CAP}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT p.doc_a, p.doc_b,
        {n_match} AS n_match,
        CAST(len(list_intersect(sa.vh, sb.vh)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.vh, sb.vh))) AS jaccard
      FROM pairs p
      JOIN sigs sa ON p.doc_a = sa.doc_id
      JOIN sigs sb ON p.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM verified
    WHERE n_match >= {SIG_MIN_MATCH} AND jaccard >= 0.2
    """


def minhash_signatures(d: DataFrame, extra: tuple = ()) -> DataFrame:
    """(doc_id, text[, *extra]) → (doc_id[, *extra], vh, mhs)
    signature table — the shared construction behind
    dedup_minhash AND dedup_incremental_minhash (one definition, the
    _NORM_SQL discipline). ONE md5 per shingle; the 16 permutations
    are (h1 + i·h2) mod P over the digest's two 60-bit halves — 16×
    less hashing than per-permutation md5, and all inside a single
    expression chain so the shingle array is built once per row (a
    per-permutation column layout let CollapseProject rebuild it 16×;
    measured). ``vh`` re-bases each shingle's (h1, h2) pair as one
    long (injective: base-P digits), so exact-jaccard verifies
    intersect 8-byte ints — the string shingles never leave the scan
    stage. Lazy: the table feeds the banding AND both sides of the
    verify join, so the materializing bindings (dedup_minhash,
    dedup_incremental_minhash, twin #19) hand it to
    plans.materialize.materialize as a reused frame; a stream
    (twin #19) computes it map-side and drains it."""
    d = d.select("doc_id", *extra, _shingles(F.col("text")).alias("shingles"))
    P = _MH_PRIME

    def _half(x, start):
        return F.conv(F.substring(x, start, 15), 16, 10).cast("long") % P

    hs = F.transform(
        F.transform(F.col("shingles"), F.md5),
        lambda x: F.struct(_half(x, 1).alias("h1"), _half(x, 17).alias("h2")),
    )
    mhs = F.transform(
        F.sequence(F.lit(0), F.lit(N_PERM - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("hs"),
                lambda t: (t.getField("h1") + i * t.getField("h2")) % P,
            )
        ),
    )
    sig = (
        d.withColumn("hs", hs)
        .withColumn("mhs", mhs)
        .select(
            "doc_id",
            *extra,
            F.transform(
                "hs",
                lambda t: t.getField("h1") * F.lit(P) + t.getField("h2"),
            ).alias("vh"),
            "mhs",
        )
    )
    return sig


def minhash_band_rows(sig: DataFrame, extra: tuple = ()) -> DataFrame:
    """Signature table → capped NARROW (doc_id[, *extra], band_id,
    band_hash) rows: the bucket joins move three longs + a short
    string, never the shingle arrays. The BUCKET_CAP skew guard runs
    over the combined bucket population (a degenerate bucket is
    degenerate regardless of which snapshot its rows came from)."""
    rows_per_band = N_PERM // N_BANDS
    banded = sig.select(
        "doc_id",
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at(
                                    F.col("mhs"), b * rows_per_band + r + 1
                                ).cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", *extra, "band.band_id", "band.band_hash")
    return _cap_buckets(banded)


@register("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, md5-based so the oracle can
    replay it exactly.

    Plan shape (the 100 TB story): one scan computes signatures; the
    band explode is ×4 over NARROW rows — the self-join and the
    pair-distinct move only (band_id, band_hash, doc_id), never the
    shingle arrays. Verification re-joins the signature table by
    doc_id: first a 16-int signature-agreement prefilter
    (n_match ≥ SIG_MIN_MATCH — a band collision guarantees 4, so
    this demands agreement beyond the colliding band), then exact
    jaccard on the survivors only. At corpus scale this is the
    difference between shuffling text-sized arrays through a
    self-join and shuffling three longs. Skew guard: buckets larger
    than BUCKET_CAP are dropped before the self-join (a degenerate
    band bucket — e.g. empty docs — would otherwise be quadratic);
    the window count shuffles on the same (band_id, band_hash) key
    the join uses, so the guard costs no extra repartitioning. Cap
    and prefilter are both mirrored in the oracle, so the exact
    semantics are hash-verified.

    The registered form materializes the bounded verified-pair set
    with the signature and band tables cached for the build
    (plans.materialize): the lazy tree recomputes the md5 signature
    stage on both self-join sides and on both verify sides (2.10 →
    5.85 s at sf0.1; docs/SCALE.md, "Lazy cores").
    """
    # Small single-file inputs arrive as ONE partition; the signature
    # stage is CPU-bound (16·|shingles| md5 per doc), so spread() it
    # across cores first (gated: a no-op at real scale where file
    # splits already provide the parallelism).
    d = spread(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    sig = minhash_signatures(d)
    banded = minhash_band_rows(sig)
    return materialize(minhash_band_pairs(sig, banded), sig, banded)


def minhash_pairs(d: DataFrame) -> DataFrame:
    """The full self-join minhash pipeline over any (doc_id, text)
    frame, as a lazy tree — dedup_lsh_recall runs it over the
    plant-extended audit universe; dedup_minhash materializes the same
    pieces (minhash_band_pairs). Returns verified (doc_a, doc_b,
    jaccard) pairs."""
    sig = minhash_signatures(d)
    return minhash_band_pairs(sig, minhash_band_rows(sig))


def minhash_band_pairs(sig: DataFrame, banded: DataFrame) -> DataFrame:
    """Band self-join + verify over a signature table and its capped
    band rows: candidates are the distinct doc pairs sharing a band
    bucket, verified against the signatures (minhash_verify)."""
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()  # distinct over two longs, not two shingle arrays
    )
    return minhash_verify(pairs, sig, sig, "doc_a", "doc_b")


def minhash_verify(
    pairs: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    id_a: str,
    id_b: str,
) -> DataFrame:
    """Candidate verification shared by the self-join and
    cross-snapshot keys: re-join the signature tables by doc id, run
    the 16-int signature-agreement prefilter (n_match ≥
    SIG_MIN_MATCH — a band collision guarantees 4, so this demands
    agreement beyond the colliding band), then exact shingle jaccard
    on the survivors only. Returns (id_a, id_b, jaccard ≥ 0.2)."""
    sa = sig_a.select(
        F.col("doc_id").alias(id_a),
        F.col("vh").alias("sh_a"),
        F.col("mhs").alias("mh_a"),
    )
    sb = sig_b.select(
        F.col("doc_id").alias(id_b),
        F.col("vh").alias("sh_b"),
        F.col("mhs").alias("mh_b"),
    )
    n_match = F.aggregate(
        F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    return (
        pairs.join(sa, id_a)
        .join(sb, id_b)
        .filter(n_match >= F.lit(SIG_MIN_MATCH))
        .select(id_a, id_b, (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


def _ngram_pairs_ctes() -> str:
    """Shared CTE chain producing the posting-list jaccard pair set —
    used by both the dedup_ngram_jaccard oracle and (as the edge
    input) the dedup_clusters oracle. Mirrors the Spark plan exactly,
    including the document-frequency cap. DuckDB joins postings on
    the raw string shingle where Spark joins on its xxhash64 — the
    injective-in-practice argument from _shingle_hashes applies: only
    shingle IDENTITY and set sizes are observable in the output."""
    return f"""
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ), posts AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), cap AS (
      SELECT greatest({DF_CAP_FLOOR},
                      CAST(ceil(COUNT(*) / {float(DF_CAP_DIVISOR)}) AS BIGINT))
               AS df_cap
      FROM documents
    ), pf AS (
      SELECT doc_id, s FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY s) AS df FROM posts
      ) WHERE df <= (SELECT df_cap FROM cap)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM pf GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM pf a JOIN pf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / (na.n_sh + nb.n_sh - shared) AS jaccard
      FROM inter
      JOIN sizes na ON doc_a = na.doc_id
      JOIN sizes nb ON doc_b = nb.doc_id
      WHERE CAST(shared AS DOUBLE) / (na.n_sh + nb.n_sh - shared) >= 0.15
    )"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_ngram_pairs_ctes()}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram jaccard via shingle POSTING LISTS (round 7;
    replaces the r2-r6 (lang, length-bucket) block self-join).

    A pair with jaccard ≥ t must share at least one shingle, so the
    posting self-join — (doc, shingle) rows joined on the shingle —
    touches EXACTLY the pairs with non-zero intersection, and the
    per-pair intersection size falls out of a count aggregate over the
    join output. No array_intersect over enumerated in-block pairs
    (the old plan evaluated ~588k of them at sf0.1 to keep a few
    hundred); no
    blocking scheme to miss cross-block near-dups (recall here is now
    strictly higher: 6 → 25 pairs at sf0.01, all true near-dups).

    Scale guard: shingles whose document frequency exceeds
    max(DF_CAP_FLOOR, |docs|/DF_CAP_DIVISOR) — >0.1% of the corpus,
    floored at 100 docs — are removed from the similarity universe,
    the standard stop-shingle/boilerplate cut. The RELATIVE cap
    (r7.2) is the load-bearing choice: it bounds the join output at
    Σ_s C(df(s), 2) ≤ cap/2 · |postings| while binding exactly when
    a shingle stops being discriminative for this corpus — a fixed
    absolute cap measured 29× wall growth at 10× synthetic data
    because df drifted toward-but-under it (quadratic candidates
    with zero evictions). Set sizes (``n_sh``) are computed over the
    SAME filtered universe, so jaccard remains a true jaccard of the
    capped shingle sets; cap and corpus count are mirrored in the
    oracle (scalar-subquery twin of the in-plan 1-row broadcast), so
    the capped semantics themselves are hash-verified. At test SFs
    max df is 25 < 100, so the cap is a no-op there; eviction is
    covered end-to-end by the boilerplate-corpus test in
    tests/test_dedup_guards.py.

    Plan shape: one scan shingles the corpus; every row past the scan
    is (doc_id, shingle-hash, set-size) — three longs. The df-cap
    window shuffles postings on the shingle key; each doc's filtered
    set size (``n_sh``) is then computed by a doc_id window and
    CARRIED ON THE POSTING ROWS through the self-join, so the pair
    stage is ONE shuffle (the groupBy with map-side combine) — not a
    pair-table aggregate plus two joins against a |docs|-row size
    table. The pair table is the big one here (up to cap/2 ·
    |postings| rows); shuffling it once instead of three times is
    the scale call, bought with one extra 8-byte column on the
    narrow postings (measured equal-or-faster at sf0.1 too).

    The registered form materializes the bounded pair set with the
    size-annotated postings cached for the build (plans.materialize):
    lazy, the tree reads >10 min at the 100× probe against ~80 s
    (write_dedup_edges; docs/SCALE.md, "Lazy cores").
    """
    pf = ngram_postings(spread(table(spark, sf_dir, "documents"), "doc_id"))
    return materialize(ngram_posting_pairs(pf), pf)


def ngram_jaccard_pairs(
    d: DataFrame, cap: int | None = None, threshold: float = 0.15
) -> DataFrame:
    """Core posting-list jaccard over any (doc_id, text, ...) frame,
    as a lazy tree — dedup_ngram_jaccard materializes the same pieces
    (ngram_postings → ngram_posting_pairs); tests drive it directly
    on synthetic corpora (property-based cross-check vs a brute-force
    Python reference in tests/test_ngram_property.py).

    ``cap``: explicit df cap for tests; None (default) uses the
    adaptive max(DF_CAP_FLOOR, |docs|/DF_CAP_DIVISOR) — the corpus
    size comes from an in-plan 1-row aggregate broadcast onto the
    postings, no extra driver action."""
    return ngram_posting_pairs(ngram_postings(d, cap), threshold)


def ngram_postings(d: DataFrame, cap: int | None = None) -> DataFrame:
    """df-capped (doc_id, s, n_sh) postings: shingle hashes with
    document frequency ≤ the cap, each carrying its doc's filtered
    set size. Both self-join sides read it."""
    posts = d.select(
        "doc_id", F.explode(_shingle_hashes(F.col("text"))).alias("s")
    )
    if cap is None:
        cap_df = d.groupBy().agg(
            F.greatest(
                F.lit(DF_CAP_FLOOR).cast("long"),
                F.ceil(F.count(F.lit(1)) / F.lit(float(DF_CAP_DIVISOR))).cast(
                    "long"
                ),
            ).alias("df_cap")
        )
        posts = posts.crossJoin(F.broadcast(cap_df))
        cap_col = F.col("df_cap")
    else:
        cap_col = F.lit(cap)
    return (
        posts.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .filter(F.col("df") <= cap_col)
        .drop("df", "df_cap")
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )


def ngram_posting_pairs(pf: DataFrame, threshold: float = 0.15) -> DataFrame:
    """Posting self-join → (doc_a, doc_b, jaccard ≥ threshold)."""
    a, b = pf.alias("a"), pf.alias("b")
    jaccard = (
        F.col("shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    ).alias("jaccard")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # n_a/n_b are functionally dependent on doc_a/doc_b — putting
        # them in the grouping key (instead of joining them back on)
        # is what keeps this a single pair-table shuffle
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .select("doc_a", "doc_b", jaccard)
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def _cap_buckets(
    banded: DataFrame,
    cap: int = BUCKET_CAP,
    keys: tuple[str, str] = ("band_id", "band_hash"),
) -> DataFrame:
    """Drop rows in LSH buckets larger than ``cap`` before a bucket
    self-join — a degenerate bucket (empty/boilerplate docs) is
    otherwise quadratic. The window count shuffles on the same key
    the join uses, so no extra repartitioning."""
    w_bucket = Window.partitionBy(*keys)
    return (
        banded.withColumn("bucket_n", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("bucket_n") <= cap)
        .drop("bucket_n")
    )


def _cap_postings(posts: DataFrame, cap: int = DF_CAP_FLOOR, key: str = "s") -> DataFrame:
    """Drop postings of shingles whose document frequency exceeds
    ``cap`` before the posting self-join — a boilerplate shingle
    (page headers, license blurbs, empty-doc artifacts) otherwise
    contributes C(df, 2) candidate pairs, the classic quadratic blowup
    of posting-list similarity joins. With the cap, join output is
    ≤ cap/2 · |postings| — linear in corpus size.

    Same shape as _cap_buckets: the window count shuffles postings on
    the exact key the self-join uses, so the guard adds no extra
    repartitioning. Deterministic (df is a property of the data), so
    retries and the DuckDB oracle agree."""
    w = Window.partitionBy(key)
    return (
        posts.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= cap)
        .drop("df")
    )


def _clusters_oracle() -> str:
    """Connected components of the ngram-jaccard near-dup graph as a
    DuckDB recursive CTE: transitive reachability, component label =
    min reachable node. Fine at oracle SF (the pair set is tiny);
    the Spark side uses distributed label propagation instead."""
    return f"""
    WITH RECURSIVE {_ngram_pairs_ctes()},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
    SELECT node AS doc_id, cluster_id,
           node = MIN(node) OVER (PARTITION BY cluster_id) AS is_keeper
    FROM cc
    """


@register("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive duplicate CLUSTERS with one keeper
    each (operators/components.py label propagation). Pairwise dedup
    alone under-merges: A~B and B~C must collapse to one cluster even
    when A~C wasn't a candidate pair."""
    from kawa_spark.operators.components import dedup_clusters

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_clusters(pairs, "doc_a", "doc_b")


def write_dedup_edges(
    spark: SparkSession, sf_dir: str, path: str, mode: str = "overwrite"
) -> None:
    """Materialize the ngram candidate edge set ONCE as parquet — the
    nightly-pipeline half of the edge-reuse seam (VERDICT r14 item 4).

    The honest 100× probe of dedup_clusters is linear (101.4×, 317 s)
    but ~1/4 of it is the ngram posting self-join regenerated per run
    (73.5 s standalone) — work a production pipeline computes once
    per corpus snapshot and keeps, exactly the prior-as-index
    discipline of the incremental family. The pair table is bounded
    (≤ cap/2 · |postings| by the df-cap argument at
    ngram_jaccard_pairs), so the parquet is dedup-rate-sized, never
    corpus-sized.

    Uses the registered, materialized form, not the lazy core
    (ngram_jaccard_pairs): the lazy tree
    recomputes the posting scan on both self-join sides (measured
    >10 min at the 100x probe vs ~80 s checkpointed), and the write
    then just drains the already-materialized bounded pair blocks."""
    dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").write.mode(
        mode
    ).parquet(path)


def dedup_clusters_from_edges(
    spark: SparkSession, edges: "DataFrame | str"
) -> DataFrame:
    """Consumption half of the edge-reuse seam: run the connected-
    components clustering over a PERSISTED candidate edge set (a
    parquet path written by write_dedup_edges, or any
    (doc_a, doc_b) DataFrame — e.g. minhash_pairs output) instead of
    regenerating candidates inline. Row-identical to the registered
    dedup_clusters when fed that key's own edges
    (tests/test_components.py); the CC core is shared, so only the
    edge SOURCE differs."""
    from kawa_spark.operators.components import dedup_clusters

    if isinstance(edges, str):
        edges = spark.read.parquet(edges)
    return dedup_clusters(edges.select("doc_a", "doc_b"), "doc_a", "doc_b")


def _simhash_oracle() -> str:
    """DuckDB replay of the md5-based simhash pipeline. The 64-bit
    term hash is two 32-bit halves of md5 (chars 1-8 / 9-16), so both
    engines derive identical bits; band extraction masks with 0xFFFF,
    making arithmetic-vs-logical shift irrelevant."""
    bitsums = ", ".join(
        f"SUM(CASE WHEN (h_{'lo' if b < 32 else 'hi'} >> {b % 32}) & 1 = 1"
        f" THEN cnt ELSE -cnt END) AS bs{b}"
        for b in range(64)
    )
    weights = " + ".join(
        f"(CASE WHEN bs{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(63)
    ) + (
        " + (CASE WHEN bs63 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_id,"
        f" (simhash >> {b * 16}) & 65535 AS band_val FROM sh"
        for b in range(4)
    )
    return f"""
    WITH terms AS (
      SELECT doc_id, term, COUNT(*) AS cnt FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
      ) GROUP BY doc_id, term
    ), hashed AS (
      SELECT doc_id, cnt,
        ('0x' || substring(md5(term), 1, 8))::BIGINT AS h_lo,
        ('0x' || substring(md5(term), 9, 8))::BIGINT AS h_hi
      FROM terms
    ), bitsums AS (
      SELECT doc_id, {bitsums} FROM hashed GROUP BY doc_id
    ), sh AS (
      SELECT doc_id, {weights} AS simhash FROM bitsums
    ), bands0 AS (
      {bands}
    ), bands AS (
      SELECT doc_id, simhash, band_id, band_val FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_val) AS bucket_n
        FROM bands0
      ) WHERE bucket_n <= {BUCKET_CAP}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit weighted fingerprint per doc, banded
    hamming-distance candidate join (4 × 16-bit bands), verify with
    bit_count(xor) <= 3.

    All column expressions; term hashing is md5-derived (two 32-bit
    halves of the digest) so the oracle replays it exactly — round 1
    used xxhash64, which has no DuckDB twin and forced a rows-only
    check. The 64 bit sums are flat cnt-weighted codegen SUMs over
    DISTINCT (doc_id, term) pairs (``_simhash_bitsums_precount``):
    map-side combine compresses in-doc duplicate terms before any
    exchange, so md5 runs once per distinct pair instead of once per
    occurrence — the r16 A/B winner (10.60 → 8.49 s at the 100×
    probe, 1.25×; VERDICT r15 item 7, guide §4.1 keep hashing in the
    JVM) over both the r15 occurrence form (kept as
    ``_simhash_bitsums_occ`` in tests/witnesses.py, the
    integer-identity witness —
    Σ_distinct(bit·cnt) == Σ_occurrences(bit) exactly, the oracle's
    own distinct-term shape) and a Python/Arrow distinct-term
    dictionary (0.90×: the Arrow boundary on the occurrence stream
    costs more than the md5 saving). Still no collect_list shuffle
    and no interpreted higher-order-function passes (the r15 win
    this builds on).

    The registered form is the lazy tree: AQE reuses the band-cap
    window's exchange for the second self-join side, so the bitsum
    stage runs once, and the tree beat the materialized form at sf0.1
    and 10× (docs/SCALE.md, "Lazy cores").
    """
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    return _simhash_pairs_from_bitsums(_simhash_bitsums_precount(d))


def _simhash_occ_terms(d: DataFrame) -> DataFrame:
    """The (doc_id, term) occurrence stream both bitsum stages share."""
    return d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
    )


def _simhash_bitsums_precount(d: DataFrame) -> DataFrame:
    """The r16 registered bitsum stage (A/B winner, VERDICT r15
    item 7): pre-count distinct (doc_id, term) pairs (map-side
    combine compresses the in-doc duplicates before the shuffle),
    md5 each DISTINCT pair once, then the same 64 flat codegen SUMs
    weighted by cnt — s_b = Σ_pairs bit_b·cnt and n_occ = Σ cnt are
    the exact integers of the occurrence form (Σ_occ bit_b grouped
    by term), and the DuckDB oracle's own distinct-term shape. It
    adds aggregates but no exchange (the committed plan reads
    HashAggregate 12 → 20, Exchange 12 → 12: the pre-count reuses the
    doc_id clustering); the md5-per-occurrence saving wins 1.25× at
    the 100× probe (10.60 → 8.49 s, min-of-2, integer-identical by
    exceptAll at that build)."""
    pairs = _simhash_occ_terms(d).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    digest = F.md5("term")
    h = pairs.select(
        "doc_id",
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long").alias("h_lo"),
        F.conv(F.substring(digest, 9, 8), 16, 10).cast("long").alias("h_hi"),
        "cnt",
    )

    def bit_sum(b: int):
        field = "h_lo" if b < 32 else "h_hi"
        shift = b % 32
        return F.sum(
            F.shiftright(F.col(field), shift).bitwiseAND(F.lit(1))
            * F.col("cnt")
        )

    return h.groupBy("doc_id").agg(
        *[bit_sum(b).alias(f"s{b}") for b in range(64)],
        F.sum("cnt").alias("n_occ"),
    )


def _simhash_pairs_from_bitsums(bitsums: DataFrame) -> DataFrame:
    """Simhash assembly + banding + cap + self-join + hamming verify
    over a per-doc (s0..s63, n_occ) bit-sum table, as a lazy tree —
    the shape every bitsum stage (the registered precount and the
    integer-identity witnesses) feeds."""
    return _simhash_band_pairs(_simhash_bands(bitsums))


def _simhash_bands(bitsums: DataFrame) -> DataFrame:
    """Per-doc bit sums → capped (doc_id, simhash, band_id, band_val)
    rows: the 64-bit fingerprint, banded into 4 × 16 bits."""
    bit_weight = [F.lit(1 << b).cast("long") for b in range(63)] + [
        F.lit(-(1 << 63)).cast("long")  # sign bit: avoid long overflow
    ]
    simhash = reduce(
        add,
        [
            F.when(
                F.lit(2) * F.col(f"s{b}") > F.col("n_occ"), bit_weight[b]
            ).otherwise(F.lit(0).cast("long"))
            for b in range(64)
        ],
    )
    sh = bitsums.select("doc_id", simhash.alias("simhash"))
    # band into 4 × 16 bits; candidates share ≥1 band
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    # skew guard (r7): a degenerate band bucket — at 10⁹ docs even an
    # honest 16-bit band averages N/65536 members — is quadratic in
    # the self-join; cap it exactly as minhash does, oracle-mirrored.
    # At test SF every bucket is far below the cap (no result change).
    return _cap_buckets(banded, keys=("band_id", "band_val"))


def _simhash_band_pairs(banded: DataFrame) -> DataFrame:
    """Band self-join → distinct (doc_a, doc_b, hamming ≤ 3) pairs."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# cross-document duplicated-span fraction (ExactSubstr-style dedup)
# ---------------------------------------------------------------------------

SPAN_N = 8  # words per span window

# Two deterministic "contaminated" documents planted in BOTH engines:
# they share an identical 21-word body (boilerplate copied across
# pages — the thing span dedup exists to catch) but carry distinct
# 12-word tails: 33 words → 26 windows, of which the 14 fully inside
# the shared body are duplicated (2·14 ≥ 26 clears the flag with one
# window-pair of slack), so each plant has BOTH duplicated and unique
# windows (0 < dup_fraction < 1, is_contaminated true), while natural docs
# (near-random word streams) verify the false class. Negative doc_ids
# (the plant-id convention: natural ids >= 0 at every scale).
_SPAN_SHARED = (
    "shared boilerplate license header text repeated across many "
    "crawled pages word for word exactly the same every single time "
    "without change"
)
_SPAN_TAILS = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu",
    "one two three four five six seven eight nine ten eleven twelve",
]
SPAN_PLANTS: list[tuple[int, str]] = [
    (-21_000_000 - i, _SPAN_SHARED + " " + tail)
    for i, tail in enumerate(_SPAN_TAILS)
]


def _span_plants_values_sql() -> str:
    return ", ".join(f"({d}, '{t}')" for d, t in SPAN_PLANTS)


@register(
    "dedup_span_fraction",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
      FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES {{plants}}) t(doc_id, text)
      )
    ), w AS (
      SELECT doc_id,
             UNNEST(list_transform(
               generate_series(1, greatest(len(ws) - {SPAN_N - 1}, 0)),
               i -> md5(array_to_string(ws[i:i+{SPAN_N - 1}], ' ')))) AS k
      FROM d
    ), per AS (
      SELECT doc_id, k, COUNT(*) AS n_pos FROM w GROUP BY 1, 2
    ), docs AS (
      SELECT k, COUNT(*) AS n_docs FROM per GROUP BY k
    )
    SELECT p.doc_id,
           CAST(SUM(p.n_pos) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN x.n_docs >= 2 THEN p.n_pos ELSE 0 END)
                AS BIGINT) AS dup_windows,
           CAST(SUM(CASE WHEN x.n_docs >= 2 THEN p.n_pos ELSE 0 END)
                AS DOUBLE) / SUM(p.n_pos) AS dup_fraction,
           2 * SUM(CASE WHEN x.n_docs >= 2 THEN p.n_pos ELSE 0 END)
             >= SUM(p.n_pos) AS is_contaminated
    FROM per p JOIN docs x USING (k)
    GROUP BY 1
    """.replace("{plants}", _span_plants_values_sql()),
)
def dedup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN accounting — the span-level
    (ExactSubstr-style) view of corpus duplication from the public
    training-data dedup literature (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): instead
    of flagging whole near-duplicate documents (the minhash tier),
    measure, PER DOCUMENT, what fraction of its positional
    SPAN_N-word windows also occur in at least one OTHER document —
    the boilerplate/license-header/navigation-chrome contamination
    that survives document-level dedup because the surrounding page
    differs. A doc is contaminated when duplicated windows are at
    least half its windows (integer cross-multiplication).

    Windows are POSITIONAL (not distinct): a doc that repeats a
    shared span five times has five contaminated positions — the
    quantity a span-removal pass would actually delete.
    quality_repetition covers WITHIN-doc repetition; this key is the
    CROSS-doc complement. Docs shorter than SPAN_N words have no
    windows and are absent (the oracle's empty generate_series).

    Exactness: counts are integers, dup_fraction is one exact
    division, the flag is cross-multiplied. The window keys are
    INTERNAL (only counts reach the output), so the engines use
    INDEPENDENT hashes deliberately — Spark xxhash64 (8-byte long
    keys, 4× smaller shuffle rows than an md5 hex string; measured
    the difference at the 100× probe), DuckDB md5 — and the hash
    check still passes because equal counts from two unrelated
    hash constructions also rule out the shared-construction error
    class a mirrored digest could mask. (A collision would have to
    happen in exactly one engine to diverge; ~2⁻⁶⁴ per pair.)

    Scale: explode is map-side; the (digest) document-frequency
    aggregate and the (doc_id, digest) positional count both
    map-side combine; the df join keys on the digest exchange
    already built. Nothing is quadratic — no pair join exists in
    this plan at ANY duplication rate (unlike candidate-pair dedup,
    which must be bucket-capped); total shuffled rows = total
    windows, linear in corpus size. The 50-token-window production
    form is this exact plan with SPAN_N raised.

    kawa parity: none; mandate (M) LLM-pipeline extension."""
    # spread(): the single-file small-SF scan yields ~1 partition —
    # the per-doc split + window hashing (this key's CPU floor) would
    # serialize on one core without it (the sibling shingling keys'
    # convention; code review r10)
    docs = spread(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    plants = spark.createDataFrame(SPAN_PLANTS, "doc_id long, text string")
    return span_fractions(docs.unionByName(plants))


def span_fractions(d: DataFrame) -> DataFrame:
    """Plant-free core over any (doc_id, text) frame — the registered
    key binds documents + SPAN_PLANTS; the training pipeline calls
    this directly on its SURVIVOR set so (a) no synthetic plant
    window ever counts toward a real doc's duplication and (b) a dup
    group's keeper isn't flagged against the copies dedup already
    removed (code review r10). The brute-force property test
    (tests/test_dedup_guards.py) drives the registered binding."""
    from kawa_spark.functions.hof import bind

    words = F.split(F.lower(F.col("text")), r"\s+")

    def windows(ws: F.Column) -> F.Column:
        # when-guard: Spark's sequence(1, 0) infers step -1 and
        # yields [1, 0] (slice start 0 then crashes) where DuckDB's
        # generate_series(1, 0) is empty — the hof.bigrams short-doc
        # lesson applied to SPAN_N-word windows.
        n = F.size(ws)
        return F.when(
            n >= SPAN_N,
            F.transform(
                F.sequence(F.lit(1), n - (SPAN_N - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(ws, i, SPAN_N))
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))

    w = d.select(
        "doc_id", F.explode(bind(words, windows)).alias("k")
    )
    per = w.groupBy("doc_id", "k").agg(F.count(F.lit(1)).alias("n_pos"))
    # span document-frequency as a count window over the (doc_id, k)
    # rows — the _cap_postings shape — instead of a k-level aggregate
    # joined back: the join form planned BOTH sides from their own
    # explode+aggregate subtree (the whole window-hashing stage ran
    # TWICE) plus a sort-merge join; the window consumes `per` once
    # and shuffles it once on k (r15 optimization round, guide §2.4).
    # n_docs per (doc_id, k) row = rows sharing k = docs containing k
    # — identical integers, oracle untouched.
    #
    # Skew note (ADVICE r15): a window partition cannot be skew-split,
    # so a span shared by a large doc fraction (a universal license
    # header) serializes its df(k) rows onto one task — k cardinality
    # does NOT bound this in the worst case. Trade-off accepted
    # deliberately: (a) the r15 measurement showed the join-back form
    # pays the whole window-hashing stage twice at EVERY corpus (1.7-
    # 1.9× at 100×) where the straggler costs only on a degenerate
    # one, and (b) the straggler has a cheap escape — n_docs is
    # consumed ONLY as the `>= 2` test below, so a hot-key corpus can
    # swap in a groupBy(k).agg(count>1) + AQE-skew-splittable join
    # over a persisted `per` without touching the output integers.
    per = per.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("k"))
    )
    dup_pos = F.sum(
        F.when(F.col("n_docs") >= 2, F.col("n_pos")).otherwise(F.lit(0))
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("n_pos").cast("long").alias("n_windows"),
            dup_pos.cast("long").alias("dup_windows"),
            (dup_pos.cast("double") / F.sum("n_pos")).alias(
                "dup_fraction"
            ),
            (F.lit(2) * dup_pos >= F.sum("n_pos")).alias(
                "is_contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# incremental / cross-snapshot dedup (new batch vs prior kept corpus)
# ---------------------------------------------------------------------------

# A production 100-TB pipeline never dedups one corpus against itself
# only: today's crawl must ALSO be deduped against yesterday's KEPT
# set. The two-snapshot construction lives inside the query so the
# oracle can replay it: docs with doc_id % 10 < INC_PRIOR_MOD are the
# prior kept snapshot, the rest are today's batch (at sf0.1 the
# natural corpus already has cross-split copies; the plants guarantee
# every class at every SF).
INC_PRIOR_MOD = 6

# Plants (negative doc_ids — the plant-id convention): one prior/new
# pair that differs only in case + whitespace (so the dup_prior class
# also exercises normalization), one norm-equal pair inside the new
# batch (dup_batch + its keeper), one genuinely novel new doc.
INC_PLANTS_PRIOR: list[tuple[int, str]] = [
    (
        -32_000_001,
        "incremental dedup planted shared body kept in the prior snapshot",
    ),
]
INC_PLANTS_NEW: list[tuple[int, str]] = [
    (
        -32_000_101,
        "Incremental  dedup planted shared body kept in the PRIOR snapshot ",
    ),
    (
        -32_000_102,
        "incremental dedup planted duplicate pair arriving twice in todays batch",
    ),
    (
        -32_000_103,
        "incremental dedup planted DUPLICATE pair arriving twice in todays batch",
    ),
    (
        -32_000_104,
        "incremental dedup planted novel unique document in todays batch",
    ),
]

def is_prior_doc(c: F.Column) -> F.Column:
    """The ONE snapshot-split predicate (doc_id % 10 < INC_PRIOR_MOD
    → prior kept set) shared by every incremental key and the
    streaming twin — the _NORM_SQL discipline applied to the split."""
    return F.pmod(c, F.lit(10)) < INC_PRIOR_MOD


def snapshot_split(
    spark: SparkSession,
    d: DataFrame,
    prior_plants: list[tuple[int, str]],
    new_plants: list[tuple[int, str]],
) -> tuple[DataFrame, DataFrame]:
    """(documents, plant families) → (prior, new) snapshot frames —
    the two-snapshot construction behind dedup_incremental,
    dedup_incremental_minhash, and the batch side of
    stream_exec_dedup_incremental; one definition so the split can
    never drift between a key and its twin's shared oracle."""
    prior = d.filter(is_prior_doc(F.col("doc_id"))).unionByName(
        spark.createDataFrame(prior_plants, "doc_id long, text string")
    )
    newb = d.filter(~is_prior_doc(F.col("doc_id"))).unionByName(
        spark.createDataFrame(new_plants, "doc_id long, text string")
    )
    return prior, newb


def _inc_values_sql(plants: list[tuple[int, str]]) -> str:
    return ", ".join(f"({d}, '{t}')" for d, t in plants)


INCREMENTAL_DEDUP_SQL = f"""
    WITH prior AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 < {INC_PRIOR_MOD}
      UNION ALL
      SELECT * FROM (VALUES {_inc_values_sql(INC_PLANTS_PRIOR)}) t(doc_id, text)
    ), newb AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 >= {INC_PRIOR_MOD}
      UNION ALL
      SELECT * FROM (VALUES {_inc_values_sql(INC_PLANTS_NEW)}) t(doc_id, text)
    ), ph AS (
      SELECT md5({_NORM_SQL.format(c='text')}) AS h,
             MIN(doc_id) AS prior_id
      FROM prior GROUP BY 1
    ), nh AS (
      SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS h FROM newb
    ), nk AS (
      SELECT doc_id, h,
             MIN(doc_id) OVER (PARTITION BY h) AS keeper_id
      FROM nh
    )
    SELECT n.doc_id,
           CASE WHEN p.prior_id IS NOT NULL THEN 'dup_prior'
                WHEN n.doc_id <> n.keeper_id THEN 'dup_batch'
                ELSE 'kept' END AS status,
           CASE WHEN p.prior_id IS NOT NULL THEN p.prior_id
                WHEN n.doc_id <> n.keeper_id THEN n.keeper_id END AS dup_of
    FROM nk n LEFT JOIN ph p USING (h)
    """


@register("dedup_incremental", oracle=INCREMENTAL_DEDUP_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup — today's batch
    against yesterday's kept corpus: every new doc is classified
    'dup_prior' (normalized digest already in the prior kept set —
    dropped, with the prior keeper id), 'dup_batch' (first seen
    within today's batch under the min-doc_id keeper policy), or
    'kept'. This is the at-least-once redelivery discipline of the
    reference's batcher (kawa acks only after the sink commit —
    /root/reference/x/batcher/batcher.go:516-539; SURVEY.md §3.4)
    applied to CONTENT instead of offsets: re-crawled or re-delivered
    documents are idempotently dropped against the committed state.

    Exactness: the normalized digest is the dedup_exact_norm
    construction verbatim (md5 of lower/trim/whitespace-collapsed
    text); keepers are MIN(doc_id); status/dup_of are pure integer /
    string algebra — no floats anywhere.

    Scale (the 100-TB story): the NEW batch — the small side, a day's
    crawl — shuffles ONCE on its 16-byte digest (the within-batch
    keeper window); the prior corpus reduces to (digest, keeper_id)
    pairs, broadcast here because a digest index is ~50 bytes/doc.
    Above the broadcast cap a production deployment persists the
    prior kept-set digest index BUCKETED BY digest (sinks/compact.py
    snapshot + bucketed layout), so the join co-locates without ever
    re-shuffling the corpus — only the day's batch moves. On that
    path a Bloom membership pre-prune (r12, functions/bloom.py via
    ``incremental_dedup(prefilter_bits=)``) broadcasts ~1 byte/key
    instead of the index and lets the novel majority skip the join;
    false positives resolve in the exact join, so the composed output
    is identical (invariance test-pinned) — the exact join against
    the digest index is still what makes the drop decision
    idempotent; the index IS the compact state.
    tests/test_incremental_dedup.py verifies the
    snapshot-composition path (prior index written + read back) is
    row-identical to the in-query construction.

    kawa parity: x/batcher ack-after-commit (B) re-expressed for
    data; mandate (M) LLM-pipeline extension."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    prior, newb = snapshot_split(
        spark, d, INC_PLANTS_PRIOR, INC_PLANTS_NEW
    )
    return incremental_dedup(newb, prior_digest_index(prior))


def prior_digest_index(prior: DataFrame) -> DataFrame:
    """The prior kept-set's compact state: (digest, keeper doc_id) —
    what a production pipeline persists (bucketed by h) between runs
    instead of re-scanning yesterday's corpus."""
    return prior.groupBy(_norm_digest(F.col("text")).alias("h")).agg(
        F.min("doc_id").alias("prior_id")
    )


def incremental_dedup(
    new_batch: DataFrame,
    prior_index: DataFrame,
    prefilter_bits: int | None = None,
) -> DataFrame:
    """Core classifier over any (doc_id, text) new batch + (h,
    prior_id) prior digest index. ONE exchange total: the new batch
    shuffles on h for the keeper window, and the prior index joins
    broadcast (see the registered key's docstring for the
    above-broadcast-cap plan). Brute-force property test:
    tests/test_incremental_dedup.py.

    ``prefilter_bits`` (r12 — the docstring promise made code): the
    above-broadcast-cap path's Bloom membership pre-prune
    (functions/bloom.py). When set, a prefilter_bits-wide Bloom
    filter over the index keys broadcasts instead of the index
    itself; rows whose digest the filter rules out (the novel
    majority of a daily crawl — no false negatives by construction)
    classify as non-prior WITHOUT touching the index join, and only
    the might-contain survivors probe the (bucketed, non-broadcast)
    index. False positives resolve in the exact join, so the
    composed output is IDENTICAL —
    tests/test_incremental_dedup.py::test_prefilter_is_invariant
    pins it, the kmv_distinct(prefilter=) discipline."""
    nh = new_batch.select("doc_id", _norm_digest(F.col("text")).alias("h"))
    nk = nh.withColumn(
        "keeper_id", F.min("doc_id").over(Window.partitionBy("h"))
    )
    if prefilter_bits is None:
        return classify_incremental(
            nk.join(F.broadcast(prior_index), "h", "left")
        )
    from kawa_spark.functions.bloom import bloom_build, bloom_might_contain

    bloom = bloom_build(prior_index, "h", prefilter_bits)
    probed = (
        nk.crossJoin(F.broadcast(bloom))
        .withColumn("mc", bloom_might_contain(F.col("h"), prefilter_bits))
        .drop("words")
    )
    candidates = (
        probed.filter(F.col("mc")).drop("mc").join(prior_index, "h", "left")
    )
    novel = (
        probed.filter(~F.col("mc"))
        .drop("mc")
        .withColumn("prior_id", F.lit(None).cast("long"))
    )
    return classify_incremental(candidates.unionByName(novel))


def classify_incremental(joined: DataFrame) -> DataFrame:
    """The status/dup_of projection over any frame carrying (doc_id,
    keeper_id, prior_id) — shared by the batch core above and the
    online twin (streaming_mode.py::stream_exec_dedup_incremental),
    whose keeper/prior columns arrive from drained streaming legs."""
    in_prior = F.col("prior_id").isNotNull()
    in_batch_dup = F.col("doc_id") != F.col("keeper_id")
    return joined.select(
        "doc_id",
        F.when(in_prior, F.lit("dup_prior"))
        .when(in_batch_dup, F.lit("dup_batch"))
        .otherwise(F.lit("kept"))
        .alias("status"),
        F.when(in_prior, F.col("prior_id"))
        .when(in_batch_dup, F.col("keeper_id"))
        .alias("dup_of"),
    )


# ---------------------------------------------------------------------------
# incremental NEAR-dup dedup (new batch banded against the prior corpus)
# ---------------------------------------------------------------------------

# Cross-snapshot near-dup plants: a prior document and its lightly
# perturbed re-crawl (last two words changed → 37 of 41 shingles
# shared, jaccard ≈ 0.90, at least one of the four bands collides —
# deterministic for these fixed texts, pinned by the plant test),
# plus a genuinely novel new doc (absent from the match output).
_INC_MH_BASE = (
    "incremental minhash planted prior document body shared almost "
    "verbatim with a later crawl alpha beta gamma delta epsilon zeta "
    "eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau "
    "upsilon phi chi psi omega aleph bet gimel dalet"
)
INC_MH_PLANTS_PRIOR: list[tuple[int, str]] = [(-33_000_001, _INC_MH_BASE)]
INC_MH_PLANTS_NEW: list[tuple[int, str]] = [
    (-33_000_101, _INC_MH_BASE.rsplit(" ", 2)[0] + " he vav"),
    (
        -33_000_102,
        "wholly novel standalone text sharing zero relatives in the "
        "corpus whatsoever today",
    ),
]


def _inc_minhash_oracle() -> str:
    hs, sig, bands, n_match = _mh_fragments()
    band_unnest = " UNION ALL ".join(
        f"SELECT doc_id, side, {b} AS band_id, band{b} AS band_hash "
        "FROM banded"
        for b in range(N_BANDS)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, 'p' AS side, text FROM documents
      WHERE doc_id % 10 < {INC_PRIOR_MOD}
      UNION ALL
      SELECT doc_id, 'p' AS side, text
      FROM (VALUES {_inc_values_sql(INC_MH_PLANTS_PRIOR)}) t(doc_id, text)
      UNION ALL
      SELECT doc_id, 'n' AS side, text FROM documents
      WHERE doc_id % 10 >= {INC_PRIOR_MOD}
      UNION ALL
      SELECT doc_id, 'n' AS side, text
      FROM (VALUES {_inc_values_sql(INC_MH_PLANTS_NEW)}) t(doc_id, text)
    ), sh AS (
      SELECT doc_id, side, {_SHINGLES_SQL} AS shingles FROM docs
    ), hashed AS (
      SELECT doc_id, side, shingles, {hs} AS hs FROM sh
    ), sigs AS (
      SELECT doc_id, side,
             list_transform(hs, t -> t.h1 * {_MH_PRIME} + t.h2) AS vh,
             {sig}
      FROM hashed
    ), banded AS (
      SELECT doc_id, side, {bands} FROM sigs
    ), bandrows AS (
      {band_unnest}
    ), capped AS (
      SELECT doc_id, side, band_id, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bucket_n
        FROM bandrows
      ) WHERE bucket_n <= {BUCKET_CAP}
    ), pairs AS (
      SELECT DISTINCT n.doc_id AS doc_id, p.doc_id AS prior_id
      FROM capped n JOIN capped p
        ON n.band_id = p.band_id AND n.band_hash = p.band_hash
      WHERE n.side = 'n' AND p.side = 'p'
    ), verified AS (
      SELECT pr.doc_id, pr.prior_id,
        {n_match} AS n_match,
        CAST(len(list_intersect(sa.vh, sb.vh)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.vh, sb.vh))) AS jaccard
      FROM pairs pr
      JOIN sigs sa ON pr.doc_id = sa.doc_id AND sa.side = 'n'
      JOIN sigs sb ON pr.prior_id = sb.doc_id AND sb.side = 'p'
    )
    SELECT doc_id, prior_id, jaccard FROM verified
    WHERE n_match >= {SIG_MIN_MATCH} AND jaccard >= 0.2
    """


@register("dedup_incremental_minhash", oracle=_inc_minhash_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup — dedup_incremental's fuzzy
    sibling: today's batch is banded against the PRIOR corpus's LSH
    band buckets and verified with exact jaccard, catching the
    re-crawled page whose ad block rotated (a digest miss) without
    ever comparing new docs to each other (dedup_minhash's job
    within a batch) or prior docs to each other (already deduped when
    the snapshot was committed). Output: (new doc_id, prior_id,
    jaccard) match pairs; novel docs are absent.

    Construction: the SAME signature/band/verify machinery as
    dedup_minhash (shared minhash_signatures / minhash_band_rows /
    minhash_verify — one definition of the md5 permutation family in
    both engines via _mh_fragments), with the self-join replaced by
    the new-side × prior-side bucket join. The BUCKET_CAP skew guard
    runs over the combined bucket population, mirrored in the oracle.

    Scale (the 100-TB story): a production run PERSISTS the prior
    side's signature + band tables with the kept-set snapshot
    (bucketed by (band_id, band_hash) — the same compact-state
    discipline as dedup_incremental's digest index), so only the
    day's batch is shingled and banded; the bucket join moves narrow
    band rows, candidates are capped, and the verify join ships
    8-byte shingle-hash arrays for the candidate set only. Nothing is
    quadratic: new×prior pairs exist only inside shared capped
    buckets.

    kawa parity: x/batcher ack-after-commit (B) re-expressed for
    content similarity; mandate (M) LLM-pipeline extension."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    prior, newb = snapshot_split(
        spark, d, INC_MH_PLANTS_PRIOR, INC_MH_PLANTS_NEW
    )
    sig = incremental_minhash_sigs(prior, newb)
    bands = minhash_band_rows(sig, extra=("side",))
    return materialize(incremental_minhash_from_bands(sig, bands), sig, bands)


def incremental_minhash_sigs(prior: DataFrame, newb: DataFrame) -> DataFrame:
    """Side-tagged ('p'/'n') signature table over two (doc_id, text)
    snapshots."""
    docs = prior.withColumn("side", F.lit("p")).unionByName(
        newb.withColumn("side", F.lit("n"))
    )
    return minhash_signatures(docs, extra=("side",))


def incremental_minhash_matches(prior: DataFrame, newb: DataFrame) -> DataFrame:
    """Core over any two (doc_id, text) snapshots, as a lazy tree —
    the registered key binds the modulo split + plants and
    materializes the same pieces; the property test
    (tests/test_incremental_minhash.py) drives it against a pure
    hashlib md5-minhash reference on synthetic corpora."""
    return incremental_minhash_from_sigs(incremental_minhash_sigs(prior, newb))


def incremental_minhash_from_sigs(sig: DataFrame) -> DataFrame:
    """The band/pair/verify half over an ALREADY-COMPUTED side-tagged
    signature table — split out so the streaming twin (#19,
    streaming_mode.stream_exec_dedup_incremental_minhash, shipped
    r12) can feed it DRAINED new-side sigs unioned with the static
    prior sig state; the batch core above feeds it freshly computed
    sigs. Composition equality is pinned by
    tests/test_incremental_minhash.py
    ::test_sig_level_core_composes_with_drained_stream, twin equality
    by ::test_registered_twin_equals_batch_key."""
    return incremental_minhash_from_bands(
        sig, minhash_band_rows(sig, extra=("side",))
    )


def incremental_minhash_from_bands(sig: DataFrame, bands: DataFrame) -> DataFrame:
    """new×prior bucket join over the side-tagged band rows, verified
    against the signature table → (doc_id, prior_id, jaccard)."""
    bands_n = bands.filter(F.col("side") == "n").select(
        "doc_id", "band_id", "band_hash"
    )
    bands_p = bands.filter(F.col("side") == "p").select(
        F.col("doc_id").alias("prior_id"), "band_id", "band_hash"
    )
    pairs = (
        bands_n.join(bands_p, ["band_id", "band_hash"])
        .select("doc_id", "prior_id")
        .distinct()
    )
    sig_n = sig.filter(F.col("side") == "n").drop("side")
    sig_p = sig.filter(F.col("side") == "p").drop("side")
    return minhash_verify(pairs, sig_n, sig_p, "doc_id", "prior_id")


# ---------------------------------------------------------------------------
# LSH dedup quality measurement: band-miss rate vs exact ground truth
# ---------------------------------------------------------------------------

# Audit plants (negative ids, distinctive vocab so no shingle is
# shared with natural docs): one HIGH pair (41 words, last two
# changed → exact jaccard 37/41 ≈ 0.90 — the bands collide, minhash
# finds it) and one LOW pair (20 shared words + 30-word distinct
# tails → 18 of 78 distinct shingles shared, jaccard ≈ 0.23 — above
# the 0.2 ground-truth threshold but the per-band collision odds are
# 0.23⁴ ≈ 0.3%, so all four bands miss for these fixed texts: the
# deterministic found=false class). Both pinned by the plant test.
_LR_HI = "lshrcl high pair " + " ".join(f"hw{i}" for i in range(38))
_LR_SHARED = "lshrcl low pair " + " ".join(f"lw{i}" for i in range(17))
LSH_RECALL_PLANTS: list[tuple[int, str]] = [
    (-34_000_001, _LR_HI),
    (-34_000_002, _LR_HI.rsplit(" ", 2)[0] + " hx1 hx2"),
    (-34_000_003, _LR_SHARED + " " + " ".join(f"lc{i}" for i in range(30))),
    (-34_000_004, _LR_SHARED + " " + " ".join(f"ld{i}" for i in range(30))),
]

GT_JACCARD = 0.2  # ground-truth near-dup threshold = minhash's own

# The audit universe is a DETERMINISTIC HASH SAMPLE of the corpus
# (VERDICT r11 item 2): natural docs are kept when their md5 rank
# long is ≡ 0 modulo S, with S RELATIVE and resolved in-plan —
# S = max(1, |docs| // AUDIT_SAMPLE_TARGET) (the agg_cms_freq
# relative-cap convention; oracle twin = scalar subquery) — so the
# sampled universe holds ~AUDIT_SAMPLE_TARGET docs at ANY corpus
# scale and the audit's deliberately-uncapped ground-truth posting
# self-join is bounded by construction (~TARGET²/2 candidate pairs),
# never corpus-quadratic. Plants are appended AFTER the sample
# filter in both engines, so both found/missed classes stay
# deterministic and non-vacuous at every SF. The UNCAPPED
# full-universe form remains the property test's ground truth
# (tests/test_lsh_recall.py pins the sampled gt ⊆ uncapped gt).
AUDIT_SAMPLE_TARGET = 250

_LR_SAMPLE_MOD_SQL = (
    f"(SELECT GREATEST(1, COUNT(*) // {AUDIT_SAMPLE_TARGET}) FROM documents)"
)

_LR_SRC = (
    "(SELECT doc_id, text FROM documents "
    f"WHERE ({md5_long_sql('doc_id')}) % {_LR_SAMPLE_MOD_SQL} = 0 "
    "UNION ALL "
    f"SELECT * FROM (VALUES {_inc_values_sql(LSH_RECALL_PLANTS)}) "
    "t(doc_id, text))"
)

LSH_RECALL_SQL = f"""
    WITH mh AS ({_minhash_pairs_sql(_LR_SRC)}),
    gsh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM {_LR_SRC}
    ), posts AS (
      SELECT doc_id, unnest(shingles) AS s FROM gsh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM posts GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), gt AS (
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / (na.n_sh + nb.n_sh - shared)
               AS jaccard
      FROM inter
      JOIN sizes na ON doc_a = na.doc_id
      JOIN sizes nb ON doc_b = nb.doc_id
      WHERE CAST(shared AS DOUBLE) / (na.n_sh + nb.n_sh - shared)
            >= {GT_JACCARD}
    ), marked AS (
      SELECT g.doc_a, g.doc_b, g.jaccard,
             m.doc_a IS NOT NULL AS found
      FROM gt g LEFT JOIN mh m
        ON g.doc_a = m.doc_a AND g.doc_b = m.doc_b
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gt_pairs,
             CAST(SUM(CAST(found AS INT)) AS BIGINT) AS found_pairs
      FROM marked
    )
    SELECT k.doc_a, k.doc_b, k.jaccard, k.found,
           t.gt_pairs, t.found_pairs,
           CAST(t.found_pairs AS DOUBLE) / t.gt_pairs AS recall
    FROM marked k CROSS JOIN tot t
    """


@register("dedup_lsh_recall", oracle=LSH_RECALL_SQL)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH dedup quality MEASURED, not asserted — the similarity_recall
    discipline applied to the dedup tier: every exact near-dup pair
    (shingle jaccard ≥ 0.2 via an UNCAPPED posting self-join over the
    sampled audit universe — the audit's deliberate exact leg) is
    marked found / missed against dedup_minhash's banded pipeline over
    the same universe, plus the corpus-level recall ratio. The
    minhash pipeline's PRECISION is 1 by construction (it verifies
    exact jaccard before emitting), so the band-miss RATE is the one
    quality number the sketch hides — this key makes it
    driver-hash-checked. Plants supply both classes deterministically
    (a 0.90-jaccard pair the bands catch, a 0.23-jaccard pair they
    miss); the sampled corpus adds its own found pairs.

    Exactness: the ground-truth jaccard is a single division of
    exact set sizes (Spark intersects xxhash64 shingle sets, DuckDB
    raw strings — only sizes are observable, the _shingle_hashes
    argument); found is an equi-join membership bool; recall is one
    division of exact counts.

    Scale (VERDICT r11 item 2 — the fix for the one quadratic leg):
    the audit universe is a deterministic md5-rank hash sample of
    ~AUDIT_SAMPLE_TARGET documents — the modulus S = max(1,
    |docs| // TARGET) is RELATIVE and resolved in-plan (1-row
    broadcast; oracle twin = scalar subquery), so the sample, and
    with it the deliberately-uncapped ground-truth posting self-join,
    stays ~constant-size at ANY corpus scale. The ground truth inside
    the sample is NOT capped (a capped ground truth would overstate
    recall); sampling the audited documents is the standard recall
    estimator a production audit runs. The full-universe uncapped
    form remains the property test's ground truth
    (tests/test_lsh_recall.py).

    kawa parity: none; mandate (M) LLM-pipeline extension.

    The registered form materializes the marked-pair table (it feeds
    both the totals and the rows) with the universe and the minhash
    leg's signature and band tables cached for the build
    (plans.materialize): one count of the band rows fills all three,
    and the lazy tree re-runs the sample scan and the signature stage
    per branch (docs/SCALE.md, "Lazy cores")."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    s_mod = d.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.greatest(
            F.lit(1), F.expr(f"n_docs div {AUDIT_SAMPLE_TARGET}")
        ).alias("s_mod")
    )
    sampled = (
        d.crossJoin(F.broadcast(s_mod))
        .filter(md5_long(F.col("doc_id")) % F.col("s_mod") == 0)
        .drop("s_mod")
    )
    universe = sampled.unionByName(
        spark.createDataFrame(LSH_RECALL_PLANTS, "doc_id long, text string")
    )
    sig = minhash_signatures(universe)
    banded = minhash_band_rows(sig)
    marked = lsh_marked_pairs(universe, minhash_band_pairs(sig, banded))
    return lsh_recall_totals(materialize(marked, universe, sig, banded))


def lsh_recall_report(universe: DataFrame) -> DataFrame:
    """The found/missed marking + recall over ANY (doc_id, text)
    audit universe, as a lazy tree — the registered key binds the
    hash-sampled corpus + plants and materializes the same pieces;
    the property test
    (tests/test_lsh_recall.py::test_lsh_recall_core_matches_hashlib_reference)
    drives random graded-similarity corpora against a pure-hashlib
    minhash + posting-dict reference."""
    return lsh_recall_totals(
        lsh_marked_pairs(universe, minhash_pairs(universe))
    )


def lsh_marked_pairs(universe: DataFrame, mh: DataFrame) -> DataFrame:
    """Exact ground-truth pairs (uncapped posting self-join, jaccard ≥
    GT_JACCARD) marked ``found`` where the minhash pairs ``mh`` hold
    them → (doc_a, doc_b, jaccard, found)."""
    mh = mh.select("doc_a", "doc_b", F.lit(True).alias("mh_found"))
    posts = universe.select(
        "doc_id", F.explode(_shingle_hashes(F.col("text"))).alias("s")
    )
    sizes = posts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = posts.alias("a")
    b = posts.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    gt = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= GT_JACCARD)
    )
    return gt.join(mh, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.coalesce(F.col("mh_found"), F.lit(False)).alias("found"),
    )


def lsh_recall_totals(marked: DataFrame) -> DataFrame:
    """Marked pairs + the corpus-level (gt_pairs, found_pairs,
    recall) on every row."""
    tot = marked.agg(
        F.count(F.lit(1)).cast("long").alias("gt_pairs"),
        F.sum(F.col("found").cast("int")).cast("long").alias("found_pairs"),
    )
    return marked.crossJoin(F.broadcast(tot)).select(
        "doc_a",
        "doc_b",
        "jaccard",
        "found",
        "gt_pairs",
        "found_pairs",
        (F.col("found_pairs").cast("double") / F.col("gt_pairs")).alias(
            "recall"
        ),
    )
