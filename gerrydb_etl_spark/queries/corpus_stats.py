"""Corpus-distribution operators: discrete-quantile outlier
filtering and cross-document shingle novelty.

Both are standard curation passes over the documents table
(SURVEY.md §2.12 north star):

- **robust_length_filter** — drop length outliers outside the
  [p5, p95] band. The thresholds are TYPE-1 (discrete) quantiles:
  the smallest observed value whose cumulative frequency reaches
  ceil(q·N). Discrete quantiles are pure integer arithmetic — no
  interpolation — so Spark and DuckDB agree exactly, where
  percentile()/quantile_cont() interpolation would be a float
  minefield.

- **shingle_novelty** — per document, the fraction of its distinct
  3-gram shingles whose FIRST owner (minimum doc_id) is the document
  itself: 1.0 = entirely novel text, ~0 = document is assembled from
  passages seen earlier in the corpus. The cross-document structure
  is one inverted-index aggregation (min owner per shingle) + one
  join back — the same no-all-pairs shape as operators/dedup.py.

Scale notes: the length histogram cumulates over DISTINCT length
values (value-domain, bounded by max document length — not row
count), so its unpartitioned running-sum window is dimension-sized,
like the documented windows in queries/curation.py. The two quantile
thresholds are single-BIGINT model state collected to the driver
(operators/kmeans.py contract) and folded back as literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table
from gerrydb_etl_spark.store.staging import SHINGLES

Q_LO = 5    # percent
Q_HI = 95   # percent


@query(
    "robust_length_filter",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS c FROM documents),
    hist AS (SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars),
    cum AS (
        SELECT n_chars,
               SUM(cnt) OVER (ORDER BY n_chars
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM hist
    ),
    q AS (
        SELECT
            (SELECT MIN(n_chars) FROM cum, n
              WHERE cum >= ({Q_LO} * c + 99) // 100) AS q_lo,
            (SELECT MIN(n_chars) FROM cum, n
              WHERE cum >= ({Q_HI} * c + 99) // 100) AS q_hi
    )
    SELECT doc_id, n_chars,
           n_chars BETWEEN q_lo AND q_hi AS keep
    FROM documents, q
    """,
)
def robust_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag documents whose n_chars falls outside the discrete
    [p5, p95] corpus band."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    cum_w = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select("n_chars", F.sum("cnt").over(cum_w).alias("cum"))
    # two single-BIGINT threshold scalars (bounded model collect)
    q_lo = (
        cum.where(F.col("cum") >= (Q_LO * n + 99) // 100)
        .agg(F.min("n_chars"))
        .first()[0]
    )
    q_hi = (
        cum.where(F.col("cum") >= (Q_HI * n + 99) // 100)
        .agg(F.min("n_chars"))
        .first()[0]
    )
    return docs.select(
        "doc_id",
        "n_chars",
        F.col("n_chars").between(F.lit(q_lo), F.lit(q_hi)).alias("keep"),
    )


@query(
    "shingle_novelty",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id AS doc, s AS shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(t) - 2, 0)),
                       i -> array_to_string(t[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        )
    ),
    owner AS (SELECT shingle, MIN(doc) AS first_doc FROM sh GROUP BY shingle)
    SELECT sh.doc AS doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN owner.first_doc = sh.doc THEN 1 ELSE 0 END)
                AS BIGINT) AS novel,
           SUM(CASE WHEN owner.first_doc = sh.doc THEN 1 ELSE 0 END)
               / COUNT(*) AS novelty
    FROM sh JOIN owner ON sh.shingle = owner.shingle
    GROUP BY sh.doc
    """,
)
def shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: share of its distinct 3-gram shingles
    first introduced (min doc_id) by the document itself. Uses the
    session-staged shingle inverted-index input."""
    sh = SHINGLES.read(spark, sf_dir, 3).select("doc", "shingle")
    owner = sh.groupBy("shingle").agg(F.min("doc").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc"), 1).otherwise(0)
    )
    return (
        sh.join(owner, "shingle")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.cast("long").alias("novel"),
            (novel / F.count("*")).alias("novelty"),
        )
        .select(
            F.col("doc").alias("doc_id"), "n_shingles", "novel", "novelty"
        )
    )


@query(
    "group_median_discrete",
    oracle="""
    WITH ranked AS (
        SELECT lang, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang, source) AS n_docs
        FROM documents
    )
    SELECT lang, source, n_chars AS median_n_chars, n_docs
    FROM ranked
    WHERE rn = (n_docs + 1) // 2
    """,
)
def group_median_discrete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (type-1, lower) median document length per
    (lang, source) stratum: the value at sorted position
    ceil(n/2). Like robust_length_filter, the discrete definition
    keeps the statistic in pure integers — no interpolation, no
    float drift — so the oracle matches by value hash. The window
    is keyed by the stratum (dimension cardinality), never global."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang", "source").orderBy("n_chars", "doc_id")
    cnt = W.partitionBy("lang", "source")
    ranked = docs.select(
        "lang",
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(cnt).alias("n_docs"),
    )
    return ranked.where(
        F.col("rn") == F.expr("(n_docs + 1) div 2")
    ).select(
        "lang", "source", F.col("n_chars").alias("median_n_chars"), "n_docs"
    )


# Gopher rule thresholds (Rae et al. 2021, table A1), adapted to the
# synthetic corpus's scale: word-count band, mean-word-length band,
# minimum stopword hits, duplicate-word-fraction ceiling. All checks
# are integer/rational arithmetic so the verdicts replay exactly.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL_X10 = 30    # mean word length >= 3.0 (x10 fixed point)
GOPHER_MAX_MWL_X10 = 100   # mean word length <= 10.0
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_DUP_PCT = 60    # duplicate-word fraction <= 0.60


@query(
    "gopher_quality_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(w) AS n_words,
               list_reduce(list_prepend(0::BIGINT,
                   list_transform(w, x -> length(x)::BIGINT)),
                   (a, b) -> a + b) AS total_chars,
               len(list_distinct(w)) AS n_distinct,
               len(list_filter(w, x -> list_contains(
                   ['the','a','of','and','to','in','is','it','that','for'], x)))
                   AS stop_hits
        FROM t
    )
    SELECT doc_id,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
               AS word_count_ok,
           total_chars * 10 >= {GOPHER_MIN_MWL_X10} * n_words
               AND total_chars * 10 <= {GOPHER_MAX_MWL_X10} * n_words
               AS mean_word_len_ok,
           stop_hits >= {GOPHER_MIN_STOP_HITS} AS stopwords_ok,
           (n_words - n_distinct) * 100 <= {GOPHER_MAX_DUP_PCT} * n_words
               AS dup_words_ok,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
               AND total_chars * 10 >= {GOPHER_MIN_MWL_X10} * n_words
               AND total_chars * 10 <= {GOPHER_MAX_MWL_X10} * n_words
               AND stop_hits >= {GOPHER_MIN_STOP_HITS}
               AND (n_words - n_distinct) * 100 <= {GOPHER_MAX_DUP_PCT} * n_words
               AS keep
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021 A1, the
    filter stack MassiveText/RefinedWeb derive from): word-count
    band, mean-word-length band, minimum stopword hits, and a
    duplicate-word ceiling, each surfaced as a per-rule flag plus
    the conjunction. Every comparison is cross-multiplied into
    integers (total_chars*10 >= 30*n_words instead of mean >= 3.0)
    so no division-order float can diverge between engines. Narrow
    map over the scan — zero shuffles; fanned to cluster parallelism
    first (gated no-op at production split counts) because the
    tokenize/fold stack otherwise runs on the scan's few natural
    splits — measured 5.69x wall for 10x data on 2-of-32 cores
    (SCALE_r16 curation_families)."""
    from gerrydb_etl_spark.functions.text import STOPWORDS, tokenize
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    w = tokenize("text")
    stop_lit = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    m = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.aggregate(
            w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("total_chars"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        F.size(
            F.filter(w, lambda x: F.array_contains(stop_lit, x))
        ).cast("long").alias("stop_hits"),
    )
    word_count_ok = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    mwl_ok = (
        (F.col("total_chars") * 10 >= GOPHER_MIN_MWL_X10 * F.col("n_words"))
        & (F.col("total_chars") * 10 <= GOPHER_MAX_MWL_X10 * F.col("n_words"))
    )
    stop_ok = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    dup_ok = (
        (F.col("n_words") - F.col("n_distinct")) * 100
        <= GOPHER_MAX_DUP_PCT * F.col("n_words")
    )
    return m.select(
        "doc_id",
        word_count_ok.alias("word_count_ok"),
        mwl_ok.alias("mean_word_len_ok"),
        stop_ok.alias("stopwords_ok"),
        dup_ok.alias("dup_words_ok"),
        (word_count_ok & mwl_ok & stop_ok & dup_ok).alias("keep"),
    )


INCR_SPLIT_FRAC = 2  # doc_id % 2: evens are the existing corpus


@query(
    "incremental_exact_dedup",
    oracle="""
    WITH existing AS (
        SELECT DISTINCT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS content_key
        FROM documents WHERE doc_id % 2 = 0
    ),
    incoming AS (
        SELECT doc_id,
               sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS content_key
        FROM documents WHERE doc_id % 2 = 1 OR doc_id % 10 = 0
    )
    SELECT i.doc_id, i.content_key,
           e.content_key IS NOT NULL AS already_known
    FROM incoming i LEFT JOIN existing e USING (content_key)
    """,
)
def incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape exact dedup actually
    runs in: an INCOMING batch (odd doc_ids plus every 10th even doc — a
    re-crawl containing some already-ingested pages) is checked
    against the EXISTING corpus content-key index (even doc_ids),
    not against itself. One distinct-key build + one key join; at 100 TB
    the existing index is a bucketed/persisted table
    (store/bucketing.py) and the incoming batch joins against it
    without rebuilding anything — this query demonstrates the plan
    shape on a same-table split."""
    from gerrydb_etl_spark.operators.dedup import content_key

    docs = load_table(spark, sf_dir, "documents")
    existing = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(content_key(F.col("text")).alias("content_key"))
        .distinct()
        .withColumn("_known", F.lit(1))
    )
    # the incoming batch is the odd docs plus every 10th even doc —
    # a re-crawl batch containing some already-ingested pages, so
    # both verdicts of already_known are exercised
    incoming = docs.where(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    ).select("doc_id", content_key(F.col("text")).alias("content_key"))
    return incoming.join(existing, "content_key", "left").select(
        "doc_id",
        "content_key",
        F.col("_known").isNotNull().alias("already_known"),
    )


@query(
    "incremental_minhash_dedup",
    # truth = df-capped exact-Jaccard >= 0.8 pairs (the
    # minhash_near_dup oracle argument: at this corpus's ~0.98
    # near-dup Jaccard, band-miss probability is ~1e-9 and an
    # est >= 0.7 false positive would need ~0.3 estimate inflation,
    # so the LSH output set-equals the truth set), restricted to the
    # cross orientation: batch doc on the left, corpus doc on the
    # right. A doc in BOTH splits (every 10th even) may appear on
    # either side, hence the two-orientation union.
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id AS doc, s AS shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(t) - 2, 0)),
                       i -> array_to_string(t[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        )
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
    keyed AS (
        SELECT doc, shingle FROM sh
        WHERE shingle IN (SELECT shingle FROM sh
                          GROUP BY shingle HAVING COUNT(*) <= 1000)
    ),
    cand AS (
        SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS common
        FROM keyed a JOIN keyed b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT d1, d2
        FROM cand
        JOIN sizes s1 ON s1.doc = d1
        JOIN sizes s2 ON s2.doc = d2
        WHERE common / (s1.n_sh + s2.n_sh - common) >= 0.8
    )
    SELECT d1 AS batch_doc, d2 AS corpus_doc FROM truth
    WHERE (d1 % 2 = 1 OR d1 % 10 = 0) AND d2 % 2 = 0
    UNION ALL
    SELECT d2 AS batch_doc, d1 AS corpus_doc FROM truth
    WHERE (d2 % 2 = 1 OR d2 % 10 = 0) AND d1 % 2 = 0
    """,
)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup — the MinHash sibling of
    incremental_exact_dedup: the incoming recrawl batch (odd doc_ids
    plus every 10th even) probes the EXISTING corpus's (even
    doc_ids) band-bucket index instead of self-joining the union.
    Per batch the corpus contributes only its (staged-economics)
    banded signatures and the matching capped buckets; the batch
    pays its own signatures plus one bucket-keyed join — never an
    O(corpus) rescan, never all-pairs
    (operators/dedup.py minhash_probe_pairs).

    The engine-specific est_jaccard is projected away; the oracle is
    the exact-Jaccard truth set restricted to batch-vs-corpus
    orientation (see the oracle comment for the set-equality
    argument minhash_near_dup established)."""
    from gerrydb_etl_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_N,
        minhash_probe_pairs,
    )
    from gerrydb_etl_spark.store.staging import BANDED_MINHASH

    # session-staged LSH index (r18): signatures aggregate per doc,
    # so doc-filtering the staged full-corpus banded table is exactly
    # the banding of the same-filtered shingle rows — both sides read
    # ONE staged index instead of re-min-aggregating shingles
    banded = BANDED_MINHASH.read(
        spark, sf_dir, MINHASH_N, MINHASH_HASHES, MINHASH_BANDS
    )
    return minhash_probe_pairs(
        None,
        None,
        num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS,
        threshold=0.7,
        max_bucket_size=1000,
        existing_banded=banded.where(F.col("doc") % 2 == 0),
        incoming_banded=banded.where(
            (F.col("doc") % 2 == 1) | (F.col("doc") % 10 == 0)
        ),
    ).select("batch_doc", "corpus_doc")
