"""Retrieval-scoring queries over the `documents` table: TF-IDF term
ranking and BM25 relevance scoring — the lexical-retrieval layer a
training-data pipeline uses for corpus exploration, query-based
subsetting, and hard-negative mining (SURVEY.md §2.12 north star;
the reference has no text-retrieval surface).

Engine-portability contract: no transcendental functions. The
textbook log-idf is replaced by exact RATIONAL forms — tf·N/df for
TF-IDF and the Robertson idf kernel (N − df + 0.5)/(df + 0.5) for
BM25 — which are monotone in the same direction (ranking-equivalent)
and computed as single divisions of exactly-represented integers, so
Spark and DuckDB agree bit-for-bit and both queries carry full
value-hash oracles. BM25's per-document sum runs over a FIXED query
term list in fixed column order (s1 + s2 + s3), not a SUM aggregate,
because float aggregation order is unspecified in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gerrydb_etl_spark.functions.text import tokenize
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

TOP_TERMS = 5
# query terms for the BM25 demo: fixed, alphabetical — present in the
# synthetic corpus vocabulary at every scale factor
BM25_TERMS = ("data", "hash", "scan")
BM25_K1 = 1.2
BM25_B = 0.75


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, tf, score, rank FROM (
        SELECT tf.doc_id, tf.token, tf.tf,
               (tf.tf * n.n_docs) / df.df AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY (tf.tf * n.n_docs) / df.df DESC, tf.token
               ) AS rank
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    ) WHERE rank <= {TOP_TERMS}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by rational TF-IDF
    (tf·N/df — exact integer product/division, no log).

    Plan: token explode → map-side-combined (doc, token) counts →
    map-side-combined per-token document frequency → shuffle join on
    token (AQE broadcasts the df side while small; at 100 TB it is a
    plain co-shuffled join on the token key) → per-doc top-k window
    (shard-keyed by doc_id — no global window). The corpus size is a
    bounded O(1) driver aggregate folded in as a literal (a 1-row
    scalar join would plan as the BroadcastNestedLoopJoin the plan
    guard forbids) — the same bounded-collect class as the IVF
    centroids. The token explode's map side is fanned to cluster
    parallelism first (gated no-op at production split counts):
    measured 5.21x wall for 10x data with the explode running on the
    scan's two natural splits (SCALE_r16 curation_families).
    """
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    raw = load_table(spark, sf_dir, "documents")
    # count the RAW scan: the scalar N needs no
    # parallelism, and counting the fanned frame would pay the
    # round-robin repartition of the whole corpus for a number the
    # unshuffled scan already yields
    n_docs = raw.count()
    docs = fan_out(raw, chunk_bytes=TEXT_CHUNK_BYTES)
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    score = (F.col("tf") * F.lit(n_docs)) / F.col("df")
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        tf.join(df_, "token")
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_TERMS)
        .select("doc_id", "token", "tf", "score", "rank")
    )


def _bm25_term_sql(i: int, term: str) -> str:
    """One term's BM25 contribution (0 when the term is absent);
    operand order mirrors the Spark expression exactly. Every
    fractional literal is ::DOUBLE — DuckDB otherwise parses them as
    DECIMAL, whose exact 2.2 differs from the double
    2.2000000000000002 Spark folds, a 1-ulp hash poison."""
    return f"""
        COALESCE(
            ((n.n_docs - df{i}.df + 0.5::DOUBLE) / (df{i}.df + 0.5::DOUBLE))
            * ((tf{i}.tf * ({BM25_K1}::DOUBLE + 1.0::DOUBLE))
               / (tf{i}.tf + {BM25_K1}::DOUBLE
                  * (1.0::DOUBLE - {BM25_B}::DOUBLE
                     + ({BM25_B}::DOUBLE * d.dl) / a.avgdl))),
            0.0::DOUBLE)"""


def _bm25_oracle() -> str:
    tf_joins = "\n".join(
        f"    LEFT JOIN tf tf{i} ON tf{i}.doc_id = d.doc_id AND tf{i}.token = '{t}'"
        for i, t in enumerate(BM25_TERMS)
    )
    df_joins = "\n".join(
        f"    LEFT JOIN df df{i} ON df{i}.token = '{t}'"
        for i, t in enumerate(BM25_TERMS)
    )
    terms = " + ".join(_bm25_term_sql(i, t) for i, t in enumerate(BM25_TERMS))
    return f"""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE token IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
        GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM d),
    a AS (SELECT CAST(SUM(dl) AS BIGINT) / (SELECT n_docs FROM n) AS avgdl
          FROM d)
    SELECT d.doc_id, d.dl, {terms} AS bm25
    FROM d CROSS JOIN n CROSS JOIN a
{tf_joins}
{df_joins}
    """


@query("bm25_scoring", oracle=_bm25_oracle())
def bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query term
    set, with the Robertson rational idf kernel (no log — see module
    docstring) and k1=1.2, b=0.75.

    Plan: one token explode filtered to the query terms BEFORE the
    (doc, token) count (the shuffle carries only query-term hits, a
    vanishing fraction of the corpus), then a narrow per-doc score
    expression — terms summed in fixed column order so the float
    result is deterministic. The per-term document frequencies and
    the corpus length stats are bounded O(1) driver aggregates
    (≤ len(BM25_TERMS)+1 rows — 1-row scalar joins would plan as the
    BroadcastNestedLoopJoin the plan guard forbids) folded in as
    literals; their float arithmetic (exact-int operands, one
    division) is reproduced identically by the oracle's in-SQL
    computation. At 100 TB the only full-corpus shuffle is the
    filtered tf groupBy, keyed by (doc, token) with map-side
    combine.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.size(tokenize(F.col("text"))).alias("dl"))
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
        .filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    # pivot the <=3 query-term hits to columns: tf0..tf2 per doc
    pivoted = tf.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("token") == t, F.col("tf"))).alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ]
    )
    dfs = {
        r["token"]: r["df"]
        for r in tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    n_docs, sum_dl = (
        d.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).collect()[0]
    )
    avgdl = sum_dl / n_docs

    def term_score(i: int, term: str):
        df_i = dfs.get(term)
        if df_i is None:
            return F.lit(0.0)
        tf_i = F.col(f"tf{i}")
        idf = (n_docs - df_i + 0.5) / (df_i + 0.5)
        tf_part = (tf_i * F.lit(BM25_K1 + 1.0)) / (
            tf_i
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + (F.lit(BM25_B) * F.col("dl")) / F.lit(avgdl)
            )
        )
        return F.coalesce(F.lit(idf) * tf_part, F.lit(0.0))

    bm25 = (
        term_score(0, BM25_TERMS[0])
        + term_score(1, BM25_TERMS[1])
        + term_score(2, BM25_TERMS[2])
    )
    return d.join(pivoted, "doc_id", "left").select(
        "doc_id", "dl", bm25.alias("bm25")
    )


# hybrid retrieval fusion: candidate depth per ranking, RRF's
# standard k=60 damping constant, fused result size, and the 1e9
# integer scale that makes 1/(60+rank) exact in both engines
HYBRID_K = 100
RRF_C = 60
FUSE_K = 20
RRF_SCALE = 1_000_000_000

# portable cosine against the stored query vector, in the exact fold
# order the Spark helpers use (operators/similarity.py dot/norm)
_COS_SQL = """
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(list_zip(c.embedding, q.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                       (x, y) -> x + y))
                  * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(q.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                       (x, y) -> x + y)))
"""


def _rrf_oracle() -> str:
    return f"""
    WITH lrank AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        FROM ({_bm25_oracle()}) b
        QUALIFY lex_rank <= {HYBRID_K}
    ),
    vec AS (
        SELECT c.vec_id AS doc_id, {_COS_SQL} AS cos
        FROM embeddings c CROSS JOIN
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE c.vec_id != 0
    ),
    vrank AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
        FROM vec
        QUALIFY vec_rank <= {HYBRID_K}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               COALESCE(l.lex_rank, 0) AS lex_rank,
               COALESCE(v.vec_rank, 0) AS vec_rank,
               (CASE WHEN l.lex_rank IS NULL THEN 0
                     ELSE {RRF_SCALE} // ({RRF_C} + l.lex_rank) END
                + CASE WHEN v.vec_rank IS NULL THEN 0
                       ELSE {RRF_SCALE} // ({RRF_C} + v.vec_rank) END)
                   AS rrf_e9
        FROM lrank l FULL OUTER JOIN vrank v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(vec_rank AS BIGINT) AS vec_rank,
           CAST(rrf_e9 AS BIGINT) AS rrf_e9,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_e9 DESC, doc_id)
                      AS fused_rank
        FROM fused
    ) WHERE fused_rank <= {FUSE_K}
    """


@query("rrf_hybrid_retrieval", oracle=_rrf_oracle())
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion
    (Cormack et al. 2009): the top-{HYBRID_K} BM25 candidates and the
    top-{HYBRID_K} exact-cosine candidates (query vector = the stored
    embedding of vec_id 0 — data-derived, like the ANN anchor planes)
    fuse by RRF score = Σ 1/(60 + rank), computed as exact integer
    {RRF_SCALE} div (60 + rank) units so the fused ranking carries a
    full value-hash oracle. Absent-from-one-list candidates
    contribute 0 from that list (standard RRF over the union).

    Plan shape: each candidate list is a distributed top-k — Spark
    compiles orderBy().limit(k) to TakeOrderedAndProject (per-
    partition heaps + driver merge, NO global single-reducer sort);
    the rank-assignment windows and the fusion join then run over
    ≤ 2·{HYBRID_K} rows, driver-bounded by construction. The cosine
    is the same JVM-side fold the exact-cosine baseline uses; the
    query vector is a bounded 1-row model collect folded in as an
    array literal (a scalar cross join would plan as the banned
    BroadcastNestedLoopJoin)."""
    from gerrydb_etl_spark.operators.similarity import cosine

    lex = (
        bm25_scoring(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(HYBRID_K)
    )
    lrank = lex.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("lex_rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    vec = (
        emb.where(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("embedding"), qlit).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(HYBRID_K)
    )
    vrank = vec.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("cos"), F.asc("doc_id")))
        .alias("vec_rank"),
    )
    contrib = (
        F.when(
            F.col("lex_rank").isNotNull(),
            F.expr(f"{RRF_SCALE} div ({RRF_C} + lex_rank)"),
        ).otherwise(F.lit(0))
        + F.when(
            F.col("vec_rank").isNotNull(),
            F.expr(f"{RRF_SCALE} div ({RRF_C} + vec_rank)"),
        ).otherwise(F.lit(0))
    )
    fused = lrank.join(vrank, "doc_id", "full").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("long").alias("vec_rank"),
        contrib.cast("long").alias("rrf_e9"),
    )
    return (
        fused.select(
            "*",
            F.row_number()
            .over(W.partitionBy().orderBy(F.desc("rrf_e9"), F.asc("doc_id")))
            .cast("long")
            .alias("fused_rank"),
        )
        .where(F.col("fused_rank") <= FUSE_K)
    )
