"""Exact prefix-filtered set-similarity join + quantile feature
normalization over the documents corpus.

prefix_filter_jaccard is the uncapped EXACT complement of
ngram_jaccard_dedup (which trades recall above a shingle-df cap for
bounded posting lists): same shingle domain, same similarity, a
different classic algorithm (PPJoin prefix filtering) whose pruning
is lossless. Its oracle is therefore the full inverted self-join
with NO HAVING cap — ground truth, not a mirrored approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gerrydb_etl_spark.operators.setsim import prefix_filter_pairs
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table
from gerrydb_etl_spark.store.staging import SHINGLES

# Jaccard threshold 7/10 — intentionally below the 0.8 the capped
# tier uses, so this query also witnesses pairs in the [0.7, 0.8)
# band no other registered query surfaces.
T_NUM, T_DEN = 7, 10


@query(
    "prefix_filter_jaccard",
    oracle=f"""
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
    pairs AS (
        SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT d1, d2, s1.n_sh AS n1, s2.n_sh AS n2, common,
           (1000000 * common) // (s1.n_sh + s2.n_sh - common) AS jac_ppm
    FROM pairs
    JOIN sizes s1 ON s1.doc = d1
    JOIN sizes s2 ON s2.doc = d2
    WHERE {T_DEN} * common >= {T_NUM} * (s1.n_sh + s2.n_sh - common)
    """,
)
def prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs at threshold 0.7 via PPJoin-style
    prefix filtering (operators/setsim.py): candidates come only
    from each doc's n - ceil(0.7 n) + 1 RAREST shingles under the
    global (df, shingle) order, so the candidate join touches ~30%
    of the index — the low-df tail — and no posting list is hot.
    Unlike the df-capped tier this is lossless: the oracle is the
    uncapped ground-truth self-join."""
    return prefix_filter_pairs(
        SHINGLES.read(spark, sf_dir, 3), T_NUM, T_DEN
    )


@query(
    "feature_quantile_norm",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CASE WHEN cnt = 1 THEN 0
                ELSE ((rk - 1) * 1000000) // (cnt - 1) END AS pct_ppm
    FROM (
        SELECT doc_id, lang, n_chars,
               rank() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS cnt
        FROM documents
    )
    """,
)
def feature_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile normalization of document length —
    the rank-based feature scaling (integer-ppm percent_rank) a
    model-input pipeline applies so 'long for its language' is
    comparable across languages. Ties share the min rank, so the
    mapping is deterministic without a unique tie-break. Scale: one
    window partitioned by lang — parallelism is language
    cardinality, and a dominant language means a single-key sort;
    past that, swap the window for the two-phase distributed
    histogram rank (operators/ids.py prefix sums) — the window
    spelling is the right plan while every language fits a
    partition's sort spill budget."""
    docs = load_table(spark, sf_dir, "documents")
    wr = W.partitionBy("lang").orderBy("n_chars")
    wc = W.partitionBy("lang")
    # rank() is INT in Spark: the ppm product overflows int32 past
    # ~2147 rows per language (caught by the sf1 slope harness under
    # ANSI mode) — widen BEFORE the multiply
    windowed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.rank().over(wr).cast("long").alias("rk"),
        F.count("*").over(wc).alias("cnt"),
    )
    return windowed.select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(F.col("cnt") == 1, F.lit(0).cast("long"))
        .otherwise(F.expr("((rk - 1) * 1000000) div (cnt - 1)"))
        .alias("pct_ppm"),
    )
