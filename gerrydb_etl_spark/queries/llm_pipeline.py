"""Composite LLM-pipeline queries: near-dup clustering (connected
components with a recursive-CTE oracle), embedding quantization,
and the end-to-end corpus curation filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.text import quality_score, tokenize
from gerrydb_etl_spark.operators.dedup import jaccard_pairs
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table
from gerrydb_etl_spark.store.staging import COMPONENTS, SHINGLES


@query(
    "neardup_clusters",
    oracle="""
    WITH RECURSIVE pairs AS (
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
        )
        SELECT d1, d2 FROM cand
        JOIN sizes s1 ON s1.doc = d1 JOIN sizes s2 ON s2.doc = d2
        WHERE common / (s1.n_sh + s2.n_sh - common) >= 0.8
    ),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
    )
    SELECT node AS doc, MIN(r) AS cluster_rep FROM reach GROUP BY node
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the exact near-dup pairs (Jaccard >=
    0.8) via min-label propagation — the dedup decision layer above
    pair generation: one representative (min doc id) per cluster.
    Reads the staged (doc, cluster_rep) fixture (store/staging.py),
    whose writer is exactly this pipeline: Jaccard pairs over the
    staged shingle index, df-capped at 1000 (the oracle's HAVING
    stop-shingle filter states the same cap), closed by
    pointer-jumping. The oracle computes the closure with a
    recursive CTE."""
    return COMPONENTS.read(spark, sf_dir)


@query(
    "embedding_quantize",
    oracle="""
    SELECT vec_id,
           scale,
           array_to_string(list_transform(embedding[1:8],
                          v -> CAST(CAST(FLOOR(CAST(v AS DOUBLE) * scale + 0.5) AS BIGINT) AS VARCHAR)), ',')
               AS q_head
    FROM (
        SELECT vec_id, embedding,
               127.0 / list_reduce(
                   list_prepend(1e-30::DOUBLE,
                       list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
                   (x, y) -> CASE WHEN x > y THEN x ELSE y END) AS scale
        FROM embeddings
    )
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings (the 4x storage shrink
    every 100 TB vector corpus takes): per-vector scale = 127 /
    max|v|, symmetric round via floor(x+0.5) — identical in both
    engines, unlike round()'s differing tie rules. Surfaces the
    first 8 quantized values per vector, comma-joined to a string:
    the driver's canonicalizer cannot hash array-typed cells (repo
    rule: no array columns in any registered query output)."""
    emb = load_table(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        F.col("embedding"),
        F.lit(1e-30),
        lambda acc, v: F.when(F.abs(v.cast("double")) > acc, F.abs(v.cast("double"))).otherwise(acc),
    )
    scaled = emb.select("vec_id", "embedding", (F.lit(127.0) / absmax).alias("scale"))
    q = F.transform(
        F.slice(F.col("embedding"), 1, 8),
        lambda v: F.floor(v.cast("double") * F.col("scale") + F.lit(0.5)).cast("string"),
    )
    return scaled.select("vec_id", "scale", F.concat_ws(",", q).alias("q_head"))


@query(
    "corpus_curation_filter",
    oracle=f"""
    SELECT doc_id, n_tokens, quality FROM (
        SELECT doc_id,
               len(t) AS n_tokens,
               (CASE WHEN len(t) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END
                * (len(list_distinct(t)) / len(t)
                   + len(list_filter(t, x -> list_contains(
                         ['the','a','of','and','to','in','is','it','that','for'], x)))
                     / len(t))) / 2 AS quality
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
    WHERE n_tokens >= 20 AND quality >= 0.3
      AND doc_id NOT IN (
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
        )
        SELECT d2 FROM cand
        JOIN sizes s1 ON s1.doc = d1 JOIN sizes s2 ON s2.doc = d2
        WHERE common / (s1.n_sh + s2.n_sh - common) >= 0.8
      )
    """,
)
def corpus_curation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pass a training-data pipeline runs:
    drop near-duplicates (keep the smaller doc id of each pair) and
    keep documents passing length + quality gates. Composes the
    dedup and text-analysis operators into one plan."""
    docs = load_table(spark, sf_dir, "documents")
    losers = (
        jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8,
            shingles=SHINGLES.read(spark, sf_dir, 3),
        )
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    t = tokenize(F.col("text"))
    return (
        docs.join(losers, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.size(t).alias("n_tokens"),
            quality_score(t, "en").alias("quality"),
        )
        .filter((F.col("n_tokens") >= 20) & (F.col("quality") >= 0.3))
    )


@query(
    "cluster_survivor_selection",
    oracle="""
    WITH RECURSIVE pairs AS (
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
        )
        SELECT d1, d2 FROM cand
        JOIN sizes s1 ON s1.doc = d1 JOIN sizes s2 ON s2.doc = d2
        WHERE common / (s1.n_sh + s2.n_sh - common) >= 0.8
    ),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
    ),
    comp AS (SELECT node AS doc, MIN(r) AS cluster_rep FROM reach GROUP BY node),
    members AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
    )
    SELECT doc_id, cluster_rep, n_tokens,
           (ROW_NUMBER() OVER (
                PARTITION BY cluster_rep
                ORDER BY n_tokens DESC, doc_id
            ) = 1) AS is_survivor
    FROM members
    """,
)
def cluster_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION layer above near-dup clustering: within
    each Jaccard>=0.8 connected component keep exactly one member —
    the longest document (most complete copy), doc_id as tiebreak —
    and mark every other member for removal; documents outside any
    pair are their own singleton cluster and survive. This is the
    keep-best policy production dedup applies after clustering
    (keep-longest here; any deterministic score column slots into
    the same window).

    Plan shape: the (doc, cluster_rep) assignment is the staged
    component fixture shared with ``neardup_clusters`` (pairs over
    the staged shingle index, df-capped at 1000 exactly as the
    oracle's HAVING stop-shingle filter states, pointer-jumping
    closure — computed once per session, store/staging.py), so this
    query pays only ONE window shard-keyed by cluster_rep (never
    global) on top of a columnar read. Full hash oracle:
    recursive-CTE closure + the same keep-longest window replayed
    in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    comp = COMPONENTS.read(spark, sf_dir)
    members = (
        docs.select(
            "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens")
        )
        .join(comp.withColumnRenamed("doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_rep", "doc_id").alias("cluster_rep"),
            "n_tokens",
        )
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("cluster_rep").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return members.select(
        "doc_id",
        "cluster_rep",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


@query(
    "cluster_safe_split",
    oracle="""
    WITH RECURSIVE pairs AS (
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
        )
        SELECT d1, d2 FROM cand
        JOIN sizes s1 ON s1.doc = d1 JOIN sizes s2 ON s2.doc = d2
        WHERE common / (s1.n_sh + s2.n_sh - common) >= 0.8
    ),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
    ),
    comp AS (SELECT node AS doc, MIN(r) AS cluster_rep FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep,
           CASE WHEN substr(md5(CAST(COALESCE(c.cluster_rep, d.doc_id)
                                     AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(CAST(COALESCE(c.cluster_rep, d.doc_id)
                                     AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
    """,
)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split hash is
    computed on the near-dup CLUSTER representative, not the doc id,
    so every member of a Jaccard>=0.8 component lands in the same
    split — the assignment-side fix for exactly the contamination
    embedding_split_leakage AUDITS after the fact (a doc-level hash
    split puts near-identical twins on both sides of the train/eval
    fence). Same md5-first-hex-char policy as train_val_test_split
    (<= 'b' train ~ 69%, <= 'd' val ~ 19%, else test), applied at
    cluster granularity; singletons are their own representative.

    Plan: staged (doc, cluster_rep) assignment left-joined onto the
    corpus (same staged fixture the survivor-selection and closure
    queries read — the closure is never recomputed here), then a
    narrow md5 + CASE map. At 100 TB the join is one shuffle keyed
    by doc_id, and the split policy stays pure expression — no
    model state, no collect."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = COMPONENTS.read(spark, sf_dir).withColumnRenamed(
        "doc", "doc_id"
    )
    rep = F.coalesce("cluster_rep", "doc_id")
    hc = F.substring(F.md5(rep.cast("string")), 1, 1)
    return docs.join(comp, "doc_id", "left").select(
        "doc_id",
        rep.alias("cluster_rep"),
        F.when(hc <= "b", F.lit("train"))
        .when(hc <= "d", F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
