"""Similarity-search queries over the `embeddings` table
(SURVEY.md §2.12 north star).

The exact brute-force path hash-matches a DuckDB oracle (dot/norm
folds are bitwise-identical across engines — see
operators/similarity.py). The approximate paths are registered
twice: the PRODUCTION plan under the operator's name (benched) and
a *_verify twin that recomputes the exact truth set and reports
recall@k with a floored contract verdict (oracle-checked, excluded
from bench timing). The hyperplane family (embedding_neardup AND
ann_cosine_topk) uses data-derived anchor planes instead of RNG,
and the IVF path trains its coarse quantizer with the fixed-point
k-means (operators/kmeans.py), so ALL production plans carry FULL
value-hash oracles (complete DuckDB pipeline replays) on top of
their recall twins. Recall assertions also run in
tests/test_llm_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup,
    exact_cosine_pairs,
    lsh_ann_topk,
)
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

N_QUERIES = 10
TOP_K = 5
NEARDUP_COS = 0.4


@query(
    "embedding_cosine_topk",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(list_zip(q.embedding, c.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(q.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                       (x, y) -> x + y))
                  * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                       (x, y) -> x + y))) AS cosine
        FROM embeddings q
        JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the first 10 vectors as
    queries: broadcast query set x corpus scan, two-phase top-k
    (per-partition prune before the per-query window). The baseline
    the ANN path is measured against."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return cosine_topk(emb, queries, k=TOP_K)


# the exact top-k truth set — the embedding_cosine_topk oracle's
# scored/ranked CTE, reused as the anchor for the ANN recall reports
_EXACT_TOPK_SQL = f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(list_zip(q.embedding, c.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(q.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                       (x, y) -> x + y))
                  * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                       (x, y) -> x + y))) AS cosine
        FROM embeddings q
        JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    )
"""


def _ann_recall_report(exact: DataFrame, approx: DataFrame, floor: float) -> DataFrame:
    """Single-row recall@k report: truth size + whether the ANN path
    recovered at least ``floor`` of the exact top-k set."""
    marked = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id", F.lit(1).alias("_hit")),
        ["query_id", "neighbor_id"],
        "left",
    )
    n_true = F.count("*")
    n_found = F.coalesce(F.sum("_hit"), F.lit(0))
    return marked.agg(
        n_true.alias("n_true"),
        F.lit(floor).cast("double").alias("recall_floor"),
        (n_found / F.greatest(n_true, F.lit(1)) >= floor).alias("recall_floor_met"),
    )


def _recall_oracle(floor: float) -> str:
    return (
        _EXACT_TOPK_SQL
        + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST({floor} AS DOUBLE) AS recall_floor,
           TRUE AS recall_floor_met
    FROM truth
    """
    )


_IVF_CELLS, _IVF_PROBE, _IVF_ITERS = 16, 4, 2

# fold helpers over an already-double list column (the quantized
# vectors read as doubles — operators/ivf.py scoring contract)
# the canonical spellings live in queries/clustering.py (one home
# for the value-hash-critical fold arithmetic); byte-identical to
# the literals previously defined here
from gerrydb_etl_spark.queries.clustering import (  # noqa: E402
    DVDOT_SQL as _DVDOT,
)
from gerrydb_etl_spark.queries.clustering import (  # noqa: E402
    DVNORM_SQL as _DVNORM,
)


def _ivf_replay_sql() -> str:
    """Full replay of ivf_topk: fixed-point k-means training
    (queries/clustering.py CTE chain, same params), rn=1 corpus
    cells, rn<=n_probe query probes, quantized-double cosine
    rescore, per-query rank."""
    from gerrydb_etl_spark.queries.clustering import _kmeans_ctes

    dot = _DVDOT.format(a="x.dv", b="y.dv")
    nx = _DVNORM.format(a="x.dv")
    ny = _DVNORM.format(a="y.dv")
    return f"""
    {_kmeans_ctes(_IVF_CELLS, _IVF_ITERS)},
    dvs AS (
        SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM q
    ),
    cells AS (
        SELECT vec_id AS neighbor_id, cluster_id AS cell
        FROM a{_IVF_ITERS} WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cluster_id AS cell
        FROM a{_IVF_ITERS}
        WHERE vec_id < {N_QUERIES} AND rn <= {_IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, c.neighbor_id,
               {dot} / ({nx} * {ny}) AS cosine
        FROM probes p
        JOIN cells c USING (cell)
        JOIN dvs x ON x.vec_id = p.query_id
        JOIN dvs y ON y.vec_id = c.neighbor_id
        WHERE p.query_id != c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id
                  ) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@query("ivf_cosine_topk", oracle=_ivf_replay_sql())
def ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-5 (16 cells, 4 probes, fixed-point mini
    k-means) — the PRODUCTION plan: each query scores only
    ~n_probe/n_cells of the corpus. The coarse quantizer is the
    fixed-point k-means (operators/kmeans.py), so training, cell
    assignment, probe ranking, and the quantized-double cosine
    rescore all replay in DuckDB and this query carries a FULL
    value-hash oracle; the recall-vs-exact contract additionally
    lives in ivf_verify."""
    from gerrydb_etl_spark.operators.ivf import ivf_topk
    from gerrydb_etl_spark.store.staging import IVF

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return ivf_topk(
        emb, queries, k=TOP_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
        iters=_IVF_ITERS,
        model=IVF.read(spark, sf_dir, _IVF_CELLS, _IVF_ITERS),
    )


# multi-probe pairing threshold: the corpus's near-dup band (same
# tau as ivf_blocked_neardup so the single- vs multi-probe recall
# comparison is like-for-like)
_MP_TAU = 0.35
_MP_PROBES = 2


def _multiprobe_replay_sql() -> str:
    """Replay of multiprobe_pairs: training CTEs, rn<=probes cell
    assignment, shared-cell pairing, rescore, exact DISTINCT."""
    from gerrydb_etl_spark.queries.clustering import _kmeans_ctes

    dot = _DVDOT.format(a="a.dv", b="b.dv")
    na = _DVNORM.format(a="a.dv")
    nb = _DVNORM.format(a="b.dv")
    return f"""
    {_kmeans_ctes(_IVF_CELLS, _IVF_ITERS)},
    probe2 AS (
        SELECT a.vec_id, a.cluster_id,
               list_transform(q.qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM a{_IVF_ITERS} a
        JOIN q ON a.vec_id = q.vec_id AND a.rn <= {_MP_PROBES}
    )
    SELECT DISTINCT d1, d2, cosine FROM (
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               {dot} / ({na} * {nb}) AS cosine
        FROM probe2 a JOIN probe2 b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    ) WHERE cosine >= {_MP_TAU}
    """


@query("ivf_multiprobe_neardup", oracle=_multiprobe_replay_sql())
def ivf_multiprobe_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe cell-blocked near-dup PAIRS (d1 < d2, cosine >=
    {tau}): each vector blocks on its 2 nearest cells of the staged
    IVF quantizer, recovering the boundary pairs single-probe
    blocking (ivf_blocked_neardup / SemDeDup) structurally misses —
    a pair split across Voronoi cells is found whenever one
    endpoint's second-nearest cell is the other's home. The cell
    count is corpus-scaled (cells_for_corpus, floor == the oracle's
    16-cell literal at every driver-verified scale — the standing
    pattern that keeps candidate volume probes^2 * sum(cell^2)
    LINEAR instead of the frozen-k quadratic blowup) with per_cell
    HALVED to 125: each vector lands in ``probes`` cells, so holding
    the family's ~250 candidates-per-vector design target requires
    occupancy * probes ~ 250, i.e. twice the cells of the
    single-probe family at the same corpus — 160 cells at sf1
    (first measured without the compensation: 117.7 s at sf1 vs
    80.1 s with it, SCALE_r12.json — the probe fold is a constant
    the cell count must absorb). Past cap * per_cell = 64k vectors
    the probe goes two-level (multiprobe_pairs sub_model — the
    ivf_topk pattern: literal coarse ranking, join-based subcell
    ranking, blocking on the refined key), never active at any
    driver-verified scale (oracle untouched) and value-gated by the
    forced-split unit battery; the
    recall-dominance contract over single-probe on the same model is
    pinned by test_multiprobe_recall_dominates. The oracle replays
    training -> rn<=2 probe assignment -> shared-cell pairing ->
    rescore -> DISTINCT end to end (the duplicate-emitted pair's
    cosine is bit-identical in every shared cell, so DISTINCT is
    exact)."""
    from gerrydb_etl_spark.operators.kmeans import (
        cells_for_corpus,
        multiprobe_pairs,
        needs_cell_split,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.store.staging import corpus_count, IVF

    emb = load_table(spark, sf_dir, "embeddings")
    n = corpus_count(spark, sf_dir, "embeddings")
    cells_dyn = cells_for_corpus(n, floor_k=_IVF_CELLS, per_cell=125)
    assigned, cents = IVF.read(spark, sf_dir, cells_dyn, _IVF_ITERS)
    sub_model = None
    if needs_cell_split(n, per_cell=125):
        # past cap * per_cell (= 64k vectors at this family's
        # per_cell) the capped coarse cells are refined and the
        # probe goes two-level; never active at any driver-verified
        # scale (oracle untouched). The full (assignment, codebook)
        # pair feeds the probe so home blocks come from the split
        # assignment itself (dominance by construction); the
        # driver-verified sibling is ivf_multiprobe_twolevel, which
        # forces this path at sf0.01 under a full replay oracle.
        sub_model = split_oversized_cells(assigned, per_cell=125)
    return multiprobe_pairs(emb, tau=_MP_TAU, centroids=cents,
                            probes=_MP_PROBES, sub_model=sub_model,
                            # staged qv, fanned by the staged reader
                            # (store/staging.py _fanned_model_read)
                            # — skip the raw re-quantize (drift_r15)
                            quant=assigned.select("vec_id", "qv"))


@query("ivf_verify", oracle=_recall_oracle(0.8))
def ivf_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-anchored verification twin of ivf_cosine_topk: recall@5
    against the exact brute-force top-k, floored at 0.8 (measured
    0.92 at sf0.01, 1.0 at sf0.1 — the stronger of the two ANN
    paths: IVF adapts to the data, hyperplanes don't). The oracle
    computes the truth-set size exactly and asserts the recall
    contract; a contract break turns the row red. Excluded from
    bench.py timing (verification harness, not a production plan);
    recorded in the BENCH_FULL verify lane. Uses the session-staged
    IVF model like its production twin (identical fixed-point
    values, recall report unchanged — the pq_verify lane profile in
    PERF.md showed inline retraining dominating verify-lane
    floors)."""
    from gerrydb_etl_spark.operators.ivf import ivf_topk
    from gerrydb_etl_spark.store.staging import IVF

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = cosine_topk(emb, queries, k=TOP_K)
    approx = ivf_topk(
        emb, queries, k=TOP_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
        iters=_IVF_ITERS,
        model=IVF.read(spark, sf_dir, _IVF_CELLS, _IVF_ITERS),
    )
    return _ann_recall_report(exact, approx, floor=0.8)




@query("ann_verify", oracle=_recall_oracle(0.5))
def ann_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-anchored verification twin of ann_cosine_topk: recall@5
    against the exact brute-force truth. On the near-uniform
    synthetic corpus (the hardest case for hyperplane LSH — no
    cluster structure to exploit) recall@5 measures 0.64 at both
    sf0.01 and sf0.1; floored at 0.5 with margin. The oracle
    computes the truth-set size exactly and asserts the recall
    contract held. Excluded from bench.py timing."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = cosine_topk(emb, queries, k=TOP_K)
    approx = lsh_ann_topk(emb, queries, k=TOP_K, bits=4, tables=8, seed=42)
    return _ann_recall_report(exact, approx, floor=0.5)


# the all-pairs exact cosine truth set for the embedding near-dup
# tier — the same sequential-fold arithmetic as the Spark side, so
# the threshold boundary is bitwise-identical across engines
_NEARDUP_TRUTH_SQL = f"""
    WITH scored AS (
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(list_zip(a.embedding, b.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                       (x, y) -> x + y))
                  * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                       (x, y) -> x + y))) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    truth AS (SELECT d1, d2 FROM scored WHERE cosine >= {NEARDUP_COS})
"""


def _dot_sql(a: str, b: str) -> str:
    """Sequential-left-fold dot product in DOUBLE — the SQL twin of
    operators.similarity.dot (bitwise-identical fold order)."""
    return f"""list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(list_zip({a}, {b}),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
        (x, y) -> x + y)"""


def _norm_sql(a: str) -> str:
    """Sequential-left-fold L2 norm in DOUBLE (SQL twin of norm)."""
    return f"""sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
        (x, y) -> x + y))"""


# Full replay of the embedding_neardup pipeline in DuckDB: anchor
# prefix (row position in hash-mixed vec_id order — a deterministic
# pseudo-random corpus sample, see anchor_planes) → consecutive-pair difference
# planes with the degenerate-pair eps filter → per-table packed sign
# signatures → bucket-capped within-bucket candidate pairs → exact
# cosine rescore. Mirrors anchor_planes / _signature_udf /
# bucket_pairs step for step; parameters must match the registered
# Spark call (bits=4, tables=8, over_provision=4, eps=1e-6,
# max_bucket_size=1000, threshold=0.4).
_NEARDUP_BITS, _NEARDUP_TABLES, _NEARDUP_OVER = 4, 8, 4
_NEARDUP_CAP = 1000

# Shared CTE chain: anchor-prefix planes + per-table packed sign
# signatures, exactly mirroring anchor_planes / _signature_udf. Used
# by BOTH full-replay oracles (embedding_neardup's capped-bucket
# pair path and ann_cosine_topk's query-vs-corpus collision path);
# parameters must match the registered Spark calls (bits=4,
# tables=8, over_provision=4, eps=1e-6).
_PLANES_SIGS_CTE = f"""
    WITH ordered AS (
        SELECT embedding,
               ROW_NUMBER() OVER (
                   ORDER BY ((vec_id & 2147483647) * 2654435761)
                            & 2147483647,
                            vec_id
               ) - 1 AS rn
        FROM embeddings
        QUALIFY rn < {2 * _NEARDUP_TABLES * _NEARDUP_BITS * _NEARDUP_OVER}
    ),
    cand_planes AS (
        SELECT a.rn // 2 AS j,
               list_transform(list_zip(a.embedding, b.embedding),
                              p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                   AS plane,
               {_norm_sql('a.embedding')} AS anorm,
               {_norm_sql('b.embedding')} AS bnorm
        FROM ordered a JOIN ordered b ON b.rn = a.rn + 1
        WHERE a.rn % 2 = 0
    ),
    good AS (
        SELECT plane, ROW_NUMBER() OVER (ORDER BY j) - 1 AS p
        FROM cand_planes
        WHERE {_norm_sql('plane')} >= 1e-06 * (anorm + bnorm)
        QUALIFY p < {_NEARDUP_TABLES * _NEARDUP_BITS}
    ),
    planes AS (
        SELECT p // {_NEARDUP_BITS} AS tbl, p % {_NEARDUP_BITS} AS bit, plane
        FROM good
    ),
    sigs AS (
        SELECT e.vec_id AS doc, pl.tbl,
               SUM(CASE WHEN {_dot_sql('e.embedding', 'pl.plane')} >= 0
                        THEN 1 << pl.bit ELSE 0 END) AS sig
        FROM embeddings e CROSS JOIN planes pl
        GROUP BY e.vec_id, pl.tbl
    )"""

_NEARDUP_REPLAY_SQL = _PLANES_SIGS_CTE + f""",
    ok_buckets AS (
        SELECT tbl, sig FROM sigs
        GROUP BY tbl, sig HAVING COUNT(*) <= {_NEARDUP_CAP}
    ),
    cand AS (
        SELECT DISTINCT s1.doc AS d1, s2.doc AS d2
        FROM sigs s1
        JOIN ok_buckets ob ON ob.tbl = s1.tbl AND ob.sig = s1.sig
        JOIN sigs s2 ON s2.tbl = s1.tbl AND s2.sig = s1.sig
                    AND s1.doc < s2.doc
    )
    SELECT c.d1, c.d2
    FROM cand c
    JOIN embeddings x ON x.vec_id = c.d1
    JOIN embeddings y ON y.vec_id = c.d2
    WHERE {_dot_sql('x.embedding', 'y.embedding')}
          / ({_norm_sql('x.embedding')} * {_norm_sql('y.embedding')})
          >= {NEARDUP_COS}
"""


_ANN_REPLAY_SQL = _PLANES_SIGS_CTE + f""",
    qsigs AS (SELECT * FROM sigs WHERE doc < {N_QUERIES}),
    cand AS (
        SELECT DISTINCT q.doc AS query_id, s.doc AS neighbor_id
        FROM qsigs q
        JOIN sigs s ON s.tbl = q.tbl AND s.sig = q.sig
                   AND s.doc != q.doc
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               {_dot_sql('x.embedding', 'y.embedding')}
               / ({_norm_sql('x.embedding')} * {_norm_sql('y.embedding')})
                   AS cosine
        FROM cand c
        JOIN embeddings x ON x.vec_id = c.query_id
        JOIN embeddings y ON y.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id
                  ) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
"""


@query("ann_cosine_topk", oracle=_ANN_REPLAY_SQL)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5 (8 tables x 4 bits) — the PRODUCTION
    plan: only bucket-colliding candidates are scored, so per-query
    work is bucket-bounded instead of corpus-bounded. Planes are the
    data-derived anchor differences (deterministic given the
    corpus), so like embedding_neardup this query carries a FULL
    pipeline-replay value-hash oracle (planes → signatures → bucket
    collisions → exact rescore → rank) in addition to ann_verify's
    recall contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return lsh_ann_topk(emb, queries, k=TOP_K, bits=4, tables=8, seed=42)


@query("embedding_neardup", oracle=_NEARDUP_REPLAY_SQL)
def embedding_neardup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.4) — the
    PRODUCTION plan: LSH-bucketed candidates + exact rescore, the
    vector-space member of the dedup family. Anchor-difference planes
    are deterministic given the corpus, so this query carries a FULL
    value-hash oracle replaying the whole pipeline (anchors → planes
    → signatures → capped buckets → rescore) in DuckDB; the
    recall-vs-exact-truth contract additionally lives in
    embedding_neardup_verify. Zero false positives by construction
    (every emitted pair is exactly rescored). The only cross-engine
    float hazard is a signature sign bit whose plane dot sits within
    ~1 ulp of zero (BLAS matmul vs sequential fold) — probability ~0
    on real-valued embeddings."""
    from gerrydb_etl_spark.store.staging import LSH_SIGS

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup(
        emb, threshold=NEARDUP_COS, max_bucket_size=1000,
        bucketed=LSH_SIGS.read(spark, sf_dir, bits=4, tables=8),
    ).select("d1", "d2")


@query(
    "embedding_neardup_verify",
    oracle=_NEARDUP_TRUTH_SQL
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(0.6 AS DOUBLE) AS recall_floor,
           TRUE AS recall_floor_met
    FROM truth
    """,
)
def embedding_neardup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-anchored verification twin of embedding_neardup: recall
    against the exact all-pairs cosine truth set (O(n²) baseline,
    operators/similarity.py exact_cosine_pairs), floored at 0.6
    (measured 0.83 at sf0.01, 0.76 at sf0.1 — the hyperplane
    collision curve at cos 0.4 is ~0.75 and rises steeply for closer
    pairs). Runs uncapped; excluded from bench.py timing."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = exact_cosine_pairs(emb, NEARDUP_COS).select("d1", "d2")
    found = embedding_neardup(emb, threshold=NEARDUP_COS).select(
        "d1", "d2", F.lit(1).alias("_hit")
    )
    marked = truth.join(found, ["d1", "d2"], "left")
    n_true = F.count("*")
    n_found = F.coalesce(F.sum("_hit"), F.lit(0))
    return marked.agg(
        n_true.alias("n_true"),
        F.lit(0.6).cast("double").alias("recall_floor"),
        (n_found / F.greatest(n_true, F.lit(1)) >= 0.6).alias("recall_floor_met"),
    )


# Cross-split leakage review threshold. Production sets this near
# ~0.95 (near-identical embeddings); the synthetic corpus's
# cross-split top-1 cosines top out ~0.49, so 0.4 is used to
# exercise BOTH verdict branches — the engine mechanics under test
# (split-filtered IVF probe, top-1 window, threshold flag) are
# identical at any threshold.
LEAK_REVIEW_COS = 0.4


def _split_leakage_replay_sql() -> str:
    """Replay of embedding_split_leakage: the staged-equivalent IVF
    model re-trained in SQL, corpus cells filtered to the TRAIN
    split, probes filtered to the TEST split, top-1 per test vector,
    threshold verdict."""
    from gerrydb_etl_spark.queries.clustering import _kmeans_ctes

    dot = _DVDOT.format(a="x.dv", b="y.dv")
    nx = _DVNORM.format(a="x.dv")
    ny = _DVNORM.format(a="y.dv")
    return f"""
    {_kmeans_ctes(_IVF_CELLS, _IVF_ITERS)},
    dvs AS (
        SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM q
    ),
    cells AS (
        SELECT vec_id AS neighbor_id, cluster_id AS cell
        FROM a{_IVF_ITERS} WHERE rn = 1 AND vec_id % 5 != 0
    ),
    probes AS (
        SELECT vec_id AS query_id, cluster_id AS cell
        FROM a{_IVF_ITERS}
        WHERE vec_id % 5 = 0 AND rn <= {_IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, c.neighbor_id,
               {dot} / ({nx} * {ny}) AS cosine
        FROM probes p
        JOIN cells c USING (cell)
        JOIN dvs x ON x.vec_id = p.query_id
        JOIN dvs y ON y.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           cosine >= {LEAK_REVIEW_COS} AS flagged
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id
                  ) AS rank
        FROM scored
    ) WHERE rank = 1
    """


@query("embedding_split_leakage", oracle=_split_leakage_replay_sql())
def embedding_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE AUDIT in embedding space — the embedding
    analogue of benchmark_decontam: every held-out vector (vec_id %
    5 == 0) probes an IVF index containing ONLY the train split, and
    its single nearest train neighbor is surfaced with a
    review-threshold verdict. This is the batch-ANN production
    shape: a whole query SET (not one vector) rides the cell join —
    broadcast while provably small, co-shuffled on cell beyond the
    guard (operators/ivf.py join strategy) — and the index side is
    the session-staged model's assignment filtered to train rows
    (centroids trained on the full corpus; the INDEX membership is
    what defines the searchable split).

    Full pipeline-replay value-hash oracle: fixed-point k-means
    re-trained in SQL, same split filters, same quantized-double
    cosine folds, same top-1 window."""
    from gerrydb_etl_spark.operators.ivf import ivf_topk
    from gerrydb_etl_spark.operators.kmeans import (
        cells_for_corpus,
        needs_cell_split,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.store.staging import corpus_count, IVF

    emb = load_table(spark, sf_dir, "embeddings")
    # corpus-scaled cell count (operators/kmeans.py cells_for_corpus):
    # == _IVF_CELLS at every driver-verified scale (static-oracle
    # parity); above bench scale it holds candidates-per-query at
    # ~n_probe * per_cell while the query COUNT also grows with the
    # corpus — with cells frozen at 16 the audit measured 2.0s ->
    # 152s at the natural sf1 (quadratic)
    n = corpus_count(spark, sf_dir, "embeddings")
    cells = cells_for_corpus(n, floor_k=_IVF_CELLS, per_cell=125)
    assigned, centroids = IVF.read(spark, sf_dir, cells, _IVF_ITERS)
    subcents = None
    if needs_cell_split(n, per_cell=125):
        # past cap * per_cell the cell count stops scaling — refine
        # the capped cells and probe two-level (never active at any
        # driver-verified scale, so the static oracle is untouched)
        assigned, subcents = split_oversized_cells(assigned, per_cell=125)
    train_index = assigned.filter(F.col("vec_id") % 5 != 0)
    test = emb.filter(F.col("vec_id") % 5 == 0)
    top1 = ivf_topk(
        emb, test, k=1, n_cells=cells, n_probe=_IVF_PROBE,
        iters=_IVF_ITERS, model=(train_index, centroids),
        sub_model=subcents,
    )
    return top1.select(
        "query_id",
        "neighbor_id",
        "cosine",
        (F.col("cosine") >= LEAK_REVIEW_COS).alias("flagged"),
    )


_PQ_M, _PQ_CODES, _PQ_REFINE = 4, 16, 8
_PQ_SUB = 16  # 64-dim embeddings / 4 subspaces

# Guard-band ceiling for _forced_pq_params, mirroring clustering.py's
# _GUARD_MAX_N: any driver/bench corpus sits FAR below operators/
# pq.py PQ_ACTIVATE (64k; the sf0.1 embeddings table is ~6k vectors),
# so a corpus landing INSIDE (PQ_ACTIVATE, 2 * PQ_ACTIVATE] is a
# fixture that grew past the activation point while the static replay
# oracle still encodes the floor literals — fail loudly there instead
# of silently shipping scaled params against a literal-generated
# oracle (a `n <= PQ_ACTIVATE and got != literals` branch would be
# dead code, because pq_params_for_corpus returns the literals below
# PQ_ACTIVATE by construction). A corpus jumping
# straight past the band in one regen is out of oracle territory
# altogether — the intentional-scale regime, where the scaled rule
# governs and the SCALE_r15/r16 recall measurements apply.
# Boundary note: the band is INCLUSIVE at exactly
# n == 2*PQ_ACTIVATE (128k), so a query-path corpus at precisely the
# measured (4,64,64) production point still raises — intentional
# fail-loud: the 128k recall measurements (SCALE_r16, recall 0.831)
# were taken through the operators directly, never through the
# oracle-coupled query path, and keeping the boundary inside the
# band means no corpus size exists where scaled params and a literal
# oracle can meet.
def _pq_guard_max_n() -> int:
    from gerrydb_etl_spark.operators.pq import PQ_ACTIVATE

    return 2 * PQ_ACTIVATE


def _forced_pq_params(n: int) -> tuple[int, int, int]:
    """Coupling guard (the _forced_per_cell pattern, 935644c): the
    static PQ replay oracle is generated with the
    (_PQ_M, _PQ_CODES, _PQ_REFINE) literals, so the EXECUTED
    parameters must equal them at every corpus size an oracle could
    plausibly run at — including the band just past operators/pq.py
    PQ_ACTIVATE, where pq_params_for_corpus starts returning scaled
    params by construction. A fixture regen pushing a driver corpus
    into (PQ_ACTIVATE, 2 * PQ_ACTIVATE] must fail loudly here
    instead of silently hash-mismatching the oracle. Past the band,
    where no oracle runs, the corpus-scaled rule takes over (the
    SCALE_r15 pq_tuning finding: the floor books stop resolving
    neighbors at production occupancy — recall@5 0.109 at 256k)."""
    from gerrydb_etl_spark.operators.pq import pq_params_for_corpus

    guard_max = _pq_guard_max_n()
    got = pq_params_for_corpus(
        n, floor_m=_PQ_M, floor_codes=_PQ_CODES, floor_refine=_PQ_REFINE
    )
    if n <= guard_max and got != (_PQ_M, _PQ_CODES, _PQ_REFINE):
        raise AssertionError(
            f"PQ params {got} depart from the oracle literals "
            f"({_PQ_M}, {_PQ_CODES}, {_PQ_REFINE}) inside the oracle "
            f"guard band (n={n} <= {guard_max}) — regenerate "
            "the PQ replay oracle or keep driver corpora below the "
            "activation threshold"
        )
    return got


def _pq_subspace_ctes(m: int, k: int, iters: int) -> str:
    """Per-subspace fixed-point k-means replay: the clustering.py
    _kmeans_ctes chain re-emitted under a p{m} prefix over the
    sliced quantized vectors (q must already be defined)."""
    lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
    sq = f"""list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(list_zip(q.qv, c.cv),
                  p -> (CAST(p[1] AS DOUBLE) - p[2])
                     * (CAST(p[1] AS DOUBLE) - p[2]))),
              (x, y) -> x + y)"""
    parts = [
        f"""p{m}q AS (
        SELECT vec_id, qv[{lo}:{hi}] AS qv FROM q
    ),
    p{m}c0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id,
               list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv
        FROM p{m}q ORDER BY vec_id LIMIT {k}
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""p{m}a{i} AS (
        SELECT vec_id, cluster_id, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, cluster_id) AS rn
        FROM (
            SELECT q.vec_id, c.cluster_id, {sq} AS d
            FROM p{m}q q, p{m}c{i - 1} c
        )
    )"""
        )
        if i < iters:
            parts.append(
                f"""p{m}c{i} AS (
        SELECT cluster_id,
               list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS cv
        FROM (
            SELECT f.cluster_id, f.i, SUM(f.comp) AS s, COUNT(*) AS n
            FROM (
                SELECT a.cluster_id,
                       generate_subscripts(q.qv, 1) AS i,
                       unnest(q.qv) AS comp
                FROM p{m}a{i} a
                JOIN p{m}q q ON a.vec_id = q.vec_id AND a.rn = 1
            ) f GROUP BY 1, 2
        ) GROUP BY cluster_id
    )"""
            )
    return ",\n    ".join(parts)


def _pq_replay_sql() -> str:
    """Full replay of pq_adc_topk: coarse IVF k-means (clustering.py
    CTE chain) + per-subspace codebook training + encoding + integer
    ADC partial sums + shortlist + exact quantized-double rescore."""
    from gerrydb_etl_spark.queries.clustering import _kmeans_ctes

    iters = _IVF_ITERS
    sub_ctes = ",\n    ".join(
        _pq_subspace_ctes(m, _PQ_CODES, iters) for m in range(_PQ_M)
    )
    codes_union = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {m} AS m, cluster_id AS code "
        f"FROM p{m}a{iters} WHERE rn = 1"
        for m in range(_PQ_M)
    )
    books_union = "\n        UNION ALL\n        ".join(
        f"SELECT {m} AS m, cluster_id AS code, cv FROM p{m}c{iters - 1}"
        for m in range(_PQ_M)
    )
    pdot = """list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(list_zip(list_slice(n.qv, b.m * 16 + 1,
                                               (b.m + 1) * 16), b.cv),
                p -> CAST(p[1] AS DOUBLE) * p[2])),
            (x, y) -> x + y)"""
    pnorm2 = """list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(b.cv, v -> v * v)), (x, y) -> x + y)"""
    qnorm = """sqrt(list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(qv, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
            (x, y) -> x + y))"""
    dot = _DVDOT.format(a="x.dv", b="y.dv")
    nx = _DVNORM.format(a="x.dv")
    ny = _DVNORM.format(a="y.dv")
    return f"""
    {_kmeans_ctes(_IVF_CELLS, iters)},
    {sub_ctes},
    codes AS (
        {codes_union}
    ),
    books AS (
        {books_union}
    ),
    cells AS (
        SELECT vec_id AS neighbor_id, cluster_id AS cell
        FROM a{iters} WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cluster_id AS cell
        FROM a{iters}
        WHERE vec_id < {N_QUERIES} AND rn <= {_IVF_PROBE}
    ),
    qn AS (
        SELECT vec_id AS query_id, {qnorm} AS q_nrm, qv
        FROM q WHERE vec_id < {N_QUERIES}
    ),
    dt AS (
        SELECT n.query_id, b.m, b.code,
               CAST(FLOOR({pdot} + 0.5) AS BIGINT) AS pdot_q,
               CAST(FLOOR({pnorm2} + 0.5) AS BIGINT) AS pnorm2_q
        FROM qn n, books b
    ),
    adc AS (
        SELECT p.query_id, c.neighbor_id,
               SUM(d.pdot_q) AS adot_q,
               SUM(d.pnorm2_q) AS anorm2_q
        FROM probes p
        JOIN cells c USING (cell)
        JOIN codes k ON k.vec_id = c.neighbor_id
        JOIN dt d ON d.query_id = p.query_id
                  AND d.m = k.m AND d.code = k.code
        WHERE p.query_id != c.neighbor_id
        GROUP BY 1, 2
    ),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.query_id, a.neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.query_id
                       ORDER BY CAST(a.adot_q AS DOUBLE)
                                / (n.q_nrm * sqrt(CAST(a.anorm2_q AS DOUBLE)))
                                DESC,
                                a.neighbor_id) AS arn
            FROM adc a JOIN qn n USING (query_id)
        ) WHERE arn <= {TOP_K * _PQ_REFINE}
    ),
    dvs AS (
        SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM q
    ),
    rescored AS (
        SELECT s.query_id, s.neighbor_id,
               {dot} / ({nx} * {ny}) AS cosine
        FROM shortlist s
        JOIN dvs x ON x.vec_id = s.query_id
        JOIN dvs y ON y.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id
                  ) AS rank
        FROM rescored
    ) WHERE rank <= {TOP_K}
    """


@query("pq_adc_topk", oracle=_pq_replay_sql())
def pq_adc_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 (16 coarse cells / 4 probes; 4 subspaces x
    16 codes; ADC shortlist of k*8 rescored exactly) — the
    memory-bounded scale path: the scoring join moves 4 code ids
    per candidate instead of a 64-float vector, the per-query work
    is table lookups + integer sums, and full vectors are touched
    only for the 40-row shortlist rescore (Jegou et al. 2011, the
    FAISS IVFPQ + refine layout; operators/pq.py has the 100 TB
    cost model). Every stage is fixed-point-deterministic, so
    codebook training, encoding, ADC and rescore ALL replay in
    DuckDB — a full value-hash oracle over a three-layer
    approximate index. Recall contract lives in pq_verify."""
    from gerrydb_etl_spark.operators.pq import pq_adc_topk
    from gerrydb_etl_spark.store.staging import (
        corpus_count,
        IVF,
        PQ,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # corpus-scaled PQ parameters behind the oracle-coupling guard:
    # the literals at every driver scale, the measured production
    # regime past PQ_ACTIVATE (SCALE_r15 pq_tuning)
    m_subs, n_codes, refine = _forced_pq_params(
        corpus_count(spark, sf_dir, "embeddings")
    )
    books, codes = PQ.read(spark, sf_dir, m_subs, n_codes, _IVF_ITERS)
    return pq_adc_topk(
        emb, queries, k=TOP_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
        iters=_IVF_ITERS, m_subs=m_subs, n_codes=n_codes,
        refine=refine,
        model=IVF.read(spark, sf_dir, _IVF_CELLS, _IVF_ITERS),
        books=books, codes=codes,
    )


@query("pq_verify", oracle=_recall_oracle(0.6))
def pq_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-anchored verification twin of pq_adc_topk: recall@5
    against the exact brute-force top-k, floored at 0.6 (measured
    0.82 at sf0.01, 0.72 at sf0.1 on the near-uniform corpus —
    between IVF-Flat's 0.92+ and hyperplane LSH's 0.64, the
    expected cost of scoring through 4 code ids instead of 64
    floats before the rescore). Excluded from bench.py timing;
    recorded in the BENCH_FULL verify lane.

    Uses the SAME session-staged IVF/PQ models as the production
    twin (fixed-point training — staged values identical to inline,
    recall report unchanged): the lane profile in PERF.md showed
    the 11-12s lane floor was ~10s of avoidable INLINE
    coarse-quantizer + codebook retraining (truth-set exact top-k
    0.9s, ADC+rescore on staged models 4.3s) — not the
    'O(corpus x queries) truth-set cost' previously assumed."""
    from gerrydb_etl_spark.operators.pq import pq_adc_topk
    from gerrydb_etl_spark.store.staging import (
        corpus_count,
        IVF,
        PQ,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = cosine_topk(emb, queries, k=TOP_K)
    # same corpus-scaled params as the production twin — the recall
    # contract must grade the parameters that actually ship
    m_subs, n_codes, refine = _forced_pq_params(
        corpus_count(spark, sf_dir, "embeddings")
    )
    books, codes = PQ.read(spark, sf_dir, m_subs, n_codes, _IVF_ITERS)
    approx = pq_adc_topk(
        emb, queries, k=TOP_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
        iters=_IVF_ITERS, m_subs=m_subs, n_codes=n_codes,
        refine=refine,
        model=IVF.read(spark, sf_dir, _IVF_CELLS, _IVF_ITERS),
        books=books, codes=codes,
    )
    return _ann_recall_report(exact, approx, floor=0.6)


def _stream_index_oracle() -> str:
    from gerrydb_etl_spark.queries.clustering import _kmeans_ctes

    return f"""
    {_kmeans_ctes(_IVF_CELLS, _IVF_ITERS)}
    SELECT vec_id, cluster_id AS cell
    FROM a{_IVF_ITERS} WHERE rn = 1
    """


@query("embeddings_stream_index_ingest", oracle=_stream_index_oracle())
def embeddings_stream_index_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming IVF vector-index maintenance
    (streaming/stream.py run_stream_vector_index): embeddings
    arrive in 2 deterministic micro-batches and are cell-assigned
    ONLINE against the pre-trained coarse quantizer, each epoch
    appending to a cell-partitioned index behind an idempotent
    commit marker. The query returns the final streamed index
    assignment; hash-matching the batch k-means replay proves the
    streamed index is row-identical to a batch rebuild — no vector
    lost, duplicated, or mis-assigned across epochs (restart
    parity is additionally proven in tests/test_streaming.py).

    Two epochs, not four: at bench scale the
    wall was ~1.1s of fixed micro-batch engine overhead PER EPOCH on
    a trivial 500-vector projection (measured 3.1s/3.7s/6.3s at
    1/2/4 epochs) — four epochs benched the engine, not the plan.
    Two keeps the multi-epoch union/commit path live; replay and
    restart parity stay test-gated at their own epoch counts, and
    the oracle (batch k-means replay) is batch-count invariant."""
    import shutil
    import tempfile

    from gerrydb_etl_spark.store.staging import EPOCHS
    from gerrydb_etl_spark.streaming.stream import run_stream_vector_index

    work = tempfile.mkdtemp(prefix="emb_index_ingest_")
    try:
        out = run_stream_vector_index(
            spark, sf_dir, work, n_cells=_IVF_CELLS, iters=_IVF_ITERS,
            n_batches=2,
            # session-staged epoch input: the per-call staging
            # writes were ~0.45s of harness cost inside the timed
            # query (.scale/opt_r18_epochstage_share.json)
            stage_dir=EPOCHS.read(
                spark, sf_dir, "embeddings", "vec_id", "emb", 2,
                files_per_batch=1,
            ),
        ).select("vec_id", F.col("cell").cast("int").alias("cell"))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _kmeans_ctes_ivf() -> str:
    from gerrydb_etl_spark.queries.clustering import _kmeans_ctes

    return _kmeans_ctes(_IVF_CELLS, _IVF_ITERS)


@query(
    "ivf_index_quality",
    oracle=f"""
    {_kmeans_ctes_ivf()}
    , final AS (
        SELECT vec_id, cluster_id AS cell, d
        FROM a{_IVF_ITERS} WHERE rn = 1
    ),
    per_cell AS (
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               SUM(CAST(FLOOR(d + 0.5) AS BIGINT)) AS sq_err_q
        FROM final GROUP BY cell
    )
    SELECT cell, n_vecs,
           CAST(n_vecs AS DOUBLE)
               / (CAST(SUM(n_vecs) OVER () AS DOUBLE)
                  / CAST(COUNT(*) OVER () AS DOUBLE)) AS balance,
           CAST(sq_err_q AS DOUBLE) / CAST(n_vecs AS DOUBLE)
               AS mean_sq_err_q
    FROM per_cell
    """,
)
def ivf_index_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-quality audit — the vector-index ops report: per
    coarse cell, its occupancy, its balance factor (occupancy over
    the uniform expectation N/k — the skew number that decides
    whether probes hit hot cells), and its mean quantization error
    (average squared distance to the centroid in quantized units —
    rising error means the corpus drifted from the trained model
    and the index wants re-training). The production re-index
    trigger watches exactly these two numbers.

    Determinism: per-vector distances are the sequential folds of
    the fixed-point k-means; each is snapped to an exact BIGINT
    (floor(d + 0.5)) BEFORE the per-cell SUM so no double-sum
    ordering leaks, and the two ratios are single fixed-spelling
    divisions. 100 TB: one narrow literal-centroid projection + one
    map-side-combined k-group aggregation; windows run over
    k = {_IVF_CELLS} rows."""
    from gerrydb_etl_spark.operators.kmeans import assign
    from gerrydb_etl_spark.store.staging import IVF

    assigned, centroids = IVF.read(spark, sf_dir, _IVF_CELLS, _IVF_ITERS)
    # re-derive the distance narrowly (the staged assignment keeps
    # only (vec_id, cluster_id, qv)); assign() recomputes the same
    # argmin + distance from the same literal centroids
    scored = assign(assigned.select("vec_id", "qv"), centroids).select(
        F.col("cluster_id").alias("cell"),
        F.floor(F.col("sq_dist_q") + F.lit(0.5)).cast("long").alias("dq"),
    )
    per_cell = scored.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("dq").alias("sq_err_q"),
    )
    w = Window.partitionBy()
    balance = F.col("n_vecs").cast("double") / (
        F.sum("n_vecs").over(w).cast("double")
        / F.count("*").over(w).cast("double")
    )
    return per_cell.select(
        "cell",
        "n_vecs",
        balance.alias("balance"),
        (F.col("sq_err_q").cast("double") / F.col("n_vecs").cast("double"))
        .alias("mean_sq_err_q"),
    )


def _int8_recall_oracle() -> str:
    ifold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), (a, b) -> a + b)"
    )
    return (
        _EXACT_TOPK_SQL
        + f"""
    , c8 AS (
        SELECT vec_id,
               list_transform(embedding,
                   v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127.0 / ma + 0.5)
                             AS BIGINT)) AS c8
        FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                                           v -> abs(CAST(v AS DOUBLE)))) AS ma
            FROM embeddings
        ) WHERE ma > 0
    ),
    n8 AS (
        SELECT vec_id, c8,
               {ifold.format(arr="list_transform(c8, x -> x * x)")} AS nn
        FROM c8
    ),
    s8 AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({ifold.format(
                   arr="list_transform(list_zip(q.c8, c.c8), p -> p[1] * p[2])"
               )} AS DOUBLE)
               / (sqrt(CAST(q.nn AS DOUBLE)) * sqrt(CAST(c.nn AS DOUBLE)))
                   AS cos8
        FROM n8 q JOIN n8 c
          ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
    ),
    r8 AS (
        SELECT query_id, neighbor_id, rk FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos8 DESC, neighbor_id) AS rk
            FROM s8
        ) WHERE rk <= {TOP_K}
    ),
    truth_r AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id)
                       AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    )
    SELECT t.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_overlap,
           BOOL_OR(t.rank = 1 AND i.rk = 1) AS top1_match
    FROM truth_r t
    LEFT JOIN r8 i ON i.query_id = t.query_id
                   AND i.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """
    )


@query("embedding_int8_recall", oracle=_int8_recall_oracle())
def embedding_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding-compression audit: per-vector symmetric
    max-abs scalar quantization to 8-bit codes (the standard
    vector-DB compression step — 4x smaller than float32, integer
    dot products), then per query: how many of the exact float
    top-5 the int8-scored top-5 recovers, and whether the top-1
    survives. The decision input for "can this corpus serve ANN
    from int8 storage". All-integer scoring (exact BIGINT dot and
    norm sums — no float-sum ordering anywhere) and a fixed floor
    spelling for the codes -> full value-hash oracle.

    Plan: codes + integer norms fold once per vector (maxabs bound
    to its own column first — the expression-tree duplication
    lesson); the scoring join broadcasts the 10-query side; the
    exact baseline is the whitelisted brute-force truth join."""
    emb = load_table(spark, sf_dir, "embeddings")
    with_ma = emb.select("vec_id", "embedding").withColumn(
        "_ma",
        F.array_max(
            F.transform("embedding", lambda v: F.abs(v.cast("double")))
        ),
    ).filter(F.col("_ma") > 0)
    codes = with_ma.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(
                v.cast("double") * F.lit(127.0) / F.col("_ma") + F.lit(0.5)
            ).cast("long"),
        ).alias("c8"),
    )
    ifold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, b: a + b
    )
    n8 = codes.withColumn(
        "nn", ifold(F.transform("c8", lambda x: x * x))
    )
    q8 = n8.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("c8").alias("qc"),
        F.col("nn").alias("qn"),
    )
    s8 = (
        n8.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("c8").alias("nc"),
            F.col("nn").alias("cn"),
        )
        .join(F.broadcast(q8), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                ifold(
                    F.zip_with("qc", "nc", lambda x, y: x * y)
                ).cast("double")
                / (
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("cn").cast("double"))
                )
            ).alias("cos8"),
        )
    )
    w8 = Window.partitionBy("query_id").orderBy(
        F.desc("cos8"), F.asc("neighbor_id")
    )
    r8 = (
        s8.withColumn("rk", F.row_number().over(w8))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "rk")
    )
    truth = cosine_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K
    ).select("query_id", "neighbor_id", "rank")
    joined = truth.join(
        r8.withColumnRenamed("rk", "rk8"),
        ["query_id", "neighbor_id"],
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("rk8").cast("long").alias("n_overlap"),
        F.coalesce(
            F.max((F.col("rank") == 1) & (F.col("rk8") == 1)), F.lit(False)
        ).alias("top1_match"),
    )


SEMDECON_COS = 0.4  # same review threshold family as NEARDUP_COS
SEMDECON_MOD = 97   # the curation-layer benchmark residue class
SEMDECON_CAP = 10   # flags surfaced per benchmark item (documented cap)


def _semantic_decontam_replay_sql() -> str:
    from gerrydb_etl_spark.queries.clustering import _kmeans_ctes

    dot = _DVDOT.format(a="x.dv", b="y.dv")
    nx = _DVNORM.format(a="x.dv")
    ny = _DVNORM.format(a="y.dv")
    return f"""
    {_kmeans_ctes(_IVF_CELLS, _IVF_ITERS)},
    dvs AS (
        SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM q
    ),
    cells AS (
        SELECT vec_id AS neighbor_id, cluster_id AS cell
        FROM a{_IVF_ITERS} WHERE rn = 1 AND vec_id % {SEMDECON_MOD} != 0
    ),
    probes AS (
        SELECT vec_id AS query_id, cluster_id AS cell
        FROM a{_IVF_ITERS}
        WHERE vec_id % {SEMDECON_MOD} = 0 AND rn <= {_IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, c.neighbor_id,
               {dot} / ({nx} * {ny}) AS cosine
        FROM probes p
        JOIN cells c USING (cell)
        JOIN dvs x ON x.vec_id = p.query_id
        JOIN dvs y ON y.vec_id = c.neighbor_id
    )
    SELECT query_id AS bench_id, neighbor_id AS corpus_id, cosine
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id
                  ) AS rank
        FROM scored
    ) WHERE rank <= {SEMDECON_CAP} AND cosine >= {SEMDECON_COS}
    """


@query("semantic_decontam", oracle=_semantic_decontam_replay_sql())
def semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the EMBEDDING analogue of the
    n-gram benchmark_decontam pass (the PaLM/GPT-4-style report:
    flag training documents semantically too close to an eval
    item even when no 13-gram matches): every benchmark-class
    vector (the curation layer's vec_id % 97 residue) probes an
    IVF index holding ONLY non-benchmark corpus vectors; corpus
    items within cosine >= 0.4 of any benchmark item are surfaced
    for removal, capped at the 10 closest flags per benchmark item
    (the cap is the documented review-queue bound — at 100 TB a
    reviewer sees the worst offenders first, and a benchmark item
    flooding past the cap is itself the signal). Same batch-ANN
    production shape and full fixed-point replay oracle as
    embedding_split_leakage."""
    from gerrydb_etl_spark.operators.ivf import ivf_topk
    from gerrydb_etl_spark.operators.kmeans import (
        cells_for_corpus,
        needs_cell_split,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.store.staging import corpus_count, IVF

    emb = load_table(spark, sf_dir, "embeddings")
    # corpus-scaled cells + the past-the-cap hierarchy, same contract
    # as embedding_split_leakage: == _IVF_CELLS (the oracle literal)
    # at every driver-verified scale
    n = corpus_count(spark, sf_dir, "embeddings")
    cells = cells_for_corpus(n, floor_k=_IVF_CELLS, per_cell=125)
    assigned, centroids = IVF.read(spark, sf_dir, cells, _IVF_ITERS)
    subcents = None
    if needs_cell_split(n, per_cell=125):
        assigned, subcents = split_oversized_cells(assigned, per_cell=125)
    index = assigned.filter(F.col("vec_id") % SEMDECON_MOD != 0)
    bench = emb.filter(F.col("vec_id") % SEMDECON_MOD == 0)
    top = ivf_topk(
        emb, bench, k=SEMDECON_CAP, n_cells=cells,
        n_probe=_IVF_PROBE, iters=_IVF_ITERS, model=(index, centroids),
        sub_model=subcents,
    )
    return top.filter(F.col("cosine") >= SEMDECON_COS).select(
        F.col("query_id").alias("bench_id"),
        F.col("neighbor_id").alias("corpus_id"),
        "cosine",
    )
