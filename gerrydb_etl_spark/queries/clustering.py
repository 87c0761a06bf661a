"""Clustering queries over `embeddings`: fixed-point k-means
training and SemDeDup semantic dedup (SURVEY.md §2.12 extension).

Both carry FULL value-hash oracles: the fixed-point arithmetic in
operators/kmeans.py (integer centroid sums, sequential-fold
distances) is replayed iteration by iteration in chained DuckDB
CTEs generated by `_kmeans_ctes` — a complete SQL re-execution of
the training run, not a spot check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.kmeans import kmeans_train, semantic_dedup
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

K = 8
ITERS = 3
TAU = 0.4

# sequential left fold of squared differences in DOUBLE — the same
# operation F.aggregate(zip_with(...)) performs on the Spark side
_SQDIST = """list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(list_zip(q.qv, c.cv),
                  p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))),
              (x, y) -> x + y)"""


def _kmeans_ctes(k: int, iters: int) -> str:
    """WITH-chain replaying `iters` assignment passes: quantize ->
    c0 (first-k centroids) -> a1 -> c1 -> a2 -> ... -> a{iters}."""
    parts = [
        f"""q AS (
        SELECT vec_id,
               list_transform(embedding,
                   v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    c0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id,
               list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv
        FROM q ORDER BY vec_id LIMIT {k}
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS (
        SELECT vec_id, cluster_id, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
        FROM (
            SELECT q.vec_id, c.cluster_id, {_SQDIST} AS d
            FROM q, c{i - 1} c
        )
    )"""
        )
        if i < iters:
            parts.append(
                f"""c{i} AS (
        SELECT cluster_id, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS cv
        FROM (
            SELECT f.cluster_id, f.i, SUM(f.comp) AS s, COUNT(*) AS n
            FROM (
                SELECT a.cluster_id,
                       generate_subscripts(q.qv, 1) AS i,
                       unnest(q.qv) AS comp
                FROM a{i} a JOIN q ON a.vec_id = q.vec_id AND a.rn = 1
            ) f GROUP BY 1, 2
        ) GROUP BY cluster_id
    )"""
            )
    return "WITH " + ",\n    ".join(parts)


@query(
    "kmeans_train_assign",
    oracle=f"""
    {_kmeans_ctes(K, ITERS)}
    SELECT vec_id, cluster_id, d AS sq_dist_q
    FROM a{ITERS} WHERE rn = 1
    """,
)
def kmeans_train_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 k-means, 3 Lloyd assignment passes over the quantized
    embeddings; output is the final (vec_id, cluster_id, sq_dist_q)
    assignment, value-hash-matched against a full SQL replay of the
    training run (operators/kmeans.py has the determinism and 100 TB
    cost model)."""
    return kmeans_train(load_table(spark, sf_dir, "embeddings"), k=K, iters=ITERS)


@query(
    "semantic_dedup_survivors",
    oracle=f"""
    {_kmeans_ctes(K, ITERS)},
    assigned AS (
        SELECT a.vec_id, a.cluster_id,
               list_transform(q.qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM a{ITERS} a JOIN q ON a.vec_id = q.vec_id AND a.rn = 1
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(list_zip(a.dv, b.dv), p -> p[1] * p[2])),
                  (x, y) -> x + y)
              / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                      list_transform(a.dv, v -> v * v)), (x, y) -> x + y))
                 * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                      list_transform(b.dv, v -> v * v)), (x, y) -> x + y)))
              >= {TAU}
    )
    SELECT s.vec_id, s.cluster_id
    FROM assigned s ANTI JOIN dropped d ON s.vec_id = d.vec_id
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): within each k-means cell, drop
    vectors with an earlier cosine>=0.4 neighbor; survivors keep
    their cell id. The pairwise join is cell-local, so candidate
    volume is sum(cell^2), not corpus^2 — the oracle replays
    training + pairing + anti-join end to end. Consumes the
    session-staged trained model (store/staging.py): the quantizer
    is write-once corpus state like the shingle inverted index, and
    the staged values are identical to inline training, so the
    re-training oracle still hash-matches."""
    from gerrydb_etl_spark.operators.kmeans import (
        cells_for_corpus,
        needs_cell_split,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.store.staging import corpus_count, KMEANS

    emb = load_table(spark, sf_dir, "embeddings")
    # corpus-scaled k (see cells_for_corpus): == K at every
    # driver-verified scale, so the static k-literal oracle holds;
    # above bench scale it keeps cell occupancy ~250 and same-cell
    # pair volume linear instead of quadratic (1.7s -> 248s at the
    # natural sf1 with k frozen — the full-registry scale sweep's
    # biggest finding)
    n = corpus_count(spark, sf_dir, "embeddings")
    k_dyn = cells_for_corpus(n, floor_k=K)
    assigned = KMEANS.read(spark, sf_dir, k=k_dyn, iters=ITERS)
    if needs_cell_split(n):
        # past cap * per_cell (~128k) vectors k stops scaling and
        # occupancy grows again — refine the capped cells with the
        # second quantizer level so pair volume stays linear; never
        # active at any driver-verified scale (oracle untouched)
        assigned, _ = split_oversized_cells(assigned)
    return semantic_dedup(
        emb, k=k_dyn, iters=ITERS, tau=TAU, assigned=assigned,
    )


# forced-low hierarchy parameters: at 500 sf0.01 vectors a k=4 top
# level leaves cells far above 4 x 25, so the second quantizer level
# ACTIVATES at driver scale and the full two-level training replays
# in the oracle (the production activation threshold, needs_cell_split,
# only fires past cap * per_cell — this query pins the split math
# itself under the driver's value-hash gate)
_HK, _HITERS, _HPER = 4, 2, 25

# guard band for the per_cell/oracle-literal coupling:
# the forced-split queries scale per_cell as max(floor, n // 80),
# whose value SILENTLY departs from the oracles' hardcoded floor
# literal once n exceeds 80 * (floor + 1) = 2,080. Today's corpora:
# oracle scales ship 500 embeddings, bench-scale sf0.1 ships 2,000 —
# EXACTLY on the boundary (2000 // 80 == 25 == the floor). Any corpus
# inside (2,080, _GUARD_MAX_N] is therefore a fixture that GREW past
# the divergence point (no oracle or bench corpus legitimately sits
# there; the scale harnesses run these queries at sf1 = 20k, far
# above), and _forced_per_cell fails loudly on it. A fixture jumping
# straight past _GUARD_MAX_N in one regen is out of the band — the
# primary defense for that is tests/test_kmeans.py::
# test_hier_demo_per_cell_rule_pinned_to_fixture_sizes, which
# recomputes the coupling from the real parquet on every run; this
# runtime guard is defense-in-depth at the query itself.
_GUARD_MAX_N = 4_000


def _forced_per_cell(n: int, floor: int) -> int:
    """Corpus-scaled per_cell for the forced-split queries
    (hierarchical_cells_assign / ivf_multiprobe_twolevel): max(floor,
    n // 80) keeps the second-level join volume linear above bench
    scale, while the static SQL replay oracles hardcode the FLOOR.
    The two spellings agree exactly while n <= 80 * floor; every
    oracle-verified or benched corpus sits at-or-under that boundary
    today, so a value inside the guard band that disagrees with the
    floor is a fixture regen that silently crossed the divergence
    point — it fails here with the coupling named instead of
    surfacing as an unexplained value-hash mismatch."""
    per_cell = max(floor, n // 80)
    if n <= _GUARD_MAX_N and per_cell != floor:
        raise ValueError(
            f"forced-split per_cell coupling violated: corpus n={n} is "
            f"inside the oracle/bench guard band (<= {_GUARD_MAX_N}) "
            f"but the scaled per_cell {per_cell} != the oracle floor "
            f"literal {floor} — the SQL replay was generated with the "
            "floor, so this fixture growth would flip the query from "
            "hash-matched to mismatched; regenerate the oracle (or "
            "raise the floor) together with the fixture"
        )
    return per_cell

_HSQD = """list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(list_zip(r.qv, c.cv),
                  p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))),
              (x, y) -> x + y)"""


def _split_replay_ctes(per_cell: int, a_cte: str) -> str:
    """CTE chain replaying one split_oversized_cells pass (iters=2,
    max_levels=1) over the rank-1 assignment in ``a_cte``: counts ->
    ceil m/stride -> strided init (s0) -> grouped assignment (b1) ->
    one integer-sum update (s1 — the returned codebook) -> final
    grouped assignment (b2). Composed by _hier_oracle (assignment
    consumer) and the two-level multiprobe oracle (codebook + home
    block consumer)."""
    return f"""top AS (
        SELECT a.vec_id, a.cluster_id, q.qv
        FROM {a_cte} a JOIN q ON a.vec_id = q.vec_id AND a.rn = 1
    ),
    meta AS (
        SELECT cluster_id, n,
               (n + {per_cell} - 1) // {per_cell} AS m,
               (n + ((n + {per_cell} - 1) // {per_cell}) - 1)
                   // ((n + {per_cell} - 1) // {per_cell}) AS stride
        FROM (SELECT cluster_id, COUNT(*) AS n FROM top GROUP BY 1)
        WHERE n > 4 * {per_cell}
    ),
    rows_ AS (
        SELECT t.vec_id, t.cluster_id, t.qv,
               ROW_NUMBER() OVER (PARTITION BY t.cluster_id
                                  ORDER BY t.vec_id) AS rn
        FROM top t SEMI JOIN meta m ON t.cluster_id = m.cluster_id
    ),
    s0 AS (
        SELECT r.cluster_id,
               CAST((r.rn - 1) // m.stride AS INT) AS sub,
               list_transform(r.qv, x -> CAST(x AS DOUBLE)) AS cv
        FROM rows_ r JOIN meta m ON r.cluster_id = m.cluster_id
        WHERE (r.rn - 1) % m.stride = 0
    ),
    b1 AS (
        SELECT vec_id, cluster_id, sub, qv,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, sub) AS rn2
        FROM (
            SELECT r.vec_id, r.cluster_id, c.sub, r.qv, {_HSQD} AS d
            FROM rows_ r JOIN s0 c ON r.cluster_id = c.cluster_id
        )
    ),
    s1 AS (
        SELECT cluster_id, sub,
               list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS cv
        FROM (
            SELECT f.cluster_id, f.sub, f.i, SUM(f.comp) AS s, COUNT(*) AS n
            FROM (
                SELECT b.cluster_id, b.sub,
                       generate_subscripts(b.qv, 1) AS i,
                       unnest(b.qv) AS comp
                FROM b1 b WHERE b.rn2 = 1
            ) f GROUP BY 1, 2, 3
        ) GROUP BY cluster_id, sub
    ),
    b2 AS (
        SELECT vec_id, cluster_id, sub,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, sub) AS rn2
        FROM (
            SELECT r.vec_id, r.cluster_id, c.sub, r.qv, {_HSQD} AS d
            FROM rows_ r JOIN s1 c ON r.cluster_id = c.cluster_id
        )
    )"""


def _hier_oracle() -> str:
    """Full SQL replay of split_oversized_cells over the k=4/iters=2
    top-level model: counts -> ceil m/stride -> strided init -> two
    grouped assignment passes with one integer-sum update between."""
    return f"""
    {_kmeans_ctes(_HK, _HITERS)},
    {_split_replay_ctes(_HPER, f"a{_HITERS}")}
    SELECT t.vec_id, t.cluster_id,
           CAST(COALESCE(b.sub, 0) AS INT) AS sub_id
    FROM top t
    LEFT JOIN (SELECT vec_id, sub FROM b2 WHERE rn2 = 1) b
           ON t.vec_id = b.vec_id
    """


@query("hierarchical_cells_assign", oracle=_hier_oracle())
def hierarchical_cells_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level quantizer assignment (vec_id, cluster_id, sub_id)
    with the split FORCED active at driver scale (per_cell=25 under a
    k=4 top level): the full second-level training — ceil-derived
    subcell counts, strided deterministic seeds, grouped integer-sum
    Lloyd — replays step-for-step in the DuckDB oracle, pinning the
    exact arithmetic the past-the-cap production path
    (needs_cell_split in semantic dedup / IVF) relies on."""
    from gerrydb_etl_spark.store.staging import corpus_count, KMEANS_SPLIT

    # corpus-scaled per_cell, floor == the oracle literal at every
    # driver-verified scale (the cells_for_corpus pattern; coupling
    # enforced by _forced_per_cell): with per_cell FROZEN under a
    # fixed k=4 the second-level join volume is sum(n_c * m_c) ~
    # n^2 / (k * per_cell) — quadratic in the corpus (measured 3.3s
    # -> 48.4s at the natural 10x). Scaling per_cell with n keeps
    # subcell counts, and the join, linear.
    n = corpus_count(spark, sf_dir, "embeddings")
    per_cell = _forced_per_cell(n, _HPER)
    # max_levels=1 pins the ONE-level contract this query's oracle
    # replays: the SQL replay is exactly one strided-seed Lloyd pass,
    # so the recursive default (which would re-split any still-
    # oversized subcell and diverge from the replay the moment a
    # fixture produces one) must not engage here. The recursion
    # itself is value-gated by the forced-skew unit battery
    # (tests/test_kmeans.py), and the production activation sites
    # (needs_cell_split branches) use the recursive default. The
    # split is SESSION-STAGED: the second quantizer level is
    # write-once corpus state like the k=4 model it refines — else
    # this query and ivf_multiprobe_twolevel would each re-train it
    # inline per call; values identical (fixed-point), oracle replays the
    # full training unchanged. The k=4 top-level model it refines is
    # session-staged like every other trained quantizer (the split
    # fixture's dependency).
    split, _ = KMEANS_SPLIT.read(spark, sf_dir, _HK, _HITERS, per_cell)
    return split.select("vec_id", "cluster_id", "sub_id")


# THE canonical quantized-double fold spellings (sequential left
# fold, 0.0::DOUBLE seed — the exact arithmetic F.aggregate/zip_with
# performs on the Spark side). Value-hash-critical: every cosine
# oracle must compose these templates rather than re-spell them
# (llm_similarity.py's _DVDOT/_DVNORM are these, re-exported).
DVDOT_SQL = """list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(list_zip({a}, {b}), p -> p[1] * p[2])),
        (x, y) -> x + y)"""
DVNORM_SQL = """sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        list_transform({a}, v -> v * v)), (x, y) -> x + y))"""


# forced two-level multiprobe parameters: the same k=4/per_cell=25
# forcing as hierarchical_cells_assign, but consumed by the
# multiprobe PAIRING path — at 500 sf0.01 vectors every coarse cell
# splits, so the two-level probe (home block FROM the split
# assignment, secondary probes ranked via the subcentroid join)
# executes at driver scale under a full value-hash oracle
_TLPER = 25
_TL_TAU = 0.35
_TL_PROBES = 2


def _twolevel_multiprobe_oracle() -> str:
    """Full SQL replay of the two-level multiprobe near-dup: k=4
    training -> one split pass (codebook s1, final blocks b2) ->
    home blocks from the split assignment + rn=2 secondary probes
    ranked against s1 -> refined-block pairing -> rescore ->
    DISTINCT."""
    dot = DVDOT_SQL.format(a="a.dv", b="b.dv")
    na = DVNORM_SQL.format(a="a.dv")
    nb = DVNORM_SQL.format(a="b.dv")
    return f"""
    {_kmeans_ctes(_HK, _HITERS)},
    {_split_replay_ctes(_TLPER, f"a{_HITERS}")},
    home AS (
        SELECT t.vec_id, t.cluster_id,
               CAST(COALESCE(b.sub, 0) AS INT) AS sub_id, t.qv
        FROM top t
        LEFT JOIN (SELECT vec_id, sub FROM b2 WHERE rn2 = 1) b
               ON t.vec_id = b.vec_id
    ),
    sec AS (
        SELECT a.vec_id, a.cluster_id, q.qv
        FROM a{_HITERS} a JOIN q ON a.vec_id = q.vec_id
        WHERE a.rn >= 2 AND a.rn <= {_TL_PROBES}
    ),
    sec_scored AS (
        SELECT r.vec_id, r.cluster_id, r.qv,
               CAST(COALESCE(c.sub, 0) AS INT) AS sub_id,
               CASE WHEN c.sub IS NULL THEN 0.0 ELSE {_HSQD} END AS d
        FROM sec r LEFT JOIN s1 c ON r.cluster_id = c.cluster_id
    ),
    sec_ranked AS (
        SELECT vec_id, cluster_id, sub_id, qv FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, cluster_id
                                         ORDER BY d, sub_id) AS rnk
            FROM sec_scored
        ) WHERE rnk = 1
    ),
    blk AS (
        SELECT vec_id, cluster_id, sub_id,
               list_transform(qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM (
            SELECT vec_id, cluster_id, sub_id, qv FROM home
            UNION ALL
            SELECT vec_id, cluster_id, sub_id, qv FROM sec_ranked
        )
    )
    SELECT DISTINCT d1, d2, cosine FROM (
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               {dot} / ({na} * {nb}) AS cosine
        FROM blk a JOIN blk b
          ON a.cluster_id = b.cluster_id AND a.sub_id = b.sub_id
         AND a.vec_id < b.vec_id
    ) WHERE cosine >= {_TL_TAU}
    """


@query("ivf_multiprobe_twolevel", oracle=_twolevel_multiprobe_oracle())
def ivf_multiprobe_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level multiprobe near-dup pairs with the past-the-cap
    subcell path FORCED ACTIVE at driver scale (k=4 coarse cells,
    per_cell=25 — every sf0.01 cell is oversized and splits), closing
    the one gap where shipped scale behavior had only unit coverage:
    the production ivf_multiprobe_neardup
    engages this exact path past cap * per_cell = 64k vectors, which
    no driver-verified corpus reaches. The executed plan blocks on
    the refined (cluster_id, sub_id) key: each vector's HOME probe
    row takes its block straight from the split assignment (joined
    by vec_id — dominance over single-probe pairing by
    construction), and only secondary probe rows rank against
    the subcentroid TABLE (a join, not plan literals — the fine
    codebook grows with the corpus). max_levels=1 pins the one-pass
    split the oracle replays, exactly as hierarchical_cells_assign
    pins its assignment twin; per_cell is corpus-scaled (floor == the
    oracle literal at every driver-verified scale). The oracle
    replays training -> split -> home/secondary block derivation ->
    refined-block pairing -> rescore -> DISTINCT end to end."""
    from gerrydb_etl_spark.operators.kmeans import multiprobe_pairs
    from gerrydb_etl_spark.store.staging import corpus_count, IVF, IVF_SPLIT

    emb = load_table(spark, sf_dir, "embeddings")
    # the k=4 model is staged with its centroid side: probe ranking
    # needs the ORIGINAL centroids, not derivable from the assignment
    assigned, cents = IVF.read(spark, sf_dir, _HK, _HITERS)
    n = corpus_count(spark, sf_dir, "embeddings")
    # floor == the oracle literal at every oracle-verified scale;
    # _forced_per_cell fails loudly if a fixture regen breaks that
    per_cell = _forced_per_cell(n, _TLPER)
    # the one-pass split is session-staged (same write-once
    # index economics as the k=4 model — see
    # hierarchical_cells_assign); values identical to inline
    # training, the full-replay oracle unchanged
    sub_model = IVF_SPLIT.read(spark, sf_dir, _HK, _HITERS, per_cell)
    return multiprobe_pairs(
        emb, tau=_TL_TAU, centroids=cents, probes=_TL_PROBES,
        sub_model=sub_model,
        # rank probes from the staged assignment's qv (already in the
        # fanned training layout) instead of re-quantizing the raw
        # scan — drops a corpus read + exchange per query, values
        # identical (attribution in .scale/drift_r15.json)
        quant=assigned.select("vec_id", "qv"),
    )


# blocked-pair threshold: inside the corpus's near-dup band (the
# 10-cluster synthetic geometry yields 83/115 same-cell pairs at the
# two driver scales — enough rows to hash meaningfully, sparse
# enough that the pair set is a real selection)
BLOCKED_TAU = 0.35


@query(
    "ivf_blocked_neardup",
    oracle=f"""
    {_kmeans_ctes(K, ITERS)},
    assigned AS (
        SELECT a.vec_id, a.cluster_id,
               list_transform(q.qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM a{ITERS} a JOIN q ON a.vec_id = q.vec_id AND a.rn = 1
    )
    SELECT d1, d2, cluster_id, cosine FROM (
        SELECT a.vec_id AS d1, b.vec_id AS d2, a.cluster_id,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(list_zip(a.dv, b.dv), p -> p[1] * p[2])),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(a.dv, v -> v * v)), (x, y) -> x + y))
                  * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(b.dv, v -> v * v)), (x, y) -> x + y)))
                   AS cosine
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    ) WHERE cosine >= {BLOCKED_TAU}
    """,
)
def ivf_blocked_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-blocked vector near-dup PAIRS (d1 < d2, cell, cosine >=
    {tau}) — the corpus-scaled production plan for vector-space
    near-dup that SCALE_r11's embedding_neardup profile names as the
    100 TB path: candidates come from k-means cells whose count
    scales with the corpus (cells_for_corpus), so pair volume is
    sum(cell^2) ~ linear, where the fixed-signature-domain LSH tier
    grows its bucket occupancy (and its candidate volume) with the
    corpus. Cosine folds over quantized doubles; the oracle replays
    training -> assignment -> same-cell pairing -> rescore end to
    end. Cross-cell pairs are out of scope by construction (the
    SemDeDup recall tradeoff, floor pinned by
    test_cell_blocked_pairs_recall); past cap * per_cell the
    needs_cell_split branch refines pairing onto subcells exactly as
    in semantic_dedup_survivors."""
    from gerrydb_etl_spark.operators.kmeans import (
        cell_blocked_pairs,
        cells_for_corpus,
        needs_cell_split,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.store.staging import corpus_count, KMEANS

    emb = load_table(spark, sf_dir, "embeddings")
    n = corpus_count(spark, sf_dir, "embeddings")
    k_dyn = cells_for_corpus(n, floor_k=K)
    assigned = KMEANS.read(spark, sf_dir, k=k_dyn, iters=ITERS)
    if needs_cell_split(n):
        # never active at any driver-verified scale (oracle untouched)
        assigned, _ = split_oversized_cells(assigned)
    return cell_blocked_pairs(
        emb, tau=BLOCKED_TAU, k=k_dyn, iters=ITERS, assigned=assigned
    )


# near-dup-grade twin: at BLOCKED_TAU=0.35 the
# sf1 output is 733k pairs — output volume swamps plan cost in the
# bench. This twin keeps the SAME plan at a dup-grade threshold; the
# synthetic corpus has zero natural pairs that strong (max natural
# cosine ~0.6 at sf0.1), so it PLANTS one exact twin per
# PLANT_EVERY-th vector — twins quantize into their source's cell
# unconditionally (test_cell_blocked_pairs_recall), output is exactly
# the planted pairs (~n / PLANT_EVERY, linear in the corpus), and the
# benched wall tracks the candidate plan, not emitted-pair volume.
STRICT_TAU = 0.7
PLANT_EVERY = 10

_COSINE_AB = (
    DVDOT_SQL.format(a="a.dv", b="b.dv")
    + " / ("
    + DVNORM_SQL.format(a="a.dv")
    + " * "
    + DVNORM_SQL.format(a="b.dv")
    + ")"
)


@query(
    "ivf_blocked_neardup_strict",
    oracle=f"""
    {_kmeans_ctes(K, ITERS)},
    assigned AS (
        SELECT a.vec_id, a.cluster_id,
               list_transform(q.qv, x -> CAST(x AS DOUBLE)) AS dv
        FROM a{ITERS} a JOIN q ON a.vec_id = q.vec_id AND a.rn = 1
    ),
    planted AS (
        SELECT vec_id, cluster_id, dv FROM assigned
        UNION ALL
        SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id,
               cluster_id, dv
        FROM assigned WHERE vec_id % {PLANT_EVERY} = 0
    )
    SELECT d1, d2, cluster_id, cosine FROM (
        SELECT a.vec_id AS d1, b.vec_id AS d2, a.cluster_id,
               {_COSINE_AB} AS cosine
        FROM planted a JOIN planted b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    ) WHERE cosine >= {STRICT_TAU}
    """,
)
def ivf_blocked_neardup_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-GRADE cell-blocked pairs (cosine >= {STRICT_TAU}) on
    a corpus with planted exact twins — the plan-shaped bench twin of
    ivf_blocked_neardup (whose 0.35 threshold emits output volume
    that obscures plan regressions at scale; that run stays in SCALE
    as stress evidence). One exact copy of every PLANT_EVERY-th
    vector is planted at vec_id + max(vec_id) + 1 (count-based
    offsets collide on sparse id spaces like the replicated scale
    corpora), reusing its source's staged cell assignment (an exact
    copy quantizes identically by construction —
    recall floor pinned by test_cell_blocked_pairs_recall); same-cell
    pairing + rescore then emits exactly the planted pairs, so output
    grows ~linearly with the planted dup rate and the benched wall
    tracks candidate-plan cost. The oracle replays training ->
    assignment -> planting -> pairing -> rescore end to end."""
    from gerrydb_etl_spark.operators.kmeans import (
        cell_blocked_pairs,
        cells_for_corpus,
        needs_cell_split,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.store.staging import corpus_count, KMEANS

    emb = load_table(spark, sf_dir, "embeddings")
    n = corpus_count(spark, sf_dir, "embeddings")
    k_dyn = cells_for_corpus(n, floor_k=K)
    assigned = KMEANS.read(spark, sf_dir, k=k_dyn, iters=ITERS)
    if needs_cell_split(n):
        # never active at any driver-verified scale (oracle untouched)
        assigned, _ = split_oversized_cells(assigned)
    # one tiny agg over the staged assignment (== max embeddings
    # vec_id: staged assignment covers every corpus row)
    offset = int(assigned.agg(F.max("vec_id")).first()[0]) + 1
    twins = assigned.filter(F.col("vec_id") % PLANT_EVERY == 0).withColumn(
        "vec_id", (F.col("vec_id") + F.lit(offset)).cast("long")
    )
    planted = assigned.withColumn(
        "vec_id", F.col("vec_id").cast("long")
    ).unionByName(twins)
    return cell_blocked_pairs(
        emb, tau=STRICT_TAU, k=k_dyn, iters=ITERS, assigned=planted
    )


@query(
    "embedding_drift_monitor",
    oracle=f"""
    {_kmeans_ctes(K, ITERS)},
    asn AS (
        SELECT a.vec_id, a.cluster_id, a.vec_id % 2 AS half, q.qv
        FROM a{ITERS} a JOIN q ON a.vec_id = q.vec_id AND a.rn = 1
    ),
    cnt AS (
        SELECT cluster_id, half, CAST(COUNT(*) AS BIGINT) AS n
        FROM asn GROUP BY 1, 2
    ),
    sums AS (
        SELECT cluster_id, half, i, CAST(SUM(comp) AS BIGINT) AS s
        FROM (
            SELECT cluster_id, half,
                   generate_subscripts(qv, 1) AS i,
                   unnest(qv) AS comp
            FROM asn
        ) GROUP BY 1, 2, 3
    )
    SELECT ea.cluster_id,
           na.n AS n_even, nb.n AS n_odd,
           CAST(SUM(ABS(ea.s * nb.n - eb.s * na.n)) AS BIGINT)
               AS drift_l1_x
    FROM sums ea
    JOIN sums eb ON eb.cluster_id = ea.cluster_id AND eb.i = ea.i
                AND ea.half = 0 AND eb.half = 1
    JOIN cnt na ON na.cluster_id = ea.cluster_id AND na.half = 0
    JOIN cnt nb ON nb.cluster_id = ea.cluster_id AND nb.half = 1
    GROUP BY ea.cluster_id, na.n, nb.n
    """,
)
def embedding_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-monitoring primitive: per-cell centroid drift between
    two population slices (even vs odd vec_id — the deterministic
    stand-in for reference-window vs live-window). Drift is the
    cross-multiplied integer L1 between the slices' per-cell mean
    vectors, Σ_d |s_a[d]·n_b − s_b[d]·n_a| over the exact 1e-6
    quantized components — BIGINT end to end, so the monitor
    value-hashes (a float mean diff would be an aggregation-order
    minefield). Cells with members in only one slice are omitted
    (an inner join — there is no drift to compare). Plan: the
    staged k-means assignment already carries qv, so the monitor is
    one posexplode + ONE conditional-pivot aggregation per (cell,
    dim) + a broadcast join against the k-row slice counts — no
    even/odd self-join, no second pass over the exploded components
    — it never rescans or re-trains anything;
    at 100 TB this is the cheap always-on job next to the index,
    and a drifting cell triggers the expensive re-clustering, not
    the other way round. Oracle: full training replay
    (_kmeans_ctes) + the same integer arithmetic."""
    from gerrydb_etl_spark.store.staging import KMEANS

    asn = KMEANS.read(spark, sf_dir, K, ITERS).select(
        "vec_id", "cluster_id", (F.col("vec_id") % 2).alias("half"), "qv"
    )
    # One conditional pivot per (cell, dim) instead of the even/odd
    # self-join: an ea×eb join would recompute the posexplode
    # aggregation once per side (exchange reuse dedupes the shuffle,
    # not the final agg) and shuffle a cells×dims join on top. A
    # vector contributes every dim, so a slice with any member in a
    # cell has ALL dims there — the inner-join "both halves present"
    # semantics is exactly "both conditional sums non-null".
    wide = (
        asn.select(
            "cluster_id", "half", F.posexplode("qv").alias("i0", "comp")
        )
        .groupBy("cluster_id", (F.col("i0") + 1).alias("i"))
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("comp"))).alias("s_a"),
            F.sum(F.when(F.col("half") == 1, F.col("comp"))).alias("s_b"),
        )
        .where(F.col("s_a").isNotNull() & F.col("s_b").isNotNull())
    )
    cnt = (
        asn.groupBy("cluster_id")
        .agg(
            F.count(F.when(F.col("half") == 0, F.lit(1))).alias("n_even"),
            F.count(F.when(F.col("half") == 1, F.lit(1))).alias("n_odd"),
        )
        .where((F.col("n_even") > 0) & (F.col("n_odd") > 0))
    )
    return (
        wide.join(F.broadcast(cnt), "cluster_id")
        .groupBy("cluster_id", "n_even", "n_odd")
        .agg(
            F.sum(
                F.abs(
                    F.col("s_a") * F.col("n_odd")
                    - F.col("s_b") * F.col("n_even")
                )
            ).alias("drift_l1_x")
        )
        .select("cluster_id", "n_even", "n_odd", "drift_l1_x")
    )
