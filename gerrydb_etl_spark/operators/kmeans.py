"""Fixed-point k-means (Lloyd) and SemDeDup-style semantic dedup
over embedding columns (SURVEY.md §2.12 north star; the reference
has no clustering surface — this is the coarse-quantizer /
semantic-dedup building block of an LLM data pipeline, per
Abbas et al., "SemDeDup" (arXiv:2303.09540)).

Determinism contract (what makes a MULTI-ITERATION training run
value-hash reproducible in DuckDB SQL):

  * embeddings are quantized ONCE to BIGINT units
    (``round(double(v) * 1e6)``) — all later arithmetic starts
    from integers, so no float-sum ordering can leak in;
  * centroid updates are element-wise INTEGER sums per cluster
    (order-independent and exact, unlike a double SUM whose value
    depends on combine order) divided in one fixed spelling
    ``double(s) / double(n)``;
  * distances are sequential left folds in DOUBLE over
    (component - centroid)^2, the same fold DuckDB's
    ``list_reduce(list_prepend(0.0, ...))`` performs;
  * ties in the argmin break on the lower cluster id, matching
    ``ROW_NUMBER() OVER (ORDER BY d, cluster_id)``;
  * initial centroids are the first k vectors in id order (data-
    derived, like operators/similarity.anchor_planes — no RNG).

Scale notes (100 TB):

  * assignment is a NARROW projection against k literal centroid
    arrays — no join, no shuffle, whole-stage codegen;
  * the update step is ONE map-side-combined shuffle producing k
    rows of dim integer sums (partial aggregation compresses each
    task's contribution to k rows before the exchange);
  * the driver collects k rows (k x dim doubles) per iteration —
    the same footprint Spark MLlib's KMeans accepts; this is a
    bounded model, not a data collect;
  * integer component sums stay exact while |sum| < 2^63 and
    convert exactly to double while < 2^53 — at 1e6-unit
    components that is ~9e9 rows per cluster before any rounding,
    and overflow raises (ANSI) rather than corrupting.

SemDeDup (`semantic_dedup`): pairwise cosine is computed ONLY
within a k-means cell, so the candidate volume is sum(n_c^2) —
bounded by choosing k proportional to corpus size (the paper uses
k ~ sqrt(N); the cells, not the corpus, bound the join).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.similarity import fold_sum

QUANT_SCALE = 1_000_000.0


def quantize(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, qv: array<bigint>) — embeddings in exact 1e-6 units."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col),
            lambda v: F.round(v.cast("double") * F.lit(QUANT_SCALE)).cast("long"),
        ).alias("qv"),
    )


def _sqdist(qv: Column, cv: Column) -> Column:
    """Sequential-fold squared L2 distance between an integer vector
    (read as double) and a centroid array, in quantized units^2."""
    diff = F.zip_with(qv, cv, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y))
    return fold_sum(diff)


def assign(quant: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """(vec_id, qv, cluster_id, sq_dist_q): nearest centroid by
    squared distance, ties to the lower cluster id. Pure projection:
    the k centroids ride along as ONE nested literal array walked by
    a single transform lambda — no join, no shuffle, and the
    generated code is one fold loop instead of k unrolled folds
    (k x dim unrolled literals made Janino compilation, not the
    data, the dominant cost)."""
    best = F.array_min(_cells(centroids))
    return quant.select(
        "vec_id",
        "qv",
        best.getField("c").alias("cluster_id"),
        best.getField("d").alias("sq_dist_q"),
    )


def _cells(centroids: dict[int, list[float]]) -> Column:
    """array<struct<d,c>> of (squared distance to qv, cluster id) —
    the ONE literal-centroid expression both ``assign`` (argmin) and
    ``assign_topn`` (sorted top-n) are built from, so the tie-break
    and literal encoding cannot drift between the cell assignment
    and the IVF probe ranking.

    The two literal arrays are built as ONE parsed SQL expression
    each instead of k*dim nested F.lit()/F.array() calls: every
    F.lit is a py4j round trip, and at (k=16, dim=64) the 1k+ round
    trips cost ~0.6s of DRIVER time per query construction — paid by
    every assign/assign_topn consumer in the vector family (the r17
    optimization round's plan-construction finding; guide §7.3).
    repr() of a Python float is shortest-roundtrip, so the parsed
    `<repr>D` double literals are bit-identical to the F.lit
    spelling and every value-hash oracle is unchanged."""
    cids = sorted(centroids)
    for cid in cids:
        if not all(math.isfinite(x) for x in centroids[cid]):
            raise ValueError(
                f"non-finite centroid component in cluster {cid} — "
                "cannot encode as a SQL double literal"
            )
    cent_lit = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(f"{float(x)!r}D" for x in centroids[cid])
            + ")"
            for cid in cids
        )
        + ")"
    )
    cid_lit = F.expr(
        "array(" + ", ".join(str(int(c)) for c in cids) + ")"
    )
    return F.transform(
        cent_lit,
        lambda cv, i: F.struct(
            _sqdist(F.col("qv"), cv).alias("d"),
            F.element_at(cid_lit, i + 1).alias("c"),
        ),
    )


def assign_topn(
    quant: DataFrame, centroids: dict[int, list[float]], n: int
) -> DataFrame:
    """(vec_id, qv, cluster_id, sq_dist_q) rows for each vector's n
    NEAREST centroids (ties to the lower cluster id) — the IVF probe
    list. Same literal-centroid narrow projection as ``assign``;
    array_sort on struct(d, c) gives exactly the
    ROW_NUMBER() OVER (ORDER BY d, cluster_id) <= n ordering the SQL
    replay uses."""
    top = F.slice(F.array_sort(_cells(centroids)), 1, n)
    return quant.select(
        "vec_id", "qv", F.explode(top).alias("s")
    ).select(
        "vec_id",
        "qv",
        F.col("s.c").alias("cluster_id"),
        F.col("s.d").alias("sq_dist_q"),
    )


def _update(assigned: DataFrame, dim: int) -> dict[int, list[float]]:
    """New centroids: per-cluster element-wise integer sums (exact,
    order-free) divided once. One k-group shuffle + a k-row collect."""
    sums = assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(dim)],
    )
    out: dict[int, list[float]] = {}
    for row in sums.collect():
        n = float(row["n"])
        out[row["cluster_id"]] = [float(row[f"s{i}"]) / n for i in range(dim)]
    return out


def init_centroids(quant: DataFrame, k: int) -> tuple[dict[int, list[float]], int]:
    """First k vectors in id order as centroids 0..k-1 (data-derived,
    deterministic on any id space). Returns (centroids, dim)."""
    rows = quant.orderBy("vec_id").limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"k={k} but corpus has only {len(rows)} vectors")
    dim = len(rows[0]["qv"])
    return {i: [float(x) for x in rows[i]["qv"]] for i in range(k)}, dim


def kmeans_train(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_qv: bool = False,
) -> DataFrame:
    """`iters` Lloyd assignment passes (so iters-1 centroid updates),
    returning the final (vec_id, cluster_id, sq_dist_q) assignment
    (plus the quantized vector when ``keep_qv`` — the shape the
    staged-model fixture persists for downstream consumers).

    Empty clusters simply drop out of the update (their id stops
    being a candidate), mirroring the SQL replay exactly.

    The corpus is fanned out to cluster parallelism before the first
    assignment pass (a no-op when the scan already yields enough
    partitions): the Lloyd passes are the expensive narrow maps of
    the index build, and inheriting a single-file scan's partitioning
    would idle most of the cluster (SCALE_r14 activation finding).
    Training is partitioning- and order-free, so values are
    unchanged."""
    from gerrydb_etl_spark.operators.partitioning import fan_out

    quant = quantize(fan_out(emb), vec_col=vec_col, id_col=id_col).persist()
    try:
        centroids, dim = init_centroids(quant, k)
        assigned = assign(quant, centroids)
        for _ in range(iters - 1):
            centroids = _update(assigned, dim)
            assigned = assign(quant, centroids)
        cols = ["vec_id", "cluster_id", "sq_dist_q"]
        if keep_qv:
            cols.append("qv")
        return assigned.select(*cols)
    finally:
        quant.unpersist()


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    tau: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup: drop every vector that has an EARLIER (lower-id)
    same-cell neighbor with cosine >= tau; return the survivors
    (vec_id, cluster_id). Cosine is folded over the quantized
    doubles so the whole pipeline replays bitwise in SQL.

    ``assigned``: optionally a precomputed (vec_id, cluster_id, qv)
    assignment — e.g. the session-staged trained model from
    store/staging.py — in which case Lloyd training is skipped
    entirely; values are identical either way (fixed-point training
    has no RNG and no float-order dependence), so the SQL replay
    oracle that re-trains from scratch still hash-matches. When the
    assignment carries a ``sub_id`` column (split_oversized_cells —
    the past-the-cap hierarchy), pairing blocks on the REFINED
    (cluster_id, sub_id) key, bounding per-block occupancy at
    ~per_cell; the output keeps the top-level cluster_id.

    The pairwise join is cell-local (shuffle key = the cell id), so
    candidate volume is sum(n_c^2) over cells — the SemDeDup cost
    model — not corpus^2."""
    if assigned is None:
        # one Lloyd implementation: the training loop lives in
        # kmeans_train only (the staged fixture persists the
        # same keep_qv output this consumes)
        assigned = kmeans_train(
            emb, k=k, iters=iters, vec_col=vec_col, id_col=id_col,
            keep_qv=True,
        )
    qd, cell_cols = _blocked_qd(assigned)
    dropped = (
        _same_cell_pairs(qd, cell_cols, tau)
        .select(F.col("d2").alias("vec_id"))
        .distinct()
    )
    return (
        qd.select("vec_id", "cluster_id")
        .join(dropped, "vec_id", "left_anti")
    )


def _blocked_qd(assigned: DataFrame) -> tuple[DataFrame, list[str]]:
    """(qd, cell_cols): the checkpointed per-row pairing base —
    (vec_id, cell key, quantized-double vector, norm) — shared by
    semantic_dedup and cell_blocked_pairs."""
    # the blocking key: the refined subcell when the hierarchy is
    # active, else the top-level cell
    cell_cols = ["cluster_id"] + (
        ["sub_id"] if "sub_id" in assigned.columns else []
    )
    # fan the assignment to cluster parallelism before the per-row
    # fold (r17): the staged model fixtures are REBALANCE-written
    # (store/staging.py), so at bench scale the assignment scan is
    # ONE file — without the fan-out the norm folds below and the
    # checkpoint write run on one task (measured: the four blocked-
    # pair consumers regressed 3.7-6.2x when the fixture collapsed
    # from 32 files to 1; the relative floor-probe caught it). At
    # production the assignment spans many files and this no-ops.
    # Vector path: full parallelism, no chunk_bytes (incompressible
    # float payload, fold-heavy work per byte).
    from gerrydb_etl_spark.operators.partitioning import fan_out

    assigned = fan_out(assigned)
    # norms are folded ONCE PER ROW here; recomputing them
    # inside the pair filter would triple the per-pair fold
    # work (same fix as the vector-family rescore path)
    dv = F.transform("qv", lambda x: x.cast("double"))
    qd = assigned.select(
        "vec_id",
        *cell_cols,
        dv.alias("dv"),
        F.sqrt(fold_sum(F.transform(dv, lambda x: x * x))).alias("nrm"),
    )
    # multiple plan branches consume the assignment (a side, b side,
    # survivor base); localCheckpoint materializes it once to
    # executor storage and truncates the literal-centroid lineage
    # so the caller's action doesn't re-run scan+quantize+assign
    # per branch. Storage is one (id, cell, vector, norm) row per
    # corpus row — the same footprint the pair shuffle moves
    # anyway — and the blocks free with the DataFrame.
    return qd.localCheckpoint(eager=True), cell_cols


def _same_cell_pairs(
    qd: DataFrame, cell_cols: list[str], tau: float
) -> DataFrame:
    """(d1 < d2, cell key, cosine) for every same-cell pair at or
    above ``tau``, cosine folded over the quantized doubles."""
    # the join key is cluster_id — only k distinct values, so
    # an unsalted shuffle caps parallelism at k tasks. Salt
    # the b side by row hash and replicate the a side over
    # the salts: k x salts tasks, each holding an a-cluster
    # against 1/salts of its b rows (operators/skew.py
    # replicated-join pattern, deterministic salt).
    #
    # The salt stays UNCONDITIONAL, including on refined (cluster_id,
    # sub_id) keys — measured both ways in r18: dropping it on the
    # refined key won 2.57 -> 2.23 s at sf0.1 (tiny blocks, the 16x
    # a-side replication dominates) but LOST 10.7 -> 23.9 s at x10
    # (.scale/opt_r18_tl_salts_ab.json / opt_r18_x10_ab.json), where
    # the forced-activation fixture scales per_cell with the corpus,
    # per-block pair work grows quadratically, and the salt is what
    # spreads a block's work across tasks. An occupancy-derived salt
    # count would need a hint the generic kernel does not have; the
    # constant is the measured-safe choice at both scales.
    salts = 16
    a = qd.select(
        *cell_cols,
        F.col("vec_id").alias("a_id"),
        F.col("dv").alias("a_dv"),
        F.col("nrm").alias("a_nrm"),
    ).withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)])))
    b = qd.select(
        *cell_cols,
        F.col("vec_id").alias("b_id"),
        F.col("dv").alias("b_dv"),
        F.col("nrm").alias("b_nrm"),
    ).withColumn("__salt", F.pmod(F.xxhash64("b_id"), F.lit(salts)))
    dot_ab = fold_sum(F.zip_with(F.col("a_dv"), F.col("b_dv"), lambda x, y: x * y))
    return (
        a.join(b, [*cell_cols, "__salt"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            F.col("a_id").alias("d1"),
            F.col("b_id").alias("d2"),
            *cell_cols,
            (dot_ab / (F.col("a_nrm") * F.col("b_nrm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(tau))
    )


def cell_blocked_pairs(
    emb: DataFrame,
    tau: float,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Cell-blocked near-duplicate PAIRS: (d1 < d2, cluster_id,
    cosine) for every same-cell pair with cosine >= tau — the
    pair-emitting sibling of semantic_dedup and the corpus-scaled
    answer to all-pairs vector near-dup (the SCALE_r11 embedding_
    neardup note): candidate volume is sum(n_c^2) over cells, held
    linear by cells_for_corpus-scaled k, never corpus^2 and never a
    fixed-signature-domain bucket blowup. Cosine folds over the
    quantized doubles so the whole pipeline replays bitwise in SQL.
    Recall contract: pairs whose endpoints quantize into DIFFERENT
    cells are not candidates — the SemDeDup tradeoff (Abbas et al.
    2023); the measured floor is pinned by
    tests/test_kmeans.py::test_cell_blocked_pairs_recall.
    ``assigned`` as in semantic_dedup (e.g. the session-staged
    model); with a sub_id column pairing blocks on the refined
    subcell and the output keeps the top-level cluster_id only."""
    if assigned is None:
        assigned = kmeans_train(
            emb, k=k, iters=iters, vec_col=vec_col, id_col=id_col,
            keep_qv=True,
        )
    qd, cell_cols = _blocked_qd(assigned)
    return _same_cell_pairs(qd, cell_cols, tau).select(
        "d1", "d2", "cluster_id", "cosine"
    )


def multiprobe_pairs(
    emb: DataFrame,
    tau: float,
    centroids: dict[int, list[float]],
    probes: int = 2,
    sub_model: tuple[DataFrame, DataFrame] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: DataFrame | None = None,
) -> DataFrame:
    """Multi-probe cell-blocked near-duplicate PAIRS (d1 < d2,
    cosine >= tau): each vector blocks on its ``probes`` NEAREST
    cells of a trained coarse quantizer (assign_topn — ties to the
    lower cluster id, matching the rn <= probes SQL replay), pairs
    form within any shared cell, and a pair sharing more than one
    cell is emitted once (the rescored cosine is bit-identical in
    every shared cell — same fold over the same quantized doubles —
    so DISTINCT is exact, not a float footgun).

    This closes part of cell_blocked_pairs' documented recall gap:
    single-probe blocking misses every pair whose endpoints fall in
    different Voronoi cells; a boundary pair is recovered whenever
    ONE endpoint's second-nearest cell is the other's home cell. The
    candidate set is a strict superset of single-probe's on the same
    model, so recall can only go up
    (tests/test_kmeans.py::test_multiprobe_recall_dominates).

    Scale: each vector lands in ``probes`` cells, so per-cell
    occupancy grows ~probes-fold and candidate volume is bounded by
    probes^2 * sum(n_c^2) — still LINEAR in the corpus under
    corpus-scaled cell counts, with the same salted cell-key shuffle
    as single-probe. ``centroids`` must be the quantizer the corpus
    was trained with (e.g. store/staging.py IVF's centroid side,
    which exists precisely because probe ranking needs the ORIGINAL
    centroids — they are not derivable from the final assignment).

    ``sub_model`` (the past-the-cap hierarchy): the FULL
    split_oversized_cells output pair — (assignment, subcentroids) —
    because cells_for_corpus clamps the coarse codebook at its cap,
    so past cap * per_cell vectors occupancy grows with the corpus
    again. With a sub_model the probe becomes two-level: rank the
    ``probes`` nearest coarse cells against the bounded literal
    codebook, then refine each probed cell to ONE subcell block.
    The HOME probe row (the one matching the vector's split
    assignment cell — rank-1 by the shared tie-break) takes its
    block straight FROM the split assignment, joined by (vec_id,
    cluster_id): dominance over single-probe pairing on that
    assignment therefore holds BY CONSTRUCTION, including after
    recursive re-splits, where re-ranking against the recomposed
    codebook could legitimately place an outlier of a re-split
    block into a sibling block (_grouped_assign refines WITHIN the
    prior block; a codebook re-rank is global to the cell). Only
    NON-home probe rows — and every probe row of a vector absent
    from the assignment (e.g. a fresh batch probed against a
    staged model) — rank against the subcentroid TABLE (a join,
    not plan literals — the fine codebook grows with the corpus
    and the literal-centroid codegen path caps out). Blocking then
    happens on the refined (cluster_id, sub_id) key, so per-block
    occupancy returns to ~per_cell and candidates stay linear;
    cells absent from the codebook (unsplit) keep their implicit
    subcell 0."""
    from gerrydb_etl_spark.operators.partitioning import fan_out

    # probe-ranking input: prefer a PRE-QUANTIZED (id, qv) corpus via
    # ``quant`` — callers holding a staged index assignment already
    # have qv in the fanned layout the training run wrote, so ranking
    # from it skips both the second raw-corpus read and the fan_out
    # exchange the raw path needs (measured 0.45-0.66 s/query at
    # sf0.1, .scale/drift_r15.json; at production the index table IS
    # the quantized corpus). Staged qv equals the quantize output by
    # construction, so values are identical on either path. The raw
    # path keeps its fan_out (SCALE_r14 activation finding): the
    # O(n x k) literal-codebook fold inherits the SCAN's
    # partitioning, so a big corpus packed into one parquet file
    # ranks on a handful of tasks regardless of cluster size; a
    # no-op once the scan yields >= parallelism partitions.
    if quant is None:
        quant = quantize(fan_out(emb), vec_col=vec_col, id_col=id_col)
    top = assign_topn(quant, centroids, probes)
    if sub_model is None:
        blocks = top.select("vec_id", "cluster_id", "qv")
    else:
        from pyspark.sql.window import Window as W

        # contract check (ADVICE r13): ivf_topk's same-named parameter
        # takes a BARE subcentroid DataFrame — passing that older
        # convention here would die in tuple unpacking with an opaque
        # TypeError instead of naming the mismatch
        if not (isinstance(sub_model, tuple) and len(sub_model) == 2):
            raise ValueError(
                "multiprobe_pairs: sub_model must be the "
                "(assignment, subcentroids) PAIR returned by "
                f"split_oversized_cells, got {type(sub_model).__name__} "
                "— ivf_topk's sub_model takes the bare subcentroid "
                "table, but the pairing path also needs the split "
                "assignment for its home blocks"
            )
        sub_asn, sub_cents = sub_model
        if "sub_id" not in sub_asn.columns:
            # mirror of ivf_topk's guard: home blocks come FROM the
            # assignment, so an unsplit assignment here would silently
            # pin every home block to nothing (the join finds no rows)
            raise ValueError(
                "multiprobe_pairs: sub_model assignment has no sub_id "
                "column — pair the subcentroid table with the "
                "split_oversized_cells assignment it was trained from"
            )
        joined = top.join(
            sub_asn.select(
                "vec_id", "cluster_id", F.col("sub_id").alias("home_sub")
            ),
            ["vec_id", "cluster_id"],
            "left",
        )
        # two plan branches (home filter + sec filter) consume this
        # join; pin it so the scan+quantize+assign_topn+join subtree
        # materializes once at action time instead of once per union
        # child (the _blocked_qd convention, one level up)
        joined = joined.localCheckpoint(eager=False)
        home = joined.filter(F.col("home_sub").isNotNull()).select(
            "vec_id",
            "cluster_id",
            F.col("home_sub").alias("sub_id"),
            "qv",
        )
        subs = sub_cents.select("cluster_id", "sub", "cv")
        cand = (
            joined.filter(F.col("home_sub").isNull())
            .join(subs, "cluster_id", "left")
            .select(
                "vec_id",
                "cluster_id",
                "qv",
                F.coalesce(F.col("sub"), F.lit(0)).alias("sub_id"),
                # unsplit cell -> its lone block 0 (NULL-sub row: d=0
                # ranks it as the single row of its window)
                F.when(F.col("sub").isNull(), F.lit(0.0))
                .otherwise(_sqdist(F.col("qv"), F.col("cv")))
                .alias("d"),
            )
        )
        w = W.partitionBy("vec_id", "cluster_id").orderBy("d", "sub_id")
        sec = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster_id", "sub_id", "qv")
        )
        blocks = home.unionByName(sec)
    qd, cell_cols = _blocked_qd(blocks)
    return (
        _same_cell_pairs(qd, cell_cols, tau)
        .select("d1", "d2", "cosine")
        .distinct()
    )


def cells_for_corpus(
    n_vecs: int, floor_k: int, per_cell: int = 250, cap: int = 512
) -> int:
    """Corpus-scaled cluster count: k = clamp(floor_k, cap,
    n_vecs // per_cell). The SemDeDup/IVF cost model is
    sum(n_c^2) over cells — a FIXED k means cell occupancy grows
    with the corpus and same-cell pair volume grows QUADRATICALLY
    (measured: semantic_dedup_survivors 1.7s -> 248s at the natural
    10x sf1 with k frozen at 8). Scaling k with n keeps occupancy
    ~per_cell and candidate volume linear.

    The floors are chosen so the rule returns exactly the literal k
    the static SQL replay oracles were generated with at every
    driver-verified scale (sf0.001/sf0.01/sf0.1 corpora all sit
    below floor_k * per_cell), so oracle parity is unaffected; the
    rule only departs from the literal ABOVE bench scale, where no
    oracle runs."""
    return max(floor_k, min(cap, n_vecs // per_cell))


# -- hierarchical cells: the scale path past the cap ------------------
#
# cells_for_corpus clamps k at `cap` so the literal-centroid
# assignment projection stays codegen-friendly — but past
# cap * per_cell vectors (~128k at the defaults) occupancy grows with
# the corpus again and the SemDeDup/IVF pair volume sum(n_c^2) turns
# quadratic (VERDICT r8 item 2; the exact failure mode measured and
# fixed at sf1 before the cap bites). split_oversized_cells is the
# second quantizer level: any cell holding more than
# split_factor * per_cell vectors is subdivided by a CELL-LOCAL
# fixed-point Lloyd run — all oversized cells trained together as ONE
# grouped job (the subcell centroids live in a DataFrame keyed by
# cell, not in plan literals, so the fine codebook can grow with the
# corpus without blowing up codegen). Occupancy returns to ~per_cell
# and pair volume to linear; a still-oversized subcell can be split
# again by re-applying the operator (each level multiplies the
# effective cell count by ~split_factor * per_cell / per_cell).
#
# Determinism contract (same as the top level, so a SQL replay can
# follow every step): integer quantized components, per-(cell, sub)
# element-wise integer sums divided once, sequential-fold distances,
# ties to the lower sub id, init = every ceil(n_c/m_c)-th vector of
# the cell in vec_id order (strided, so a duplicate run at the head
# of the order cannot seed every subcell identically).


SPLIT_FACTOR = 4


def _grouped_assign(rows: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each row of an oversized cell to its nearest SUBCELL
    centroid: one equi-join on the cell id (n_c x m_c candidate rows
    per cell), a sequential-fold distance, and a per-vector argmin
    window (ties to the lower sub id)."""
    from pyspark.sql.window import Window as W

    d = _sqdist(F.col("qv"), F.col("cv"))
    w = W.partitionBy("vec_id").orderBy("d", "sub")
    return (
        rows.join(cents, "cluster_id")
        .select("cluster_id", "vec_id", "qv", "sub", d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            "vec_id",
            "qv",
            F.col("sub").alias("sub_id"),
            F.col("d").alias("sq_dist_q"),
        )
    )


def _grouped_update(assigned_sub: DataFrame, dim: int) -> DataFrame:
    """New subcell centroids: per-(cell, sub) element-wise integer
    sums (exact, order-free) divided once — one map-side-combined
    shuffle producing one row per surviving subcell."""
    sums = assigned_sub.groupBy("cluster_id", "sub_id").agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(dim)],
    )
    return sums.select(
        "cluster_id",
        F.col("sub_id").alias("sub"),
        F.array(
            *[
                F.col(f"s{i}").cast("double") / F.col("n").cast("double")
                for i in range(dim)
            ]
        ).alias("cv"),
    )


def split_oversized_cells(
    assigned: DataFrame,
    per_cell: int = 250,
    iters: int = 2,
    split_factor: int = SPLIT_FACTOR,
    prev_cents: DataFrame | None = None,
    max_levels: int = 8,
    fanout_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Subdivide every cell of a (vec_id, cluster_id, qv) assignment
    that holds more than ``split_factor * per_cell`` vectors, using a
    grouped fixed-point Lloyd pass (all oversized cells trained in
    the same jobs). Returns (assignment, subcentroids):

      assignment   — (vec_id, cluster_id, sub_id, qv): every input
                     row, sub_id 0 for rows of cells left alone;
      subcentroids — (cluster_id, sub, cv): the fine codebook the
                     final sub assignment was computed against
                     (empty when nothing split) — the probe side of
                     the two-level IVF search.

    The split REFINES the partition: rows never change their
    top-level cluster_id, so any consumer keyed on (cluster_id,
    sub_id) blocks strictly within the original cells.

    RECURSION: one Lloyd pass does not guarantee balanced subcells —
    a skewed cell (duplicate runs, a dominant natural clump) can
    leave one subcell still above the threshold. Each pass therefore
    checks the occupancy of the blocks IT re-assigned (an O(split
    rows) map-side-combined count over the pass's own final
    assignment — blocks the pass left alone were under threshold by
    its own pre-count, so they never need scanning; VERDICT r11
    item 3 replaced a full-output probe scan with this) and re-splits
    any block still over ``split_factor * per_cell``, up to
    ``max_levels`` total passes, with the codebook recomposed level
    over level. Unsplittable blocks (e.g. one value duplicated past
    the threshold — no centroid pair can separate identical vectors)
    stop refining and the loop exits when a pass leaves the oversized
    count unchanged, so max_levels is a guard, not a target; pass
    ``max_levels=1`` to pin the single-pass behavior (zero probe
    jobs).

    FAN-OUT BOUND (``fanout_cap``, SCALE_r14): a pass subdivides a
    cell into m_c = min(ceil(n_c / per_cell), fanout_cap) subcells.
    UNBOUNDED m_c makes the pass's grouped-assign join volume
    sum(n_c * m_c) = sum(n_c^2) / per_cell — QUADRATIC in the corpus
    once cells_for_corpus pins k at its cap (n_c ~ n / cap), i.e. in
    exactly the past-the-cap regime this operator exists for
    (measured: the split stage's x10->x20 wall slope at a forced
    cap was ~4x for 2x data before the bound). With the cap, each
    pass does at most n * fanout_cap join rows and the EXISTING
    recursion refines any still-oversized block on the next pass, so
    total work is O(n * fanout_cap * depth) with depth =
    ceil(log_fanout_cap(n_c / per_cell)) — linearithmic, and depth 2
    already addresses cap * per_cell * fanout_cap^2 ~ 500M vectors at
    the defaults. At every oracle-verified scale the natural m_c is
    <= 5, far under the default cap, so the driver-verified
    forced-split replays (hierarchical_cells_assign,
    ivf_multiprobe_twolevel — whose SQL hardcodes the UNCAPPED
    ceil(n_c / per_cell)) are byte-identical; a fixture grown far
    enough to engage the cap at oracle scale (n_c >= 64 * 25 under
    the forced floors) is caught upstream by the per_cell/oracle
    coupling defenses (queries/clustering.py _forced_per_cell guard
    band + the fixture-size pin in tests/test_kmeans.py), which bind
    from n > 2,080 — long before m_c can reach 64.

    RE-APPLICATION: an input already carrying ``sub_id`` (a prior
    split's output) is refined at the (cluster_id, sub_id) block
    level — new sub ids compose collision-free with the old ones.
    Pass the prior level's subcentroids as ``prev_cents`` to get a
    COMPLETE recomposed codebook back (untouched blocks keep their
    old centroid under the new numbering) — required if the result
    feeds ivf_topk's ``sub_model``; without it the returned codebook
    covers only the re-split blocks and must not be used as a probe
    side. Note the block-count collect is O(existing blocks) there
    (vs <= k at the first level)."""
    if max_levels < 1:
        raise ValueError(f"max_levels must be >= 1, got {max_levels}")
    if fanout_cap < 2:
        raise ValueError(
            f"fanout_cap must be >= 2 to make progress, got {fanout_cap}"
        )
    if "sub_id" in assigned.columns:
        out, cents, did_split, sub_assigned = _resplit_blocks(
            assigned, per_cell, iters, split_factor, prev_cents,
            fanout_cap=fanout_cap,
        )
    else:
        if prev_cents is not None:
            raise ValueError(
                "prev_cents only applies when re-splitting an "
                "assignment that already carries sub_id"
            )
        out, cents, did_split, sub_assigned = _split_once(
            assigned, per_cell, iters, split_factor, fanout_cap
        )

    threshold = split_factor * per_cell
    prev_sig = None
    for _ in range(max_levels - 1):
        if not did_split:
            # nothing was over the threshold this pass (driver-known
            # from the pass's own cell counts) — no block can be
            # oversized, so skip the occupancy check entirely: the
            # common nothing-to-split call costs zero extra jobs
            break
        # bounded occupancy check over ONLY the rows this pass
        # re-assigned (its final sub assignment): blocks the pass
        # left alone were under threshold by its own pre-count, so
        # an oversized block can only be one the pass just produced.
        # The scan reuses the pass-internal `rows` checkpoint — no
        # materialization of the full (keep ∪ split) output, which
        # the old full-output probe forced once per splitting pass
        # (VERDICT r11 item 3). Result: two scalars to the driver.
        row = (
            sub_assigned.groupBy("cluster_id", "sub_id")
            .count()
            .filter(F.col("count") > threshold)
            .agg(
                F.count("*").alias("n_blocks"),
                F.coalesce(F.sum("count"), F.lit(0)).alias("n_rows"),
            )
            .first()
        )
        sig = (row["n_blocks"], row["n_rows"])
        if sig[0] == 0 or sig == prev_sig:
            # converged, or stuck on unsplittable duplicate blocks —
            # another pass would recompute the identical partition
            break
        prev_sig = sig
        # pin the pass output only when actually recursing: the next
        # pass scans it twice (max-id agg + re-key) and the final
        # output builds on it
        out = out.localCheckpoint(eager=False)
        out, cents, did_split, sub_assigned = _resplit_blocks(
            out, per_cell, iters, split_factor, prev_cents=cents,
            fanout_cap=fanout_cap,
        )
    return out, cents


def _split_once(
    assigned: DataFrame,
    per_cell: int,
    iters: int,
    split_factor: int,
    fanout_cap: int,
) -> tuple[DataFrame, DataFrame, bool, DataFrame | None]:
    """One grouped-Lloyd split pass over a (vec_id, cluster_id, qv)
    assignment without sub_id — the level-1 engine behind
    split_oversized_cells. Third element: whether any cell exceeded
    the threshold (driver-known from the pass's own cell counts) —
    False means the output is the input with sub_id pinned to 0 and
    no block can need further refinement. Fourth element: the final
    sub assignment of JUST the re-split rows (None when nothing
    split) — the recursion loop's occupancy check scans this instead
    of the full output, since untouched blocks were under threshold
    by this pass's own pre-count."""
    from pyspark.sql.window import Window as W

    spark = assigned.sparkSession
    counts = assigned.groupBy("cluster_id").count().collect()  # <= k rows
    threshold = split_factor * per_cell
    split_cells = {
        r["cluster_id"]: r["count"]
        for r in counts
        if r["count"] > threshold
    }
    base = assigned.select("vec_id", "cluster_id", "qv")
    empty_cents = spark.createDataFrame(
        [], "cluster_id int, sub int, cv array<double>"
    )
    if not split_cells:
        return base.withColumn("sub_id", F.lit(0)), empty_cents, False, None

    # seeds are STRIDED through the cell's id order (every
    # ceil(n_c/m_c)-th vector), not the first m_c: runs of duplicate
    # vectors at the head of the id order would otherwise seed every
    # subcell identically and the lower-sub tie-break would collapse
    # the split to one subcell
    # m is capped at fanout_cap per pass: the grouped-assign join is
    # n_c x m_c rows per cell, and the uncapped ceil(n_c / per_cell)
    # turns quadratic once k is corpus-capped (see the FAN-OUT BOUND
    # note on split_oversized_cells); a capped pass leaves blocks at
    # ~n_c / fanout_cap, which the recursion refines next pass
    m_df = F.broadcast(
        spark.createDataFrame(
            [
                (c, m, -(-n // m))
                for c, n in sorted(split_cells.items())
                for m in [min(-(-n // per_cell), fanout_cap)]
            ],
            "cluster_id int, m int, stride int",
        )
    )
    rows = base.join(m_df.select("cluster_id"), "cluster_id")
    keep = base.join(m_df.select("cluster_id"), "cluster_id", "left_anti")

    w = W.partitionBy("cluster_id").orderBy("vec_id")
    cents = (
        rows.withColumn("rn", F.row_number().over(w))
        .join(m_df, "cluster_id")
        .filter((F.col("rn") - 1) % F.col("stride") == 0)
        .select(
            "cluster_id",
            ((F.col("rn") - 1) / F.col("stride")).cast("int").alias("sub"),
            F.transform("qv", lambda x: x.cast("double")).alias("cv"),
        )
    )
    dim = len(rows.select("qv").first()["qv"])
    rows = rows.localCheckpoint(eager=False)
    sub_assigned = _grouped_assign(rows, cents)
    for _ in range(iters - 1):
        cents = _grouped_update(sub_assigned, dim).localCheckpoint(eager=False)
        sub_assigned = _grouped_assign(rows, cents)
    out = keep.withColumn("sub_id", F.lit(0)).unionByName(
        sub_assigned.select("vec_id", "cluster_id", "qv", "sub_id")
    )
    return out, cents, True, sub_assigned


def _resplit_blocks(
    assigned: DataFrame,
    per_cell: int,
    iters: int,
    split_factor: int,
    prev_cents: DataFrame | None = None,
    fanout_cap: int = 64,
) -> tuple[DataFrame, DataFrame, bool, DataFrame | None]:
    """Refine an existing (cluster_id, sub_id) split: re-key each
    block to a composite single id, run the level-1 machinery on it,
    then decompose — new sub ids are old_sub * (max_new_sub + 1) +
    new_sub, collision-free and deterministic. With ``prev_cents``
    the returned codebook is COMPLETE: blocks this pass did not
    re-split keep their previous centroid at new sub
    old_sub * nmult + 0. Third/fourth elements as in _split_once
    (the fourth keeps its composite block key — the occupancy check
    only counts rows per block, so the labeling is irrelevant).

    Both composite keyings are guarded against silent INT32 overflow
    (the window-ordinal bug class): with the recursive default
    (max_levels=8) sub-id ranges compound multiplicatively per level,
    so a pathologically skewed corpus could push cluster_id * mult +
    sub_id — or the recomposed old_sub * nmult + new_sub — past
    2^31 on exactly the inputs where the recursion works hardest.
    Both bounds are driver-known scalars, so the guard costs no extra
    job (max cluster_id rides the existing max-sub aggregate)."""
    hdr = assigned.agg(
        F.max("sub_id").alias("ms"), F.max("cluster_id").alias("mc")
    ).first()
    max_sub = int(hdr["ms"] or 0)
    max_cid = int(hdr["mc"] or 0)
    mult = max_sub + 1
    if (max_cid + 1) * mult > 2**31 - 1:
        raise ValueError(
            "split re-application: composite block key "
            f"(max cluster_id {max_cid}) * (max sub_id + 1 = {mult}) "
            "overflows INT32 — the corpus is skewed past the "
            "addressable sub-id range; raise per_cell or cap "
            "max_levels"
        )
    re_keyed = assigned.select(
        "vec_id",
        (F.col("cluster_id") * mult + F.col("sub_id"))
        .cast("int")
        .alias("cluster_id"),
        "qv",
    )
    out, cents, did_split, sub_assigned = _split_once(
        re_keyed, per_cell, iters, split_factor, fanout_cap
    )
    max_new = cents.agg(F.max("sub")).first()[0]
    nmult = int(max_new or 0) + 1
    if mult * nmult > 2**31 - 1:
        raise ValueError(
            "split re-application: recomposed sub id domain "
            f"(prior sub range {mult}) * (new sub range {nmult}) "
            "overflows INT32 — the corpus is skewed past the "
            "addressable sub-id range; raise per_cell or cap "
            "max_levels"
        )
    blk = F.col("cluster_id")
    out2 = out.select(
        "vec_id",
        F.floor(blk / mult).cast("int").alias("cluster_id"),
        ((blk % mult) * nmult + F.col("sub_id")).cast("int").alias("sub_id"),
        "qv",
    )
    cents2 = cents.select(
        F.floor(blk / mult).cast("int").alias("cluster_id"),
        ((blk % mult) * nmult + F.col("sub")).cast("int").alias("sub"),
        "cv",
    )
    if prev_cents is not None:
        resplit_blks = cents.select(
            F.floor(blk / mult).cast("int").alias("cluster_id"),
            (blk % mult).cast("int").alias("old_sub"),
        ).distinct()
        kept = prev_cents.join(
            resplit_blks,
            (prev_cents["cluster_id"] == resplit_blks["cluster_id"])
            & (prev_cents["sub"] == resplit_blks["old_sub"]),
            "left_anti",
        ).select(
            "cluster_id",
            (F.col("sub") * nmult).cast("int").alias("sub"),
            "cv",
        )
        cents2 = kept.unionByName(cents2)
    return out2, cents2, did_split, sub_assigned


def needs_cell_split(n_vecs: int, per_cell: int = 250, cap: int = 512) -> bool:
    """True exactly when cells_for_corpus clamped at the cap — the
    regime where occupancy grows with the corpus again and the
    second quantizer level must engage. Below the cap this is False
    at every driver-verified scale, so the static SQL oracles are
    untouched by the hierarchy."""
    return n_vecs // per_cell > cap
