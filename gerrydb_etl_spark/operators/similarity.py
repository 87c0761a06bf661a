"""Similarity search over embedding columns (array<float>).

Two paths:

  cosine_topk   — exact brute-force top-k for a (small, broadcast)
                  query set against the full corpus. The baseline and
                  the verification oracle for the ANN path.
  lsh_ann_topk  — random-hyperplane LSH: corpus is bucketed by sign
                  bits across L tables; only bucket-colliding
                  candidates get an exact cosine. The 100 TB path —
                  candidate volume per query is bucket-bounded, not
                  corpus-bounded.

Numeric contract: all dot products / norms are sequential left folds
in DOUBLE (`aggregate` over `zip_with`), which DuckDB reproduces
bit-for-bit with `list_reduce` — so the exact path hash-matches the
SQL oracle (verified: 15/15 bitwise-equal on the test corpus).

North-star extension (SURVEY.md §2.12); the reference has no vector
surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window as W

from gerrydb_etl_spark.operators.partitioning import fan_out


def fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum in double (order-deterministic,
    engine-portable — unlike SUM over an exploded array)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm(a: Column) -> Column:
    return F.sqrt(fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = 1024,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Plan: broadcast the query set against the corpus (no corpus
    shuffle), then two-phase top-k — a per-spark-partition
    row_number prunes each partition to k rows per query *before*
    the shuffle, so the final per-query window sees at most
    k x num_partitions rows instead of the whole corpus. Ties break
    on neighbor id for determinism.

    This is deliberately O(corpus x queries): it is the exact
    baseline that verifies the sublinear ANN paths (lsh_ann_topk,
    ivf_topk), not the production path for large query sets.
    ``max_queries`` guards that envelope — a query set larger than
    the cap raises instead of silently launching a quadratic scan
    (and a >1024-vector broadcast side is past where the broadcast
    plan itself stops making sense). Pass None only when the
    quadratic cost is understood and intended.
    """
    if max_queries is not None:
        n_q = queries.limit(max_queries + 1).count()
        if n_q > max_queries:
            raise ValueError(
                f"cosine_topk is the exact O(corpus x queries) baseline; "
                f"query set exceeds max_queries={max_queries}. Use "
                f"lsh_ann_topk/ivf_topk for large query sets, or pass "
                f"max_queries=None to accept the quadratic scan."
            )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_nrm"),
    )
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
        )
    ).withColumn("n_nrm", norm(F.col("n_vec")))
    # norms are folded ONCE PER ROW on each side before the pair
    # explosion (the values — and so the oracle hashes — are
    # bit-identical to folding them per pair; the fold count drops
    # from 3 per scored pair to 1)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_nrm") * F.col("n_nrm"))
            ).alias("cosine"),
        )
    )
    order = [F.desc("cosine"), F.asc("neighbor_id")]
    local = W.partitionBy("query_id", F.spark_partition_id()).orderBy(*order)
    final = W.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("_lrn", F.row_number().over(local))
        .filter(F.col("_lrn") <= k)
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def exact_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-dup set: every (d1 < d2) pair with
    cosine >= threshold. O(n²) BY DESIGN — this is the verification
    baseline for embedding_neardup (the broadcast nested-loop
    self-join is the same deliberate envelope as cosine_topk), not a
    production path; it exists so the LSH-bucketed operator has an
    exact truth set to report recall against.

    Norms are folded ONCE PER ROW before the pair join: the array
    folds are Catalyst higher-order functions (interpreted per
    element, outside whole-stage codegen), so folding norm inside
    the pair expression tripled the dominant cost — 3 folds x n²
    pairs vs 1 fold x n² + 2n (measured 100s -> ~35s at sf0.1's 2M
    pairs). Bitwise identical to cosine(): the per-row norm is the
    same fold on the same row, and the division keeps the same
    dot / (norm_a * norm_b) multiply order the SQL replays."""
    a = corpus.select(
        F.col(id_col).alias("d1"),
        F.col(vec_col).alias("a_vec"),
        norm(F.col(vec_col)).alias("a_nrm"),
    )
    b = corpus.select(
        F.col(id_col).alias("d2"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_nrm"),
    )
    return (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            (
                dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_nrm") * F.col("b_nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 4,
    tables: int = 8,
    max_bucket_size: int | None = None,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space tier
    of the dedup family (exact hash / Jaccard / MinHash / SimHash /
    THIS): candidate pairs come only from shared LSH buckets
    (hyperplane sign signatures, one per table), then an exact cosine
    rescore keeps pairs at or above ``threshold``.

    The hyperplanes are ANCHOR DIFFERENCES (``anchor_planes``):
    consecutive-row differences over the corpus prefix in id order,
    with degenerate (near-duplicate anchor) pairs skipped.
    Data-derived planes make the whole pipeline deterministic given
    the corpus and reproducible in plain SQL (the registered query
    carries a full value-hash oracle that replays anchors → planes →
    buckets → candidates → rescore in DuckDB), while differences of
    i.i.d. vectors are distributed like the random Gaussian
    hyperplanes they replace — same collision curve, no RNG.

    Scale: bucketing is a narrow map (one BLAS matmul per Arrow
    batch); pair generation groups on (table, signature) and explodes
    intra-bucket combinations (``bucket_pairs``) so candidate volume
    is sum of bucket² per table, never corpus² — the same
    bucketed-candidates contract as the text near-dup operators, with
    the same opt-in hot-bucket cap (a degenerate corpus of identical
    vectors collapses into one bucket per table). Only doc IDS ride
    the bucket groupBy and the pair dedup exchange (16-byte rows, not
    the 64-float vectors — a 30-60x shuffle-volume cut); vectors and
    per-doc norms join back onto the surviving distinct pairs for the
    rescore, which is then a single dot fold per pair (norms folded
    once per doc, values bit-identical to the per-pair spelling, so
    the value-hash oracle is unchanged). At this shape AQE broadcasts
    the corpus side while it is small and shuffles on doc id at
    scale — the standard candidates-then-join near-dup plan. Recall
    follows the hyperplane collision curve
    1-(1-(1-θ/π)^bits)^tables — at the default 4x8 a pair at exactly
    cos 0.4 (θ≈66°) is caught with p≈0.75, rising steeply for closer
    pairs; the registered *_verify query pins the measured recall
    floor."""
    from gerrydb_etl_spark.operators.dedup import bucket_pairs

    docs = corpus.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"))
    if bucketed is None:
        # ``bucketed``: optionally the precomputed (doc, tbl, sig)
        # rows — e.g. the session-staged signature index from
        # store/staging.py; values identical to inline computation
        # (data-derived planes, one matmul), so the replay oracle is
        # unaffected.
        sig_udf = _signature_udf(
            anchor_planes(corpus, bits, tables, id_col, vec_col)
        )
        bucketed = (
            fan_out(docs)
            .select("doc", sig_udf(F.col("vec")).alias("sigs"))
            .select("doc", F.posexplode("sigs").alias("tbl", "sig"))
        )
    cand = (
        bucket_pairs(bucketed, ["tbl", "sig"], F.struct("doc"), max_bucket_size)
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    sided = docs.withColumn("nrm", norm(F.col("vec")))
    a = sided.select(
        F.col("doc").alias("d1"),
        F.col("vec").alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
    )
    b = sided.select(
        F.col("doc").alias("d2"),
        F.col("vec").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
    )
    return (
        cand.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            (
                dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_nrm") * F.col("b_nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hyperplanes(
    dim: int, bits: int = 8, tables: int = 4, seed: int = 42
) -> np.ndarray:
    """Deterministic random hyperplanes, shape (tables, bits, dim)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((tables, bits, dim))


ANCHOR_EPS = 1e-6
ANCHOR_OVER_PROVISION = 4


def anchor_planes(
    corpus: DataFrame,
    bits: int,
    tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = ANCHOR_EPS,
    seed: int = 42,
    over_provision: int = ANCHOR_OVER_PROVISION,
) -> np.ndarray:
    """Data-derived LSH hyperplanes, shape (tables, bits, dim).

    Candidate plane j is the elementwise DIFFERENCE of the (2j)-th
    and (2j+1)-th corpus vectors in HASH-MIXED ``id_col`` order for
    integral ids (Knuth multiplicative mix, 31-bit masked, id
    tiebreak — row position in that order, so sparse and offset id
    spaces work; non-integral ids fall back to plain id order).
    The mix matters at scale: an id-ordered prefix
    samples anchors from ONE corner of the corpus (parquet is
    routinely sorted by source/time/cluster), and planes derived
    from an unrepresentative corner project the rest of the corpus
    degenerately — measured in the x10 replica experiment (PERF.md:
    id-ordered anchors gave a 100x bucket-pair blowup on
    rotated replicas). The mixed order is a deterministic pseudo-
    random sample of the whole corpus, replayed exactly in the
    DuckDB oracles.
    Candidates whose difference norm is below ``eps`` times the sum
    of the two anchor norms are discarded: in a near-duplicate corpus
    an anchor pair may itself be a near/exact duplicate, and a
    near-zero plane contributes a constant or float-noise sign bit
    that silently coarsens every bucket. The first tables·bits
    surviving candidates become the planes. Pairs are drawn from the
    first 2·tables·bits·over_provision rows; if fewer than
    tables·bits candidates survive (tiny or pathologically
    duplicated corpus), falls back to ``hyperplanes`` (seeded RNG,
    any corpus) rather than raising.

    Why differences, not raw vectors: a difference of two i.i.d.
    embeddings is zero-mean even when the embedding distribution has
    a common offset (raw anchors on an uncentered corpus would put
    nearly every vector on the same side of every plane — no
    pruning); for i.i.d. Gaussian-ish embeddings the differences are
    distributed like the random hyperplanes they replace.

    Why data-derived at all: determinism given the corpus, with
    every selection step (ordered prefix, consecutive pairing, the
    eps filter, first-n cut) and the exact arithmetic (float→double
    cast, elementwise subtract, sequential-fold dot) reproducible in
    plain SQL — which is what lets embedding_neardup carry a full
    value-hash oracle instead of a rows-only check. The eps
    comparison itself uses numpy pairwise-summed norms vs the
    oracle's sequential fold; the decisions agree unless a pair sits
    within a few ulp of the eps boundary, which only a corpus
    engineered for that boundary can produce.

    The driver materialization is bounded: 2·tables·bits·
    over_provision rows (256 at the defaults) via an ordered
    ``limit`` (TakeOrdered — no full sort, no full collect), the
    same bounded-collect class as IVF centroids.
    """
    n = tables * bits
    # 31-bit Knuth multiplicative mix (id masked BEFORE the multiply
    # so the product stays in int64 for any id — same overflow
    # discipline as the epoch-shuffle mixer), id tiebreak for masked
    # collisions; orderBy+limit compiles to TakeOrdered (no full sort)
    # integral ids get the mixed order; other id types (strings,
    # decimals) fall back to plain id order — no bitwise domain to
    # mix in, and the registered vector queries all use BIGINT ids
    if isinstance(corpus.schema[id_col].dataType, T.IntegralType):
        order = [
            F.expr("((i & 2147483647) * 2654435761) & 2147483647"),
            F.col("i"),
        ]
    else:
        order = [F.col("i")]
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(*order)
        .limit(2 * n * over_provision)
        .collect()
    )
    if not rows:
        raise ValueError("anchor_planes: empty corpus")
    vecs = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    dim = vecs.shape[1]
    n_pairs = len(vecs) // 2
    a = vecs[0 : 2 * n_pairs : 2]
    b = vecs[1 : 2 * n_pairs : 2]
    diffs = a - b
    keep = np.sqrt((diffs * diffs).sum(axis=1)) >= eps * (
        np.sqrt((a * a).sum(axis=1)) + np.sqrt((b * b).sum(axis=1))
    )
    good = diffs[keep]
    if len(good) < n:
        return hyperplanes(dim, bits, tables, seed)
    return good[:n].reshape(tables, bits, dim)


def _signature_udf(planes: np.ndarray):
    """Vectorized LSH signatures: one Arrow batch -> one numpy matmul
    against ALL tables' planes at once, packing sign bits per table.
    Returns array<int> (one signature per table). ~100x cheaper than
    the per-plane expression tree (tables x bits x dim literals) it
    replaces, and the matmul is BLAS-backed.
    """
    tables, bits, dim = planes.shape
    flat = planes.reshape(tables * bits, dim).T  # (dim, tables*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def sig(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(list(vecs), dtype=np.float64)  # (n, dim)
        signs = (mat @ flat) >= 0  # (n, tables*bits)
        packed = signs.reshape(len(mat), tables, bits) @ weights  # (n, tables)
        return pd.Series([row.astype("int32").tolist() for row in packed])

    return sig


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 4,
    tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Each vector lands in `tables` buckets (one 2^bits-ary signature
    per table). A corpus row is scored against a query iff they share
    a bucket in at least one table; exact cosine then ranks the
    candidate set.

    Tuning: P(retrieve a neighbor at angle θ) = 1-(1-(1-θ/π)^bits)^tables.
    On clustered embeddings (neighbors at cos ≳ 0.8) bits=8/tables=4
    prunes ~95% of the corpus at ~0.95 recall. The synthetic test
    corpus is near-uniform (top-5 neighbors at cos ≈ 0.33, θ ≈ 71°)
    — the hard regime for any sublinear ANN — so defaults are the
    gentler bits=4/tables=8: ~2x pruning at ~0.65-0.7 top-5 recall
    (alarm-thresholded in tests/test_llm_similarity.py).

    Scale: corpus bucketing is a narrow map (no shuffle); the
    candidate join shuffles on (table, signature) — bucket sizes
    are ~corpus/2^bits per table, so candidate volume per query is
    tables x bucket, independent of corpus size for fixed density.

    Planes are the data-derived anchor differences (``anchor_planes``
    — deterministic given the corpus and SQL-replayable, falling
    back to seeded RNG hyperplanes only on corpora too small to
    anchor), which is what lets the registered ann_cosine_topk query
    carry a full pipeline-replay value-hash oracle like
    embedding_neardup's instead of a rows-only check.
    """
    planes = anchor_planes(
        corpus, bits, tables, id_col=id_col, vec_col=vec_col, seed=seed
    )
    sig_udf = _signature_udf(planes)

    def bucketed(df: DataFrame, prefix: str) -> DataFrame:
        # posexplode the per-table signature array -> (table, sig)
        # bucket rows; the signature UDF and the norm fold both run
        # once per INPUT row (pre-explode), so each scored pair later
        # costs a single dot fold instead of three.
        return (
            df.select(
                F.col(id_col).alias(f"{prefix}_id"),
                F.col(vec_col).alias(f"{prefix}_vec"),
                norm(F.col(vec_col)).alias(f"{prefix}_nrm"),
                sig_udf(F.col(vec_col)).alias("sigs"),
            )
            .select(
                f"{prefix}_id",
                f"{prefix}_vec",
                f"{prefix}_nrm",
                F.posexplode("sigs").alias("tbl", "sig"),
            )
        )

    cb = bucketed(fan_out(corpus), "neighbor")
    qb = bucketed(queries, "query")
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "query_vec", "query_nrm",
            "neighbor_id", "neighbor_vec", "neighbor_nrm",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("query_vec"), F.col("neighbor_vec"))
            / (F.col("query_nrm") * F.col("neighbor_nrm"))
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
