"""Recall tests for the approximate ANN path and unit checks on the
vector expressions."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.similarity import cosine, cosine_topk, lsh_ann_topk
from gerrydb_etl_spark.sources import load_table
from tests.conftest import SF_ORACLE


def test_cosine_expression_unit(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([1.0, 2.0], [2.0, 4.0])],
        ["a", "b"],
    )
    vals = [
        r.c
        for r in df.select(
            cosine(F.col("a").cast("array<float>"), F.col("b").cast("array<float>")).alias("c")
        ).collect()
    ]
    assert abs(vals[0] - 0.0) < 1e-12
    assert abs(vals[1] - 1.0) < 1e-12
    assert abs(vals[2] - 1.0) < 1e-12


def test_ann_recall_vs_exact(spark):
    """LSH ANN top-5 recall vs exact, on the *near-uniform* synthetic
    corpus (top-5 neighbors at cos ~0.33 / θ ~71° — the hard regime
    for any sublinear ANN). With 8 tables x 4 bits, per-neighbor
    retrieval probability is ~1-(1-0.61^4)^8 ~ 0.69; 0.4 is the
    alarm threshold for catching implementation regressions, not the
    operator's target on clustered real-world embeddings."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_ann_topk(emb, queries, k=5, bits=4, tables=8, seed=42).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"ANN recall {recall:.2f} below alarm threshold"


def test_ivf_recall_vs_exact(spark):
    """IVF-Flat at 16 cells / 4 probes scans ~25% of the corpus and
    empirically recovers ~0.92 of exact top-5 here; 0.7 is the
    regression alarm."""
    from gerrydb_etl_spark.operators.ivf import ivf_topk

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4, iters=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"IVF recall {recall:.2f} below alarm threshold"


def test_ivf_deterministic(spark):
    from gerrydb_etl_spark.operators.ivf import train_centroids

    emb = load_table(spark, SF_ORACLE, "embeddings")
    a = train_centroids(emb, n_cells=8, iters=1)
    b = train_centroids(emb, n_cells=8, iters=1)
    assert (a == b).all()


def test_exact_topk_is_k_rows_per_query(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk(emb, queries, k=5)
    counts = {r.query_id: r.n for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert len(counts) == 10
    assert all(v == 5 for v in counts.values())
    # top-1 cosine should be a sane cosine value
    top = out.filter(F.col("rank") == 1).collect()
    assert all(-1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9 for r in top)
    assert all(not math.isnan(r.cosine) for r in top)


def test_cosine_topk_guards_large_query_sets(spark):
    """cosine_topk is the exact O(corpus x queries) verification
    baseline; a large query set must raise toward the ANN paths
    instead of silently launching a quadratic scan."""
    import pytest

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    with pytest.raises(ValueError, match="lsh_ann_topk/ivf_topk"):
        cosine_topk(emb, queries, k=3, max_queries=10)
    # opt-out accepts the quadratic scan explicitly
    assert cosine_topk(emb, queries.limit(12), k=3, max_queries=None).count() > 0


def test_embedding_neardup_recall_and_no_false_positives(spark):
    """The vector-space near-dup tier: LSH-bucketed candidates +
    exact rescore must recover >= 0.6 of the exact all-pairs truth
    set at cosine 0.4 (measured 0.83 at sf0.01) with ZERO false
    positives (every emitted pair is exactly rescored)."""
    from gerrydb_etl_spark.operators.similarity import (
        embedding_neardup,
        exact_cosine_pairs,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    truth = {(r.d1, r.d2) for r in exact_cosine_pairs(emb, 0.4).collect()}
    found = {(r.d1, r.d2) for r in embedding_neardup(emb, 0.4).collect()}
    assert not (found - truth), "rescored pairs can never be false positives"
    assert len(found & truth) / len(truth) >= 0.6


def test_anchor_planes_sparse_string_ids_and_degenerate_pairs(spark):
    """anchor_planes selects anchors by row POSITION in id order, so
    sparse/offset/string id spaces all work; a degenerate anchor pair
    (near-duplicate vectors -> near-zero difference plane) is skipped
    in favor of the next surviving pair."""
    import numpy as np

    from gerrydb_etl_spark.operators.similarity import anchor_planes

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((12, 4)).tolist()
    # rows 2 and 3 (pair j=1) are near-identical -> degenerate plane
    vecs[3] = [v + 1e-12 for v in vecs[2]]
    # string ids, lexicographic order defines the prefix
    rows = [(f"doc-{i:03d}", [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    planes = anchor_planes(df, bits=1, tables=2, id_col="vec_id")
    assert planes.shape == (2, 1, 4)
    got = planes.reshape(2, 4)
    arr = np.asarray(vecs, dtype=np.float64)
    # plane 0 = rows 0-1; pair (2,3) is degenerate and skipped;
    # plane 1 = rows 4-5
    assert np.allclose(got[0], arr[0] - arr[1])
    assert np.allclose(got[1], arr[4] - arr[5])


def test_anchor_planes_small_corpus_falls_back_to_seeded(spark):
    """A corpus with fewer surviving pairs than tables*bits planes
    falls back to the seeded RNG hyperplanes instead of raising."""
    import numpy as np

    from gerrydb_etl_spark.operators.similarity import anchor_planes, hyperplanes

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(5)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = anchor_planes(df, bits=2, tables=2, id_col="vec_id")
    assert np.allclose(planes, hyperplanes(4, bits=2, tables=2, seed=42))


def test_ivf_broadcast_guard_switches_to_shuffle_join(spark):
    """Above broadcast_query_limit the candidate join must NOT
    broadcast the query side (a bulk-ANN query set can be the whole
    corpus); results are identical either way."""
    from gerrydb_etl_spark.operators.ivf import ivf_topk

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)

    wide = ivf_topk(emb, queries, k=3, n_cells=4, n_probe=2, iters=1,
                    broadcast_query_limit=4)
    # no broadcast HINT on the query side past the limit (AQE may
    # still pick a broadcast join on its own size estimates — that is
    # its call, not a forced plan)
    assert "ResolvedHint" not in wide._jdf.queryExecution().analyzed().toString()

    narrow = ivf_topk(emb, queries, k=3, n_cells=4, n_probe=2, iters=1,
                      broadcast_query_limit=1024)
    assert "ResolvedHint" in narrow._jdf.queryExecution().analyzed().toString()
    got = {(r.query_id, r.neighbor_id, r.rank) for r in wide.collect()}
    want = {(r.query_id, r.neighbor_id, r.rank) for r in narrow.collect()}
    assert got == want


def test_staged_lsh_sigs_match_inline_signatures(spark):
    """The staged signature index must equal inline computation
    (data-derived anchor planes are deterministic given the
    corpus)."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.partitioning import fan_out
    from gerrydb_etl_spark.operators.similarity import (
        _signature_udf,
        anchor_planes,
    )
    from gerrydb_etl_spark.store.staging import LSH_SIGS
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    sig_udf = _signature_udf(anchor_planes(emb, 4, 8))
    inline = {
        (r["doc"], r["tbl"], r["sig"])
        for r in (
            fan_out(emb.select(F.col("vec_id").alias("doc"), "embedding"))
            .select("doc", sig_udf(F.col("embedding")).alias("sigs"))
            .select("doc", F.posexplode("sigs").alias("tbl", "sig"))
        ).collect()
    }
    staged = {
        (r["doc"], r["tbl"], r["sig"])
        for r in LSH_SIGS.read(spark, SF_SMOKE, bits=4, tables=8).collect()
    }
    assert staged == inline


def test_staged_ivf_matches_inline_training(spark):
    """The staged IVF model (assignment + centroids) must reproduce
    the inline result exactly — fixed-point training has no RNG or
    float-order dependence."""
    from gerrydb_etl_spark.operators.ivf import ivf_topk
    from gerrydb_etl_spark.store.staging import IVF
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    inline = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk(
            emb, queries, k=3, n_cells=16, n_probe=4, iters=2
        ).collect()
    }
    staged = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk(
            emb, queries, k=3, n_cells=16, n_probe=4, iters=2,
            model=IVF.read(spark, SF_SMOKE, 16, 2),
        ).collect()
    }
    assert staged == inline


def test_anchor_plane_corpus_contract_holds_on_driver_data(spark):
    """The full-replay oracles for embedding_neardup / ann_cosine_topk
    replay the anchor-difference path unconditionally, while
    anchor_planes silently falls back to seeded RNG on corpora too
    small/duplicated to anchor (< tables*bits surviving pairs from a
    2*tables*bits*over_provision prefix). This pins that the SMALLEST
    driver corpus satisfies the anchor contract with real margin, so
    the fallback — and the oracle mismatch it would cause — cannot
    trigger on any driver scale factor."""
    import numpy as np

    from gerrydb_etl_spark.operators.similarity import (
        ANCHOR_OVER_PROVISION,
        anchor_planes,
        hyperplanes,
    )
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    need = 2 * 8 * 4 * ANCHOR_OVER_PROVISION
    assert emb.count() >= need, (
        "smallest driver corpus no longer covers the anchor prefix — "
        "the replay oracles would silently diverge from the RNG fallback"
    )
    planes = anchor_planes(emb, bits=4, tables=8)
    rng = hyperplanes(64, bits=4, tables=8, seed=42)
    assert not np.allclose(planes, rng), "fallback unexpectedly triggered"


# -- two-level IVF probe (VERDICT r8 item 2) --------------------------


def _grouped_corpus(spark, groups=16, members=40):
    """Duplicate groups on well-separated directions: every vector's
    true nearest neighbor is an identical twin in its own group."""
    import math

    rows = []
    for g in range(groups):
        theta = g * math.pi / 2 / groups
        v = [math.cos(theta), math.sin(theta), 0.25, 0.5]
        for j in range(members):
            rows.append((g * members + j, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_two_level_probe_finds_identical_twin(spark):
    """With the hierarchy active, each query's top-1 must still be a
    member of its own duplicate group (the twin shares the exact
    subcell, so a correct two-level probe cannot miss it)."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.ivf import _train, ivf_topk
    from gerrydb_etl_spark.operators.kmeans import (
        quantize,
        split_oversized_cells,
    )

    corpus = _grouped_corpus(spark)
    quant = quantize(corpus)
    centroids, assigned = _train(quant, n_cells=2, iters=2)
    split, subcents = split_oversized_cells(assigned, per_cell=40)
    assert subcents.count() > 0, "fixture must split"
    queries = corpus.filter(F.col("vec_id") % 80 == 0)
    top1 = ivf_topk(
        corpus, queries, k=1, n_cells=2, n_probe=2,
        model=(split, centroids), sub_model=subcents,
    ).collect()
    assert len(top1) == queries.count()
    for r in top1:
        assert r["query_id"] // 40 == r["neighbor_id"] // 40, r
        assert r["cosine"] > 0.999999


def test_ivf_sub_model_with_no_split_matches_one_level(spark):
    """An EMPTY subcentroid table (nothing was oversized) must give
    bit-identical results to the one-level probe — the hierarchy is
    a strict superset of the old path."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.ivf import _train, ivf_topk
    from gerrydb_etl_spark.operators.kmeans import (
        quantize,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.sources import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    quant = quantize(corpus)
    centroids, assigned = _train(quant, n_cells=8, iters=2)
    split, subcents = split_oversized_cells(assigned, per_cell=250)
    assert subcents.count() == 0
    queries = corpus.filter(F.col("vec_id") % 50 == 0)
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])  # noqa: E731
    one = sorted(
        map(key, ivf_topk(
            corpus, queries, k=3, n_cells=8, n_probe=2,
            model=(assigned, centroids),
        ).collect())
    )
    two = sorted(
        map(key, ivf_topk(
            corpus, queries, k=3, n_cells=8, n_probe=2,
            model=(split, centroids), sub_model=subcents,
        ).collect())
    )
    assert one == two
