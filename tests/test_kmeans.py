"""Unit tests for fixed-point k-means + SemDeDup beyond the
registered oracle-differential checks (tests/test_queries_oracle.py
covers kmeans_train_assign / semantic_dedup_survivors end to end)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.kmeans import (
    init_centroids,
    kmeans_train,
    quantize,
    semantic_dedup,
)
from tests.conftest import SF_ORACLE


def test_quantization_matches_duckdb_bitwise(spark):
    """round(double(v)*1e6) must agree component-for-component with
    DuckDB on the real float32 corpus — the whole determinism
    contract rests on the two engines quantizing identically."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    got = {
        r["vec_id"]: list(r["qv"])
        for r in quantize(emb).orderBy("vec_id").limit(50).collect()
    }
    want = dict(
        duckdb.sql(
            f"""
            SELECT vec_id,
                   list_transform(embedding,
                       v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
            FROM '{SF_ORACLE}/embeddings.parquet'
            ORDER BY vec_id LIMIT 50
            """
        ).fetchall()
    )
    assert got == {k: list(v) for k, v in want.items()}


def test_kmeans_on_sparse_noncontiguous_ids(spark):
    """Init centroids come from row ORDER, not id VALUES — a corpus
    with gappy/offset ids must train without error (the
    anchor_planes regression class from ADVICE r5)."""
    emb = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .filter(F.col("vec_id") % 3 != 1)
        .withColumn("vec_id", F.col("vec_id") * 1000 + 7)
    )
    out = kmeans_train(emb, k=4, iters=2)
    n = emb.count()
    assert out.count() == n
    assert out.select("cluster_id").distinct().count() <= 4


def test_kmeans_deterministic_across_runs(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    a = sorted(map(tuple, kmeans_train(emb, k=5, iters=3).collect()))
    b = sorted(map(tuple, kmeans_train(emb, k=5, iters=3).collect()))
    assert a == b


def test_kmeans_k_larger_than_corpus_raises(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(3)
    with pytest.raises(ValueError, match="k=5"):
        init_centroids(quantize(emb), k=5)


def test_iterations_do_not_increase_inertia(spark):
    """Lloyd's monotonicity: total squared distance after 3 passes
    <= after 1 pass (equality only if already converged)."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    i1 = kmeans_train(emb, k=8, iters=1).agg(F.sum("sq_dist_q")).first()[0]
    i3 = kmeans_train(emb, k=8, iters=3).agg(F.sum("sq_dist_q")).first()[0]
    assert i3 <= i1


def test_semdedup_drops_only_docs_with_earlier_neighbor(spark):
    """Every dropped vector must have a lower-id same-cell neighbor
    at cosine>=tau; every survivor must not."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    survivors = {r["vec_id"] for r in semantic_dedup(emb, k=8, iters=3, tau=0.4).collect()}
    assigned = kmeans_train(emb, k=8, iters=3)
    rows = [(r["vec_id"], r["cluster_id"]) for r in assigned.collect()]
    emb_map = {
        r["vec_id"]: r["embedding"]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(u, v):
        d = sum(float(a) * float(b) for a, b in zip(u, v))
        nu = sum(float(a) * float(a) for a in u) ** 0.5
        nv = sum(float(b) * float(b) for b in v) ** 0.5
        return d / (nu * nv)

    by_cell: dict[int, list[int]] = {}
    for vid, cid in rows:
        by_cell.setdefault(cid, []).append(vid)
    for cid, members in by_cell.items():
        members.sort()
        for i, vid in enumerate(members):
            has_earlier = any(
                cos(emb_map[e], emb_map[vid]) >= 0.4 - 1e-9 for e in members[:i]
            )
            if vid not in survivors:
                assert has_earlier, f"{vid} dropped without an earlier neighbor"


def test_empty_cluster_drops_out(spark):
    """A k chosen so some init centroids capture nothing must not
    crash; surviving cluster ids are a subset of 0..k-1."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(20)
    out = kmeans_train(emb, k=10, iters=3)
    cids = {r["cluster_id"] for r in out.select("cluster_id").distinct().collect()}
    assert cids <= set(range(10))
    assert out.count() == 20


def test_staged_kmeans_matches_inline_training(spark):
    """The session-staged trained model must be value-identical to
    inline training (fixed-point arithmetic, no RNG) — the property
    that lets SemDeDup consume the fixture while its oracle
    re-trains from scratch."""
    from gerrydb_etl_spark.operators.kmeans import kmeans_train
    from gerrydb_etl_spark.sources import load_table
    from gerrydb_etl_spark.store.staging import KMEANS
    from tests.conftest import SF_SMOKE

    staged = {
        (r["vec_id"], r["cluster_id"])
        for r in KMEANS.read(spark, SF_SMOKE, k=8, iters=3).collect()
    }
    inline = {
        (r["vec_id"], r["cluster_id"])
        for r in kmeans_train(
            load_table(spark, SF_SMOKE, "embeddings"), k=8, iters=3
        ).collect()
    }
    assert staged == inline


def test_staged_kmeans_catalog_hit_is_stable(spark):
    from gerrydb_etl_spark.store.staging import KMEANS
    from tests.conftest import SF_SMOKE

    (a,) = KMEANS.ensure(spark, SF_SMOKE, k=8, iters=3)
    (b,) = KMEANS.ensure(spark, SF_SMOKE, k=8, iters=3)
    assert a == b and spark.catalog.tableExists(a)


def test_cells_for_corpus_regions():
    """Floor below floor_k*per_cell (static-oracle parity at every
    driver scale), linear in the middle (occupancy ~per_cell), and
    capped at the top."""
    from gerrydb_etl_spark.operators.kmeans import cells_for_corpus

    # driver/bench corpora (sf0.001/sf0.01 = 500 embeddings,
    # sf0.1 = 2000) all return exactly the static-oracle literal
    # for both consumers (semantic_dedup k=8/per_cell=250,
    # split-leakage IVF cells=16/per_cell=125)
    assert cells_for_corpus(500, floor_k=8) == 8
    assert cells_for_corpus(2000, floor_k=8) == 8
    assert cells_for_corpus(500, floor_k=16, per_cell=125) == 16
    assert cells_for_corpus(2000, floor_k=16, per_cell=125) == 16
    # linear region: occupancy pinned near per_cell
    k = cells_for_corpus(100_000, floor_k=8)
    assert 100_000 // k <= 2 * 250
    # cap region
    assert cells_for_corpus(10**9, floor_k=8) == 512


def test_cells_for_corpus_pinned_to_live_fixture_sizes():
    """ADVICE r8: the rule sits exactly on a boundary at sf0.1
    (2000 // 125 == 16, 2000 // 250 == 8). Read the REAL corpus
    sizes from the driver fixtures so any fixture growth fails
    loudly here — at the rule — instead of as an opaque oracle hash
    mismatch in semantic_dedup_survivors / embedding_split_leakage."""
    import duckdb

    from gerrydb_etl_spark.operators.kmeans import cells_for_corpus

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM '/root/testdata/{sf}/embeddings.parquet'"
        ).fetchone()[0]
        assert cells_for_corpus(n, floor_k=8) == 8, (sf, n)
        assert cells_for_corpus(n, floor_k=16, per_cell=125) == 16, (sf, n)


# -- hierarchical cells (VERDICT r8 item 2) ---------------------------


def _clustered_emb(spark, n, fat_frac=0.7, dim=4):
    """Synthetic corpus with one FAT natural cluster (fat_frac of
    rows near the origin) and the rest spread out — the shape that
    leaves one k-means cell oversized."""
    import pyspark.sql.functions as F

    fat = (F.col("id") % 1000 < int(fat_frac * 1000))
    comp = lambda i: (  # noqa: E731
        F.when(fat, (F.col("id") % 13).cast("double") / 100.0)
        .otherwise(((F.col("id") * (i + 7)) % 997).cast("double"))
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(i) for i in range(dim)]).alias("embedding"),
    )


def test_split_oversized_noop_below_threshold(spark):
    """Below split_factor * per_cell nothing splits: sub_id is 0
    everywhere, rows and cells unchanged, subcentroids empty."""
    from gerrydb_etl_spark.operators.kmeans import (
        kmeans_train,
        split_oversized_cells,
    )

    emb = _clustered_emb(spark, 300)
    assigned = kmeans_train(emb, k=4, iters=2, keep_qv=True)
    out, cents = split_oversized_cells(assigned, per_cell=250)
    assert cents.count() == 0
    rows = out.collect()
    assert all(r["sub_id"] == 0 for r in rows)
    want = {(r["vec_id"], r["cluster_id"]) for r in assigned.collect()}
    assert {(r["vec_id"], r["cluster_id"]) for r in rows} == want


def test_split_refines_partition_and_bounds_occupancy(spark):
    """Splitting must (a) keep every vector in its top-level cell,
    (b) leave small cells alone, and (c) bring every refined block
    at-or-under the pre-split fat-cell occupancy with multiple
    populated subcells."""
    from gerrydb_etl_spark.operators.kmeans import (
        kmeans_train,
        split_oversized_cells,
    )

    per_cell = 50
    emb = _clustered_emb(spark, 1200)
    assigned = kmeans_train(emb, k=4, iters=2, keep_qv=True)
    before = {
        r["cluster_id"]: r["count"]
        for r in assigned.groupBy("cluster_id").count().collect()
    }
    fat_cells = {c for c, n in before.items() if n > 4 * per_cell}
    assert fat_cells, "fixture must produce an oversized cell"

    out, cents = split_oversized_cells(assigned, per_cell=per_cell)
    # (a) partition refinement
    top_before = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    rows = out.collect()
    assert {r["vec_id"]: r["cluster_id"] for r in rows} == top_before
    # (b) small cells untouched
    assert all(
        r["sub_id"] == 0 for r in rows if r["cluster_id"] not in fat_cells
    )
    # (c) fat cells genuinely subdivided
    from collections import Counter

    occ = Counter((r["cluster_id"], r["sub_id"]) for r in rows)
    for c in fat_cells:
        subs = {s for (cc, s) in occ if cc == c}
        assert len(subs) > 1, "fat cell did not split"
        assert max(v for (cc, _), v in occ.items() if cc == c) < before[c]
    # the subcentroid table covers exactly the split cells
    assert {r["cluster_id"] for r in cents.collect()} >= fat_cells


def test_split_is_deterministic(spark):
    from gerrydb_etl_spark.operators.kmeans import (
        kmeans_train,
        split_oversized_cells,
    )

    emb = _clustered_emb(spark, 800)
    assigned = kmeans_train(emb, k=4, iters=2, keep_qv=True)
    a1, c1 = split_oversized_cells(assigned, per_cell=50)
    a2, c2 = split_oversized_cells(assigned, per_cell=50)
    key = lambda r: (r["vec_id"], r["cluster_id"], r["sub_id"])  # noqa: E731
    assert sorted(map(key, a1.collect())) == sorted(map(key, a2.collect()))
    ckey = lambda r: (r["cluster_id"], r["sub"], tuple(r["cv"]))  # noqa: E731
    assert sorted(map(ckey, c1.collect())) == sorted(map(ckey, c2.collect()))


def test_split_pair_volume_linearizes(spark):
    """The point of the hierarchy: sum(block^2) must drop by at
    least the split factor on a corpus whose capped cells are
    oversized."""
    from gerrydb_etl_spark.operators.kmeans import (
        kmeans_train,
        split_oversized_cells,
    )

    emb = _clustered_emb(spark, 2000)
    assigned = kmeans_train(emb, k=4, iters=2, keep_qv=True)
    pair = lambda counts: sum(n * n for n in counts)  # noqa: E731
    before = pair(
        r["count"] for r in assigned.groupBy("cluster_id").count().collect()
    )
    out, _ = split_oversized_cells(assigned, per_cell=50)
    after = pair(
        r["count"]
        for r in out.groupBy("cluster_id", "sub_id").count().collect()
    )
    assert after * 4 <= before, (before, after)


def test_semantic_dedup_blocks_on_subcells(spark):
    """semantic_dedup with a split assignment: survivors on a corpus
    of well-separated duplicate GROUPS equal the unsplit answer
    (identical vectors always share a subcell — same distances, same
    tie-break — and cross-group cosine sits far below tau), and the
    output keeps the top-level cluster_id."""
    import math

    from gerrydb_etl_spark.operators.kmeans import (
        kmeans_train,
        semantic_dedup,
        split_oversized_cells,
    )

    # 20 groups x 30 identical members; group directions 4.5deg
    # apart (adjacent cosine 0.997 << tau)
    rows = []
    for g in range(20):
        theta = g * math.pi / 2 / 20
        v = [math.cos(theta), math.sin(theta)]
        for j in range(30):
            rows.append((g * 30 + j, v))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    assigned = kmeans_train(emb, k=2, iters=2, keep_qv=True)
    plain = {
        r["vec_id"]
        for r in semantic_dedup(
            emb, tau=0.9999, assigned=assigned
        ).collect()
    }
    # exactly the first member of each group survives
    assert plain == {g * 30 for g in range(20)}
    split, _ = split_oversized_cells(assigned, per_cell=30)
    assert split.filter("sub_id > 0").count() > 0, "nothing split"
    refined = semantic_dedup(emb, tau=0.9999, assigned=split)
    assert {r["vec_id"] for r in refined.collect()} == plain
    # output schema keeps the top-level cell id
    assert refined.columns == ["vec_id", "cluster_id"]


def test_hier_demo_per_cell_rule_pinned_to_fixture_sizes():
    """hierarchical_cells_assign scales its per_cell with the corpus
    (frozen per_cell under fixed k is quadratic); the rule must
    return the oracle literal 25 at every driver-verified corpus
    size — sf0.1 sits exactly on the boundary (2000 // 80 == 25)."""
    import duckdb

    from gerrydb_etl_spark.queries.clustering import _HPER

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM '/root/testdata/{sf}/embeddings.parquet'"
        ).fetchone()[0]
        assert max(_HPER, n // 80) == _HPER, (sf, n)


def test_split_reapplication_refines_existing_blocks(spark):
    """Re-applying the split to an output that still has oversized
    (cluster, sub) blocks must refine THOSE blocks (not restart from
    the top level): level-1 membership preserved, occupancy drops,
    composed sub ids collision-free, deterministic."""
    from collections import Counter

    from gerrydb_etl_spark.operators.kmeans import (
        kmeans_train,
        split_oversized_cells,
    )

    emb = _clustered_emb(spark, 1600)
    assigned = kmeans_train(emb, k=4, iters=2, keep_qv=True)
    # coarse first level: big per_cell leaves big blocks...
    lvl1, _ = split_oversized_cells(assigned, per_cell=200)
    occ1 = Counter(
        (r["cluster_id"], r["sub_id"]) for r in lvl1.collect()
    )
    # ...which exceed the finer second-level threshold
    assert any(n > 4 * 30 for n in occ1.values())
    lvl2, cents2 = split_oversized_cells(lvl1, per_cell=30)
    rows1 = {r["vec_id"]: (r["cluster_id"], r["sub_id"]) for r in lvl1.collect()}
    rows2 = lvl2.collect()
    occ2 = Counter((r["cluster_id"], r["sub_id"]) for r in rows2)
    # top-level membership never changes
    assert {r["vec_id"]: r["cluster_id"] for r in rows2} == {
        v: c for v, (c, _) in rows1.items()
    }
    # biggest block shrank
    assert max(occ2.values()) < max(occ1.values())
    # level-2 blocks refine level-1 blocks: all members of one
    # lvl2 block share one lvl1 block
    by_blk2: dict[tuple, set] = {}
    for r in rows2:
        by_blk2.setdefault((r["cluster_id"], r["sub_id"]), set()).add(
            rows1[r["vec_id"]]
        )
    assert all(len(v) == 1 for v in by_blk2.values())
    # deterministic
    again = split_oversized_cells(lvl1, per_cell=30)[0].collect()
    key = lambda r: (r["vec_id"], r["cluster_id"], r["sub_id"])  # noqa: E731
    assert sorted(map(key, rows2)) == sorted(map(key, again))
    # subcentroids decompose onto real blocks
    assert {r["cluster_id"] for r in cents2.collect()} <= {
        c for c, _ in occ1
    }


def test_resplit_with_prev_cents_returns_complete_codebook(spark):
    """Round-9 review finding: re-application renumbers every sub id,
    so a probe-side codebook must cover ALL blocks under the new
    numbering — untouched blocks keep their old centroid."""
    from collections import Counter

    from gerrydb_etl_spark.operators.kmeans import (
        kmeans_train,
        split_oversized_cells,
    )

    emb = _clustered_emb(spark, 1600)
    assigned = kmeans_train(emb, k=4, iters=2, keep_qv=True)
    lvl1, cents1 = split_oversized_cells(assigned, per_cell=200)
    lvl2, cents2 = split_oversized_cells(
        lvl1, per_cell=30, prev_cents=cents1
    )
    blocks = {
        (r["cluster_id"], r["sub_id"]) for r in lvl2.collect()
    }
    book = {(r["cluster_id"], r["sub"]) for r in cents2.collect()}
    # every SPLIT cell's blocks are covered by the recomposed book
    # (cells never split at level 1 legitimately have no centroid
    # rows — they carry the implicit sub 0 handled by the probe's
    # left join)
    cents1_cells = {r["cluster_id"] for r in cents1.collect()}
    split_blocks = {b for b in blocks if b[0] in cents1_cells}
    missing = split_blocks - book
    assert not missing, f"codebook misses blocks: {sorted(missing)[:5]}"


def test_ivf_one_level_search_ignores_sub_id(spark):
    """Round-9 review finding: a split assignment searched WITHOUT a
    sub_model must behave exactly like the unsplit assignment — the
    corpus side may not key on sub ids the probe cannot produce."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.ivf import _train, ivf_topk
    from gerrydb_etl_spark.operators.kmeans import (
        quantize,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.sources import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    quant = quantize(corpus)
    centroids, assigned = _train(quant, n_cells=4, iters=2)
    split, subcents = split_oversized_cells(assigned, per_cell=30)
    assert split.filter("sub_id > 0").count() > 0
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])  # noqa: E731
    plain = sorted(map(key, ivf_topk(
        corpus, queries, k=3, n_cells=4, n_probe=2,
        model=(assigned, centroids),
    ).collect()))
    one_level_on_split = sorted(map(key, ivf_topk(
        corpus, queries, k=3, n_cells=4, n_probe=2,
        model=(split, centroids),  # no sub_model
    ).collect()))
    assert one_level_on_split == plain


def test_ivf_two_level_requires_sub_id_on_assignment(spark):
    """ADVICE r10 (low): sub_model paired with an assignment that
    lacks sub_id would pin every corpus row at sub=0 while the probe
    ranks sub>0 subcells — silently dropping candidates. Must raise
    instead."""
    import pytest
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.ivf import _train, ivf_topk
    from gerrydb_etl_spark.operators.kmeans import (
        quantize,
        split_oversized_cells,
    )
    from gerrydb_etl_spark.sources import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    quant = quantize(corpus)
    centroids, assigned = _train(quant, n_cells=4, iters=2)
    _, subcents = split_oversized_cells(assigned, per_cell=30)
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    with pytest.raises(ValueError, match="no sub_id"):
        ivf_topk(
            corpus, queries, k=3, n_cells=4, n_probe=2,
            model=(assigned, centroids),  # unsplit: no sub_id column
            sub_model=subcents,
        )


def _skewed_cell(spark, per_cell=20):
    """One cell crafted so ONE Lloyd pass leaves two oversized
    subcells: every level-1 strided seed position holds the duplicate
    value 50 (collapsing the near clump into sub 0) except the last,
    which seeds the far clump. n=420, per_cell=20 -> threshold 80;
    level 1 yields blocks of ~272 and ~148 rows, both > 80, both
    splittable at level 2 (values inside each clump are distinct)."""
    import pyspark.sql.functions as F

    n = 420
    is_seed = (F.col("id") % 20 == 0) & (F.col("id") < 400)
    is_far_seed = F.col("id") == 400
    is_far = (F.col("id") % 20).isin(1, 3, 5, 7, 9, 11, 13)
    val = (
        F.when(is_seed, F.lit(50.0))
        .when(is_far_seed | is_far, 990.0 + (F.col("id") % 21))
        .otherwise((F.col("id") % 101).cast("double"))
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.lit(1).alias("cluster_id"),
        F.array(
            (val * 1_000_000).cast("long"),
            (val * 1_000_000).cast("long"),
        ).alias("qv"),
    )


def test_recursive_resplit_bounds_block_occupancy(spark):
    """VERDICT r10 item 8: a subcell that outgrows the threshold
    after the first pass must be split again. Single-pass
    (max_levels=1) leaves oversized blocks on the skewed fixture;
    the default recursion brings every block at-or-under the
    threshold, keeps the partition a refinement, and recomposes a
    complete codebook for every split block."""
    from collections import Counter

    from gerrydb_etl_spark.operators.kmeans import split_oversized_cells

    per_cell = 20
    threshold = 4 * per_cell
    assigned = _skewed_cell(spark, per_cell)

    one, _ = split_oversized_cells(
        assigned, per_cell=per_cell, max_levels=1
    )
    occ1 = Counter(
        (r["cluster_id"], r["sub_id"]) for r in one.collect()
    )
    assert max(occ1.values()) > threshold, (
        "fixture must leave an oversized subcell after one pass: "
        f"{occ1.most_common(3)}"
    )

    out, cents = split_oversized_cells(assigned, per_cell=per_cell)
    rows = out.collect()
    occ = Counter((r["cluster_id"], r["sub_id"]) for r in rows)
    assert max(occ.values()) <= threshold, occ.most_common(3)
    # refinement: same rows, same top-level cell
    assert sorted(r["vec_id"] for r in rows) == list(range(420))
    assert all(r["cluster_id"] == 1 for r in rows)
    # complete codebook over every populated block of the split cell
    book = {(r["cluster_id"], r["sub"]) for r in cents.collect()}
    assert set(occ) <= book, sorted(set(occ) - book)[:5]


def test_recursion_stops_on_unsplittable_duplicates(spark):
    """A block of identical vectors can never be separated — the
    loop must detect the stuck signature and exit instead of
    burning max_levels passes (and must still return the dup block
    intact)."""
    import pyspark.sql.functions as F
    from collections import Counter

    from gerrydb_etl_spark.operators.kmeans import split_oversized_cells

    dup = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.lit(1).alias("cluster_id"),
        F.array(F.lit(7_000_000), F.lit(7_000_000)).alias("qv"),
    )
    out, _ = split_oversized_cells(dup, per_cell=20, max_levels=8)
    occ = Counter((r["cluster_id"], r["sub_id"]) for r in out.collect())
    assert sum(occ.values()) == 300
    # all duplicates collapse into one block, still oversized — the
    # loop exits on the unchanged signature rather than erroring
    assert max(occ.values()) == 300


def test_cell_blocked_pairs_recall(spark):
    """Recall contract of the cell-blocked pair generator vs the
    exact all-pairs truth at the registered threshold: the blocker
    only proposes same-cell pairs, so moderate-similarity
    cross-cluster pairs are out of scope by design (deterministic —
    the measured floor is exact, pinned with margin), while planted
    true near-dups (cosine ~ 1) co-quantize and must be recovered
    COMPLETELY."""
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.kmeans import cell_blocked_pairs
    from gerrydb_etl_spark.queries.clustering import BLOCKED_TAU, ITERS, K
    from gerrydb_etl_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    V = np.array([
        np.round(np.array(v, dtype=np.float64) * 1e6) for v in t["embedding"]
    ])
    nrm = np.sqrt((V * V).sum(1))
    C = (V @ V.T) / np.outer(nrm, nrm)
    iu = np.triu_indices(len(ids), 1)
    exact = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(*iu)
        if C[i, j] >= BLOCKED_TAU
    }
    emb = load_table(spark, sf, "embeddings")
    got = {
        (r["d1"], r["d2"])
        for r in cell_blocked_pairs(
            emb, tau=BLOCKED_TAU, k=K, iters=ITERS
        ).collect()
    }
    assert got <= exact, "blocked pairs must be a subset of the truth"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.30, f"recall {recall:.3f} fell below the floor"

    # planted twins: duplicates of existing vectors (cosine exactly 1)
    # quantize into the same cell unconditionally — 100% recall
    base_max = int(ids.max())
    emb = emb.select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + base_max + 1).alias("vec_id"), "embedding"
    )
    n_twins = twins.count()
    assert n_twins > 0
    planted = {
        (int(r["vec_id"]), int(r["vec_id"]) + base_max + 1)
        for r in emb.filter(F.col("vec_id") % 50 == 0).collect()
    }
    got2 = {
        (r["d1"], r["d2"])
        for r in cell_blocked_pairs(
            emb.unionByName(twins), tau=BLOCKED_TAU, k=K, iters=ITERS
        ).collect()
    }
    missed = planted - got2
    assert not missed, f"planted twins missed: {sorted(missed)[:5]}"


def test_resplit_composite_key_overflow_guard(spark):
    """The composite block key (cluster_id * mult + sub_id) and the
    recomposed sub id both live in INT32; with the recursive default
    compounding sub ranges per level, a skewed corpus could overflow
    them silently (the window-ordinal INT32 bug class). The guard
    must raise BEFORE any re-keying happens."""
    import pytest

    from gerrydb_etl_spark.operators.kmeans import split_oversized_cells

    assigned = spark.createDataFrame(
        [(1, 2**20, 2**12, [1, 2]), (2, 2**20, 0, [3, 4])],
        "vec_id long, cluster_id int, sub_id int, qv array<int>",
    )
    with pytest.raises(ValueError, match="overflows INT32"):
        split_oversized_cells(assigned, per_cell=1)


def test_multiprobe_recall_dominates(spark):
    """multiprobe_pairs on the staged IVF model must (a) be a subset
    of the exact pair truth, (b) be a SUPERSET of single-probe
    cell-blocked pairs on the SAME model (each vector's home cell is
    its first probe, so every single-probe candidate is a multiprobe
    candidate), and (c) strictly recover boundary pairs on this
    corpus — the recall gap multi-probe exists to close."""
    import numpy as np

    from gerrydb_etl_spark.operators.kmeans import (
        cell_blocked_pairs,
        multiprobe_pairs,
    )
    from gerrydb_etl_spark.sources import load_table
    from gerrydb_etl_spark.store.staging import IVF

    sf = "/root/testdata/sf0.01"
    tau = 0.35
    emb = load_table(spark, sf, "embeddings")
    assigned, cents = IVF.read(spark, sf, 16, 2)

    rows = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in emb.collect())
    )
    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    nrm = np.sqrt((V * V).sum(1))
    C = (V @ V.T) / np.outer(nrm, nrm)
    iu = np.triu_indices(len(ids), 1)
    exact = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*iu)
        if C[i, j] >= tau
    }

    single = {
        (r["d1"], r["d2"])
        for r in cell_blocked_pairs(emb, tau=tau, assigned=assigned).collect()
    }
    multi = {
        (r["d1"], r["d2"])
        for r in multiprobe_pairs(emb, tau=tau, centroids=cents).collect()
    }
    assert multi <= exact, "multiprobe emitted a non-pair"
    assert single <= multi, "multiprobe lost a single-probe candidate"
    assert len(multi) > len(single), (
        f"no boundary pairs recovered: single={len(single)} "
        f"multi={len(multi)}"
    )
    # no duplicate emissions survive the DISTINCT
    n_rows = multiprobe_pairs(emb, tau=tau, centroids=cents).count()
    assert n_rows == len(multi)


def test_multiprobe_two_level_forced_split(spark):
    """Past-the-cap path value-gated at a forced small scale: with a
    sub_model from split_oversized_cells the probe blocks on refined
    (cell, sub) keys. Contracts: (a) pairs are a subset of the exact
    truth; (b) single-probe pairing on the SPLIT assignment is
    dominated (each vector's rank-1 refined block equals its split
    assignment, so every single-probe candidate survives); (c) the
    fixture mixes split and unsplit coarse cells, exercising the
    implicit-subcell-0 left-join path; (d) planted exact twins are
    always found."""
    import numpy as np
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.ivf import _train
    from gerrydb_etl_spark.operators.kmeans import (
        cell_blocked_pairs,
        multiprobe_pairs,
        quantize,
    )
    from gerrydb_etl_spark.operators.kmeans import (
        split_oversized_cells,
    )

    tau = 0.9
    # like _clustered_emb but with a +1 offset so no vector is zero
    # (cosine is undefined on zero vectors — the family's corpus
    # contract, same as the unit-norm fixture tables)
    fat = F.col("id") % 1000 < 800
    comp = lambda i: (  # noqa: E731
        F.when(fat, (F.col("id") % 13 + 1).cast("double") / 100.0)
        .otherwise(((F.col("id") * (i + 7)) % 997 + 1).cast("double"))
    )
    emb = spark.range(700).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(i) for i in range(4)]).alias("embedding"),
    )
    quant = quantize(emb)
    cents, assigned = _train(quant, 3, 2)
    split_assigned, subcents = split_oversized_cells(
        assigned.select("vec_id", "cluster_id", "qv"), per_cell=40
    )
    # the fixture must exercise BOTH branches: at least one coarse
    # cell split, at least one left whole
    split_cells = {r["cluster_id"] for r in subcents.select(
        "cluster_id").distinct().collect()}
    all_cells = {r["cluster_id"] for r in assigned.select(
        "cluster_id").distinct().collect()}
    assert split_cells and split_cells < all_cells, (
        split_cells, all_cells)

    rows = sorted((r["vec_id"], list(r["embedding"]))
                  for r in emb.collect())
    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    nrm = np.sqrt((V * V).sum(1))
    C = (V @ V.T) / np.outer(nrm, nrm)
    iu = np.triu_indices(len(ids), 1)
    exact = {(int(ids[i]), int(ids[j]))
             for i, j in zip(*iu) if C[i, j] >= tau}

    single = {(r["d1"], r["d2"]) for r in cell_blocked_pairs(
        emb, tau=tau, assigned=split_assigned).collect()}
    multi = {(r["d1"], r["d2"]) for r in multiprobe_pairs(
        emb, tau=tau, centroids=cents,
        sub_model=(split_assigned, subcents)).collect()}
    assert multi <= exact, "two-level multiprobe emitted a non-pair"
    assert single <= multi, (
        "refined single-probe candidate lost under the two-level "
        f"probe: {sorted(single - multi)[:5]}"
    )

    # planted exact twins always land in the same refined block
    base_max = int(ids.max())
    twins = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + base_max + 1).alias("vec_id"), "embedding"
    )
    planted = {(int(i), int(i) + base_max + 1)
               for i in ids if i % 50 == 0}
    got = {(r["d1"], r["d2"]) for r in multiprobe_pairs(
        emb.unionByName(twins), tau=tau, centroids=cents,
        sub_model=(split_assigned, subcents)).collect()}
    missed = planted - got
    assert not missed, f"planted twins missed: {sorted(missed)[:5]}"


def test_strict_twin_offset_survives_sparse_id_space(spark, tmp_path):
    """The planted-twin offset is max(vec_id)+1, NOT the corpus
    count: on a replica-shaped SPARSE id space (ids 0..49 and
    10000..10049) a count-based offset (100) would collide planted
    twin ids with real replica ids, corrupting the d1<d2 pair
    semantics. Runs the registered query against its DuckDB oracle
    on the sparse corpus and asserts twin ids are disjoint from
    corpus ids."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gerrydb_etl_spark.queries import REGISTRY
    from tests.oracle_compare import assert_matches_oracle

    rng = np.random.RandomState(7)
    ids = list(range(50)) + list(range(10_000, 10_050))
    vecs = rng.normal(size=(100, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    root = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * 100, pa.int32()),
            }
        ),
        root + "/embeddings.parquet",
    )
    # a PRIVATE connection — a cursor of the shared session fixture
    # shares its catalog, and replacing the `embeddings` view there
    # would repoint every later oracle test at this temp corpus
    # (exactly what the first cut of this test did: 20 downstream
    # oracle reds)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{root}/embeddings.parquet'"
    )
    spec = REGISTRY["ivf_blocked_neardup_strict"]
    df = spec.spark(spark, root)
    rows = df.collect()
    corpus = set(ids)
    twin_ids = {r["d2"] for r in rows if r["d2"] > 10_049}
    # every planted pair's twin sits ABOVE the sparse id range
    # (offset = max(vec_id) + 1 = 10050)
    assert all(t >= 10_050 for t in twin_ids), sorted(twin_ids)[:5]
    assert not (twin_ids & corpus), "twin ids collided with corpus ids"
    assert_matches_oracle(df, con, spec.oracle, "strict_sparse_ids")


def test_multiprobe_rank1_block_equals_split_assignment(spark):
    """The dominance contract: a vector's home-probe refined block
    == its split_oversized_cells assignment. Since the by-construction
    fix (home blocks JOINED from the split assignment, not re-ranked
    against the codebook) this holds for ANY assignment/codebook pair,
    including recursively re-split ones where a codebook re-rank can
    legitimately place an outlier of a re-split block into a sibling
    block. Two phases: (1) a real Lloyd-trained single-pass split —
    at probes=1 and tau=-1 (emit EVERY within-block pair) the
    multiprobe pair set must equal single-probe pairing on the split
    assignment; (2) a fabricated two-level model that PLANTS the
    divergence (vec 7's lineage block centroid sits farther than a
    sibling's — exactly the post-re-split geometry), where the old
    re-rank derivation provably moved the vector and broke
    dominance."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.ivf import _train
    from gerrydb_etl_spark.operators.kmeans import (
        cell_blocked_pairs,
        multiprobe_pairs,
        quantize,
        split_oversized_cells,
    )

    fat = F.col("id") % 1000 < 800
    comp = lambda i: (  # noqa: E731
        F.when(fat, (F.col("id") % 13 + 1).cast("double") / 100.0)
        .otherwise(((F.col("id") * (i + 7)) % 997 + 1).cast("double"))
    )
    emb = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(i) for i in range(4)]).alias("embedding"),
    )
    cents, assigned = _train(quantize(emb), 3, 2)
    split_assigned, subcents = split_oversized_cells(
        assigned.select("vec_id", "cluster_id", "qv"), per_cell=30
    )
    single = {
        (r["d1"], r["d2"])
        for r in cell_blocked_pairs(
            emb, tau=-1.0, assigned=split_assigned
        ).collect()
    }
    multi1 = {
        (r["d1"], r["d2"])
        for r in multiprobe_pairs(
            emb, tau=-1.0, centroids=cents, probes=1,
            sub_model=(split_assigned, subcents),
        ).collect()
    }
    assert single == multi1, (
        f"block partitions diverge: only-single="
        f"{sorted(single - multi1)[:5]} only-multi="
        f"{sorted(multi1 - single)[:5]}"
    )

    # phase 2: planted post-re-split geometry. vec 7 (v=20) belongs
    # to lineage block sub=2 (centroid 60) but the sibling sub=0
    # centroid (0) is CLOSER (|20-0| < |20-60|): a codebook re-rank
    # moves it to block 0 and single-probe pairing on the assignment
    # is no longer a subset — the exact ADVICE r12 failure mode.
    rows = [
        (1, 0, 0, 1.0), (2, 0, 0, 2.0),
        (7, 0, 2, 20.0), (8, 0, 2, 58.0), (9, 0, 2, 62.0),
        (11, 0, 3, 138.0), (12, 0, 3, 142.0),
    ]
    emb2 = spark.createDataFrame(
        [(v, [x]) for v, _, _, x in rows],
        "vec_id long, embedding array<double>",
    )
    sub_asn = spark.createDataFrame(
        [(v, c, s, [int(x * 1_000_000)]) for v, c, s, x in rows],
        "vec_id long, cluster_id int, sub_id int, qv array<long>",
    )
    sub_cents = spark.createDataFrame(
        [(0, 0, [0.0]), (0, 2, [60_000_000.0]), (0, 3, [140_000_000.0])],
        "cluster_id int, sub int, cv array<double>",
    )
    lineage = {(1, 2), (7, 8), (7, 9), (8, 9), (11, 12)}
    single2 = {
        (r["d1"], r["d2"])
        for r in cell_blocked_pairs(
            emb2, tau=-1.0, assigned=sub_asn
        ).collect()
    }
    assert single2 == lineage, single2
    multi2 = {
        (r["d1"], r["d2"])
        for r in multiprobe_pairs(
            emb2, tau=-1.0, centroids={0: [50_000_000.0]}, probes=1,
            sub_model=(sub_asn, sub_cents),
        ).collect()
    }
    assert multi2 == lineage, (
        "home block must come from the split assignment, not a "
        f"codebook re-rank: {sorted(multi2 ^ lineage)}"
    )


def test_multiprobe_equality_survives_real_resplit(spark):
    """End-to-end version of the planted-geometry pin: a REAL
    double application of split_oversized_cells (re-split with
    prev_cents — composed sub ids, recomposed complete codebook).
    After re-splitting, a vector's codebook rank-1 within its coarse
    cell can differ from its lineage assignment (_grouped_assign
    refines within the prior block); the by-construction home-block
    join must keep probes=1 multiprobe pairing exactly equal to
    single-probe pairing on the final assignment, and the probes=2
    run a superset of it."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.ivf import _train
    from gerrydb_etl_spark.operators.kmeans import (
        cell_blocked_pairs,
        multiprobe_pairs,
        quantize,
        split_oversized_cells,
    )

    # genuinely spread corpus (pseudo-uniform grid), so both split
    # passes produce real refinements rather than duplicate blocks
    emb = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.array(
            ((F.col("id") * 37) % 1000 + 1).cast("double"),
            ((F.col("id") * 91) % 1000 + 1).cast("double"),
        ).alias("embedding"),
    )
    cents, assigned = _train(quantize(emb), 2, 2)
    s1_asn, s1_cents = split_oversized_cells(
        assigned.select("vec_id", "cluster_id", "qv"),
        per_cell=100, max_levels=1,
    )
    s2_asn, s2_cents = split_oversized_cells(
        s1_asn, per_cell=15, max_levels=1, prev_cents=s1_cents,
    )
    n1 = s1_cents.count()
    n2 = s2_cents.count()
    assert n2 > n1 > 0, (n1, n2)  # the second pass really refined

    single = {
        (r["d1"], r["d2"])
        for r in cell_blocked_pairs(
            emb, tau=-1.0, assigned=s2_asn
        ).collect()
    }
    multi1 = {
        (r["d1"], r["d2"])
        for r in multiprobe_pairs(
            emb, tau=-1.0, centroids=cents, probes=1,
            sub_model=(s2_asn, s2_cents),
        ).collect()
    }
    assert single == multi1, (
        f"re-split block partitions diverge: only-single="
        f"{sorted(single - multi1)[:5]} only-multi="
        f"{sorted(multi1 - single)[:5]}"
    )
    multi2 = {
        (r["d1"], r["d2"])
        for r in multiprobe_pairs(
            emb, tau=-1.0, centroids=cents, probes=2,
            sub_model=(s2_asn, s2_cents),
        ).collect()
    }
    assert single <= multi2, sorted(single - multi2)[:5]


def test_fanout_cap_invisible_when_natural_fanout_is_smaller(spark):
    """The default per-pass fan-out bound (64) must be a no-op
    whenever the natural m = ceil(n_c / per_cell) is below it —
    i.e. at every oracle-verified scale (the forced-split replays
    hardcode the UNCAPPED m, so a silently-binding cap would be a
    value-hash break)."""
    import pyspark.sql.functions as F

    from gerrydb_etl_spark.operators.kmeans import split_oversized_cells

    base = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.lit(1).alias("cluster_id"),
        F.array(
            (F.col("id") * 1_000_000).cast("long"),
            (F.col("id") * 1_000_000).cast("long"),
        ).alias("qv"),
    )
    # natural m = ceil(300/20) = 15 <= 64
    a, ca = split_oversized_cells(base, per_cell=20, fanout_cap=64)
    b, cb = split_oversized_cells(base, per_cell=20, fanout_cap=10**6)
    key = lambda r: (r["vec_id"], r["cluster_id"], r["sub_id"])
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))
    ckey = lambda r: (r["cluster_id"], r["sub"], tuple(r["cv"]))
    assert sorted(map(ckey, ca.collect())) == sorted(map(ckey, cb.collect()))


def test_fanout_capped_pass_recurses_to_the_same_occupancy_bound(spark):
    """With the fan-out capped far below the natural m, one pass
    leaves blocks ~n_c/cap over the threshold and the EXISTING
    recursion must refine them — final occupancy at-or-under the
    threshold, partition still a refinement, codebook complete.
    This is the linearithmic past-the-cap contract: bounded work per
    pass, log-depth passes (SCALE_r14)."""
    from collections import Counter

    import pyspark.sql.functions as F

    from gerrydb_etl_spark.operators.kmeans import split_oversized_cells

    n, per_cell = 600, 10  # threshold 40, natural m = 60
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.lit(3).alias("cluster_id"),
        F.array(
            (F.col("id") * 1_000_000).cast("long"),
            (F.col("id") * 1_000_000).cast("long"),
        ).alias("qv"),
    )
    one, _ = split_oversized_cells(
        base, per_cell=per_cell, max_levels=1, fanout_cap=4
    )
    occ1 = Counter((r["cluster_id"], r["sub_id"]) for r in one.collect())
    assert len(occ1) <= 4 and max(occ1.values()) > 4 * per_cell, (
        "capped single pass must leave oversized blocks", occ1
    )
    out, cents = split_oversized_cells(
        base, per_cell=per_cell, fanout_cap=4
    )
    rows = out.collect()
    occ = Counter((r["cluster_id"], r["sub_id"]) for r in rows)
    assert max(occ.values()) <= 4 * per_cell, occ.most_common(3)
    assert sorted(r["vec_id"] for r in rows) == list(range(n))
    assert all(r["cluster_id"] == 3 for r in rows)
    book = {(r["cluster_id"], r["sub"]) for r in cents.collect()}
    assert set(occ) <= book, sorted(set(occ) - book)[:5]


def test_fanout_cap_validation():
    import pytest

    from gerrydb_etl_spark.operators.kmeans import split_oversized_cells

    with pytest.raises(ValueError, match="fanout_cap"):
        split_oversized_cells(None, fanout_cap=1)
