"""General hierarchy expansion (operators/hierarchy.py): depth is
discovered by the recursion, not declared — the depth-4 battery that
an unrolled spelling could not express."""

from __future__ import annotations

from pyspark.sql import functions as F


def _expand(spark, rows):
    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    edges = spark.createDataFrame(
        rows, "node_id string, parent_id string, label string"
    )
    return {
        r["id"]: (r["path"], r["depth"])
        for r in expand_paths(edges).collect()
    }


def test_depth_four_hierarchy(spark):
    got = _expand(
        spark,
        [
            ("us", None, "us"),
            ("s1", "us", "alabama"),
            ("c1", "s1", "autauga"),
            ("t1", "c1", "tract-1"),
            ("t2", "c1", "tract-2"),
            ("b1", "t1", "block-9"),
        ],
    )
    assert got["us"] == ("us", 0)
    assert got["t2"] == ("us/alabama/autauga/tract-2", 3)
    assert got["b1"] == ("us/alabama/autauga/tract-1/block-9", 4)
    assert len(got) == 6


def test_multiple_roots_and_orphans(spark):
    """Each parentless row is its own root; a node whose parent is
    absent from the table is unreachable and simply does not appear
    (no silent mis-pathing)."""
    got = _expand(
        spark,
        [
            ("us", None, "us"),
            ("ca", None, "canada"),
            ("s1", "us", "maine"),
            ("s2", "ca", "quebec"),
            ("orphan", "nowhere", "lost"),
        ],
    )
    assert got["s1"] == ("us/maine", 1)
    assert got["s2"] == ("canada/quebec", 1)
    assert "orphan" not in got
    assert len(got) == 4


def test_ragged_depths_all_levels_emitted(spark):
    """Inner nodes are emitted too (the consumer filters to the level
    it wants) and sibling subtrees may bottom out at different
    depths."""
    got = _expand(
        spark,
        [
            ("r", None, "root"),
            ("a", "r", "a"),
            ("b", "r", "b"),
            ("a1", "a", "deep"),
        ],
    )
    assert got == {
        "r": ("root", 0),
        "a": ("root/a", 1),
        "b": ("root/b", 1),
        "a1": ("root/a/deep", 2),
    }


def test_unreachable_cycle_never_enters_the_result(spark):
    """A cycle not reachable from any root simply does not appear."""
    from gerrydb_etl_spark.operators.hierarchy import MAX_DEPTH

    got = _expand(
        spark,
        [
            ("r", None, "root"),
            ("x", "r", "x"),
            # y and z point at each other: a cycle off the tree
            ("y", "z", "y"),
            ("z", "y", "z"),
        ],
    )
    assert set(got) == {"r", "x"}
    assert MAX_DEPTH >= 8


def test_reachable_cycle_raises_instead_of_truncating(spark):
    """A cycle reachable from a root, or a tree deeper than
    MAX_DEPTH, must FAIL LOUDLY — silent truncation is the failure
    mode the operator exists to remove.
    Under the tree input contract the two cases now split: a
    REACHABLE cycle requires some node to carry two parents (the
    re-entry edge), i.e. a duplicate id, so it is rejected EAGERLY
    by the tree check; an over-deep single-parent chain still hits
    the MAX_DEPTH raise_error at execution."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from gerrydb_etl_spark.operators.hierarchy import (
        MAX_DEPTH,
        expand_paths,
    )

    edges = spark.createDataFrame(
        [
            ("r", None, "root"),
            ("x", "r", "x"),
            ("y", "x", "y"),
            # y -> x closes a cycle reachable from the root — and
            # necessarily gives x a second parent (duplicate id)
            ("x", "y", "x2"),
        ],
        "node_id string, parent_id string, label string",
    )
    with pytest.raises(ValueError, match="not a tree"):
        expand_paths(edges)

    deep = spark.createDataFrame(
        [("n0", None, "root")]
        + [
            (f"n{i}", f"n{i - 1}", f"n{i}")
            for i in range(1, MAX_DEPTH + 3)
        ],
        "node_id string, parent_id string, label string",
    )
    with pytest.raises(Exception, match="MAX_DEPTH") as exc:
        expand_paths(deep).collect()
    assert isinstance(exc.value, Py4JJavaError) or "MAX_DEPTH" in str(
        exc.value
    )


def test_locality_query_matches_unrolled_spelling(spark):
    """The registered query's recursive form must equal the old
    3-join unroll row-for-row on the driver corpus."""
    from gerrydb_etl_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r["node_key"]: (r["canonical_path"], r["depth"])
        for r in REGISTRY["locality_hierarchy_paths"].spark(spark, sf).collect()
    }
    from gerrydb_etl_spark.sources import load_table

    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    slug = lambda c: F.lower(F.regexp_replace(c, " ", "-"))  # noqa: E731
    lvl1 = region.select(
        "r_regionkey", F.concat(F.lit("us/"), slug(F.col("r_name"))).alias("p1")
    )
    lvl2 = nation.join(lvl1, nation.n_regionkey == lvl1.r_regionkey).select(
        "n_nationkey",
        F.concat(F.col("p1"), F.lit("/"), slug(F.col("n_name"))).alias("p2"),
    )
    want = {
        r["node_key"]: (r["canonical_path"], 3)
        for r in cust.join(lvl2, cust.c_nationkey == lvl2.n_nationkey)
        .select(
            F.col("c_custkey").alias("node_key"),
            F.concat(
                F.col("p2"), F.lit("/"), F.col("c_custkey").cast("string")
            ).alias("canonical_path"),
        )
        .collect()
    }
    assert got == want


def test_broadcast_frontier_hint_is_value_identical(spark):
    """The opt-in frontier broadcast is a physical hint only."""
    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    edges = spark.createDataFrame(
        [
            ("us", None, "us"),
            ("s1", "us", "alabama"),
            ("c1", "s1", "autauga"),
            ("t1", "c1", "tract-1"),
        ],
        "node_id string, parent_id string, label string",
    )
    key = lambda r: (r["id"], r["path"], r["depth"])  # noqa: E731
    plain = sorted(map(key, expand_paths(edges).collect()))
    hinted = sorted(
        map(key, expand_paths(edges, broadcast_frontier=True).collect())
    )
    assert plain == hinted


def test_require_complete_raises_on_orphans_and_rootless_cycles(spark):
    """require_complete=True turns the documented dropped-node
    semantics into an error naming the unreachable ids:
    dangling parents and root-less cycles both trip it; a clean tree
    passes unchanged."""
    import pytest

    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    dirty = spark.createDataFrame(
        [
            ("r", None, "root"),
            ("a", "r", "a"),
            ("orphan", "nowhere", "lost"),
            ("y", "z", "y"),
            ("z", "y", "z"),
        ],
        "node_id string, parent_id string, label string",
    )
    with pytest.raises(ValueError, match="unreachable from any root"):
        expand_paths(dirty, require_complete=True)
    # default stays the documented silent-drop semantics
    got = {r["id"] for r in expand_paths(dirty).collect()}
    assert got == {"r", "a"}

    clean = spark.createDataFrame(
        [("r", None, "root"), ("a", "r", "a"), ("b", "a", "b")],
        "node_id string, parent_id string, label string",
    )
    rows = expand_paths(clean, require_complete=True).collect()
    assert {r["id"] for r in rows} == {"r", "a", "b"}


def test_million_row_hierarchy_does_not_hit_cte_row_backstop(spark):
    """Found at the natural-10x corpus: Spark's recursive-CTE 1M-row
    accumulator backstop (spark.sql.cteRecursionRowLimit) aborts a
    legitimate >1M-node hierarchy. expand_paths raises the backstop
    to an input-proportional bound (output is input-bounded; cycles
    are guarded by MAX_DEPTH), so a 1.2M-leaf tree must expand
    completely."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    n = 1_200_000
    root = spark.range(1).select(
        F.lit("r").alias("node_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit("root").alias("label"),
    )
    leaves = spark.range(n).select(
        F.concat(F.lit("x"), F.col("id")).alias("node_id"),
        F.lit("r").alias("parent_id"),
        F.col("id").cast("string").alias("label"),
    )
    out = expand_paths(root.unionByName(leaves))
    assert out.count() == n + 1


def test_cte_row_backstop_stays_bounded_after_expansion(spark):
    """expand_paths must not set spark.sql.cteRecursionRowLimit to
    -1 for the whole session: that would strip the runaway backstop
    from every LATER recursive CTE.
    The bound must now be finite and input-proportional after a
    consumer's action completes (it cannot be save/restored — the
    recursion runs at the consumer's action, after the call
    returns)."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    n = 5_000
    root = spark.range(1).select(
        F.lit("r").alias("node_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit("root").alias("label"),
    )
    leaves = spark.range(n).select(
        F.concat(F.lit("x"), F.col("id")).alias("node_id"),
        F.lit("r").alias("parent_id"),
        F.col("id").cast("string").alias("label"),
    )
    out = expand_paths(root.unionByName(leaves))
    assert out.count() == n + 1  # the consumer's action
    limit = int(spark.conf.get("spark.sql.cteRecursionRowLimit"))
    assert limit != -1, "backstop left disabled for the session"
    assert limit >= 2 * (n + 1), "bound not input-proportional"


def test_duplicate_edges_rejected_eagerly_with_named_error(spark):
    """Duplicate (id, parent) edge rows multiply paths per level
    WITHOUT deepening any path, so the MAX_DEPTH raise_error never
    fires. The tree input contract rejects the
    duplicate-id input UP FRONT with an error naming the contract —
    a DAG caller gets told what to fix instead of an opaque
    cteRecursionRowLimit abort (the backstop remains behind the
    check as defense-in-depth)."""
    import pytest
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    depth, dups = 14, 4
    chain = [("n0", None, "root")] + [
        (f"n{i}", f"n{i - 1}", f"n{i}")
        for i in range(1, depth + 1)
        for _ in range(dups)
    ]
    edges = spark.createDataFrame(
        chain, "node_id string, parent_id string, label string"
    )
    with pytest.raises(ValueError, match="not a tree"):
        expand_paths(edges)


def test_cte_limit_fallback_matches_shipped_default(spark):
    """_cte_limit_default reads the shipped default from SQLConf's
    conf-entry metadata; the hardcoded fallback must match it (a
    Spark upgrade that changes the default would otherwise silently
    misclassify every session value as user-set and stop the
    ratchet)."""
    from gerrydb_etl_spark.operators.hierarchy import (
        _CTE_LIMIT_FALLBACK,
        _cte_limit_default,
    )

    jvm_default = int(
        spark.sparkContext._jvm.org.apache.spark.sql.internal
        .SQLConf.CTE_RECURSION_ROW_LIMIT()
        .defaultValueString()
    )
    assert _cte_limit_default(spark) == jvm_default
    assert _CTE_LIMIT_FALLBACK == jvm_default


def test_user_set_cte_limit_is_respected(spark):
    """A user-set finite cteRecursionRowLimit is a deliberate guard:
    expand_paths must not raise it (only the shipped default and its
    own earlier ratchet are raisable). Restores the session state it
    mutates."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.hierarchy import (
        _OUR_CTE_LIMITS,
        expand_paths,
    )

    key = "spark.sql.cteRecursionRowLimit"
    prior = spark.conf.get(key, None)
    app = spark.sparkContext.applicationId
    ours_prior = _OUR_CTE_LIMITS.pop(app, None)
    try:
        spark.conf.set(key, "50000")
        root = spark.range(1).select(
            F.lit("r").alias("node_id"),
            F.lit(None).cast("string").alias("parent_id"),
            F.lit("root").alias("label"),
        )
        leaves = spark.range(200).select(
            F.concat(F.lit("x"), F.col("id")).alias("node_id"),
            F.lit("r").alias("parent_id"),
            F.col("id").cast("string").alias("label"),
        )
        out = expand_paths(root.unionByName(leaves))
        assert out.count() == 201
        assert spark.conf.get(key) == "50000", "user guard was raised"
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
        if ours_prior is not None:
            _OUR_CTE_LIMITS[app] = ours_prior


def test_single_null_id_rejected_eagerly(spark):
    """A singleton NULL id must trip the tree check too: groupBy
    puts NULLs in their own group, so a group COUNT would count it
    and let one NULL row sneak past;
    count('id') skips the NULL group and nd < n fires for any null
    OR duplicate id. A NULL-id node could never be referenced as a
    parent and would emit an unjoinable path row."""
    import pytest

    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    edges = spark.createDataFrame(
        [("r", None, "root"), ("a", "r", "a"), (None, "r", "ghost")],
        "node_id string, parent_id string, label string",
    )
    with pytest.raises(ValueError, match="not a tree"):
        expand_paths(edges)


def test_expand_paths_skip_tree_check_same_output_no_id_shuffle(spark):
    """skip_tree_check must (a) return the identical expansion and
    (b) drop the groupBy(id) whose shuffle carries ~n rows on
    conforming trees — verified by job-free plan construction: the
    checked path runs one extra aggregate job; here we assert value
    parity and that a DAG slips past the named error (the backstop /
    MAX_DEPTH guards still bound it)."""
    import pytest

    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    edges = spark.createDataFrame(
        [("us", None, "us"), ("ca", "us", "ca"), ("sf", "ca", "sf")],
        "node_id string, parent_id string, label string",
    )
    checked = {
        (r["id"], r["path"], r["depth"])
        for r in expand_paths(edges).collect()
    }
    skipped = {
        (r["id"], r["path"], r["depth"])
        for r in expand_paths(edges, skip_tree_check=True).collect()
    }
    assert checked == skipped and len(checked) == 3

    # the named tree-contract error fires only on the checked path
    dup = edges.unionByName(
        spark.createDataFrame(
            [("ca", "us", "ca2")],
            "node_id string, parent_id string, label string",
        )
    )
    with pytest.raises(ValueError, match="not a tree"):
        expand_paths(dup)
    # skip path: no named error at build time (caller vouched); the
    # duplicate id simply multiplies the path rows
    out = expand_paths(dup, skip_tree_check=True).collect()
    assert len(out) > 3


def test_cte_limit_default_cached_and_fallback_warns(spark):
    """The shipped-default read is resolved once per application, and
    an environment where the accessor breaks warns ONCE instead of
    silently re-pinning the stale literal per call."""
    import warnings

    from gerrydb_etl_spark.operators import hierarchy as H

    H._CTE_DEFAULT_CACHE.clear()
    v1 = H._cte_limit_default(spark)
    app = spark.sparkContext.applicationId
    assert H._CTE_DEFAULT_CACHE[app] == v1
    # cached: poison the cache and confirm the accessor is NOT re-hit
    H._CTE_DEFAULT_CACHE[app] = v1 + 123
    assert H._cte_limit_default(spark) == v1 + 123
    H._CTE_DEFAULT_CACHE.clear()

    class NoJvm:
        @property
        def sparkContext(self):
            raise RuntimeError("Spark Connect: no sparkContext")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = H._cte_limit_default(NoJvm())
        again = H._cte_limit_default(NoJvm())
    assert got == again == H._CTE_LIMIT_FALLBACK
    msgs = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1, "fallback must warn exactly once per app"
    H._CTE_DEFAULT_CACHE.clear()
    # restore the real resolution for later tests in the session
    H._cte_limit_default(spark)
