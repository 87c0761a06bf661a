"""Salted operators must be exactly equivalent to their unsalted
forms — the salt is a physical rewrite, never a semantic one."""

from __future__ import annotations

from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.skew import replicated_skew_join, salted_collect_list
from gerrydb_etl_spark.sources import load_table
from tests.conftest import SF_SMOKE


def test_salted_collect_list_matches_plain(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    salted = {
        r.l_returnflag: r.values
        for r in salted_collect_list(li, ["l_returnflag"], "l_orderkey", salts=8).collect()
    }
    plain = {
        r.l_returnflag: sorted(r.v)
        for r in li.groupBy("l_returnflag")
        .agg(F.collect_list("l_orderkey").alias("v"))
        .collect()
    }
    assert salted == plain


def test_replicated_skew_join_matches_plain(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    salted = (
        replicated_skew_join(li, orders, "l_orderkey", salts=4)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    plain = (
        li.join(orders, "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_is_deterministic_across_runs(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    a = salted_collect_list(li, ["l_linestatus"], "l_orderkey", salts=8).collect()
    b = salted_collect_list(li, ["l_linestatus"], "l_orderkey", salts=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _zipf_docs(spark, n=20000):
    """Synthetic Zipf-hot corpus: ~57% of bigram prefixes are 'the'."""
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the a"), (F.col("id") % 997).cast("string"),
            F.lit(" the b"), ((F.col("id") * 7) % 991).cast("string"),
            F.lit(" the c"), ((F.col("id") * 13) % 983).cast("string"),
            F.lit(" w"), (F.col("id") % 313).cast("string"),
        ).alias("text"),
    )


def _with_conf(spark, overrides: dict):
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    return saved


def _restore_conf(spark, saved: dict):
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


_SKEW_CONF = {
    # force the 100-TB shape (counts tables too big to broadcast)
    # and scale AQE's absolute skew thresholds down to test size
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
}


def test_aqe_skew_split_blind_to_agg_build_side(spark, tmp_path):
    """The skew-contingency probe, pinned as a plan contract:
    OptimizeSkewedJoin only matches SMJ(Sort(ShuffleQueryStage),
    Sort(ShuffleQueryStage)). A join whose build side is a groupBy
    COUNTS table — the bigram-surprisal shape — has
    Sort(HashAggregate(ShuffleQueryStage)) there, so AQE never
    splits its Zipf-hot probe partitions, while the identical
    session/config DOES split a plain scan-shuffle join. This is why
    bigram_surprisal_filter ships the prefix_salts fallback."""
    import os

    from gerrydb_etl_spark.queries.lm_quality import _bigram_surprisal

    sf = str(tmp_path)
    _zipf_docs(spark).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    saved = _with_conf(spark, _SKEW_CONF)
    try:
        # counts-table build side: AQE skew split never engages
        df = _bigram_surprisal(spark, sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert plan.count("SortMergeJoin") >= 2, "expected forced SMJs"
        assert plan.count("skew=true") == 0, (
            "AQE learned to split agg-build-side joins — drop the "
            "prefix_salts fallback and update the lm_quality docstring"
        )

        # control: same session, same stats shape, plain shuffle build
        # side — the machinery fires, so the blindness above is
        # structural, not a config/threshold artifact
        fact = spark.range(0, 500_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").groupBy().sum("w")
        j.collect()
        jplan = j._jdf.queryExecution().executedPlan().toString()
        assert jplan.count("skew=true") >= 1, (
            "control join no longer skew-splits — thresholds drifted?"
        )
    finally:
        _restore_conf(spark, saved)


def test_bigram_salted_prefix_join_matches_unsalted(spark, tmp_path):
    """The prefix_salts fallback is a physical rewrite only:
    identical rows to the broadcast/unsalted spelling on a skewed
    corpus, with the salt visible in the executed join keys (the hot
    prefix spreads over `salts` shuffle partitions)."""
    import os

    from gerrydb_etl_spark.queries.lm_quality import _bigram_surprisal

    sf = str(tmp_path)
    _zipf_docs(spark, n=5000).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    plain = {tuple(r) for r in _bigram_surprisal(spark, sf).collect()}
    salted_df = _bigram_surprisal(spark, sf, prefix_salts=4)
    salted = {tuple(r) for r in salted_df.collect()}
    assert salted == plain
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, "salt must appear in the executed join keys"


def test_bigram_auto_selects_salted_when_counts_outgrow_broadcast(
    spark, tmp_path
):
    """The registered query must pick the salted
    fallback BY ITSELF when the c1 counts table cannot broadcast —
    same rows as the broadcast spelling, salt visible in the executed
    join — and stay on the broadcast path at the default threshold."""
    import os

    from gerrydb_etl_spark.queries.lm_quality import _bigram_surprisal

    sf = str(tmp_path)
    _zipf_docs(spark, n=5000).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    default_df = _bigram_surprisal(spark, sf)
    default_plan = default_df._jdf.queryExecution().executedPlan().toString()
    assert "__salt" not in default_plan, (
        "broadcast-sized counts must stay on the unsalted path"
    )
    plain = {tuple(r) for r in default_df.collect()}

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try:
        auto_df = _bigram_surprisal(spark, sf)
        auto_plan = auto_df._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in auto_plan, (
            "auto selection must engage the salted fallback"
        )
        assert {tuple(r) for r in auto_df.collect()} == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
