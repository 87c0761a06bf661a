"""Analytics heads: collocation-driven positional phrase search,
pre-join fan-out skew diagnosis, and RFM customer segmentation. All
integer-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from gerrydb_etl_spark.functions.numeric import cents
from gerrydb_etl_spark.operators.ids import assign_dense_ids
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

TOPK_FANOUT = 20
PPM = 1_000_000


@query(
    "collocation_phrase_match",
    oracle="""
    WITH tok AS (
        SELECT doc_id, u.w AS w, CAST(u.pos AS BIGINT) AS pos
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(ws)),
                       i -> {'w': ws[i], 'pos': i})) AS u
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents)
        )
        WHERE u.w <> ''
    ),
    big AS (
        SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ),
    top1 AS (
        SELECT w1, w2 FROM big
        ORDER BY c DESC, w1, w2 LIMIT 1
    )
    SELECT a.doc_id,
           a.pos AS match_pos,
           a.w || ' ' || b.w AS phrase
    FROM tok a
    JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    JOIN top1 ON a.w = top1.w1 AND b.w = top1.w2
    """,
)
def collocation_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval primitive: (1) extract the corpus's top
    word collocation (most frequent adjacent bigram, lexicographic
    tie-break); (2) run a POSITIONAL phrase search for it, returning
    every (doc, word-position) occurrence — the lookup a positional
    inverted index answers with a postings equi-join on (doc,
    pos+1), which is exactly how the oracle spells it.
    The winning bigram is one (w1, w2) pair of MODEL STATE collected
    and folded as literals (a 1-row join would compile to the banned
    BroadcastNestedLoopJoin); the oracle re-derives it in SQL with
    the same tie-break (its positional-postings self-join is ground
    truth, not the plan), so the whole two-stage pipeline is
    value-hash gated. Plan shape: both stages are NARROW
    adjacent-pair array transforms — no token-index self-join
    anywhere. Stage 1's only shuffle is the map-side-combined bigram
    count; stage 2 is a pure per-document filter against the two
    literals. Measured at sf1: postings self-join 10.5 s,
    per-element element_at transform 49.9 s (expression-duplication
    hazard), zip_with-over-slices 6.9 s — the committed spelling.
    Positions
    are 1-based original word indices; adjacent pairs with an empty
    token on either side are skipped in both engines."""
    # fanned to cluster parallelism (gated no-op at production
    # split counts): the narrow text compute otherwise inherits
    # the scan's few splits — measured 4.91x for 10x data on the scan's two splits
    # (SCALE_r16 curation_families post_fanout).
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    ws = F.split("text", " ")
    # adjacent pairs via zip_with over two slices — element refs, no
    # per-element element_at(ws, i) (which re-evaluates the split
    # tree per element: the expression-duplication hazard, measured
    # 7x slower). posexplode_outer dodges the Generate pre-filter
    # pushdown AND supplies the 0-based ordinal = original word
    # index - 1.
    n1 = F.greatest(F.size(ws) - 1, F.lit(0))
    parr = F.zip_with(
        F.slice(ws, 1, n1),
        F.slice(ws, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        docs.select(
            "doc_id", F.posexplode_outer(parr).alias("pos0", "p")
        )
        .where(
            F.col("p").isNotNull()
            & (F.col("p.w1") != "")
            & (F.col("p.w2") != "")
        )
        .select(
            "doc_id", "p", (F.col("pos0") + 1).cast("long").alias("pos")
        )
    )
    bigrams = pairs.groupBy(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    ).agg(F.count("*").alias("c"))
    head = (
        bigrams.orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
        .limit(1)
        .collect()
    )
    if not head:
        raise ValueError(
            f"documents yield no adjacent word bigrams — no "
            f"collocation to search for in {sf_dir!r}"
        )
    w1, w2 = head[0][:2]
    return pairs.where(
        (F.col("p.w1") == w1) & (F.col("p.w2") == w2)
    ).select(
        "doc_id",
        F.col("pos").alias("match_pos"),
        F.concat_ws(" ", F.lit(w1), F.lit(w2)).alias("phrase"),
    )


@query(
    "join_fanout_skew_report",
    oracle=f"""
    WITH l AS (SELECT o_custkey AS k, COUNT(*) AS n_left
               FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
    r AS (SELECT l_suppkey AS k, COUNT(*) AS n_right
          FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1)
    (SELECT 'orders.o_custkey' AS side_key, k,
           n_left AS n_rows,
           CAST((1000000 * n_left) // (SELECT MAX(n_left) FROM l)
                AS BIGINT) AS share_of_max_ppm
     FROM l ORDER BY n_left DESC, k LIMIT {TOPK_FANOUT})
    UNION ALL
    (SELECT 'lineitem.l_suppkey', k, n_right,
           CAST((1000000 * n_right) // (SELECT MAX(n_right) FROM r)
                AS BIGINT)
     FROM r ORDER BY n_right DESC, k LIMIT {TOPK_FANOUT})
    """,
)
def join_fanout_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnosis: the per-key row counts whose product
    is the join's per-key output size — the report an engine (or an
    engineer) reads to decide salting, broadcast, or AQE skew-join
    hints BEFORE running a big join. Reports the top-20 hottest keys
    on each side of the orders⋈lineitem-by-customer/supplier pair
    with each key's integer-ppm share of the hottest key. Both
    sides are one map-side-combined count + a distributed top-k
    (TakeOrderedAndProject — k rows per partition cross the wire,
    never the key histogram); the max for the ppm share is a single
    scalar folded from the same top-k head."""
    out = None
    for tag, table, key in (
        ("orders.o_custkey", "orders", "o_custkey"),
        ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ):
        # NULL keys are excluded: they are not join keys (a NULL
        # never matches) and the two engines order NULL tie-breaks
        # differently, so keeping them would make the top-k
        # boundary engine-dependent.
        counts = (
            load_table(spark, sf_dir, table)
            .where(F.col(key).isNotNull())
            .groupBy(F.col(key).alias("k"))
            .agg(F.count("*").alias("n_rows"))
        )
        top = counts.orderBy(F.desc("n_rows"), F.asc("k")).limit(
            TOPK_FANOUT
        ).localCheckpoint(eager=True)
        mx = top.agg(F.max("n_rows")).collect()[0][0]
        if mx is None:
            raise ValueError(
                f"{table} has no non-null {key} rows — nothing to "
                f"report in {sf_dir!r}"
            )
        branch = top.select(
            F.lit(tag).alias("side_key"),
            "k",
            "n_rows",
            F.expr(f"({PPM} * n_rows) div {mx}").alias("share_of_max_ppm"),
        )
        out = branch if out is None else out.unionByName(branch)
    return out


@query(
    "customer_rfm_segments",
    oracle="""
    WITH base AS (
        SELECT o_custkey,
               date_diff('day', MAX(o_orderdate),
                         (SELECT MAX(o_orderdate) FROM orders
                          WHERE o_custkey IS NOT NULL
                            AND o_orderdate IS NOT NULL))
                   AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS monetary_cents
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        GROUP BY o_custkey
    ),
    ranked AS (
        SELECT *,
               rank() OVER (ORDER BY recency_days, o_custkey) AS rr,
               rank() OVER (ORDER BY frequency DESC, o_custkey) AS rf,
               rank() OVER (ORDER BY monetary_cents DESC, o_custkey) AS rm,
               COUNT(*) OVER () AS n
        FROM base
    )
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           1 + ((rr - 1) * 4) // n AS r_quartile,
           1 + ((rf - 1) * 4) // n AS f_quartile,
           1 + ((rm - 1) * 4) // n AS m_quartile
    FROM ranked
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic behavioral feature triple
    (Recency in days vs the corpus max order date, Frequency, and
    Monetary in exact cents) with integer quartile codes per
    dimension (best = 1). Quartiles come from rank arithmetic
    1 + ((rank-1)*4) // n with o_custkey tie-breaks — deterministic
    in both engines, unlike ntile whose tie placement is
    order-dependent. Because the tie-break key is unique per row,
    rank() == row_number(), so each of the three ranks is a dense
    0-based ID + 1 and can run through the two-phase distributed
    assigner (operators/ids.py assign_dense_ids: one range shuffle
    + in-partition sort per dimension, all partitions in parallel,
    bounded per-partition counts to the driver) instead of a global
    unpartitioned rank window — the single-reducer sort this repo
    eliminated everywhere else (dense_id_assignment,
    curriculum_packing). Descending dimensions rank on the negated
    column. The corpus max date and the customer count n are single
    scalars folded as literals."""
    # keyless or dateless rows carry no RFM signal, and NULL
    # tie-break ordering differs between engines — excluded in both.
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    ref = orders.agg(F.max("o_orderdate")).collect()[0][0]
    if ref is None:
        raise ValueError(
            f"orders table is empty — no reference date in {sf_dir!r}"
        )
    base = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(ref), F.max("o_orderdate"))
        .cast("long")
        .alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(cents("o_totalprice")).alias("monetary_cents"),
    )
    # descending rank == ascending rank on the negated column;
    # frequency/monetary are non-null longs so negation is total.
    base = base.withColumn("_negf", -F.col("frequency")).withColumn(
        "_negm", -F.col("monetary_cents")
    )
    ranked = assign_dense_ids(base, ["recency_days", "o_custkey"], "_rr")
    ranked = assign_dense_ids(ranked, ["_negf", "o_custkey"], "_rf")
    ranked = assign_dense_ids(ranked, ["_negm", "o_custkey"], "_rm")
    # every stage above is internally checkpointed, so this count is
    # one narrow pass — and it folds n into the quartile expressions
    # as a literal rather than a COUNT(*) OVER () global window.
    n = ranked.count()
    if n == 0:
        raise ValueError(f"no RFM-eligible orders in {sf_dir!r}")
    # dense ids are 0-based: rank-1 == id, so 1 + (id*4) // n.
    q = lambda r: (1 + F.expr(f"({r} * 4) div {n}")).alias(
        f"{r[2]}_quartile"
    )
    return ranked.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        q("_rr"),
        q("_rf"),
        q("_rm"),
    )
