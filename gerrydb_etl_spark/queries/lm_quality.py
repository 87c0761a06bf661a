"""Language-model-flavored corpus quality scoring: bigram-LM
surprisal (the CCNet/Wenzek-et-al perplexity-filter shape) and
DSIR-style hashed-feature importance weighting (Xie et al. 2023) —
the two standard "score every document against a reference
distribution" passes a training-data pipeline runs between dedup and
sampling. The reference has no text surface; this extends the
SURVEY.md §2.12 north-star set alongside queries/curation.py.

Engine-portability contract (same as queries/retrieval.py): no
transcendental functions. Log-probability scoring is replaced by
integer-exact surrogates that are monotone in the same direction —
per-bigram INVERSE smoothed conditional probability (capped, in 1e-5
units) instead of -log p, and per-feature smoothed count RATIOS (in
1e-6 units) instead of log-likelihood ratios. All arithmetic is
BIGINT products and floor divisions that Spark (`div`) and DuckDB
(`//`) evaluate identically on nonnegative operands, so both queries
carry full value-hash oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.text import tokenize
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

# surprisal scale: 1e5 keeps the worst-case product
# SCALE * (c1 + V) inside int64 out to ~9e13 corpus bigrams (~100 TB
# of text); the per-bigram cap bounds the per-document SUM far below
# overflow for any document length (1e4-token doc * cap = 1e16).
SURPRISAL_SCALE = 100_000
SURPRISAL_CAP = 10**12

# DSIR: cheap deterministic token-feature hash (length*256 + first
# char — the same portable code family as operators/passages.py)
# folded into FEATURE_BUCKETS hashed buckets. Real DSIR uses wider
# hashed n-gram features; the bucketing/ratio/score plumbing is
# identical and the hash is swappable.
FEATURE_BUCKETS = 1024
RATIO_SCALE = 1_000_000
# the held-out "target" set IS the benchmark residue class
# benchmark_decontam uses (the corpus ships no separate benchmark
# table) — imported so the two queries can never drift apart
from gerrydb_etl_spark.queries.curation import BENCH_MOD  # noqa: E402


@query(
    "bigram_surprisal_filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT unnest(t) AS tok FROM toks)),
    scored AS (
        SELECT bg.doc_id,
               LEAST({SURPRISAL_CAP},
                     ({SURPRISAL_SCALE} * (c1.c1 + v.v)) // (c2.c2 + 1)
               ) AS smicro
        FROM bg
        JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        JOIN c1 ON bg.w1 = c1.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(smicro) AS BIGINT) AS total_surprisal_e5,
           CAST(SUM(smicro) // COUNT(*) AS BIGINT) AS avg_surprisal_e5
    FROM scored GROUP BY doc_id
    """,
)
def bigram_surprisal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM surprisal per document — the
    perplexity-style quality filter (CCNet trains a 5-gram KenLM on
    reference text and filters by per-doc perplexity; this is the
    same shape with the corpus itself as the LM and an integer-exact
    inverse-probability surrogate for -log p).

    Per bigram (w1, w2): smicro = min(CAP, SCALE * (c1(w1) + V) div
    (c2(w1, w2) + 1)) — the inverse add-1-smoothed conditional
    probability in 1e-5 units (c1 = prefix occurrences, V = corpus
    vocabulary size). Per document: bigram count, total, and
    floor-average surprisal; high average = improbable token
    transitions = candidate for removal. Documents with < 2 tokens
    carry no bigram and are dropped (explicit contract, mirrored by
    the oracle). The CAP both bounds the int64 sum for any document
    length and tames the rare-continuation-of-frequent-word spike.

    Plan shape: one token explode → two map-side-combined aggregations
    over vocabulary-bounded keys (bigram counts, prefix counts) → the
    corpus bigram stream joins its counts on the bigram/prefix keys
    (AQE broadcasts both count tables while they fit — measured at
    x10: two BroadcastHashJoins, so the Zipf-hot prefix never
    shuffles at all) → one per-doc aggregation. V is a bounded O(1)
    driver scalar folded in as a literal (a 1-row scalar join would
    plan as the BroadcastNestedLoopJoin the plan gate forbids).

    Skew contingency: if the
    count tables outgrow broadcast (trillion-token vocabulary), the
    joins fall back to sort-merge on the Zipf-hot w1 — and AQE's
    skew-split provably CANNOT rescue them: OptimizeSkewedJoin only
    matches SMJ(Sort(ShuffleQueryStage), Sort(ShuffleQueryStage)),
    and here the build side is Sort(HashAggregate(ShuffleQueryStage))
    — the final aggregation of the counts table sits between the
    Sort and the shuffle stage, so the pattern never fires (verified
    on an 86%-hot corpus with thresholds scaled to bench size:
    skew=true marks appear on a plain scan-shuffle join in the same
    session but never on this shape —
    tests/test_skew.py::test_aqe_skew_split_blind_to_agg_build_side).
    The 100-TB fallback is ``prefix_salts``: salt the bigram stream
    and replicate the vocabulary-bounded c1 table salts× on the w1
    join (operators/skew.py replicated_skew_join) — identical values
    (tests/test_skew.py), hot prefix spread over salts tasks, at the
    cost of salts× the (small) counts-table shuffle. Selection is
    AUTOMATIC: the vocabulary scalar the scoring
    literal already collects doubles as the c1 size estimate, and the
    salted path engages exactly when that estimate outgrows
    spark.sql.autoBroadcastJoinThreshold (or broadcast is disabled)
    — no manual kwarg, and the physical rewrite never changes values.
    """
    return _bigram_surprisal(spark, sf_dir)


# salts for the auto-selected fallback: spreads the Zipf-hot prefix
# over 16 tasks; the replicated side is the vocabulary-bounded c1
_SURPRISAL_SALTS = 16


def _parse_size_bytes(v: object) -> int:
    """Spark size-string to bytes ('10MB', '10485760b', '-1')."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    return int(float(s) * mult)


def _bigram_surprisal(
    spark: SparkSession, sf_dir: str, prefix_salts: int | None | str = "auto"
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    vocab_row = (
        toks.select(F.explode("t").alias("tok"))
        .agg(
            F.countDistinct("tok").alias("v"),
            F.avg(F.length("tok")).alias("avg_len"),
        )
        .first()
    )
    vocab = vocab_row["v"]
    if prefix_salts == "auto":
        # c1 has one row per distinct prefix (<= vocabulary), so the
        # vocabulary scalar — already collected for the scoring
        # literal, no extra action — bounds the broadcast build side:
        # ~48 bytes of UnsafeRow/map overhead + the token itself per
        # row. Past the threshold (or with broadcast disabled) the
        # join would land as the skew-split-blind SMJ the skew probe
        # documented, so pick the salted replicated join.
        thresh = _parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        )
        est = int(vocab * (48 + float(vocab_row["avg_len"] or 0.0)))
        prefix_salts = (
            _SURPRISAL_SALTS if (thresh < 0 or est > thresh) else None
        )
    # guard BEFORE sequence(): n < 2 would count the sequence down
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.struct(
            F.element_at("t", (i + 1).cast("int")).alias("w1"),
            F.element_at("t", (i + 2).cast("int")).alias("w2"),
        ),
    )
    bg = (
        toks.where(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    with_c2 = bg.join(c2, ["w1", "w2"])
    if prefix_salts is None:
        with_c1 = with_c2.join(c1, ["w1"])
    else:
        from gerrydb_etl_spark.operators.skew import replicated_skew_join

        with_c1 = replicated_skew_join(with_c2, c1, "w1", salts=prefix_salts)
    scored = (
        with_c1
        .select(
            "doc_id",
            F.least(
                F.lit(SURPRISAL_CAP).cast("long"),
                F.expr(
                    f"({SURPRISAL_SCALE} * (c1 + {vocab})) div (c2 + 1)"
                ),
            ).alias("smicro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("smicro").cast("long").alias("total_surprisal_e5"),
        F.expr("sum(smicro) div count(*)").cast("long").alias("avg_surprisal_e5"),
    )


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               (length(tok)::BIGINT * 256 + ascii(tok)::BIGINT)
                   % {FEATURE_BUCKETS} AS f
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
    ),
    raw AS (SELECT f, COUNT(*) AS rcnt FROM tok GROUP BY f),
    tgt AS (SELECT f, COUNT(*) AS tcnt FROM tok
            WHERE doc_id % {BENCH_MOD} = 0 GROUP BY f),
    ratios AS (
        SELECT raw.f,
               ({RATIO_SCALE} * (COALESCE(tgt.tcnt, 0) + 1)) // (raw.rcnt + 1)
                   AS ratio_e6
        FROM raw LEFT JOIN tgt ON raw.f = tgt.f
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(ratios.ratio_e6) AS BIGINT) AS total_ratio_e6,
           CAST(SUM(ratios.ratio_e6) // COUNT(*) AS BIGINT)
               AS avg_importance_e6
    FROM tok JOIN ratios ON tok.f = ratios.f
    GROUP BY tok.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting: score every raw document by
    how much its hashed token-feature distribution resembles a target
    (benchmark) distribution, for importance resampling of training
    data (Xie et al. 2023 use hashed n-gram log-likelihood ratios;
    this keeps the hashed-feature/ratio/per-doc-score plumbing with
    an integer-exact smoothed count ratio — the global
    raw_total/target_total normalizer is constant across features, so
    ranking is unaffected, the same ranking-equivalence argument as
    the rational TF-IDF in queries/retrieval.py).

    Per feature bucket f: ratio_e6 = SCALE * (tcnt(f) + 1) div
    (rcnt(f) + 1) — the add-1-smoothed target/raw occurrence ratio in
    1e-6 units (target ⊆ raw ⇒ ratio ≤ SCALE; products stay far
    inside int64 at any corpus size because tcnt is eval-suite-
    bounded). Per document: floor-average ratio over its token
    occurrences — high = benchmark-like (sample up), low = far from
    target. The target set is the benchmark residue class
    (doc_id % {BENCH_MOD} = 0), matching benchmark_decontam.

    Plan shape: one token explode → narrow hash-to-bucket map → ONE
    conditional aggregation yielding both raw and target counts per
    bucket in a single pass over the token stream (FEATURE_BUCKETS-
    bounded — tiny), ratio table joined back to the token stream on
    the bucket key (broadcast: ≤ {FEATURE_BUCKETS} rows) → one
    per-doc aggregation. Nothing collects to the driver.
    The explode's map side is fanned to cluster parallelism first
    (gated no-op at production split counts): measured 4.0x wall for
    10x data on the scan's two natural splits (SCALE_r16
    curation_families).
    """
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    tok = docs.select(
        "doc_id",
        F.explode(tokenize(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        (
            (F.length("tok").cast("long") * 256 + F.ascii("tok").cast("long"))
            % FEATURE_BUCKETS
        ).alias("f"),
    )
    # raw and target counts in ONE pass over the token stream
    # (separate raw/tgt aggregations would each re-run the explode
    # and meet in a join — one conditional aggregation halves the token
    # passes and drops that join at every scale; the target count is
    # a filtered count, so COUNT(IF(..)) is exactly the join
    # spelling's COALESCE(tgt.tcnt, 0))
    ratios = (
        tok.groupBy("f")
        .agg(
            F.count("*").alias("rcnt"),
            F.count(
                F.when(F.col("doc_id") % BENCH_MOD == 0, F.lit(1))
            ).alias("tcnt"),
        )
        .select(
            "f",
            F.expr(
                f"({RATIO_SCALE} * (tcnt + 1)) div (rcnt + 1)"
            ).alias("ratio_e6"),
        )
    )
    return (
        tok.join(F.broadcast(ratios), "f")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("ratio_e6").cast("long").alias("total_ratio_e6"),
            F.expr("sum(ratio_e6) div count(*)")
            .cast("long")
            .alias("avg_importance_e6"),
        )
    )
