"""Corpus-curation operators beyond dedup: the passes a training-data
pipeline runs between raw text and the tokenizer.

  - benchmark_decontam    — n-gram collision flagging against a held
                            benchmark/eval set (the "13-gram overlap"
                            decontamination pass, shrunk to the test
                            corpus's 5-gram scale)
  - train_val_test_split  — deterministic hash-based split assignment
  - stratified_sample_quota — per-(lang, source) quota sampling in a
                            deterministic hash order
  - sequence_packing      — greedy contiguous packing of documents
                            into fixed token-budget training sequences
  - source_mix_rebalance  — per-source token shares → sampling rates
                            that flatten the mixture to uniform
  - pii_redaction         — regex masking of emails/phone numbers with
                            per-doc redaction counts

The reference has no curation layer (its pipelines stop at typed
loads, gerrydb_etl/db.py); this module extends the SURVEY §2.12
north-star set. Every query here is oracle-paired and keeps the whole
plan in built-in JVM expressions — no UDFs, no driver collects.

100 TB notes are per-operator in the docstrings; the common theme is
that each pass is either a narrow map (split, redaction), one
map-side-combined aggregation (mix rebalance), or a broadcast join
against a small derived set (decontamination — the benchmark shingle
set is eval-suite-sized, not corpus-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.text import tokenize
from gerrydb_etl_spark.store.staging import SHINGLES
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources.registry import load_table

# Spark regexp_* compiles Java regex; DuckDB compiles RE2. Both
# patterns below stay inside the common subset (character classes,
# bounded repetition — no lookarounds, no backrefs) so the same
# string is matched identically by both engines.
EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{4}"

# Documents whose id hashes into the benchmark residue class act as
# the held-out eval set for decontamination (the corpus ships no
# separate benchmark table; 1/97 of docs ≈ an eval suite's size).
BENCH_MOD = 97

PACK_BUDGET = 2048


@query(
    "benchmark_decontam",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id AS doc, s AS shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(t) - 4, 0)),
                       i -> array_to_string(t[i:i+4], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        )
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc % {BENCH_MOD} = 0)
    SELECT doc AS doc_id, COUNT(*) AS n_contam
    FROM sh
    WHERE doc % {BENCH_MOD} <> 0
      AND shingle IN (SELECT shingle FROM bench)
    GROUP BY doc
    """,
)
def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents sharing any word 5-gram with the
    benchmark set (docs in the BENCH_MOD residue class), with the
    count of distinct shared shingles per contaminated doc — the
    n-gram-overlap decontamination pass every serious training
    pipeline runs against its eval suites.

    100 TB: the benchmark shingle set is derived from the EVAL suite,
    which is fixed-size (thousands of documents) regardless of corpus
    scale — it is explicitly broadcast, so the corpus-side shingle
    stream is never shuffled at all: tokenize → explode → broadcast
    semi-probe → one map-side-combined groupBy(doc). If the "eval
    set" ever grew corpus-sized the broadcast would be replaced by a
    shuffle join on shingle; the residue-class spelling here keeps
    the demonstration inside one corpus.
    """
    sh = SHINGLES.read(spark, sf_dir, 5)
    bench = (
        sh.filter(F.col("doc") % BENCH_MOD == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc")
        .agg(F.count("*").alias("n_contam"))
        .select(F.col("doc").alias("doc_id"), "n_contam")
    )


@query(
    "train_val_test_split",
    oracle="""
    WITH d AS (
        SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hc,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    )
    SELECT CASE WHEN hc <= 'b' THEN 'train'
                WHEN hc <= 'd' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM d GROUP BY 1
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by the first hex digit
    of md5(doc_id) — 12/16 train, 2/16 val, 2/16 test — with doc and
    token counts per split. Hash-based splits (not random()) are the
    production spelling: assignment is reproducible across runs and
    engines, and a re-shard never migrates documents between splits.

    md5 hex is identical in Spark and DuckDB; the digit comparison
    rides ASCII ('9' < 'a'), so the CASE is engine-portable. 100 TB:
    one narrow map + one 3-group aggregation — the shuffle carries
    three rows per map task.
    """
    docs = load_table(spark, sf_dir, "documents")
    hc = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(hc <= "b", "train").when(hc <= "d", "val").otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            F.size(tokenize(F.col("text"))).alias("n_tok"),
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


@query(
    "stratified_sample_quota",
    oracle="""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ) WHERE rn <= 10
    """,
)
def stratified_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most 10 documents per (lang, source) stratum, chosen in
    md5(doc_id) order — a deterministic stratified sample (the hash
    order is an unbiased but reproducible shuffle; doc_id breaks
    exact-tie hashes).

    100 TB: per-stratum top-k via ranking window. The window
    partitions on the stratum key, so parallelism is bounded by
    stratum count — fine when strata are languages×sources
    (thousands); a skewed mega-stratum would take the two-phase
    spelling instead (per-partition local top-k before the window,
    as queries/relational.py's global top-k does).
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang", "source")
    )


@query(
    "sequence_packing",
    oracle=f"""
    WITH c AS (
        SELECT lang, doc_id, n_tok,
               SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (SELECT lang, doc_id,
                     len(string_split(text, ' ')) AS n_tok
              FROM documents)
    )
    SELECT lang,
           CAST(FLOOR((cum - n_tok) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM c GROUP BY 1, 2
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: within each lang shard,
    documents are laid out in doc_id order and cut into training
    sequences of PACK_BUDGET tokens — pack_id = the budget multiple
    where the document STARTS (a doc straddling a boundary overflows
    its pack rather than splitting; per-pack stats expose the
    overflow). This is the concat-and-chunk packing used to build
    fixed-length LLM training batches without padding waste.

    100 TB: the running sum partitions by shard (lang here; a hash
    bucket column in production, giving arbitrary parallelism), so no
    global ordering bottleneck exists — each shard's cumsum is an
    independent window, and the pack aggregation map-side combines.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = docs.select(
        "lang", "doc_id", F.size(tokenize(F.col("text"))).alias("n_tok")
    ).select("lang", "doc_id", "n_tok", F.sum("n_tok").over(w).alias("cum"))
    pack = F.floor((F.col("cum") - F.col("n_tok")) / F.lit(float(PACK_BUDGET)))
    return (
        d.select("lang", pack.cast("long").alias("pack_id"), "n_tok")
        .groupBy("lang", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("pack_tokens"))
    )


@query(
    "source_mix_rebalance",
    oracle="""
    WITH s AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    )
    SELECT source, n_tokens,
           CAST(n_tokens AS DOUBLE)
               / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS share,
           LEAST(1.0, (1.0 / COUNT(*) OVER ())
               / (CAST(n_tokens AS DOUBLE)
                  / CAST(SUM(n_tokens) OVER () AS DOUBLE))) AS sample_rate
    FROM s
    """,
)
def source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture weights: per-source token share and the sampling
    rate that would flatten the mixture to uniform across sources
    (over-represented sources get rate < 1, under-represented stay
    at 1 — upsampling is a training-loop decision, not a data pass).

    100 TB: the heavy stage is one map-side-combined groupBy(source);
    the global window then runs over SOURCE-cardinality rows (a
    dimension, thousands at most), so the single-partition window is
    a non-issue by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select("source", F.size(tokenize(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    w = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w).cast(
        "double"
    )
    rate = F.least(F.lit(1.0), (F.lit(1.0) / F.count("*").over(w)) / share)
    return s.select(
        "source", "n_tokens", share.alias("share"), rate.alias("sample_rate")
    )


@query(
    "temperature_mix_weights",
    oracle="""
    WITH s AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    q AS (
        SELECT source, n_tokens,
               CAST(n_tokens AS DOUBLE)
                   / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS share,
               CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)
                        / CAST(SUM(n_tokens) OVER () AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS sq_e9
        FROM s
    )
    SELECT source, n_tokens, share,
           CAST(sq_e9 AS DOUBLE) / CAST(SUM(sq_e9) OVER () AS DOUBLE)
               AS temp_weight,
           (CAST(sq_e9 AS DOUBLE) / CAST(SUM(sq_e9) OVER () AS DOUBLE))
               / share AS boost
    FROM q
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (the mC4/XLM-R
    multilingual sampling rule, alpha = 0.5): sampling weight
    proportional to share^alpha, which upsamples small sources and
    downsamples dominant ones less brutally than flattening to
    uniform (source_mix_rebalance's rule). ``boost`` = temp_weight /
    share is the effective repetition factor the training loop
    applies per source.

    Determinism: sqrt is IEEE correctly-rounded (identical doubles
    in both engines — the same algebraic-function contract the
    cosine paths rely on), but a DOUBLE SUM over sources is
    order-dependent, so the sqrt values are quantized to exact 1e-9
    integers BEFORE the normalizing sum; every division is then
    exact-int-over-exact-int in double. Same scale shape as
    source_mix_rebalance: one map-side-combined groupBy(source),
    windows over dimension-cardinality rows."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select("source", F.size(tokenize(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    w = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w).cast(
        "double"
    )
    sq_e9 = F.floor(F.sqrt(share) * F.lit(1000000000.0) + F.lit(0.5)).cast(
        "long"
    )
    q = s.select("source", "n_tokens", share.alias("share"), sq_e9.alias("sq_e9"))
    temp_w = F.col("sq_e9").cast("double") / F.sum("sq_e9").over(w).cast(
        "double"
    )
    return q.select(
        "source",
        "n_tokens",
        "share",
        temp_w.alias("temp_weight"),
        (temp_w / F.col("share")).alias("boost"),
    )


@query(
    "pii_redaction",
    oracle=f"""
    WITH synth AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-'
                    || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS t
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phones,
           length(regexp_replace(
               regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_len
    FROM synth
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: mask emails and phone numbers, reporting per-doc
    match counts and the redacted length. The synthetic corpus ships
    no PII, so each doc gets a deterministic contact line appended
    first — the regexes then have real matches to find, and the
    masked-output length varies per doc, making the oracle comparison
    sensitive to any engine divergence in match semantics.

    100 TB: a pure narrow map — regex matching runs JVM-side inside
    whole-stage codegen (Spark regexp_* are built-in expressions, not
    UDFs); nothing shuffles. fan_out (gated no-op once the scan
    yields >= parallelism splits) because a pure narrow map inherits
    the SCAN's partitioning: the curation slope battery measured a
    9.05x wall for 10x data with the regex stack running on the x10
    file's TWO natural splits — 3.35s on 2 of 32 cores
    (SCALE_r16 curation_families).
    """
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(synth, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(synth, F.lit(EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(synth, F.lit(PHONE_RE), 0)).alias(
            "n_phones"
        ),
        F.length(redacted).alias("redacted_len"),
    )


# multiplicative integer mixer for epoch shuffling: Knuth's 2654435761
# (closest prime-ish multiplier to 2^32/phi), PER-EPOCH odd multiplier
# (base + 2*step*epoch stays odd, so each epoch's map is a bijection
# mod 2^31 and a genuinely different permutation — a constant ADDITIVE
# epoch offset would shift every key equally and leave the sort order
# unchanged), then a 31-bit mask. doc_id is masked into the 31-bit
# domain BEFORE the multiply (in both engines), so the product is
# bounded by 2^31 * ~2.66e9 < 2^63 for ANY int64 doc_id — no silent
# Spark wraparound / DuckDB overflow divergence past 3.4e9.
EPOCH_MIX_MULT = 2654435761
EPOCH_MIX_STEP = 40503
EPOCH_MASK = (1 << 31) - 1
N_EPOCHS = 3


@query(
    "epoch_shuffle_order",
    oracle=f"""
    WITH mixed AS (
        SELECT e.epoch, d.doc_id,
               ((((d.doc_id & {EPOCH_MASK}) + 1)
                 * ({EPOCH_MIX_MULT} + 2 * {EPOCH_MIX_STEP} * e.epoch))
                 & {EPOCH_MASK}) AS mix
        FROM documents d,
             (SELECT unnest(generate_series(0, {N_EPOCHS - 1})) AS epoch) e
    )
    SELECT epoch, doc_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY epoch ORDER BY mix, doc_id
           ) - 1 AS BIGINT) AS position
    FROM mixed
    """,
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order: every document gets a
    position in each of 3 epochs by ranking a multiplicative integer
    mix of (doc_id, epoch) — the reproducible-data-loader shuffle
    (same permutation on every rerun/engine, different permutation
    per epoch, no RNG state to checkpoint). Pure integer arithmetic
    → full value-hash oracle.

    Scale: the ranking runs through the two-phase dense-ID assigner
    (operators/ids.py) range-partitioned on (epoch, mix, doc_id) —
    every shuffle partition sorts a narrow key range in parallel and
    a prefix-sum of per-partition counts turns local positions into
    global ones. A ``Window.partitionBy("epoch")`` spelling would
    funnel the whole corpus through N_EPOCHS reducers (3 tasks for
    100 TB); tests/test_plan_shapes.py pins the window-free plan.
    Each epoch occupies a contiguous [epoch*n_docs, (epoch+1)*n_docs)
    slice of the global order, so per-epoch position is a subtraction,
    not a second shuffle."""
    from gerrydb_etl_spark.operators.ids import assign_dense_ids

    # epochs ride as a literal array explode — a crossJoin against a
    # 3-row epoch table would compile to the nested-loop join the
    # plan gate bans
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()
    mixed = docs.select(
        F.col("doc_id"),
        F.explode(F.array(*[F.lit(i) for i in range(N_EPOCHS)])).alias("epoch"),
    ).select(
        "epoch",
        "doc_id",
        (
            ((F.col("doc_id").bitwiseAND(F.lit(EPOCH_MASK)) + 1)
             * (EPOCH_MIX_MULT + 2 * EPOCH_MIX_STEP * F.col("epoch")))
            .bitwiseAND(F.lit(EPOCH_MASK))
        ).alias("mix"),
    )
    ordered = assign_dense_ids(mixed, ["epoch", "mix", "doc_id"], id_col="_gid")
    return ordered.select(
        "epoch",
        "doc_id",
        (F.col("_gid") - F.col("epoch").cast("long") * F.lit(n_docs))
        .cast("long")
        .alias("position"),
    )


# Priority sampling (Duffield, Lund & Thorup, JACM 2007): a weighted
# sample WITHOUT replacement of size k whose Horvitz-Thompson-style
# estimator max(w_i, tau) gives unbiased subset-sum estimates, where
# tau is the (k+1)-th largest priority q_i = w_i / u_i and u_i is
# uniform on (0, 1]. u is DERANDOMIZED with the same Knuth
# multiplicative mixer as epoch_shuffle_order (reproducible across
# runs and engines, no RNG state), and q is kept integer-exact as
# (w << 31) // u_scaled with u_scaled in [1, 2^31] — the 2^31
# factors cancel, so tau is directly in weight units. w < 2^20
# tokens keeps the scaled product under 2^51: no overflow in either
# engine.
PS_K = 20
PS_MASK = (1 << 31) - 1
PS_MULT = 2654435761


@query(
    "priority_sample_topk",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
               ((((doc_id & {PS_MASK}) + 1) * {PS_MULT}) & {PS_MASK}) + 1
                   AS u_scaled
        FROM documents
    ),
    r AS (
        SELECT doc_id, weight,
               (weight * {PS_MASK + 1}) // u_scaled AS priority,
               ROW_NUMBER() OVER (
                   ORDER BY (weight * {PS_MASK + 1}) // u_scaled DESC,
                            doc_id) AS rn
        FROM s
    ),
    t AS (
        SELECT doc_id, weight, priority, rn,
               MAX(CASE WHEN rn = {PS_K + 1} THEN priority END) OVER ()
                   AS tau
        FROM r WHERE rn <= {PS_K + 1}
    )
    SELECT doc_id, weight, priority,
           GREATEST(weight, COALESCE(tau, weight)) AS est_weight
    FROM t WHERE rn <= {PS_K}
    """,
)
def priority_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement of PS_K documents, token
    count as weight: take the k+1 largest priorities w/u, keep k,
    and attach the estimator weight max(w, tau) (unbiased for subset
    sums over the sample — the standard way to downsample a corpus
    while keeping token-mass statistics estimable). Deterministic by
    construction (hash-derandomized u, integer-exact priorities,
    doc_id tie-break) -> full value-hash oracle.

    100 TB: the only distributed step is TakeOrderedAndProject
    (per-partition top-(k+1) heaps, driver merges k+1 rows — no
    global sort, no shuffle); the rank/tau windows run AFTER the
    limit, over k+1 = 21 rows. The reference has no sampling layer;
    this extends the SURVEY §2.12 curation set."""
    docs = load_table(spark, sf_dir, "documents")
    u_scaled = (
        (
            (F.col("doc_id").bitwiseAND(F.lit(PS_MASK)) + 1) * F.lit(PS_MULT)
        ).bitwiseAND(F.lit(PS_MASK))
        + 1
    )
    scored = docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("long").alias("weight"),
        u_scaled.alias("u_scaled"),
    ).select(
        "doc_id",
        "weight",
        F.expr(f"weight * {PS_MASK + 1} DIV u_scaled").alias("priority"),
    )
    top = scored.orderBy(F.desc("priority"), "doc_id").limit(PS_K + 1)
    w_rank = Window.orderBy(F.desc("priority"), F.col("doc_id"))
    ranked = top.select(
        "doc_id", "weight", "priority", F.row_number().over(w_rank).alias("rn")
    )
    w_all = Window.partitionBy()
    tau = F.max(
        F.when(F.col("rn") == PS_K + 1, F.col("priority"))
    ).over(w_all)
    return (
        ranked.select("doc_id", "weight", "priority", "rn", tau.alias("tau"))
        .filter(F.col("rn") <= PS_K)
        .select(
            "doc_id",
            "weight",
            "priority",
            F.greatest(
                F.col("weight"), F.coalesce(F.col("tau"), F.col("weight"))
            ).alias("est_weight"),
        )
    )


CURR_BUDGET = 512


@query(
    "curriculum_packing",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, n_tok,
               SUM(n_tok) OVER (
                   ORDER BY n_tok, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents)
    )
    SELECT CAST(FLOOR((cum - n_tok) / {CURR_BUDGET}.0) AS BIGINT)
               AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
           CAST(MIN(n_tok) AS BIGINT) AS min_len,
           CAST(MAX(n_tok) AS BIGINT) AS max_len
    FROM c GROUP BY 1
    """,
)
def curriculum_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered sequence packing: documents sorted
    shortest-first (the classic easy-to-hard curriculum key —
    deterministic, no trained difficulty model) and packed into
    512-token training sequences IN THAT GLOBAL ORDER, so
    early packs hold many short samples and late packs few long
    ones. Differs from sequence_packing (per-lang, doc_id order) in
    needing a GLOBAL weighted running total — which is the
    single-reducer window anti-pattern at 100 TB, so the cumsum
    runs through operators/ids.py assign_prefix_sums: range shuffle
    + parallel in-partition sorts + bounded per-partition weight
    sums + one narrow Arrow pass (the epoch_shuffle_order recipe,
    weighted). Plan gate pins window-free. Pack stats per pack_id
    keep the output pack-granular."""
    from gerrydb_etl_spark.operators.ids import assign_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tok")
    )
    cum = assign_prefix_sums(
        sized, ["n_tok", "doc_id"], "n_tok", out_col="cum"
    )
    pack = F.floor(
        (F.col("cum") - F.col("n_tok")) / F.lit(float(CURR_BUDGET))
    ).cast("long")
    return cum.select(pack.alias("pack_id"), "n_tok").groupBy("pack_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("pack_tokens"),
        F.min("n_tok").cast("long").alias("min_len"),
        F.max("n_tok").cast("long").alias("max_len"),
    )
