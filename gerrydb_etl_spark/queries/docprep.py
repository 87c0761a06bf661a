"""Driver-visible queries for the document-prep operators
(operators/docprep.py): overlapping chunking and repetition-based
quality filtering over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.docprep import chunk_documents, repetition_stats
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

CHUNK_SIZE = 100
STRIDE = 80


@query(
    "doc_chunking",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text,
               CAST(FLOOR((GREATEST(length(text) - {CHUNK_SIZE}, 0)
                           + {STRIDE - 1}) / {STRIDE}) AS BIGINT) AS last_start
        FROM documents
    ),
    idx AS (
        SELECT doc_id, text,
               unnest(generate_series(0, last_start)) AS chunk_id
        FROM d
    )
    SELECT doc_id, chunk_id,
           substr(text, CAST(chunk_id * {STRIDE} + 1 AS INT), {CHUNK_SIZE})
               AS chunk_text,
           CAST(length(substr(text, CAST(chunk_id * {STRIDE} + 1 AS INT),
                              {CHUNK_SIZE})) AS BIGINT) AS chunk_len
    FROM idx
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride overlapping chunking (100-char chunks, 80-char
    stride -> 20-char overlap) — the unit-of-training-example split
    that precedes tokenization. Narrow map, zero shuffles; output
    partitioning inherits the parquet scan's."""
    # fanned to cluster parallelism (gated no-op at production
    # split counts): the narrow text compute otherwise inherits
    # the scan's few splits — measured 3.24x for 10x data on the scan's two splits
    # (SCALE_r16 curation_families post_fanout).
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    return chunk_documents(
        docs, chunk_size=CHUNK_SIZE, stride=STRIDE
    )


@query(
    "repetition_quality",
    oracle="""
    WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    words AS (SELECT doc_id, unnest(w) AS gram FROM s),
    wc AS (SELECT doc_id, gram, COUNT(*) AS c FROM words GROUP BY 1, 2),
    pw AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
               COUNT(*) AS n_distinct_words
        FROM wc GROUP BY 1
    ),
    bg AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 2
                      THEN list_transform(generate_series(1, len(w) - 1),
                                          i -> w[i] || ' ' || w[i + 1])
                      ELSE [] END) AS gram
        FROM s
    ),
    bc AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    pb AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               MAX(c) AS top_bigram_n
        FROM bc GROUP BY 1
    )
    SELECT pw.doc_id,
           n_words,
           (n_words - n_distinct_words) / n_words AS dup_word_frac,
           COALESCE(top_bigram_n / n_bigrams, 0.0) AS top_bigram_frac,
           ((n_words - n_distinct_words) / n_words <= 0.55
            AND COALESCE(top_bigram_n / n_bigrams, 0.0) <= 0.05) AS keep
    FROM pw LEFT JOIN pb USING (doc_id)
    """,
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style intra-document repetition filter:
    duplicate-word fraction + most-frequent-bigram fraction, with a
    keep verdict at (0.55, 0.05). Thresholds chosen to split this
    corpus (dup_word_frac median ~0.54, top_bigram_frac max ~0.17)
    so the verdict column is exercised in both directions."""
    # fanned to cluster parallelism (gated no-op at production
    # split counts): the narrow text compute otherwise inherits
    # the scan's few splits — measured 5.7x for 10x data on the scan's two splits
    # (SCALE_r16 curation_families post_fanout).
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    return repetition_stats(docs)


CDC_K = 3
CDC_MOD = 16

# per-token integer code, identical to operators/passages._token_codes
_CDC_CODES = (
    "list_transform(string_split(text, ' '), "
    "t -> length(t)::BIGINT * 256 + ascii(t)::BIGINT)"
)


@query(
    "cdc_chunking",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_CDC_CODES} AS codes FROM documents
    ),
    k AS (
        SELECT doc_id, codes, len(codes) AS n,
               CASE WHEN len(codes) >= {CDC_K} THEN
                   list_transform(
                       range(0, len(codes) - {CDC_K} + 1),
                       i -> list_reduce(
                           codes[i + 1 : i + {CDC_K}],
                           (acc, c) -> (acc * 131 + c) % 1000000007
                       ) % 1000000007)
               ELSE [] END AS kh
        FROM t
    ),
    c AS (
        SELECT doc_id, codes, n,
               CASE WHEN len(kh) >= 2 THEN
                   list_filter(range(1, len(kh)),
                               p -> kh[p + 1] % {CDC_MOD} = 0)
               ELSE [] END AS cuts
        FROM k
    ),
    spans AS (
        SELECT doc_id, codes,
               list_prepend(0, cuts) AS starts,
               list_append(cuts, n) AS ends
        FROM c
    ),
    chunks AS (
        SELECT doc_id, i - 1 AS chunk_idx, starts[i] AS s, ends[i] AS e,
               codes
        FROM (SELECT doc_id, codes, starts, ends,
                     unnest(generate_series(1, len(starts))) AS i
              FROM spans)
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_tok,
           CAST(e - s AS BIGINT) AS n_toks,
           CAST(list_reduce(codes[s + 1 : e],
                            (acc, c) -> (acc * 131 + c) % 1000000007)
                % 1000000007 AS BIGINT) AS chunk_fp
    FROM chunks
    """,
)
def cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (LBFS/rsync/restic family): cuts
    where the rolling {CDC_K}-gram token hash ≡ 0 mod {CDC_MOD}
    (expected ~{CDC_MOD}-token chunks), each chunk fingerprinted for
    cross-recrawl chunk-level dedup. Boundaries are content-derived,
    so an insertion shifts only the chunks it touches — the
    stability property fixed-stride doc_chunking lacks. Array-domain
    plan, zero shuffles before the output explode; reads the
    session-staged token-code arrays shared with the winnowing
    family."""
    from gerrydb_etl_spark.operators.docprep import cdc_chunks
    from gerrydb_etl_spark.store.staging import TOKEN_CODES

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks(
        docs, k=CDC_K, boundary_mod=CDC_MOD,
        codes=TOKEN_CODES.read(spark, sf_dir),
    )


@query(
    "cdc_incremental_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_CDC_CODES} AS codes FROM documents
    ),
    k AS (
        SELECT doc_id, codes, len(codes) AS n,
               CASE WHEN len(codes) >= {CDC_K} THEN
                   list_transform(
                       range(0, len(codes) - {CDC_K} + 1),
                       i -> list_reduce(
                           codes[i + 1 : i + {CDC_K}],
                           (acc, c) -> (acc * 131 + c) % 1000000007
                       ) % 1000000007)
               ELSE [] END AS kh
        FROM t
    ),
    c AS (
        SELECT doc_id, codes, n,
               CASE WHEN len(kh) >= 2 THEN
                   list_filter(range(1, len(kh)),
                               p -> kh[p + 1] % {CDC_MOD} = 0)
               ELSE [] END AS cuts
        FROM k
    ),
    spans AS (
        SELECT doc_id, codes,
               list_prepend(0, cuts) AS starts,
               list_append(cuts, n) AS ends
        FROM c
    ),
    chunks AS (
        SELECT doc_id, starts[i] AS s, ends[i] AS e,
               CAST(ends[i] - starts[i] AS BIGINT) AS n_toks,
               CAST(list_reduce(codes[starts[i] + 1 : ends[i]],
                                (acc, cc) -> (acc * 131 + cc) % 1000000007)
                    % 1000000007 AS BIGINT) AS chunk_fp
        FROM (SELECT doc_id, codes, starts, ends,
                     unnest(generate_series(1, len(starts))) AS i
              FROM spans)
    ),
    existing AS (
        SELECT DISTINCT chunk_fp FROM chunks WHERE doc_id % 2 = 0
    ),
    inc AS (
        SELECT * FROM chunks WHERE doc_id % 2 = 1 OR doc_id % 10 = 0
    )
    SELECT i.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN e.chunk_fp IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_known_chunks,
           CAST(SUM(CASE WHEN e.chunk_fp IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel_chunks,
           CAST(SUM(CASE WHEN e.chunk_fp IS NULL THEN i.n_toks ELSE 0 END)
                AS BIGINT) AS n_novel_toks
    FROM inc i LEFT JOIN existing e ON i.chunk_fp = e.chunk_fp
    GROUP BY i.doc_id
    """,
)
def cdc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-recrawl CHUNK-level dedup — the production use the
    cdc_chunks docstring promises: an incoming
    recrawl batch (odd doc_ids plus every 10th even — pages both new
    and already ingested) is chunked content-defined, and each
    chunk's fingerprint is checked against the EXISTING corpus chunk
    index (even doc_ids). Per incoming document: how many chunks are
    already stored vs novel, and how many tokens the novel chunks
    carry — the "bytes you actually have to store/re-embed" metric
    that makes recrawl ingestion pay for content-defined (not
    positional) boundaries: an insertion re-writes only the chunks
    it touches, so the known-chunk ratio stays high.

    Plan shape: chunking is the zero-shuffle array-domain cdc_chunks
    pass over the session-staged token codes; the existing index is
    one distinct-fp build (at 100 TB a bucketed persisted table, the
    incremental_exact_dedup shape — same economics as the streaming
    dedup index in streaming/stream.py); the membership check is one
    fp-keyed left join (AQE broadcasts while small) and one per-doc
    aggregation. Nothing rescans the existing corpus text."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.docprep import cdc_chunks
    from gerrydb_etl_spark.store.staging import TOKEN_CODES

    docs = load_table(spark, sf_dir, "documents")
    chunks = cdc_chunks(
        docs, k=CDC_K, boundary_mod=CDC_MOD,
        codes=TOKEN_CODES.read(spark, sf_dir),
    ).select("doc_id", "n_toks", "chunk_fp")
    existing = (
        chunks.where(F.col("doc_id") % 2 == 0)
        .select("chunk_fp")
        .distinct()
        .withColumn("_known", F.lit(1))
    )
    incoming = chunks.where(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    )
    flagged = incoming.join(existing, "chunk_fp", "left")
    known = F.col("_known").isNotNull()
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(known, 1).otherwise(0)).cast("long").alias("n_known_chunks"),
        F.sum(F.when(known, 0).otherwise(1)).cast("long").alias("n_novel_chunks"),
        F.sum(F.when(known, 0).otherwise(F.col("n_toks")))
        .cast("long")
        .alias("n_novel_toks"),
    )


# portable affine MinHash family for chunk token-code SETS:
# h_i(c) = (A[i] * (c + 1) + B[i]) mod FP_MOD — replayable verbatim
# in DuckDB (unlike the xxhash64 family the document-level MinHash
# uses), so the fuzzy chunk matcher below carries a full
# pipeline-replay oracle. 8 hashes, 4 bands x 2 rows: band
# collision probability j^2 per band — high recall at j >= 0.5 on
# ~16-token chunks while unrelated chunks (stopword overlap,
# j ~ 0.2) rarely collide; the exact-Jaccard verify then makes the
# output threshold-exact regardless.
_CFM_A = (131, 137, 139, 149, 151, 157, 163, 167)
_CFM_B = (17, 29, 43, 59, 71, 89, 103, 127)
_CFM_MOD = 1000000007
_CFM_BANDS = 4
_CFM_CAP = 1000
_CFM_JAC = 0.5


def _cfm_oracle() -> str:
    hcols = ",\n               ".join(
        f"list_min(list_transform(cset, "
        f"c -> ({_CFM_A[i]} * (c + 1) + {_CFM_B[i]}) % {_CFM_MOD}))"
        f" AS h{i}"
        for i in range(8)
    )
    keycase = " ".join(
        f"WHEN {b} THEN (h{2 * b} * 131 + h{2 * b + 1}) % {_CFM_MOD}"
        for b in range(_CFM_BANDS)
    )
    return f"""
    WITH t AS (
        SELECT doc_id, {_CDC_CODES} AS codes FROM documents
    ),
    k AS (
        SELECT doc_id, codes, len(codes) AS n,
               CASE WHEN len(codes) >= {CDC_K} THEN
                   list_transform(
                       range(0, len(codes) - {CDC_K} + 1),
                       i -> list_reduce(
                           codes[i + 1 : i + {CDC_K}],
                           (acc, c) -> (acc * 131 + c) % 1000000007
                       ) % 1000000007)
               ELSE [] END AS kh
        FROM t
    ),
    c AS (
        SELECT doc_id, codes, kh, n,
               CASE WHEN len(kh) >= 2 THEN
                   list_filter(range(1, len(kh)),
                               p -> kh[p + 1] % {CDC_MOD} = 0)
               ELSE [] END AS cuts
        FROM k
    ),
    spans AS (
        SELECT doc_id, codes, kh,
               list_prepend(0, cuts) AS starts,
               list_append(cuts, n) AS ends
        FROM c
    ),
    chunks AS (
        SELECT doc_id, i - 1 AS chunk_idx,
               CAST(list_reduce(codes[starts[i] + 1 : ends[i]],
                                (acc, cc) -> (acc * 131 + cc) % 1000000007)
                    % 1000000007 AS BIGINT) AS chunk_fp,
               list_distinct(
                   kh[starts[i] + 1 :
                      starts[i] + greatest(ends[i] - starts[i] - {CDC_K - 1}, 0)]
               ) AS cset
        FROM (SELECT doc_id, codes, kh, starts, ends,
                     unnest(generate_series(1, len(starts))) AS i
              FROM spans)
        WHERE len(kh[starts[i] + 1 :
                     starts[i] + greatest(ends[i] - starts[i] - {CDC_K - 1}, 0)])
              > 0
    ),
    sigs AS (
        SELECT doc_id, chunk_idx, chunk_fp, cset,
               {hcols}
        FROM chunks
    ),
    blocked AS (
        SELECT s.*, b.band,
               CASE b.band {keycase} END AS key
        FROM sigs s,
             (SELECT unnest(generate_series(0, {_CFM_BANDS - 1})) AS band) b
    ),
    existing AS (SELECT * FROM blocked WHERE doc_id % 2 = 0),
    ok AS (
        SELECT band, key FROM existing
        GROUP BY 1, 2 HAVING COUNT(*) <= {_CFM_CAP}
    ),
    incoming AS (
        SELECT * FROM blocked WHERE doc_id % 2 = 1 OR doc_id % 10 = 0
    ),
    cand AS (
        SELECT DISTINCT i.doc_id, i.chunk_idx, i.chunk_fp AS ifp,
               i.cset AS iset,
               e.doc_id AS match_doc, e.chunk_idx AS match_idx,
               e.chunk_fp AS efp, e.cset AS eset
        FROM incoming i
        JOIN ok USING (band, key)
        JOIN existing e ON e.band = i.band AND e.key = i.key
                        AND e.doc_id != i.doc_id
    ),
    scored AS (
        SELECT doc_id, chunk_idx, match_doc, match_idx,
               len(list_intersect(iset, eset))
                   / (len(iset) + len(eset)
                      - len(list_intersect(iset, eset))) AS jaccard,
               ifp = efp AS is_exact
        FROM cand
    )
    SELECT doc_id, chunk_idx, match_doc, match_idx, jaccard, is_exact
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY doc_id, chunk_idx
                      ORDER BY jaccard DESC, match_doc, match_idx) AS rn
        FROM scored WHERE jaccard >= {_CFM_JAC}
    ) WHERE rn = 1
    """


@query("cdc_fuzzy_chunk_match", oracle=_cfm_oracle())
def cdc_fuzzy_chunk_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy chunk-level cross-recrawl matching — the MinHash
    sibling of cdc_incremental_dedup: where the exact pass only recognizes chunks whose
    fingerprint is byte-identical, this one links an incoming
    recrawl chunk to its NEAREST stored chunk (token-set Jaccard >=
    0.5) so small in-chunk edits still dedup against the corpus
    (store one delta, not a "novel" chunk). Incoming batch = odd
    doc_ids plus every 10th even; existing index = even doc_ids.

    Pipeline: content-defined chunks (staged token codes, zero
    shuffles) -> 8-hash portable affine MinHash per chunk token SET
    (array-domain, no explode) -> 4x2 banded buckets with the
    hot-bucket cap -> exact array_intersect Jaccard verify on
    candidates -> best match per incoming chunk. Every stage
    replays in DuckDB: full value-hash oracle.

    100 TB: signatures are 8 ints per chunk computed in one narrow
    pass; the bucket join moves (band, key) + ids, capped quadratic;
    at production scale the existing side is the same bucketed
    persisted index as incremental_exact_dedup, and identical
    chunks belong to that exact tier first."""
    from gerrydb_etl_spark.operators.dedup import _drop_hot_keys
    from gerrydb_etl_spark.operators.docprep import cdc_chunks
    from gerrydb_etl_spark.store.staging import TOKEN_CODES

    from gerrydb_etl_spark.operators.passages import kgram_hashes

    codes = TOKEN_CODES.read(spark, sf_dir)
    chunks = cdc_chunks(
        load_table(spark, sf_dir, "documents"),
        k=CDC_K, boundary_mod=CDC_MOD, codes=codes,
    )
    # the chunk's similarity domain is its distinct token 3-GRAM
    # hashes (order-sensitive, high-cardinality), NOT its token-code
    # set: the per-token codes collapse to (length, first char) —
    # a ~300-value universe whose min-hashes degenerate every band
    # bucket (112 buckets for 21k chunks measured at sf0.1, i.e. an
    # accidental all-pairs join); 3-gram hashes make buckets
    # selective AND make the verified Jaccard sequence-aware.
    # Chunks shorter than CDC_K tokens have no 3-gram and sit out
    # (below any meaningful fuzzy-match resolution).
    kh = codes.select(
        "doc_id", kgram_hashes(F.col("codes"), CDC_K).alias("kh")
    )
    base = (
        chunks.join(kh, "doc_id")
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_fp",
            F.array_distinct(
                F.slice(
                    "kh",
                    F.col("start_tok") + 1,
                    F.greatest(
                        F.col("n_toks") - F.lit(CDC_K - 1), F.lit(0)
                    ),
                )
            ).alias("cset"),
        )
        .filter(F.size("cset") > 0)
    )
    # (doc_id, chunk_idx) -> (chunk_fp, cset) is FUNCTIONAL (one
    # chunk per id pair), so the heavy cset arrays can stay out of
    # the band-bucket join entirely: candidates are generated and
    # deduped on narrow id rows and the arrays re-attached once per
    # surviving pair (guide §2.2 — shuffle fewer bytes). base feeds
    # the signature pass plus both array re-joins; pin it so the
    # chunker runs once, not once per consumer branch.
    base = base.localCheckpoint(eager=False)
    sigs = base.select(
        "doc_id",
        "chunk_idx",
        "chunk_fp",
        "cset",
        *[
            F.array_min(
                F.transform(
                    "cset",
                    (
                        lambda a, b: lambda c: (F.lit(a) * (c + 1) + F.lit(b))
                        % F.lit(_CFM_MOD)
                    )(_CFM_A[i], _CFM_B[i]),
                )
            ).alias(f"h{i}")
            for i in range(8)
        ],
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    (F.col(f"h{2 * b}") * 131 + F.col(f"h{2 * b + 1}"))
                    % _CFM_MOD
                ).alias("key"),
            )
            for b in range(_CFM_BANDS)
        ]
    )
    # narrow band table: (doc_id, chunk_idx, band, key) only — the
    # arrays never ride the bucket join or the candidate DISTINCT.
    # Three branches consume it (incoming, existing's data path, and
    # _drop_hot_keys' over-cap groupBy); pin it so the MinHash
    # signature pass runs once.
    blocked = sigs.select(
        "doc_id", "chunk_idx", F.explode(bands).alias("bk")
    ).select(
        "doc_id", "chunk_idx",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    ).localCheckpoint(eager=False)
    existing = _drop_hot_keys(
        blocked.filter(F.col("doc_id") % 2 == 0), ["band", "key"], _CFM_CAP
    )
    incoming = blocked.filter(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    )
    pair_ids = (
        incoming.alias("i")
        .join(
            existing.alias("e"),
            (F.col("i.band") == F.col("e.band"))
            & (F.col("i.key") == F.col("e.key"))
            & (F.col("i.doc_id") != F.col("e.doc_id")),
        )
        .select(
            F.col("i.doc_id").alias("doc_id"),
            F.col("i.chunk_idx").alias("chunk_idx"),
            F.col("e.doc_id").alias("match_doc"),
            F.col("e.chunk_idx").alias("match_idx"),
        )
        .distinct()
    )
    cand = pair_ids.join(
        base.select(
            "doc_id", "chunk_idx",
            F.col("chunk_fp").alias("ifp"), F.col("cset").alias("iset"),
        ),
        ["doc_id", "chunk_idx"],
    ).join(
        base.select(
            F.col("doc_id").alias("match_doc"),
            F.col("chunk_idx").alias("match_idx"),
            F.col("chunk_fp").alias("efp"), F.col("cset").alias("eset"),
        ),
        ["match_doc", "match_idx"],
    )
    common = F.size(F.array_intersect("iset", "eset"))
    scored = cand.select(
        "doc_id",
        "chunk_idx",
        "match_doc",
        "match_idx",
        (
            common
            / (F.size("iset") + F.size("eset") - common)
        ).alias("jaccard"),
        (F.col("ifp") == F.col("efp")).alias("is_exact"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id", "chunk_idx").orderBy(
        F.desc("jaccard"), F.asc("match_doc"), F.asc("match_idx")
    )
    return (
        scored.filter(F.col("jaccard") >= _CFM_JAC)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "chunk_idx", "match_doc", "match_idx",
                "jaccard", "is_exact")
    )
