"""LLM-data pipeline queries over the `documents` table: exact and
near-duplicate dedup, text analysis, fingerprinting, multimodal
byte-column plumbing (SURVEY.md §2.5 north star + §2.12).

Exact operators carry full DuckDB oracles. Approximate operators
(MinHash-LSH, SimHash — built on engine-specific xxhash64) are
registered twice: the PRODUCTION plan under the operator's name
(benched; value-hash oracle where the output is provably the truth
set, rows-only where it is not SQL-expressible) and a *_verify twin
that computes the exact-Jaccard truth set and asserts the recall
contract (oracle-checked, excluded from bench timing). Recall
assertions also run in tests/test_llm_text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gerrydb_etl_spark.functions.text import (
    STOPWORDS,
    avg_token_len,
    lang_id,
    quality_score,
    rolling_fingerprint,
    stopword_ratio,
    tokenize,
    type_token_ratio,
)
from gerrydb_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from gerrydb_etl_spark.operators.multimodal import (
    decode_media,
    documents_as_media,
    sample_frames,
)
from gerrydb_etl_spark.operators.validate import sql_string
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table
from gerrydb_etl_spark.store.staging import SHINGLES


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@query(
    "dedup_exact_text",
    oracle="""
    SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_key,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256 content keys over normalized text, one row
    per distinct content with the canonical (min) doc id. Map-side
    combine means the shuffle carries one row per distinct hash."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_distinct,
           list_reduce(list_prepend(0::BIGINT, list_transform(t, x -> length(x)::BIGINT)),
                       (a, b) -> a + b) / len(t) AS avg_token_len,
           len(list_distinct(t)) / len(t) AS ttr,
           len(list_filter(t, x -> list_contains({_sql_list(STOPWORDS["en"])}, x)))
               / len(t) AS stop_ratio_en,
           (CASE WHEN len(t) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END
            * (len(list_distinct(t)) / len(t)
               + len(list_filter(t, x -> list_contains({_sql_list(STOPWORDS["en"])}, x)))
                 / len(t))) / 2 AS quality
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: token counts, lexical diversity,
    stopword rate, and a composite quality score — all integer-ratio
    arithmetic so Spark and DuckDB agree bit-for-bit. Narrow map over
    the scan: zero shuffles; fanned to cluster parallelism first
    (gated no-op at production split counts — measured 2.32x for 10x
    data on the scan's two splits, SCALE_r16 curation_families)."""
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    t = tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        avg_token_len(t).alias("avg_token_len"),
        type_token_ratio(t).alias("ttr"),
        stopword_ratio(t, "en").alias("stop_ratio_en"),
        quality_score(t, "en").alias("quality"),
    )


def _hits_sql(lang: str) -> str:
    return (
        f"len(list_filter(t, x -> list_contains({_sql_list(STOPWORDS[lang])}, x)))"
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
                WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
                WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
                WHEN h_fr >= h_zh THEN 'fr'
                ELSE 'zh' END AS predicted
    FROM (
        SELECT doc_id, lang,
               {_hits_sql("de")} AS h_de,
               {_hits_sql("en")} AS h_en,
               {_hits_sql("es")} AS h_es,
               {_hits_sql("fr")} AS h_fr,
               {_hits_sql("zh")} AS h_zh
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
    )
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of per-language stopword hits
    with alphabetical tie-break ('und' when nothing hits). Pure
    expression — the oracle reproduces the argmax as a CASE chain;
    fanned to cluster parallelism first (gated no-op at production
    split counts — measured 3.76x for 10x data on the scan's two
    splits, SCALE_r16 curation_families)."""
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    return docs.select("doc_id", "lang", lang_id(tokenize(F.col("text"))).alias("predicted"))


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT,
                   list_transform(string_split(text, ' '),
                                  x -> length(x)::BIGINT * 256 + ascii(x))),
               (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint (base-131 polynomial
    fold) — engine-portable unlike xxhash/md5-based schemes because
    the fold arithmetic is explicit."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint(tokenize(F.col("text"))).alias("fingerprint")
    )


@query(
    "token_topk",
    oracle="""
    SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 tokens: explode -> partial-agg counts -> top-k.
    TakeOrderedAndProject keeps the merge at k rows per partition."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query(
    "ngram_jaccard_dedup",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id AS doc, s AS shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(t) - 2, 0)),
                       i -> array_to_string(t[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        )
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
    keyed AS (
        SELECT doc, shingle FROM sh
        WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000)
    ),
    pairs AS (
        SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS common
        FROM keyed a JOIN keyed b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT d1, d2, common / (s1.n_sh + s2.n_sh - common) AS jaccard
    FROM pairs
    JOIN sizes s1 ON s1.doc = d1
    JOIN sizes s2 ON s2.doc = d2
    WHERE common / (s1.n_sh + s2.n_sh - common) >= 0.8
    """,
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8) via the
    inverted-index self-join — candidate pairs come only from shared
    shingles (doc-frequency-capped), never an all-pairs product."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=1000,
        shingles=SHINGLES.read(spark, sf_dir, 3),
    )


# exact-Jaccard truth pairs (threshold 0.8) — the same SQL that
# backs the ngram_jaccard_dedup oracle, reused as the ground-truth
# anchor for the approximate near-dup recall reports below
_JACCARD_TRUTH_SQL = """
    WITH sh AS (
        SELECT DISTINCT doc_id AS doc, s AS shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(t) - 2, 0)),
                       i -> array_to_string(t[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        )
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
    keyed AS (
        SELECT doc, shingle FROM sh
        WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000)
    ),
    cand AS (
        SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS common
        FROM keyed a JOIN keyed b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT d1, d2, common / (s1.n_sh + s2.n_sh - common) AS jaccard
        FROM cand
        JOIN sizes s1 ON s1.doc = d1
        JOIN sizes s2 ON s2.doc = d2
        WHERE common / (s1.n_sh + s2.n_sh - common) >= 0.8
    )
"""


@query(
    "minhash_near_dup",
    oracle=_JACCARD_TRUTH_SQL
    + """
    SELECT d1, d2 FROM truth
    """,
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (32 hashes) + banded LSH (8x4) near-dup pairs — the
    PRODUCTION plan alone: signatures -> band buckets -> bucketed
    self-join -> signature-agreement estimate >= 0.7. No truth-set
    computation rides in this query (that's minhash_verify), so its
    bench timing is the operator a user runs.

    It still carries a full value-hash oracle: true near-dup pairs
    in this corpus sit at Jaccard ~0.98, where a band miss has
    probability ~1e-9 and an est>=0.7 false positive would need an
    est inflated ~0.3 above its expectation — so the LSH output
    set-equals the exact-Jaccard truth pairs (verified empirically
    at sf0.001 and sf0.01: 28/28 and 25/25, zero extra). The
    engine-specific est_jaccard column is projected away; the oracle
    is the truth-pair (d1, d2) set."""
    from gerrydb_etl_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_N,
    )
    from gerrydb_etl_spark.store.staging import BANDED_MINHASH

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=MINHASH_N,
        num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS,
        threshold=0.7,
        max_bucket_size=1000,
        # session-staged LSH index: signatures + band keys are
        # write-once corpus state (the simhash/winnow precedent)
        banded=BANDED_MINHASH.read(
            spark, sf_dir, MINHASH_N, MINHASH_HASHES, MINHASH_BANDS
        ),
    ).select("d1", "d2")


@query(
    "minhash_verify",
    oracle=_JACCARD_TRUTH_SQL
    + """
    SELECT d1, d2, jaccard, TRUE AS found_by_lsh FROM truth
    """,
)
def minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-anchored verification twin of minhash_near_dup: one row
    per exact-Jaccard truth pair (>= 0.8) with whether the LSH path
    surfaced it. The oracle asserts found_by_lsh on every row — a
    single band miss turns the row red, the honest outcome for a
    broken LSH path. Runs UNCAPPED (max_bucket_size=None, complete
    candidate generation) so a designed hot-bucket drop in the
    production query can never masquerade as a correctness failure
    here. Excluded from bench.py timing (verification harness, not
    a production plan)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = SHINGLES.read(spark, sf_dir, 3)
    truth = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=1000,
        shingles=sh,
    )
    from gerrydb_etl_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_N,
    )
    from gerrydb_etl_spark.store.staging import BANDED_MINHASH

    found = minhash_lsh_pairs(
        docs, "doc_id", "text", n=MINHASH_N, num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS, threshold=0.7,
        banded=BANDED_MINHASH.read(
            spark, sf_dir, MINHASH_N, MINHASH_HASHES, MINHASH_BANDS
        ),
    ).select("d1", "d2", F.lit(True).alias("_hit"))
    return truth.join(found, ["d1", "d2"], "left").select(
        "d1",
        "d2",
        "jaccard",
        F.coalesce("_hit", F.lit(False)).alias("found_by_lsh"),
    )


def _simhash_oracle(max_hamming: int = 3, cap: int = 1000) -> str:
    """Full pipeline replay of simhash_pairs in DuckDB: portable
    token hash → 64 bit-sign sums → fingerprint assembly → 16-bit
    chunk blocking (WITH the hot-bucket cap) → bit_count(xor)
    verification. Possible because the token hash is the portable
    polynomial family (operators/dedup.py portable_token_hash);
    bits 62-63 of every hash are 0 by construction, so the oracle
    assembles bits 0..61 only (a 2^63 BIGINT multiplier would not
    even parse)."""
    from gerrydb_etl_spark.operators.dedup import HASH_MASK

    def fold(base: int) -> str:
        # CASE-guard the empty token: Spark's F.aggregate folds an
        # empty code array to its init (0), but DuckDB's list_reduce
        # RAISES on an empty list, so '' must short-circuit to 0
        return (
            "CASE WHEN length(t) = 0 THEN 0 ELSE"
            " list_reduce(list_transform(range(length(t)),"
            " i -> ascii(t[i+1])::BIGINT),"
            f" (a,c) -> (a*{base}+c) & {HASH_MASK}) END"
        )

    bitsums = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(62)
    )
    fp_terms = "\n             + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(62)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id AS doc,
               {fold(131)} * {1 << 31} + {fold(137)} AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
    ),
    bits AS (
        SELECT doc,
               {bitsums}
        FROM tok GROUP BY doc
    ),
    fp AS (
        SELECT doc,
               {fp_terms} AS fp
        FROM bits
    ),
    blocked AS (
        SELECT doc, fp, c.chunk, (fp >> (c.chunk * 16)) & 65535 AS key
        FROM fp, (SELECT unnest([0, 1, 2, 3]) AS chunk) c
    ),
    sizes AS (
        SELECT chunk, key, COUNT(*) AS n FROM blocked GROUP BY chunk, key
    ),
    capped AS (
        SELECT b.* FROM blocked b
        JOIN sizes USING (chunk, key) WHERE sizes.n <= {cap}
    )
    SELECT DISTINCT a.doc AS d1, b.doc AS d2,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
    FROM capped a
    JOIN capped b ON a.chunk = b.chunk AND a.key = b.key AND a.doc < b.doc
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


@query("simhash_near_dup", oracle=_simhash_oracle(max_hamming=3, cap=1000))
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (16-bit-chunk blocking, Hamming <= 3)
    — the PRODUCTION plan: fingerprints -> chunk buckets -> bucketed
    self-join -> bit_count(xor) verify, hot-bucket cap included.
    Since the fingerprints moved to the portable polynomial hash
    family, the WHOLE pipeline (including the cap) replays in DuckDB
    and this query carries a full value-hash oracle; simhash_verify
    additionally anchors recall against the exact-Jaccard truth
    set. Reads the session-staged per-document fingerprint index
    (the text twin of the staged image dHash: identical
    values to the inline token-hash aggregation by construction,
    store/staging.py SIMHASH_FPS)."""
    from gerrydb_etl_spark.store.staging import SIMHASH_FPS

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, max_bucket_size=1000,
        fingerprints=SIMHASH_FPS.read(spark, sf_dir),
    ).select("d1", "d2", "hamming")


@query(
    "simhash_verify",
    oracle=_JACCARD_TRUTH_SQL
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(0.5 AS DOUBLE) AS recall_floor,
           TRUE AS recall_floor_met
    FROM truth
    """,
)
def simhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-anchored verification twin of simhash_near_dup. SimHash
    measures a different similarity than Jaccard (weighted token
    profiles vs shingle sets), so per-pair agreement is not a
    contract; the operator's contract is aggregate recall against
    the exact-Jaccard truth set, measured at 0.60 (sf0.01) / 0.74
    (sf0.1) and floored at 0.5 with margin. The oracle computes the
    truth-set size exactly and asserts the recall contract held —
    the summary row hash-matches only while the contract does. Runs
    uncapped; excluded from bench.py timing."""
    docs = load_table(spark, sf_dir, "documents")
    truth = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=1000,
        shingles=SHINGLES.read(spark, sf_dir, 3),
    )
    from gerrydb_etl_spark.store.staging import SIMHASH_FPS

    found = simhash_pairs(
        docs, "doc_id", "text", max_hamming=3,
        fingerprints=SIMHASH_FPS.read(spark, sf_dir),
    ).select("d1", "d2", F.lit(1).alias("_hit"))
    marked = truth.join(found, ["d1", "d2"], "left")
    n_true = F.count("*")
    n_found = F.coalesce(F.sum("_hit"), F.lit(0))
    return marked.agg(
        n_true.alias("n_true"),
        F.lit(0.5).cast("double").alias("recall_floor"),
        (n_found / F.greatest(n_true, F.lit(1)) >= 0.5).alias("recall_floor_met"),
    )


@query(
    "media_byte_stats",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha,
           sha256(substr(text, 1, 64)) AS head_sha
    FROM documents
    """,
)
def media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal byte-column metadata: payload size + content/head
    hashes over the binary payload (documents standing in for media
    blobs). Narrow map, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("payload_sha"),
        F.sha2(F.substring(F.col("text"), 1, 64), 256).alias("head_sha"),
    )


@query(
    "media_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(i - 1 AS INTEGER) AS frame_idx,
           CAST(length(substr(text, (i - 1) * 64 + 1, 64)) AS INTEGER) AS frame_len,
           sha256(substr(text, (i - 1) * 64 + 1, 64)) AS frame_sha
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS i
        FROM documents
    )
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the multimodal plumbing: each payload
    explodes into 64-byte frames via mapInPandas with per-frame
    hashes. The ASCII corpus makes byte windows == char windows, so
    the oracle reproduces the frames with substr + sha256 — the UDF
    path is fully hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(documents_as_media(docs), frame_bytes=64)


# a decoded feature array as comma-joined integer micro-units,
# floor(v*1e6 + 0.5) in DOUBLE arithmetic
_MICRO_FEATURE = (
    "concat_ws(',', transform(feature,"
    " v -> CAST(floor(v * 1000000.0D + 0.5D) AS STRING))) AS feature"
)


@query(
    "media_decode_features",
    oracle="""
    WITH chars AS (
        SELECT doc_id, ascii(substr(text, i, 1)) // 16 AS bin
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS i
            FROM documents
        )
    ),
    counts AS (
        SELECT doc_id, bin, COUNT(*) AS n FROM chars GROUP BY 1, 2
    ),
    grid AS (
        SELECT d.doc_id, octet_length(encode(d.text)) AS total, b.bin
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bin) b
    )
    SELECT g.doc_id AS media_id,
           'text' AS kind,
           CAST(g.total AS BIGINT) AS n_bytes,
           string_agg(
               CAST(CAST(FLOOR(
                   (CASE WHEN g.total = 0 THEN 0.0
                         ELSE COALESCE(c.n, 0) / CAST(g.total AS DOUBLE) END)
                   * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
               ',' ORDER BY g.bin) AS feature,
           CAST(CEIL(g.total / 64.0) AS INTEGER) AS n_frames
    FROM grid g
    LEFT JOIN counts c ON c.doc_id = g.doc_id AND c.bin = g.bin
    GROUP BY g.doc_id, g.total
    """,
)
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake-decode over the media-shaped documents
    table: mapInPandas byte-histogram features + frame-sampling
    counts. The decode kernel is a deterministic stub (no codec libs
    here) — the Spark plumbing (schema, batching, narrow map) is
    real. Batch-shape unit test in tests/test_multimodal.py.

    The 16-bin histogram is quantized to integer micro-units
    (floor(v*1e6 + 0.5) — the same IEEE double ops in both engines,
    avoiding decimal-formatting tie hazards like 45/128 = .3515625
    where JVM half-up and C half-even disagree) and comma-joined,
    because the driver canonicalizer cannot hash array-typed cells
    (repo rule: no array columns in query outputs). The ASCII corpus
    makes the byte histogram reproducible in SQL (ascii(char) >> 4),
    upgrading this query from rows-only to a full value-hash oracle."""
    docs = load_table(spark, sf_dir, "documents")
    feats = decode_media(documents_as_media(docs), frame_bytes=64)
    return feats.selectExpr(
        "media_id", "kind", "n_bytes", _MICRO_FEATURE, "n_frames"
    )


def _netpbm_media(docs):
    """Documents as REAL 16x16 netpbm image payloads: the first 256
    chars (space-padded) become the pixel raster — even doc_ids as
    ASCII-PGM (P2), odd doc_ids as binary PPM (P6) with gray RGB
    triples. The P2 pixel array IS the char codes, and the P6 luma
    of a gray triple (c*299 + c*587 + c*114)//1000 is exactly c
    again, so BOTH formats decode to the identical pixel grid and a
    DuckDB oracle can replay any pixel-level computation from the
    text directly. Shared by media_strict_decode and
    image_dhash_neardup."""
    padded = "rpad(text, 256, ' ')"
    pgm_header = sql_string("P2\n16 16\n255\n")
    ppm_header = sql_string("P6\n16 16\n255\n")
    pgm_payload = (
        f"concat({pgm_header}, array_join(transform("
        f"split({padded}, ''), c -> CAST(ascii(c) AS STRING)), ' '))"
    )
    # P6 raster: every char tripled into an (r,g,b)=(c,c,c) pixel;
    # ASCII-only corpus (tests/test_multimodal.py guard) means the
    # UTF-8 binary cast is byte-identical to the raw samples
    ppm_payload = (
        f"concat({ppm_header},"
        f" regexp_replace({padded}, '(.)', '$1$1$1'))"
    )
    return docs.selectExpr(
        "doc_id AS media_id",
        "'image' AS kind",
        f"CAST(CASE WHEN doc_id % 2 = 0 THEN {pgm_payload} ELSE {ppm_payload}"
        " END AS BINARY) AS payload",
        "CAST(octet_length(text) AS BIGINT) AS n_bytes",
    )


@query(
    "media_strict_decode",
    oracle="""
    WITH chars AS (
        SELECT doc_id,
               ascii(substr(rpad(text, 256, ' '), i, 1)) // 16 AS bin
        FROM (
            SELECT doc_id, text, unnest(generate_series(1, 256)) AS i
            FROM documents
        )
    ),
    counts AS (
        SELECT doc_id, bin, COUNT(*) AS n FROM chars GROUP BY 1, 2
    ),
    grid AS (
        SELECT d.doc_id, octet_length(encode(d.text)) AS total, b.bin
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bin) b
    )
    SELECT g.doc_id AS media_id,
           CAST(g.total AS BIGINT) AS n_bytes,
           string_agg(
               CAST(CAST(FLOOR(
                   COALESCE(c.n, 0) / 256.0 * 1000000 + 0.5
               ) AS BIGINT) AS VARCHAR),
               ',' ORDER BY g.bin) AS feature,
           CAST(CEIL(g.total / 64.0) AS INTEGER) AS n_frames
    FROM grid g
    LEFT JOIN counts c ON c.doc_id = g.doc_id AND c.bin = g.bin
    GROUP BY g.doc_id, g.total
    """,
)
def media_strict_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT-mode media decode on real image bytes in TWO formats:
    each document's first 256 chars (space-padded) become a REAL
    16x16 image payload — even doc_ids as ASCII-PGM (P2), odd
    doc_ids as binary PPM (P6) with gray RGB triples — decoded
    through the built-in pure-Python netpbm codecs in the strict
    mapInPandas kernel (operators/multimodal.py _strict_decode); no
    deterministic-fake fallback anywhere in the path. The P2 pixel
    array IS the char codes, and the P6 luma of a gray triple
    (c*299 + c*587 + c*114)//1000 is exactly c again, so BOTH
    branches decode to the identical luminance histogram and ONE
    DuckDB oracle reproduces it from the text directly — the whole
    two-codec pipeline gets a full value-hash gate. Same micro-unit
    feature quantization + comma-join as media_decode_features (no
    array columns in query outputs)."""
    media = _netpbm_media(load_table(spark, sf_dir, "documents"))
    feats = decode_media(media, frame_bytes=64, strict=True)
    return feats.selectExpr("media_id", "n_bytes", _MICRO_FEATURE, "n_frames")


# BPE-ish pre-tokenization pattern: runs of letters, runs of digits,
# or a single other non-space character — the shape GPT-style BPE
# pre-tokenizers split on before merges (simplified to ASCII, which
# the corpus is — see tests/test_multimodal.py ASCII guard). Spark
# (Java regex) and DuckDB (RE2) agree on this alternation exactly.
BPE_SPLIT_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{BPE_SPLIT_PATTERN}')) AS n_bpe_pieces,
           len(list_distinct(regexp_extract_all(lower(text), '{BPE_SPLIT_PATTERN}')))
               AS n_distinct_pieces
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways the brief asks for: whitespace tokens
    (the word count every quality heuristic uses) and BPE-ish regex
    pieces (letter runs | digit runs | single punctuation — the
    pre-tokenization granularity a GPT-style byte-pair encoder
    merges from, so this count upper-bounds the real BPE token
    count). Narrow map over the scan, zero shuffles, full value-hash
    oracle (Java regex and RE2 agree on the alternation); fanned to
    cluster parallelism first (gated no-op at production split
    counts — measured 6.29x for 10x data on the scan's two splits,
    SCALE_r16 curation_families)."""
    from gerrydb_etl_spark.operators.partitioning import (
        TEXT_CHUNK_BYTES,
        fan_out,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents"),
        chunk_bytes=TEXT_CHUNK_BYTES,
    )
    pieces = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_SPLIT_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).alias("n_ws_tokens"),
        F.size(pieces).alias("n_bpe_pieces"),
        F.size(F.array_distinct(pieces)).alias("n_distinct_pieces"),
    )


BPE_TOP_MERGES = 20


@query(
    "bpe_merge_candidates",
    oracle=f"""
    WITH words AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE length(word) >= 2
        GROUP BY word
    ),
    pairs AS (
        SELECT substr(word, i, 1) AS left_sym,
               substr(word, i + 1, 1) AS right_sym,
               freq
        FROM (SELECT word, freq,
                     unnest(generate_series(1, length(word) - 1)) AS i
              FROM words)
    ),
    counted AS (
        SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM pairs GROUP BY left_sym, right_sym
    )
    SELECT left_sym, right_sym, pair_count,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                      ORDER BY pair_count DESC, left_sym, right_sym
                  ) AS rank
        FROM counted
    ) WHERE rank <= {BPE_TOP_MERGES}
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE training iteration (Sennrich et al. 2016): count
    adjacent symbol pairs across the corpus weighted by word
    frequency and rank the merge candidates — the top pair is the
    merge a byte-pair encoder would learn first. Symbols start as
    single characters (the standard initial state); iterating with
    the chosen merge applied is the same plan re-run over the merged
    symbol table.

    Plan shape: the word-frequency table first (map-side-combined,
    vocabulary-bounded — the corpus explodes ONCE into words, and
    every downstream step runs on the vocabulary, not the corpus:
    the standard trick that makes BPE training tractable at 100 TB),
    then a per-word character-pair explode weighted by freq, one
    map-side-combined (left, right) sum (≤ alphabet² groups), and a
    top-k over that tiny aggregate. The final rank window runs over
    ≤ alphabet² rows — driver-bounded by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # adjacent character pairs per vocabulary word (the length >= 2
    # filter above keeps sequence() counting up)
    pairs = (
        words.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(
            F.col("word").substr(F.col("i"), F.lit(1)).alias("left_sym"),
            F.col("word").substr(F.col("i") + 1, F.lit(1)).alias("right_sym"),
            "freq",
        )
    )
    counted = pairs.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").cast("long").alias("pair_count")
    )
    w = W.partitionBy().orderBy(
        F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
    )
    return (
        counted.select(
            "*", F.row_number().over(w).cast("long").alias("rank")
        )
        .where(F.col("rank") <= BPE_TOP_MERGES)
    )


BPE_APPLY_MERGES = 6


def _apply_merge(symbols, left: str, right: str):
    """One exhaustive left-to-right application of merge (left,
    right) over a symbol array: a single fold that merges every
    non-overlapping adjacent (left, right) occurrence, scanning
    left-to-right (the subword-nmt replace semantics — after a
    merge, the merged symbol is the new 'last' and cannot re-pair
    as `left` unless it literally equals it)."""
    merged = F.lit(left + right)
    return F.when(F.size(symbols) < 2, symbols).otherwise(
        F.aggregate(
            F.slice(symbols, 2, F.size(symbols) - 1),
            F.slice(symbols, 1, 1),
            lambda acc, s: F.when(
                (F.element_at(acc, -1) == F.lit(left)) & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
    )


# Shared recursive-CTE chain deriving the segmented vocabulary:
# word-frequency table -> pair counts -> top-K merges -> recursive
# leftmost-replacement application. Reused verbatim by the
# bpe_segment_apply and bpe_doc_tokenize oracles.
_BPE_SEG_CTES = f"""words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE length(word) >= 1
        GROUP BY word
    ),
    mwords AS (SELECT word, freq FROM words WHERE length(word) >= 2),
    pairs AS (
        SELECT substr(word, i, 1) AS left_sym,
               substr(word, i + 1, 1) AS right_sym,
               freq
        FROM (SELECT word, freq,
                     unnest(generate_series(1, length(word) - 1)) AS i
              FROM mwords)
    ),
    counted AS (
        SELECT left_sym, right_sym, SUM(freq) AS pair_count
        FROM pairs GROUP BY left_sym, right_sym
    ),
    merges AS (
        SELECT left_sym, right_sym, rank FROM (
            SELECT *, ROW_NUMBER() OVER (
                          ORDER BY pair_count DESC, left_sym, right_sym
                      ) AS rank
            FROM counted
        ) WHERE rank <= {BPE_APPLY_MERGES}
    ),
    seg(word, freq, sym, r) AS (
        SELECT word, freq,
               regexp_replace(word, '(.)', ' \\1', 'g') || ' ',
               1
        FROM words
        UNION ALL
        SELECT seg.word, seg.freq,
               CASE WHEN instr(seg.sym,
                          ' ' || m.left_sym || ' ' || m.right_sym || ' ') > 0
                    THEN substr(seg.sym, 1,
                             instr(seg.sym, ' ' || m.left_sym || ' '
                                   || m.right_sym || ' ') - 1)
                         || ' ' || m.left_sym || m.right_sym || ' '
                         || substr(seg.sym,
                                instr(seg.sym, ' ' || m.left_sym || ' '
                                      || m.right_sym || ' ')
                                + length(m.left_sym) + length(m.right_sym)
                                + 3)
                    ELSE seg.sym END,
               CASE WHEN instr(seg.sym,
                          ' ' || m.left_sym || ' ' || m.right_sym || ' ') > 0
                    THEN seg.r ELSE seg.r + 1 END
        FROM seg LEFT JOIN merges m ON m.rank = seg.r
        WHERE seg.r <= {BPE_APPLY_MERGES}
    )"""


@query(
    "bpe_segment_apply",
    oracle=f"""
    WITH RECURSIVE {_BPE_SEG_CTES}
    SELECT word, freq,
           CAST(length(word) AS BIGINT) AS n_chars,
           CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_pieces,
           trim(sym) AS pieces
    FROM seg WHERE r = {BPE_APPLY_MERGES} + 1
    """,
)
def bpe_segment_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-APPLY half of BPE: the top
    {BPE_APPLY_MERGES} merge candidates from the
    ``bpe_merge_candidates`` derivation are applied IN RANK ORDER as
    a greedy segmenter over the corpus vocabulary — each merge
    replaces every non-overlapping adjacent occurrence of its pair,
    left-to-right (subword-nmt's apply semantics). Output: one row
    per vocabulary word with its corpus frequency, character length,
    piece count after merging, and the space-joined segmentation
    (the lookup table a tokenizer service serves).

    Plan shape: the segmentation runs over the VOCABULARY (the
    word-frequency table), never the corpus — the same
    vocabulary-bounding trick as BPE training, so a trillion-token
    corpus segments at the cost of its distinct-word count, and the
    token stream joins the lookup by word if per-doc token ids are
    needed. The merge list is model state: a bounded driver collect
    (≤{BPE_APPLY_MERGES} rows) folded in as literals — the repo
    convention for k-row models (a rank-keyed join would broadcast
    per merge and serialize the {BPE_APPLY_MERGES}-step dependency
    anyway). The nested fold is pure whole-stage-codegen expression
    work, no UDFs. The DuckDB oracle replays the same merges with a
    recursive leftmost-replacement CTE — equivalent to the fold
    because each exhaustive left-to-right pass is order-insensitive
    to replacement strategy for a fixed pair
    (tests/test_llm_text.py pins the equivalence on adversarial
    symbol runs)."""
    return _segmented_vocab(spark, sf_dir)


def _segmented_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, n_chars, n_pieces, pieces) for every corpus
    vocabulary word under the top-BPE_APPLY_MERGES greedy segmenter
    — shared by bpe_segment_apply, bpe_doc_tokenize, and
    bpe_fertility_by_lang, and therefore SESSION-STAGED
    (store/staging.py): the trained-and-applied segmenter is
    write-once tokenizer model state exactly like the staged token
    codes, and recomputing it per consumer re-paid a driver merge
    collect, a single-partition global window over pair counts, and
    BPE_APPLY_MERGES chained fold-projection codegen compiles on
    every query — the shared cost behind slow bpe_doc_tokenize and
    bpe_segment_apply floors. Values are identical to the inline spelling by
    construction (the staging writer IS _segmented_vocab_build), so
    the recursive-CTE replay oracles are unchanged."""
    from gerrydb_etl_spark.store.staging import SEGMENTED_VOCAB

    return SEGMENTED_VOCAB.read(spark, sf_dir)


def _segmented_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inline derivation _segmented_vocab stages: BPE merge
    training (vocabulary-bounded pair counts, top-BPE_APPLY_MERGES
    collected as the bounded merge model) + the greedy fold-based
    segmenter applied over the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .where(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    mwords = words.where(F.length("word") >= 2)
    pairs = (
        mwords.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(
            F.col("word").substr(F.col("i"), F.lit(1)).alias("left_sym"),
            F.col("word").substr(F.col("i") + 1, F.lit(1)).alias("right_sym"),
            "freq",
        )
    )
    counted = pairs.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").alias("pair_count")
    )
    w = W.partitionBy().orderBy(
        F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
    )
    merges = [
        (r.left_sym, r.right_sym)
        for r in counted.select(
            "left_sym", "right_sym", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= BPE_APPLY_MERGES)
        .orderBy("rank")
        .collect()
    ]  # bounded model collect (<= BPE_APPLY_MERGES rows), folded as literals

    # Each merge stage binds to its OWN projected column: _apply_merge
    # references its input ~5 times, so composing the folds as one
    # nested expression duplicates the subtree 5^K-fold (measured:
    # 27.7s at sf0.1, 161s at the natural sf1 — caught by the
    # natural-scale test). As separate projections the multi-
    # referenced alias is non-cheap, so CollapseProject keeps the
    # stages apart and each fold evaluates exactly once per word.
    seg = words.withColumn("_syms", F.split(F.col("word"), ""))
    for left, right in merges:
        seg = seg.withColumn("_syms", _apply_merge(F.col("_syms"), left, right))
    return seg.select(
        "word",
        "freq",
        F.length("word").cast("long").alias("n_chars"),
        F.size("_syms").cast("long").alias("n_pieces"),
        F.concat_ws(" ", "_syms").alias("pieces"),
    )


@query(
    "bpe_doc_tokenize",
    oracle=f"""
    WITH RECURSIVE {_BPE_SEG_CTES},
    vocab AS (
        SELECT word,
               CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_pieces
        FROM seg WHERE r = {BPE_APPLY_MERGES} + 1
    ),
    tok AS (
        SELECT doc_id, word FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ) WHERE length(word) >= 1
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(v.n_pieces) AS BIGINT) AS n_pieces,
           CAST(MAX(v.n_pieces) AS BIGINT) AS max_word_pieces
    FROM tok t JOIN vocab v ON t.word = v.word
    GROUP BY t.doc_id
    """,
)
def bpe_doc_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE tokenization counts — the CORPUS half of the
    tokenizer-apply pipeline: the segmented vocabulary lookup
    (bpe_segment_apply, computed once over distinct words) joins
    back to the token stream by word, and a per-doc aggregation
    yields whitespace-token and BPE-piece counts plus the worst
    single-word fragmentation. This is how a production pipeline
    gets sequence lengths for packing/budgeting WITHOUT running the
    segmenter over every token instance: segmentation cost is
    O(vocabulary), the corpus pays one hash join.

    Plan shape: corpus token explode -> join the vocabulary lookup
    on word (AQE broadcasts it while small; bucketed/co-shuffled at
    trillion-token scale) -> one map-side-combined per-doc
    aggregation. Documents whose every token is empty (empty text)
    drop out of the inner join on both engines — the explicit
    contract."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = _segmented_vocab(spark, sf_dir).select("word", "n_pieces")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("word")
    ).where(F.length("word") >= 1)
    return toks.join(vocab, "word").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("n_pieces").cast("long").alias("n_pieces"),
        F.max("n_pieces").cast("long").alias("max_word_pieces"),
    )


def _dhash_oracle(max_hamming: int = 3, cap: int = 1000) -> str:
    """Full pipeline replay of image_dhash_neardup in DuckDB, from
    the TEXT (both netpbm formats decode to the char-code pixel
    grid — see _netpbm_media): 16x16 grid → 2x2 block floor-means →
    64 ring-comparison bits → four 16-bit chunks → pigeonhole
    blocking WITH the hot-bucket cap → summed bit_count(xor)
    verification."""
    chunk_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN b // 16 = {k} THEN bit * (1 << (b % 16)) "
        f"ELSE 0 END) AS INTEGER) AS c{k}"
        for k in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{k}, b.c{k}))" for k in range(4))
    return f"""
    WITH chars AS (
        SELECT doc_id, i - 1 AS idx,
               ascii(substr(rpad(text, 256, ' '), i, 1)) AS code
        FROM (SELECT doc_id, text, unnest(generate_series(1, 256)) AS i
              FROM documents)
    ),
    blocks AS (
        SELECT doc_id,
               (idx // 16) // 2 AS r,
               (idx % 16) // 2 AS c,
               SUM(code) // 4 AS g
        FROM chars GROUP BY 1, 2, 3
    ),
    bits AS (
        SELECT b1.doc_id,
               b1.r * 8 + b1.c AS b,
               CASE WHEN b1.g > b2.g THEN 1 ELSE 0 END AS bit
        FROM blocks b1
        JOIN blocks b2 ON b2.doc_id = b1.doc_id AND b2.r = b1.r
                       AND b2.c = (b1.c + 1) % 8
    ),
    fps AS (
        SELECT doc_id,
               {chunk_cols}
        FROM bits GROUP BY doc_id
    ),
    blocked AS (
        SELECT f.*, ck.chunk,
               CASE ck.chunk WHEN 0 THEN c0 WHEN 1 THEN c1
                             WHEN 2 THEN c2 ELSE c3 END AS key
        FROM fps f, (SELECT unnest([0, 1, 2, 3]) AS chunk) ck
    ),
    sizes AS (
        SELECT chunk, key, COUNT(*) AS n FROM blocked GROUP BY 1, 2
    ),
    capped AS (
        SELECT b.* FROM blocked b
        JOIN sizes USING (chunk, key) WHERE sizes.n <= {cap}
    )
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           CAST({ham} AS BIGINT) AS hamming
    FROM capped a
    JOIN capped b ON a.chunk = b.chunk AND a.key = b.key
                  AND a.doc_id < b.doc_id
    WHERE {ham} <= {max_hamming}
    """


@query("image_dhash_neardup", oracle=_dhash_oracle(max_hamming=3, cap=1000))
def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs: strict-decode REAL netpbm
    payloads (P2/P6 via _netpbm_media — same two-codec path as
    media_strict_decode) to pixels, 64-bit difference hash
    (operators/multimodal.py _dhash_chunks), then the pigeonhole
    chunk-Hamming kernel (operators/dedup.py chunked_hamming_pairs,
    complete for Hamming <= 3, hot-bucket capped). The image-side
    twin of simhash_near_dup: byte-level re-encodes, format
    conversions and small pixel edits that leave the 8x8 gradient
    structure intact hash to nearby fingerprints.

    100 TB: decode + hash is a narrow mapInPandas (pixels never
    shuffle — the fingerprint table is ~40 bytes/image); candidate
    generation is one groupBy on (chunk, key) with the quadratic-
    bucket cap; verification touches candidates only. Full pixel-
    level DuckDB replay oracle via the gray-triple luma identity."""
    from gerrydb_etl_spark.operators.dedup import chunked_hamming_pairs
    from gerrydb_etl_spark.store.staging import DHASH

    # fingerprints are session-staged: a production pipeline
    # persists the ~40 bytes/image dHash index once and re-decodes
    # nothing per dedup pass — the image-side twin of the staged
    # simhash token hashes; values identical to inline decode+hash
    # (deterministic codecs), the pixel-level replay oracle unchanged
    fps = DHASH.read(spark, sf_dir).withColumnRenamed(
        "media_id", "doc"
    )
    return chunked_hamming_pairs(fps, max_hamming=3, max_bucket_size=1000)


@query(
    "bpe_fertility_by_lang",
    oracle=f"""
    WITH RECURSIVE {_BPE_SEG_CTES},
    vocab AS (
        SELECT word,
               CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_pieces
        FROM seg WHERE r = {BPE_APPLY_MERGES} + 1
    ),
    tok AS (
        SELECT lang, word FROM (
            SELECT lang, unnest(string_split(text, ' ')) AS word
            FROM documents
        ) WHERE length(word) >= 1
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(v.n_pieces) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS fertility,
           CAST(SUM(CASE WHEN v.n_pieces >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fragmented
    FROM tok t JOIN vocab v ON t.word = v.word
    GROUP BY t.lang
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — the standard multilingual
    tokenizer-equity metric (pieces per word, e.g. mBERT/XLM-R
    audits): a language whose fertility runs high pays more
    sequence budget per word under the shared vocabulary, and
    ``n_fragmented`` counts word instances splitting into 3+
    pieces (the long-tail pain). Same O(vocabulary) economics as
    bpe_doc_tokenize: the greedy segmenter runs over distinct
    words once, the corpus pays one hash join, the aggregation is
    lang-cardinality. Integer counts + one fixed-spelling division
    -> full value-hash oracle."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = _segmented_vocab(spark, sf_dir).select("word", "n_pieces")
    toks = docs.select(
        "lang", F.explode(tokenize(F.col("text"))).alias("word")
    ).where(F.length("word") >= 1)
    return toks.join(vocab, "word").groupBy("lang").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_pieces").cast("long").alias("n_pieces"),
        (
            F.sum("n_pieces").cast("double") / F.count("*").cast("double")
        ).alias("fertility"),
        F.sum(F.when(F.col("n_pieces") >= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_fragmented"),
    )
