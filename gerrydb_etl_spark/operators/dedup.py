"""Deduplication operators for document-scale corpora.

Four tiers, in increasing tolerance for textual drift:

  1. exact_dedup        — content-hash groups (sha256), zero drift
  2. jaccard_pairs      — exact n-gram Jaccard via inverted-index
                          posting lists (never all-pairs)
  3. minhash_lsh_pairs  — MinHash signatures + banded LSH candidate
                          generation; estimates Jaccard from the
                          signature (approximate, tunable)
  4. simhash_pairs      — 64-bit SimHash fingerprints + chunk-blocked
                          Hamming-distance pairs

100 TB design notes
-------------------
The only pair-generation strategy used anywhere is *bucketed
candidate pairs*: shingle inverted index (2), LSH band buckets (3),
or fingerprint chunks (4). There is no all-pairs cross join in any
path — candidate volume is bounded by bucket sizes, and hot buckets
are explicitly capped (``max_shingle_df`` / ``max_bucket_size``) the
same way one would drop stop-shingles in a production near-dup pass.
Every groupBy here partial-aggregates map-side before its shuffle.
Pairs are generated by ``bucket_pairs`` (sorted posting list →
narrow intra-bucket combination explosion), not a bucket self-join:
one shuffle, one consumer of the expensive upstream stream — plan
subtree reuse across self-join sides is not dependable under AQE,
and a recomputed tokenize pipeline costs more than the list
assembly. The compute-heavy narrow maps fan out to cluster
parallelism first (``fan_out`` — a no-op at production scale where
the scan partitioning already exceeds it).

Projections are SQL text: each pair explosion, chunk blocking,
agreement estimate and Hamming sum is one SQL expression in a
``selectExpr``/``where`` string (names spliced through ``sql_ident``,
as in operators/validate.py). The JVM parses it in one py4j call,
where the Column API makes a round trip per function and method.
The near-dup heads run in a fraction of a second at corpus scale,
so the driver-side build is a visible share of their wall time.

The reference has no near-dup machinery (its only dedup is the
full-row ``drop_duplicates`` at pl_geo.py:109-116); this module is
the north-star extension from SURVEY.md §2.5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.text import shingle_array, tokenize
from gerrydb_etl_spark.operators.partitioning import TEXT_CHUNK_BYTES, fan_out
from gerrydb_etl_spark.operators.validate import sql_ident


def bucket_pairs(
    df: DataFrame,
    bucket_keys: list[str],
    payload: Column,
    max_bucket_size: int | None,
) -> DataFrame:
    """All unordered within-bucket pairs as (a, b) payload structs.

    THE pair-generation kernel shared by every bucketed candidate
    path (LSH bands, SimHash chunks, hyperplane tables): group rows
    by bucket, collect the payload structs, sort for a canonical
    order, and explode each bucket's C(n,2) combinations with a
    nested array transform — all narrow after the ONE groupBy
    shuffle. The self-join spelling this replaces consumed the
    bucketed stream three times (hot-bucket count + both join
    sides); exchange reuse across identical subtrees is not reliable
    under AQE, so each consumer re-ran the full upstream pipeline —
    here the stream has exactly one consumer by construction.

    ``max_bucket_size`` drops buckets above the cap with a free
    size() filter on the collected array (no second pass, no
    anti-join). The cap bounds pair-explosion COMPUTE; the array
    itself still assembles in the aggregation buffer first, so a
    degenerate bucket (millions of byte-identical documents) is a
    memory hazard before it is a compute hazard — such corpora
    belong to the exact tier (``exact_dedup``) first, which is
    already these operators' documented contract. Shingle posting
    lists do NOT use this kernel for exactly that reason: stop
    shingles make huge buckets routine, so ``jaccard_pairs`` caps
    with a pre-aggregated df count + broadcast anti-join BEFORE any
    list assembly.

    The payload struct's FIRST field must be the doc id (or any
    unique-per-bucket sort key): sort_array orders by it, so pairs
    come out with a.id < b.id canonically.
    """
    bucketed = df.groupBy(*bucket_keys).agg(
        F.sort_array(F.collect_list(payload)).alias("_items")
    )
    if max_bucket_size is not None:
        bucketed = bucketed.where(f"size(_items) <= {int(max_bucket_size)}")
    return bucketed.selectExpr(
        "inline(flatten(transform(_items, (x, i) -> transform("
        "slice(_items, i + 2, size(_items)), y -> named_struct('a', x, 'b', y)))))"
    )


def _drop_hot_keys(
    df: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """Drop rows whose key-group exceeds ``cap`` occurrences.

    The over-cap key list is computed with a map-side-combined
    groupBy (the shuffle carries one row per distinct key) and is
    tiny by construction — only keys hotter than ``cap`` survive —
    so it broadcasts, and the filter is a BroadcastHashJoin
    (left_anti) that adds no exchange on the data path. A
    count-over-window spelling would instead funnel every occurrence
    of a hot key into one window task: the exact skew the cap exists
    to defuse, concentrated at the guard itself.
    """
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")

# SimHash fingerprints are blocked on 4 x 16-bit chunks: any pair
# within Hamming distance 3 shares at least one exact chunk
# (pigeonhole), so chunk-equality buckets are a complete candidate
# generator for distance <= 3 and a high-recall one beyond.
SIMHASH_CHUNKS = 4
SIMHASH_BITS = 64


def normalized_text(col: Column) -> Column:
    """Dedup normalization: trim + lowercase + collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def content_key(col: Column) -> Column:
    """sha256 content key of normalized text (hex string — identical
    in Spark's sha2 and DuckDB's sha256)."""
    return F.sha2(normalized_text(col), 256)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group exact duplicates by content hash.

    Returns one row per distinct content: (content_key,
    canonical_id = min id, n_copies). Map-side combine collapses
    duplicates before the shuffle, so the exchange carries one row
    per distinct document hash.
    """
    return (
        df.select(
            content_key(F.col(text_col)).alias("content_key"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("content_key")
        .agg(
            F.min("_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """Unique (doc, shingle) rows — the inverted-index input — as a
    NARROW map: ``array_distinct`` dedups per-document before the
    explode, so the rows are already unique and no shuffle exists
    here at all. With ``with_size`` each exploded row also carries
    the doc's full shingle-set size (``n_sh``, computed from the
    array before exploding), which lets Jaccard denominators ride
    the inverted-index rows instead of being re-derived by a
    per-doc aggregation + join after the fact.

    (An earlier spelling ended in ``.distinct()`` purely as a shared
    materialization point; that shuffled the full shingle set once
    more than necessary — the self-join's own exchange already
    serves as the materialization point via runtime exchange reuse,
    and the MinHash consumer's groupBy needs no pre-dedup because
    min-aggregation is duplicate-insensitive.)"""
    arr = F.array_distinct(shingle_array(F.col(text_col), n))
    base = fan_out(
        df.select(F.col(id_col), F.col(text_col)),
        chunk_bytes=TEXT_CHUNK_BYTES,
    ).select(
        F.col(id_col).alias("doc"), arr.alias("_sh")
    )
    cols = [F.col("doc")]
    if with_size:
        cols.append(F.size("_sh").alias("n_sh"))
    return base.select(*cols, F.explode("_sh").alias("shingle"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs from an
    inverted-index posting-list grouping.

    Plan shape — exactly ONE full-data shuffle touches the shingle
    set: the posting-list groupBy in ``bucket_pairs``, whose sorted
    collect_list feeds the narrow intra-bucket pair explosion (no
    self-join, no second consumer of the shingle stream). The
    per-doc set size (the Jaccard denominator) is computed from the
    shingle ARRAY before the explode and rides every inverted-index
    row (see ``shingle_rows``), so no per-doc aggregation, no sizes
    table, and no post-aggregation joins exist — the pair groupBy
    keys on (d1, d2, n1, n2) and the division is a narrow map on its
    output. The ``max_shingle_df`` stop-shingle guard (a df² AND a
    posting-list-assembly-memory guard) is a broadcast left_anti
    against the over-cap shingle list — see ``_drop_hot_keys`` —
    computed from a map-side-combined groupBy whose shuffle carries
    one row per distinct shingle per task; hot shingles are dropped
    map-side BEFORE the posting-list shuffle, so at 100 TB a
    stop-shingle's posting list neither concentrates in any single
    task nor assembles in any aggregation buffer (which is why this
    path keeps the two-pass guard instead of ``bucket_pairs``'s free
    size() filter). The guard branch re-runs the narrow shingle map
    over the corpus — one extra narrow pass, bought back by the
    removed distinct + sizes shuffles. No cache, no unpersist
    contract, nothing pinned to executor storage (a ``.cache()``
    here would leak an unbounded shingle set at the 100 TB
    target).

    Recall under the cap: a candidate pair is surfaced only by
    shingles with document frequency ≤ ``max_shingle_df``. A true
    near-dup pair whose shared shingles are ALL above the cap (every
    shingle a stop-shingle — boilerplate text duplicated across
    >cap documents) is invisible to this index by design; such
    corpora belong to the exact tier (``exact_dedup``) or need a
    higher cap. tests/test_llm_text.py::test_shingle_df_cap_recall
    pins this trade-off; recall above ``threshold`` is otherwise
    unaffected because genuinely near-dup texts share rare shingles.

    ``shingles``: optionally a precomputed (doc, n_sh, shingle) set —
    e.g. the staged inverted-index input from ``store/staging.py`` —
    in which case the regex shingle map is not re-run here at all
    (the guard branch otherwise pays it twice). Values must match
    ``shingle_rows(df, ..., with_size=True)``; the staged table does
    by construction.
    """
    rows = (
        shingles
        if shingles is not None
        else shingle_rows(df, id_col, text_col, n, with_size=True)
    )

    keyed = rows
    if max_shingle_df is not None:
        keyed = _drop_hot_keys(rows, ["shingle"], max_shingle_df)

    pairs = bucket_pairs(
        keyed, ["shingle"], F.struct("doc", "n_sh"), max_bucket_size=None
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        pairs.select(
            F.col("a.doc").alias("d1"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.doc").alias("d2"),
            F.col("b.n_sh").alias("n2"),
        )
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count("*").alias("common"))
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle-set containment |A ∩ B| / |A|: surfaces
    documents that are (near-)SUBSETS of another document — quoted
    passages, excerpts, truncated re-crawls — which symmetric
    Jaccard misses whenever the container is much larger than the
    contained doc (|A∩B|/|A∪B| stays small while |A∩B|/|A| is 1.0).

    Same single-shuffle inverted-index plan as ``jaccard_pairs``
    (shared posting-list machinery, same hot-shingle guard and
    recall contract); the only difference is the final narrow map:
    each counted candidate pair is evaluated in BOTH orientations
    and emitted as (contained_doc, container_doc, containment) rows
    where containment >= threshold.
    """
    rows = (
        shingles
        if shingles is not None
        else shingle_rows(df, id_col, text_col, n, with_size=True)
    )
    keyed = rows
    if max_shingle_df is not None:
        keyed = _drop_hot_keys(rows, ["shingle"], max_shingle_df)
    pairs = bucket_pairs(
        keyed, ["shingle"], F.struct("doc", "n_sh"), max_bucket_size=None
    )
    counted = (
        pairs.select(
            F.col("a.doc").alias("d1"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.doc").alias("d2"),
            F.col("b.n_sh").alias("n2"),
        )
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count("*").alias("common"))
    )
    # both orientations come out of ONE narrow explode — a unionAll
    # of two selects over `counted` would run the whole posting-list
    # pipeline twice (the final aggregate sits above the reusable
    # exchange, so exchange reuse alone doesn't dedupe it)
    orient = F.explode(
        F.array(
            F.struct(
                F.col("d1").alias("contained_doc"),
                F.col("n1").alias("n_contained"),
                F.col("d2").alias("container_doc"),
                F.col("common").alias("common"),
            ),
            F.struct(
                F.col("d2").alias("contained_doc"),
                F.col("n2").alias("n_contained"),
                F.col("d1").alias("container_doc"),
                F.col("common").alias("common"),
            ),
        )
    )
    return (
        counted.select(orient.alias("o"))
        .select(
            F.col("o.contained_doc").alias("contained_doc"),
            F.col("o.container_doc").alias("container_doc"),
            (F.col("o.common") / F.col("o.n_contained")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# The one MinHash shape every query head (and the bench prestage of
# the staged banded index) shares: 3-gram shingles, 32 hashes in 8
# bands of 4. Single source of truth so the staged-table key and the
# consumers cannot drift.
MINHASH_N = 3
MINHASH_HASHES = 32
MINHASH_BANDS = 8


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """MinHash signature per doc: one xxhash64 family member per
    signature position (seeded by position), min-aggregated over the
    doc's shingle set. One groupBy — num_hashes partial mins combine
    map-side, so the shuffle carries one row per doc."""
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc").agg(*mins)


def banded_signatures(
    sh: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc, sig, band, key) rows: MinHash signatures exploded into
    their LSH band buckets, the full signature array carried along
    so downstream agreement estimates need no re-join of the
    signature table (num_hashes longs per row — cheap payload).
    Min-aggregation is duplicate-insensitive and ignores extra
    columns, so staged (doc, n_sh, shingle) rows slot in as-is."""
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")
    sig = minhash_signatures(sh, num_hashes)
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    return sig.select(
        F.col("doc"), sig_arr.alias("sig"), F.explode(band_entries).alias("bk")
    ).select(
        "doc", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _sig_agreement(num_hashes: int) -> str:
    """SQL text: the fraction of agreeing signature positions between
    the a_sig / b_sig arrays a candidate pair carries."""
    return (
        "size(filter(zip_with(a_sig, b_sig, (x, y) -> x = y), v -> v))"
        f" / {int(num_hashes)}"
    )


def _double(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal (a bare ``0.7`` is a
    DECIMAL)."""
    return f"{float(x)!r}D"


def minhash_probe_pairs(
    existing: DataFrame | None,
    incoming: DataFrame | None,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
    existing_banded: DataFrame | None = None,
    incoming_banded: DataFrame | None = None,
) -> DataFrame:
    """Incremental batch-vs-corpus MinHash near-dup: PROBE the
    existing corpus's band-bucket index with an incoming batch
    instead of self-joining the union — the production shape a
    recrawl pipeline runs, where the corpus index is a staged/
    persisted table (store/staging.py economics) and each batch pays
    only its own signatures plus one bucket-keyed join.

    ``existing`` / ``incoming`` are (doc, n_sh, shingle) rows (the
    staged inverted-index input, filtered to each side). Candidates
    arise ONLY from band-bucket equality between an incoming and an
    existing doc; the hot-bucket guard drops over-cap EXISTING
    buckets before the join (broadcast anti-join — a degenerate
    corpus bucket would otherwise multiply every probe that lands in
    it). Returns (batch_doc, corpus_doc, est_jaccard) pairs with
    agreement >= threshold; a doc present on both sides never pairs
    with itself.

    Scale: the corpus side shuffles once when the index is built
    (staged thereafter); per batch the shuffle volume is the BATCH's
    banded rows + the (capped) matching buckets — never O(corpus)
    per batch.

    ``existing_banded`` / ``incoming_banded``: optionally the
    PRE-BANDED (doc, sig, band, key) rows for a side (the staged
    index, store/staging.py BANDED_MINHASH), skipping
    that side's signature build. Signatures aggregate per doc, so a
    doc-filter of the staged full-corpus table is exactly the
    banding of the same-filtered shingle rows. Each side needs one of
    the two; a side with neither raises ValueError at the call.
    """
    for side, raw, banded in (
        ("existing", existing, existing_banded),
        ("incoming", incoming, incoming_banded),
    ):
        if raw is None and banded is None:
            raise ValueError(
                f"minhash_probe_pairs: {side} needs its shingle rows or "
                f"{side}_banded"
            )
    ex = (
        existing_banded
        if existing_banded is not None
        else banded_signatures(existing, num_hashes, bands)
    )
    if max_bucket_size is not None:
        ex = _drop_hot_keys(ex, ["band", "key"], max_bucket_size)
    inc = (
        incoming_banded
        if incoming_banded is not None
        else banded_signatures(incoming, num_hashes, bands)
    )
    joined = inc.alias("i").join(
        ex.alias("e"),
        (F.col("i.band") == F.col("e.band")) & (F.col("i.key") == F.col("e.key")),
    )
    cand = (
        joined.select(
            F.col("i.doc").alias("batch_doc"),
            F.col("e.doc").alias("corpus_doc"),
            F.col("i.sig").alias("a_sig"),
            F.col("e.sig").alias("b_sig"),
        )
        .filter(F.col("batch_doc") != F.col("corpus_doc"))
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    return cand.selectExpr(
        "batch_doc",
        "corpus_doc",
        f"{_sig_agreement(num_hashes)} AS est_jaccard",
    ).where(f"est_jaccard >= {_double(threshold)}")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
    shingles: DataFrame | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    bands=8 x rows=4 over 32 hashes → a pair with true Jaccard s
    collides in ≥1 band with probability 1-(1-s⁴)⁸ (s=0.8 → 0.98;
    s=0.5 → 0.40), the classic LSH S-curve. Candidates are generated
    ONLY by band-bucket equality (explode to (band, band_key), self-
    join per bucket) — never all-pairs. The emitted ``est_jaccard``
    is the fraction of agreeing signature positions.

    ``max_bucket_size`` is the hot-bucket guard (the band-bucket
    analogue of ``max_shingle_df``): a degenerate corpus — thousands
    of byte-identical documents — collapses into one band bucket
    whose pair explosion is quadratic. Buckets larger than the cap
    are dropped by a free size() filter on the collected bucket (see
    ``bucket_pairs``), bounding pair volume at cap² per bucket. The
    cap is OPT-IN (default None: complete candidate generation)
    because a capped bucket drops its pairs by design — callers that
    cap must treat the result as recall-bounded, not exhaustive.
    Identical documents belong to the exact tier (``exact_dedup``)
    anyway; near-dup recall for genuinely distinct texts is
    unaffected at any sane cap.

    ``banded``: optionally the PRE-BANDED (doc, sig, band, key) rows
    (the staged index, store/staging.py BANDED_MINHASH),
    skipping the per-query signature build entirely.
    """
    if banded is None:
        banded = banded_signatures(
            shingles
            if shingles is not None
            else shingle_rows(df, id_col, text_col, n),
            num_hashes,
            bands,
        )

    pairs = bucket_pairs(
        banded, ["band", "key"], F.expr("struct(doc, sig)"), max_bucket_size
    )
    return (
        pairs.selectExpr(
            "a.doc AS d1", "b.doc AS d2", "a.sig AS a_sig", "b.sig AS b_sig"
        )
        .dropDuplicates(["d1", "d2"])
        .selectExpr("d1", "d2", f"{_sig_agreement(num_hashes)} AS est_jaccard")
        .where(f"est_jaccard >= {_double(threshold)}")
    )


# Portable per-token hash for SimHash: two independent 31-bit
# character-polynomial folds (bases 131 / 137, mask 2^31-1) packed as
# h1 * 2^31 + h2 — a 62-bit, always-positive BIGINT that DuckDB
# reproduces exactly (list_reduce over ascii codes), unlike xxhash64.
# Bits 62-63 of every hash are therefore 0, making those two simhash
# bits constant across all documents: zero recall effect (equal bits
# never add hamming distance), ~2 effective bits less blocking
# entropy in the top chunk. DuckDB raises on <<-overflow, which is
# why the pack multiplies by 2^31 instead of shifting by 32.
HASH_MASK = (1 << 31) - 1


def portable_token_hash(t: Column) -> Column:
    """62-bit engine-portable token hash (see note above). Both
    31-bit folds run in ONE traversal of the char codes (struct
    accumulator + finish lambda) so the string is split exactly
    once per token."""
    codes = F.transform(F.split(t, ""), lambda ch: F.ascii(ch).cast("long"))
    zero = F.lit(0).cast("long")
    return F.aggregate(
        codes,
        F.struct(zero.alias("a1"), zero.alias("a2")),
        lambda acc, c: F.struct(
            (acc["a1"] * 131 + c).bitwiseAND(F.lit(HASH_MASK)).alias("a1"),
            (acc["a2"] * 137 + c).bitwiseAND(F.lit(HASH_MASK)).alias("a2"),
        ),
        lambda acc: acc["a1"] * (1 << 31) + acc["a2"],
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hashes: DataFrame | None = None,
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Tokens are weighted by in-doc frequency; each bit of the
    fingerprint is the sign of the weighted sum of that bit across
    token hashes. Entirely built-in expressions: explode → 64
    conditional sums → bit assembly, in ONE map-side-combined
    aggregation whose shuffle carries a single row per doc. No
    per-(doc, token) weight aggregation exists because it is
    algebraically redundant: summing ±1 per token INSTANCE equals
    summing ±frequency per distinct token, so the frequency
    weighting falls out of the instance-level sum for free (the
    two-shuffle spelling this replaced computed identical
    fingerprints ~40% slower).

    Token hashes are the PORTABLE polynomial family (not xxhash64),
    so the whole fingerprint pipeline — hash → bit sums → sign
    assembly → chunk blocking → hamming — replays verbatim in DuckDB
    and the registered query carries a full value-hash oracle.

    ``token_hashes`` (optional): pre-computed (doc, h) per-token-
    instance hash rows — pass store/staging.py's staged fixture to
    share the char-fold stage across consumers; values are identical
    to the inline spelling by construction.
    """
    if token_hashes is not None:
        # NOT fanned (measured A/B): repartitioning the (doc, h) token
        # instances before the 64-conditional-sum aggregation
        # measured 3.46s vs 2.14s unfanned at sf0.1 — the shuffle of
        # ~1M instance rows costs more than the extra map tasks buy,
        # because the aggregation's shuffle already carries only one
        # row per doc.
        tok = token_hashes.select("doc", "h")
    else:
        tok = fan_out(
            df.select(F.col(id_col), F.col(text_col)),
            chunk_bytes=TEXT_CHUNK_BYTES,
        ).select(
            F.col(id_col).alias("doc"),
            F.explode(tokenize(F.col(text_col))).alias("t"),
        ).select("doc", portable_token_hash(F.col("t")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc").agg(*bit_sums)
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    return agg.select("doc", fp.alias("fingerprint"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    token_hashes: DataFrame | None = None,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bit flips.

    Candidate generation blocks on the 4 x 16-bit fingerprint chunks
    (complete for distance ≤ 3 by pigeonhole); verification is a
    bit_count(xor) on the candidate set only. ``max_bucket_size``
    drops chunk buckets above the cap with ``bucket_pairs``'s size()
    filter — the same quadratic-bucket guard as minhash_lsh_pairs (a
    corpus of identical documents puts them all in every chunk
    bucket), and the same opt-in default (None = complete for
    distance ≤ 3; capped = recall-bounded); identical documents are
    the exact tier's job.

    ``fingerprints`` (optional): pre-computed (doc, fingerprint)
    rows — pass store/staging.py's staged SimHash index so every
    consumer shares ONE fingerprint aggregation (the measured wall
    of this operator); values identical to the inline
    spelling by construction, so the replay oracle is unchanged.
    Takes precedence over ``token_hashes`` (the staged fingerprints
    were themselves built from the staged token hashes).
    """
    _check_pigeonhole(max_hamming)
    if fingerprints is not None:
        fps = fingerprints.select("doc", "fingerprint")
    else:
        fps = simhash(df, id_col, text_col, token_hashes=token_hashes)
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("fingerprint"), c * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("key"),
            )
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    blocked = fps.select(
        "doc", "fingerprint", F.explode(chunks).alias("ck")
    ).select("doc", "fingerprint", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))

    pairs = bucket_pairs(
        blocked, ["chunk", "key"], F.struct("doc", "fingerprint"), max_bucket_size
    )
    return (
        pairs.select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.bit_count(
                F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _check_pigeonhole(max_hamming: int) -> None:
    """The chunk-equality candidate generator is COMPLETE only while
    a qualifying pair must share at least one exact chunk — i.e. for
    distance <= SIMHASH_CHUNKS - 1. A larger ``max_hamming`` would
    silently lose pairs (d differing bits can straddle all chunks
    once d >= SIMHASH_CHUNKS), so it fails loudly instead."""
    if max_hamming > SIMHASH_CHUNKS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole "
            f"completeness bound {SIMHASH_CHUNKS - 1} of the "
            f"{SIMHASH_CHUNKS}-chunk blocking scheme; candidates "
            "would be silently incomplete"
        )


def chunked_hamming_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Hamming-distance pairs over fingerprints already stored as
    four 16-bit chunk columns (doc, c0..c3) — the simhash_pairs
    candidate kernel generalized to any 64-bit perceptual/semantic
    hash whose producer emits chunks directly (e.g. the image dHash,
    operators/multimodal.py perceptual_dhash).

    Same pigeonhole contract: a pair within Hamming distance 3
    shares at least one exact chunk, so chunk-equality buckets are a
    complete candidate generator for distance <= 3; verification is
    the sum of per-chunk bit_count(xor) over candidates only.
    ``max_bucket_size`` is bucket_pairs' quadratic-bucket guard
    (identical images belong to the exact tier first)."""
    _check_pigeonhole(max_hamming)
    cols = [f"c{c}" for c in range(SIMHASH_CHUNKS)]
    chunks = ", ".join(
        f"named_struct('chunk', {c}, 'key', {sql_ident(col)})"
        for c, col in enumerate(cols)
    )
    blocked = fps.selectExpr("doc", *cols, f"inline(array({chunks}))")
    payload = F.expr(f"struct(doc, {', '.join(map(sql_ident, cols))})")
    pairs = bucket_pairs(blocked, ["chunk", "key"], payload, max_bucket_size)
    ham = " + ".join(
        f"bit_count(a.{sql_ident(col)} ^ b.{sql_ident(col)})" for col in cols
    )
    return (
        pairs.selectExpr(
            "a.doc AS d1", "b.doc AS d2", f"CAST({ham} AS BIGINT) AS hamming"
        )
        .where(f"hamming <= {int(max_hamming)}")
        .distinct()
    )
