"""R18 staged fingerprint indexes: the staged SimHash / winnowing
fingerprint tables must hold EXACTLY the rows the inline operators
compute (the staging writer IS the operator, but these tests pin the
contract against refactors), and the consumers' pair sets must be
unchanged by the staged read."""

from __future__ import annotations

from gerrydb_etl_spark.store import staging

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_staged_simhash_fps_equal_inline(spark):
    from gerrydb_etl_spark.operators.dedup import simhash
    from gerrydb_etl_spark.sources.registry import load_table

    staged = staging.SIMHASH_FPS.read(spark, SF)
    inline = simhash(load_table(spark, SF, "documents"), "doc_id", "text")
    assert _rows(staged, ["doc", "fingerprint"]) == _rows(
        inline, ["doc", "fingerprint"]
    )


def test_staged_winnow_equal_inline(spark):
    from gerrydb_etl_spark.operators.passages import winnow_fingerprints
    from gerrydb_etl_spark.queries.passages import (
        WINNOW_K,
        WINNOW_ND_K,
        WINNOW_W,
    )
    from gerrydb_etl_spark.sources.registry import load_table

    docs = load_table(spark, SF, "documents")
    for k in (WINNOW_K, WINNOW_ND_K):
        staged = staging.WINNOW.read(spark, SF, k=k, w=WINNOW_W)
        inline = winnow_fingerprints(docs, k=k, w=WINNOW_W)
        assert _rows(staged, ["doc_id", "pos", "fingerprint"]) == _rows(
            inline, ["doc_id", "pos", "fingerprint"]
        ), f"k={k}"


def test_simhash_pairs_staged_fingerprints_identical(spark):
    """simhash_pairs(fingerprints=staged) emits exactly the pair set
    of the inline spelling."""
    from gerrydb_etl_spark.operators.dedup import simhash_pairs
    from gerrydb_etl_spark.sources.registry import load_table

    docs = load_table(spark, SF, "documents")
    via_staged = simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, max_bucket_size=1000,
        fingerprints=staging.SIMHASH_FPS.read(spark, SF),
    )
    inline = simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, max_bucket_size=1000
    )
    cols = ["d1", "d2", "hamming"]
    assert _rows(via_staged, cols) == _rows(inline, cols)


def test_staged_minhash_bands_equal_inline(spark):
    """The staged banded MinHash index holds exactly the rows of the
    inline banding, and a doc-filter of the staged table equals the
    banding of the same-filtered shingle rows (the commutation the
    incremental probe head relies on)."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_N,
        banded_signatures,
    )

    sh = staging.SHINGLES.read(spark, SF, MINHASH_N)
    staged = staging.BANDED_MINHASH.read(
        spark, SF, MINHASH_N, MINHASH_HASHES, MINHASH_BANDS
    )
    inline = banded_signatures(sh, MINHASH_HASHES, MINHASH_BANDS)
    cols = ["doc", "sig", "band", "key"]

    def rows(df):
        return sorted(
            (r["doc"], tuple(r["sig"]), r["band"], r["key"])
            for r in df.select(cols).collect()
        )

    assert rows(staged) == rows(inline)
    assert rows(staged.where(F.col("doc") % 2 == 0)) == rows(
        banded_signatures(
            sh.where(F.col("doc") % 2 == 0), MINHASH_HASHES, MINHASH_BANDS
        )
    )


def test_minhash_pairs_staged_bands_identical(spark):
    """minhash_lsh_pairs(banded=staged) and the probe head's staged
    sides emit exactly the pair sets of the inline spellings."""
    from pyspark.sql import functions as F

    from gerrydb_etl_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_N,
        minhash_lsh_pairs,
        minhash_probe_pairs,
    )
    from gerrydb_etl_spark.sources.registry import load_table

    docs = load_table(spark, SF, "documents")
    sh = staging.SHINGLES.read(spark, SF, MINHASH_N)
    banded = staging.BANDED_MINHASH.read(
        spark, SF, MINHASH_N, MINHASH_HASHES, MINHASH_BANDS
    )

    via_staged = minhash_lsh_pairs(
        docs, "doc_id", "text", n=MINHASH_N, num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS, threshold=0.7, max_bucket_size=1000,
        banded=banded,
    )
    inline = minhash_lsh_pairs(
        docs, "doc_id", "text", n=MINHASH_N, num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS, threshold=0.7, max_bucket_size=1000,
        shingles=sh,
    )
    cols = ["d1", "d2", "est_jaccard"]
    assert _rows(via_staged, cols) == _rows(inline, cols)

    ex_pred = F.col("doc") % 2 == 0
    inc_pred = (F.col("doc") % 2 == 1) | (F.col("doc") % 10 == 0)
    probe_staged = minhash_probe_pairs(
        None, None, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        threshold=0.7, max_bucket_size=1000,
        existing_banded=banded.where(ex_pred),
        incoming_banded=banded.where(inc_pred),
    )
    probe_inline = minhash_probe_pairs(
        sh.where(ex_pred), sh.where(inc_pred),
        num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        threshold=0.7, max_bucket_size=1000,
    )
    cols = ["batch_doc", "corpus_doc", "est_jaccard"]
    assert _rows(probe_staged, cols) == _rows(probe_inline, cols)
