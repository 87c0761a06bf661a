"""Edge cases for the document-prep operators (operators/docprep.py)
that the corpus oracle can't reach: degenerate text lengths for
chunking, single-word and pathologically repetitive docs for the
repetition filter."""

from __future__ import annotations

import pytest

from gerrydb_etl_spark.operators.docprep import chunk_documents, repetition_stats


def _chunks(spark, text, chunk_size, stride):
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = (
        chunk_documents(df, chunk_size=chunk_size, stride=stride)
        .orderBy("chunk_id")
        .collect()
    )
    return [(r["chunk_id"], r["chunk_text"], r["chunk_len"]) for r in rows]


def test_chunking_short_doc_is_one_chunk(spark):
    assert _chunks(spark, "abc", 10, 8) == [(0, "abc", 3)]


def test_chunking_exact_fit_is_one_chunk(spark):
    assert _chunks(spark, "abcdefghij", 10, 8) == [(0, "abcdefghij", 10)]


def test_chunking_overlap_covers_every_char(spark):
    text = "abcdefghijklmno"  # 15 chars, size 10 stride 8 -> starts 0, 8
    got = _chunks(spark, text, 10, 8)
    assert got == [(0, "abcdefghij", 10), (1, "ijklmno", 7)]
    # overlap: chars 8-9 appear in both chunks
    assert got[0][1][8:] == got[1][1][:2]


def test_chunking_no_overlap_when_stride_equals_size(spark):
    got = _chunks(spark, "abcdefghijkl", 4, 4)
    assert [c for _, c, _ in got] == ["abcd", "efgh", "ijkl"]
    assert "".join(c for _, c, _ in got) == "abcdefghijkl"


def test_chunking_rejects_bad_stride(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, stride=5)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, stride=0)


def test_repetition_single_word_doc(spark):
    df = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    (row,) = repetition_stats(df).collect()
    assert row["n_words"] == 1
    assert row["dup_word_frac"] == 0.0
    assert row["top_bigram_frac"] == 0.0  # no bigrams -> coalesced
    assert row["keep"] is True


def test_repetition_pathological_doc_rejected(spark):
    df = spark.createDataFrame(
        [(1, " ".join(["spam"] * 50)), (2, " ".join(f"w{i}" for i in range(50)))],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["dup_word_frac"] == 49 / 50
    assert rows[1]["top_bigram_frac"] == 1.0
    assert rows[1]["keep"] is False
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["keep"] is True


def _cdc(spark, rows, **kw):
    from gerrydb_etl_spark.operators.docprep import cdc_chunks

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return cdc_chunks(df, **kw)


def test_cdc_covers_every_token_exactly_once(spark):
    text = " ".join(
        chr(97 + (i * 7) % 23) + f"{i % 29}" for i in range(200)
    )
    rows = sorted(
        _cdc(spark, [(1, text)]).collect(), key=lambda r: r.chunk_idx
    )
    assert rows[0].start_tok == 0
    for a, b in zip(rows, rows[1:]):
        assert b.start_tok == a.start_tok + a.n_toks  # contiguous
    assert rows[-1].start_tok + rows[-1].n_toks == 200
    assert len(rows) > 1  # boundaries actually fire on this input


def test_cdc_short_doc_is_single_chunk(spark):
    rows = _cdc(spark, [(1, "a b"), (2, "only")]).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for chunks in by_doc.values():
        assert len(chunks) == 1
        assert chunks[0].start_tok == 0


def test_cdc_insertion_moves_only_touched_chunks(spark):
    """The content-defined property: inserting tokens near the START
    of a document leaves the chunk fingerprints of the untouched tail
    intact (fixed-stride chunking would shift every identity)."""
    base_words = [
        chr(97 + (i * 11) % 19) + f"{i % 31}" for i in range(300)
    ]
    original = " ".join(base_words)
    edited = " ".join(["zz1 zz2 zz3"] + base_words)
    fps = lambda rows: [r.chunk_fp for r in sorted(rows, key=lambda r: r.chunk_idx)]
    a = fps(_cdc(spark, [(1, original)]).collect())
    b = fps(_cdc(spark, [(1, edited)]).collect())
    # the tail chunks re-align: a long common fingerprint suffix
    common_tail = 0
    while (common_tail < min(len(a), len(b))
           and a[-1 - common_tail] == b[-1 - common_tail]):
        common_tail += 1
    assert common_tail >= len(a) - 3, (
        f"insertion disturbed {len(a) - common_tail} of {len(a)} chunks"
    )


def test_cdc_plan_has_no_exchange(spark):
    from gerrydb_etl_spark.queries import REGISTRY
    from tests.conftest import SF_SMOKE

    df = REGISTRY["cdc_chunking"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # pin the posexplode_outer fix: a plain posexplode prepends a
    # size(span) > 0 filter whose pushdown inlines the whole
    # kh→cuts→span chain into one predicate, re-evaluating the
    # k-gram transform per lambda element — O(n²) per doc (20.5 s →
    # 0.54 s at sf0.1, PERF.md). No Filter in this plan may
    # carry a higher-order fold.
    for line in plan.splitlines():
        s = line.strip()
        if "Filter" in s.split("(", 1)[0] or s.startswith("Filter"):
            assert "aggregate(" not in s and "transform(sequence" not in s, s
