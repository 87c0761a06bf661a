"""Unit tests for IVF-PQ (operators/pq.py) beyond the registered
oracle-differential checks (tests/test_queries_oracle.py runs
pq_adc_topk / pq_verify end to end against the full SQL replay)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.kmeans import quantize
from gerrydb_etl_spark.operators.pq import (
    adc_tables,
    encode_codes,
    train_codebooks,
)
from tests.conftest import SF_ORACLE


def _quant(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    return quantize(emb)


def test_encode_codes_complete_and_in_range(spark):
    quant = _quant(spark)
    books = train_codebooks(quant, 64, m_subs=4, k=16, iters=2)
    codes = encode_codes(quant, books)
    n_vecs = quant.count()
    assert codes.count() == n_vecs * 4
    agg = codes.agg(
        F.min("code"), F.max("code"), F.countDistinct("vec_id")
    ).first()
    assert agg[0] >= 0 and agg[1] < 16 and agg[2] == n_vecs


def test_encode_matches_numpy_argmin(spark):
    """The literal-codebook argmin projection must agree with a
    plain numpy nearest-codeword computation (lower code id on
    ties) for every vector in the corpus."""
    quant = _quant(spark)
    books = train_codebooks(quant, 64, m_subs=4, k=16, iters=2)
    got = {
        (r["vec_id"], r["m"]): r["code"]
        for r in encode_codes(quant, books).collect()
    }
    vecs = {r["vec_id"]: np.array(r["qv"], dtype=np.float64)
            for r in quant.collect()}
    for vid, qv in vecs.items():
        for m, book in enumerate(books):
            sub = qv[m * 16 : (m + 1) * 16]
            cids = sorted(book)
            d = [((sub - np.array(book[c])) ** 2).sum() for c in cids]
            want = cids[int(np.argmin(d))]  # argmin takes first = lower id
            assert got[(vid, m)] == want, (vid, m)


def test_adc_tables_shape_and_integer_partials(spark):
    quant = _quant(spark)
    books = train_codebooks(quant, 64, m_subs=4, k=16, iters=2)
    queries = quant.filter(F.col("vec_id") < 3)
    dt = adc_tables(queries, books)
    rows = dt.collect()
    n_codes = sum(len(b) for b in books)
    assert len(rows) == 3 * n_codes
    # partials are exact BIGINTs; codeword norms are query-independent
    by_code = {}
    for r in rows:
        assert isinstance(r["pdot_q"], int) and isinstance(r["pnorm2_q"], int)
        by_code.setdefault((r["m"], r["code"]), set()).add(r["pnorm2_q"])
    assert all(len(v) == 1 for v in by_code.values())


def test_staged_pq_identical_to_inline(spark):
    from gerrydb_etl_spark.store.staging import PQ
    from tests.conftest import SF_SMOKE

    books, codes = PQ.read(spark, SF_SMOKE, 4, 16, 2)
    quant = quantize(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    )
    inline_books = train_codebooks(quant, 64, m_subs=4, k=16, iters=2)
    assert books == inline_books
    staged = {(r["vec_id"], r["m"], r["code"]) for r in codes.collect()}
    inline = {
        (r["vec_id"], r["m"], r["code"])
        for r in encode_codes(quant, inline_books).collect()
    }
    assert staged == inline


def test_pq_params_for_corpus_rule():
    """SCALE_r15 pq_tuning + SCALE_r16 midpoint/refine sweeps: floors
    (= the oracle literals) at every driver scale; ONE measured
    production point (4, 64, 64) past PQ_ACTIVATE — the r15
    interpolation was killed by the r16 midpoint measurement (the
    interpolated (4,32,32) at 128k recalled 0.588 vs 0.831 for the
    full books on the same corpus), and refine=64 was measured
    strictly better at both 128k and 256k (0.859 vs 0.781 at the
    endpoint) at no query-wall cost. codes stay capped at 64 — the
    literal-codegen cliff where 256-code books measured slower AND
    worse."""
    from gerrydb_etl_spark.operators.pq import (
        PQ_ACTIVATE,
        pq_params_for_corpus,
    )

    for n in (100, 2_000, 20_000, PQ_ACTIVATE):
        assert pq_params_for_corpus(n) == (4, 16, 8)
    for n in (PQ_ACTIVATE + 1, 128_000, 256_000, 10_000_000):
        assert pq_params_for_corpus(n) == (4, 64, 64)


def test_forced_pq_params_matches_oracle_literals():
    """The coupling guard returns exactly the replay-oracle literals
    at every oracle-verified corpus size and the scaled regime past
    the activation threshold (the _forced_per_cell pattern)."""
    from gerrydb_etl_spark.queries.llm_similarity import (
        _PQ_CODES,
        _PQ_M,
        _PQ_REFINE,
        _forced_pq_params,
    )

    for n in (60, 600, 2_000, 6_000):  # the driver corpus sizes
        assert _forced_pq_params(n) == (_PQ_M, _PQ_CODES, _PQ_REFINE)
    assert _forced_pq_params(256_000) == (4, 64, 64)


def test_join_path_matches_literal_path_exactly(spark, monkeypatch):
    """Past PQ_LITERAL_CODE_CAP the encode/ADC paths dispatch to a
    codebook-table broadcast join instead of one inlined fold per
    codeword (the SCALE_r15 codegen cliff). Dispatch must never
    change a value: same fold spelling, same floor-snap, same
    lower-code-id ties — pinned here by forcing the join path onto a
    small book and comparing row sets exactly."""
    from gerrydb_etl_spark.operators import pq as pq_mod

    quant = _quant(spark)
    books = train_codebooks(quant, 64, m_subs=4, k=16, iters=2)
    queries = quant.filter(F.col("vec_id") < 3)

    # the shipped cap is 0 (join path always — the r17 construction
    # finding); force the literal reference spelling explicitly
    monkeypatch.setattr(pq_mod, "PQ_LITERAL_CODE_CAP", 10**9)
    lit_codes = sorted(map(tuple, encode_codes(quant, books).collect()))
    lit_adc = sorted(map(tuple, adc_tables(queries, books).collect()))

    monkeypatch.setattr(pq_mod, "PQ_LITERAL_CODE_CAP", 1)
    join_codes = sorted(map(tuple, encode_codes(quant, books).collect()))
    join_adc = sorted(map(tuple, adc_tables(queries, books).collect()))

    assert join_codes == lit_codes
    assert join_adc == lit_adc


def test_pq_adc_topk_identical_across_dispatch(spark, monkeypatch):
    """End to end: the full IVF-PQ query returns byte-identical rows
    whichever ADC/encode path the code cap selects."""
    from gerrydb_etl_spark.operators import pq as pq_mod
    from gerrydb_etl_spark.operators.pq import pq_adc_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    monkeypatch.setattr(pq_mod, "PQ_LITERAL_CODE_CAP", 10**9)
    lit = sorted(map(tuple, pq_adc_topk(
        emb, queries, k=3, n_cells=4, n_probe=2, iters=2,
        m_subs=4, n_codes=8, refine=4,
    ).collect()))
    monkeypatch.setattr(pq_mod, "PQ_LITERAL_CODE_CAP", 1)
    joined = sorted(map(tuple, pq_adc_topk(
        emb, queries, k=3, n_cells=4, n_probe=2, iters=2,
        m_subs=4, n_codes=8, refine=4,
    ).collect()))
    assert joined == lit
