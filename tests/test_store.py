"""Property tests for the SCD-2 merge writer and write-audit-publish
(SURVEY.md §5 strategy 3: idempotence + version-chain invariants)."""

from __future__ import annotations

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from gerrydb_etl_spark.store import staging
from gerrydb_etl_spark.store.scd2 import (
    assert_version_invariants,
    current_view,
    empty_versioned,
    scd2_merge,
)
from gerrydb_etl_spark.store.wap import AuditError, VersionedTable, fingerprint_file


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _state(spark, batches):
    state = None
    for i, rows in enumerate(batches, start=1):
        inc = _df(spark, rows)
        if state is None:
            state = empty_versioned(inc)
        state = scd2_merge(state, inc, ["k"], version=i)
    return state


def test_merge_close_and_insert(spark):
    state = _state(spark, [[("a", 1), ("b", 2)], [("a", 10)]])
    rows = {(r.k, r.v, r.valid_from, r.valid_to) for r in state.collect()}
    assert rows == {
        ("a", 1, 1, 2),  # closed at v2
        ("b", 2, 1, None),  # untouched
        ("a", 10, 2, None),  # new open version
    }
    assert_version_invariants(state, ["k"])


def test_merge_append_fast_path_new_keys_only(spark):
    state = _state(spark, [[("a", 1)], [("b", 2)]])
    rows = {(r.k, r.v, r.valid_from, r.valid_to) for r in state.collect()}
    assert rows == {("a", 1, 1, None), ("b", 2, 2, None)}
    assert_version_invariants(state, ["k"])


def test_merge_idempotent_reload(spark):
    once = _state(spark, [[("a", 1), ("b", 2)]])
    twice = _state(spark, [[("a", 1), ("b", 2)], [("a", 1), ("b", 2)]])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert_version_invariants(twice, ["k"])


def test_merge_keys_only_idempotent_reload(spark):
    """Keys-only incoming (no value columns): an existing open row is
    by definition unchanged, so skip_unchanged must not degrade to
    unconditional close+insert (round-2 advice: re-loading identical
    keys stacked a new version per run)."""
    inc = spark.createDataFrame([(1,), (2,)], "k long")
    s1 = scd2_merge(empty_versioned(inc), inc, ["k"], version=1)
    s2 = scd2_merge(s1, inc, ["k"], version=2)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    assert_version_invariants(s2, ["k"])
    s3 = scd2_merge(s2, spark.createDataFrame([(3,)], "k long"), ["k"], version=3)
    assert {(r.k, r.valid_from, r.valid_to) for r in s3.collect()} == {
        (1, 1, None),
        (2, 1, None),
        (3, 3, None),
    }


def test_merge_unconditional_mode_stacks_versions(spark):
    inc = _df(spark, [("a", 1)])
    s1 = scd2_merge(empty_versioned(inc), inc, ["k"], version=1, skip_unchanged=False)
    s2 = scd2_merge(s1, inc, ["k"], version=2, skip_unchanged=False)
    rows = {(r.k, r.v, r.valid_from, r.valid_to) for r in s2.collect()}
    assert rows == {("a", 1, 1, 2), ("a", 1, 2, None)}
    assert_version_invariants(s2, ["k"])


def test_merge_long_chain_invariants(spark):
    batches = [
        [("a", 1), ("b", 1), ("c", 1)],
        [("a", 2)],
        [("b", 3), ("d", 1)],
        [("a", 2)],  # unchanged -> no-op for a
        [("a", 4), ("c", 9)],
    ]
    state = _state(spark, batches)
    assert_version_invariants(state, ["k"])
    cur = {(r.k, r.v) for r in current_view(state).collect()}
    assert cur == {("a", 4), ("b", 3), ("c", 9), ("d", 1)}


def test_current_view_drops_interval(spark):
    state = _state(spark, [[("a", 1)], [("a", 2)]])
    cur = current_view(state)
    assert "valid_to" not in cur.columns
    assert [(r.k, r.v, r.valid_from) for r in cur.collect()] == [("a", 2, 2)]


def _versioned(spark, rows):
    return spark.createDataFrame(
        rows, "k string, v long, valid_from long, valid_to long"
    )


def test_invariant_checker_catches_double_open(spark):
    bad = _versioned(spark, [("a", 1, 1, None), ("a", 2, 2, None), ("b", 1, 1, None)])
    with pytest.raises(AssertionError, match="open versions for keys: .*k='a', count=2"):
        assert_version_invariants(bad, ["k"])


def test_invariant_checker_catches_overlap(spark):
    """A closed version that ends after its successor starts, with
    only one open version per key."""
    bad = _versioned(
        spark, [("a", 1, 1, 3), ("a", 2, 2, None), ("b", 1, 1, 2), ("b", 2, 2, None)]
    )
    with pytest.raises(AssertionError, match="overlapping version intervals: .*k='a'") as exc:
        assert_version_invariants(bad, ["k"])
    assert "k='b'" not in str(exc.value)


def test_invariant_checker_double_open_wins_over_overlap(spark):
    bad = _versioned(
        spark,
        [("a", 1, 1, 5), ("a", 2, 2, None)]  # overlap only
        + [("b", 1, 1, None), ("b", 2, 2, None)],  # double open
    )
    with pytest.raises(AssertionError, match="multiple open versions for keys: .*k='b'"):
        assert_version_invariants(bad, ["k"])


def test_invariant_checker_passes_healthy_history(spark):
    ok = _versioned(
        spark,
        [("a", 1, 1, 2), ("a", 2, 2, 4), ("a", 3, 4, None)]
        + [("b", 1, 1, 3), ("b", 2, 3, None), ("c", 1, 2, None), ("d", 1, 1, 2)],
    )
    assert_version_invariants(ok, ["k"])


# -- write-audit-publish ------------------------------------------------


def test_wap_publish_and_read(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1), ("b", 2)]), notes="first load")
    assert t.read().count() == 2
    assert t.meta()["notes"] == "first load"


def test_wap_dry_run_not_published(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1)]), dry_run=True)
    assert t.current_version() is None
    with pytest.raises(FileNotFoundError):
        t.read()


def test_wap_failed_audit_keeps_old_version(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1)]))
    good = t.current_version()

    def no_nulls(df):
        assert df.filter(F.col("v").isNull()).count() == 0, "null v"

    bad = spark.createDataFrame([("x", None)], "k string, v long")
    with pytest.raises(AuditError, match="null v"):
        t.write(bad, audits=[no_nulls])
    assert t.current_version() == good
    assert t.read().count() == 1


def test_wap_publish_swaps_atomically(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1)]))
    t.write(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    assert t.read().count() == 3


def test_fingerprint_file(tmp_path):
    p = tmp_path / "src.bin"
    p.write_bytes(b"abc")
    assert (
        fingerprint_file(str(p))
        == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    )


# one real consumer's arguments per registered staged fixture
_FIXTURE_ARGS = {
    "shingles": (3,),
    "tokhash": (),
    "tokcodes": (),
    "bpeseg": (),
    "ndcomp": (),
    "copur": (2,),
    "kmeans": (8, 3),
    "lshsigs": (4, 8),
    "ivf": (16, 2),
    "pq": (4, 16, 2),
    "kmsplit": (4, 2, 25),
    "ivfsplit": (4, 2, 25),
    "dhash": (),
    "simhashfp": (),
    "mhband": (3, 32, 8),
    "winnow": (3, 4),
    "epochs": ("documents", "doc_id", "docs", 2, 1),
}


@pytest.mark.parametrize("key", sorted(staging.FIXTURES))
def test_staged_fixture_contract(spark, key, tmp_path, monkeypatch):
    """The staging contract every registered fixture shares
    (store/staging.py): the name tracks the deriving code AND the
    source files (an edit or regenerated data mints a new name —
    VERDICT r8 item 5), a second ensure in the session is a pure
    catalog hit, and a multi-table fixture that lost one table
    rebuilds all of them (a model half is only valid against its
    other half)."""
    import shutil

    sf = "/root/testdata/sf0.001"
    fx, args = staging.FIXTURES[key], _FIXTURE_ARGS[key]
    names = fx.names(spark, sf, *args)
    for n in names:
        assert re.fullmatch(rf"st_{key}_\w*[0-9a-f]{{8}}_[0-9a-f]{{8}}\w*", n)

    # a code edit flips every name
    with monkeypatch.context() as m:
        real = staging.inspect.getsource
        m.setattr(
            staging.inspect, "getsource", lambda o: real(o) + "\n# edited"
        )
        assert set(fx.names(spark, sf, *args)).isdisjoint(names)

    # so does regenerated data at the same path: a copied corpus,
    # then one source file's mtime moved
    copy = str(tmp_path / "sf")
    shutil.copytree(sf, copy)
    before = fx.names(spark, copy, *args)
    src = fx.sources[0].format(**fx.bind(spark, sf, *args))
    part = os.path.join(copy, f"{src}.parquet")
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert set(fx.names(spark, copy, *args)).isdisjoint(before)

    assert fx.ensure(spark, sf, *args) == names
    again, jobs = _jobs(spark, lambda: fx.ensure(spark, sf, *args))
    assert again == names and jobs == 0

    if len(names) > 1:
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")

        def parts(n):
            return {f for f in os.listdir(os.path.join(wh, n)) if f[:5] == "part-"}

        old = [parts(n) for n in names]
        spark.sql(f"DROP TABLE {names[-1]}")
        assert fx.ensure(spark, sf, *args) == names
        for n, files in zip(names, old):
            assert spark.catalog.tableExists(n)
            assert parts(n) and parts(n).isdisjoint(files), n


def test_derivation_tag_distinguishes_function_bodies():
    from gerrydb_etl_spark.store.staging import _derivation_tag

    def builder_a(x):
        return x + 1

    def builder_b(x):
        return x + 2

    assert _derivation_tag(builder_a) != _derivation_tag(builder_b)
    # and it is stable for the same source
    assert _derivation_tag(builder_a) == _derivation_tag(builder_a)


def test_merge_probe_paths_value_identical(spark):
    """The append fast path and the close-and-insert plan must agree
    exactly on a disjoint-key load (the probe only picks the plan,
    never the values), and the probe must not disturb an overlapping
    load's close semantics."""
    inc1 = _df(spark, [("a", 1), ("b", 2)])
    s1 = scd2_merge(empty_versioned(inc1), inc1, ["k"], version=1)
    inc2 = _df(spark, [("c", 3), ("d", 4)])
    fast = scd2_merge(s1, inc2, ["k"], version=2)
    slow = scd2_merge(s1, inc2, ["k"], version=2, probe_append=False)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )
    assert_version_invariants(fast, ["k"])
    # overlap: probe finds the hit, close path runs unchanged
    inc3 = _df(spark, [("a", 10)])
    probed = scd2_merge(fast, inc3, ["k"], version=3)
    pinned = scd2_merge(fast, inc3, ["k"], version=3, probe_append=False)
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, pinned.collect())
    )
    assert {(r.k, r.v, r.valid_from, r.valid_to) for r in probed.collect()} == {
        ("a", 1, 1, 3),
        ("a", 10, 3, None),
        ("b", 2, 1, None),
        ("c", 3, 2, None),
        ("d", 4, 2, None),
    }


def test_staged_model_collects_are_memoized(spark):
    """staged_ivf / staged_pq re-collected their bounded model tables
    on every query call (1-2 driver jobs per vector query); the
    collects are now memoized by staged-table name, which uniquely
    determines contents (fingerprint + builder-code-hash name,
    deterministic fixed-point builder)."""
    from tests.conftest import SF_ORACLE

    from gerrydb_etl_spark.store.staging import IVF, PQ

    _, cents1 = IVF.read(spark, SF_ORACLE, 16, 2)
    _, cents2 = IVF.read(spark, SF_ORACLE, 16, 2)
    assert cents1 is cents2  # served from the cache, not re-collected
    books1, _ = PQ.read(spark, SF_ORACLE, 4, 16, 2)
    books2, _ = PQ.read(spark, SF_ORACLE, 4, 16, 2)
    assert books1 is books2


def test_staged_segmented_vocab_matches_inline(spark):
    """The staged BPE-segmented vocabulary (VERDICT r15 item 1) must
    equal the inline derivation row for row — staging moves WHERE the
    segmenter runs (once per session instead of per query), never
    what it computes, which is what keeps the recursive-CTE replay
    oracles valid."""
    from gerrydb_etl_spark.queries.llm_text import _segmented_vocab_build
    from gerrydb_etl_spark.store.staging import SEGMENTED_VOCAB

    sf = "/root/testdata/sf0.001"
    staged = {
        tuple(r) for r in SEGMENTED_VOCAB.read(spark, sf).collect()
    }
    inline = {tuple(r) for r in _segmented_vocab_build(spark, sf).collect()}
    assert staged == inline and staged


# -- Spark jobs and schemas on the write path ----------------------------


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran), counted under a
    private job group once the listener bus has delivered every
    job-start event."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _history(spark):
    return spark.range(200).selectExpr(
        "CAST(id % 50 AS string) AS k",
        "id AS v",
        "id DIV 50 AS valid_from",
        "CASE WHEN id < 150 THEN id DIV 50 + 1 END AS valid_to",
    )


def test_wap_read_runs_no_job(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1), ("b", 2)]))
    df, jobs = _jobs(spark, t.read)
    assert jobs == 0
    assert sorted(map(tuple, df.collect())) == [("a", 1), ("b", 2)]


@pytest.mark.parametrize("shape", ["repartition3", "empty"])
def test_wap_write_counts_rows_without_extra_jobs(spark, tmp_path, shape):
    """The staged row count comes from the part files' footers and
    the audits read the staged files with the frame's own schema, so
    a write without audits runs exactly the jobs of a plain parquet
    write of the same frame."""
    df = _history(spark).repartition(3) if shape == "repartition3" else _history(spark).limit(0)
    want = 200 if shape == "repartition3" else 0
    _, plain = _jobs(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    version, jobs = _jobs(spark, lambda: t.write(df))
    assert jobs == plain
    assert t.meta()["rows"] == want
    parts = [f for f in os.listdir(tmp_path / "tbl" / version) if f.startswith("part-")]
    assert len(parts) == (3 if shape == "repartition3" else 1)


def test_invariant_checker_runs_at_most_two_jobs(spark, tmp_path):
    path = str(tmp_path / "hist")
    _history(spark).write.parquet(path)
    staged = spark.read.parquet(path)
    _, jobs = _jobs(spark, lambda: assert_version_invariants(staged, ["k"]))
    assert jobs <= 2


def test_wap_read_schema_matches_inferred(spark, tmp_path):
    """read() takes its schema from the version's footer; it must be
    the schema Spark infers from the same files: the EAV value
    columns, the interval columns, and a non-nullable input column
    (nullable after the round-trip, as Spark reads every file
    column)."""
    from gerrydb_etl_spark.store.eav import melt_to_eav

    wide = spark.createDataFrame(
        [("g1", 10, 1.5, "x", True)],
        "geo string not null, n long, a double, s string, b boolean",
    )
    long_df = melt_to_eav(wide, ["geo"], {"n": "int", "a": "float", "s": "str", "b": "bool"})
    state = scd2_merge(empty_versioned(long_df), long_df, ["geo", "col_path"], version=1)
    assert not state.schema["geo"].nullable
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    version = t.write(state)
    got = t.read().schema
    assert got == spark.read.parquet(str(tmp_path / "tbl" / version)).schema
    assert [f.name for f in got] == [
        "geo", "col_path", "val_int", "val_float", "val_str", "val_bool", "valid_from", "valid_to"
    ]
    assert got["geo"].nullable


def test_melt_to_eav_schema_and_rows(spark):
    from pyspark.sql import types as T

    from gerrydb_etl_spark.store.eav import melt_to_eav

    wide = spark.createDataFrame(
        [(1, "7", "2.5", "x", "true")],
        "k long not null, n string, a string, s string, b string",
    )
    out = melt_to_eav(wide, ["k"], {"n": "int", "a": "float", "s": "str", "b": "bool"})
    assert out.schema == T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("col_path", T.StringType(), False),
            T.StructField("val_int", T.LongType(), True),
            T.StructField("val_float", T.DoubleType(), True),
            T.StructField("val_str", T.StringType(), True),
            T.StructField("val_bool", T.BooleanType(), True),
        ]
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, "n", 7, None, None, None),
        (1, "a", None, 2.5, None, None),
        (1, "s", None, None, "x", None),
        (1, "b", None, None, None, True),
    ]
    empty = melt_to_eav(wide, ["k"], {})
    assert empty.schema == out.schema
    assert empty.count() == 0


def test_melt_to_eav_quotes_names(spark):
    """The melt is built from SQL text: column names with a space, a
    backtick, a quote or a backslash are names, not syntax."""
    from gerrydb_etl_spark.store.eav import melt_to_eav

    names = ["total pop", "odd`name", "it's", "back\\slash"]
    wide = spark.createDataFrame(
        [(1, 5, "a'b", 1.0, False)],
        "k long, `total pop` long, `odd``name` string, `it's` double, `back\\slash` boolean",
    )
    out = melt_to_eav(wide, ["k"], dict(zip(names, ["int", "str", "float", "bool"])))
    assert [tuple(r) for r in out.collect()] == [
        (1, "total pop", 5, None, None, None),
        (1, "odd`name", None, None, "a'b", None),
        (1, "it's", None, 1.0, None, None),
        (1, "back\\slash", None, None, None, False),
    ]
