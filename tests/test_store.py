"""Property tests for the SCD-2 merge writer and write-audit-publish
(SURVEY.md §5 strategy 3: idempotence + version-chain invariants)."""

from __future__ import annotations

import os
import re
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gerrydb_etl_spark.store import staging
from gerrydb_etl_spark.store.scd2 import (
    assert_version_invariants,
    current_view,
    empty_versioned,
    scd2_merge,
)
from gerrydb_etl_spark.store.wap import (
    SPARK_SCHEMA_KEY,
    AuditError,
    VersionedTable,
    _data_files,
    fingerprint_file,
)
from tests.conftest import session_jobs


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
    unconditional close+insert (re-loading identical keys would
    stack a new version per run)."""
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


def test_wap_link_failed_audit_publishes_nothing(spark, tmp_path):
    """A linked version goes through the same audit as a written
    one: a failing audit raises, leaves the staged links behind for
    inspection and keeps the old version current."""
    from gerrydb_etl_spark.store.wap import _data_files

    src = str(tmp_path / "src")
    spark.range(5).toDF("id").write.parquet(src)
    t = VersionedTable(spark, str(tmp_path / "t"))
    v1 = t.link(_data_files(src))
    assert t.read().count() == 5 and t.meta()["rows"] == 5

    def reject(df):
        assert df.count() == 0, "not empty"

    with pytest.raises(AuditError, match="not empty"):
        t.link(_data_files(src), audits=[reject])
    assert t.current_version() == v1
    staged = [v for v in os.listdir(t.root) if v.startswith("v_") and v != v1]
    assert len(staged) == 1 and not os.path.exists(
        os.path.join(t.root, staged[0], "_meta.json")
    )


def test_wap_link_rejects_an_empty_file_list(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="at least one"):
        t.link([])
    assert t.current_version() is None


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
    source files (an edit or regenerated data mints a new name), a
    second ensure in the session is a pure
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
    again, jobs = session_jobs(spark, lambda: fx.ensure(spark, sf, *args))
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
    """The staged BPE-segmented vocabulary must
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
    df, jobs = session_jobs(spark, t.read)
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
    _, plain = session_jobs(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    version, jobs = session_jobs(spark, lambda: t.write(df))
    assert jobs == plain
    assert t.meta()["rows"] == want
    parts = [f for f in os.listdir(tmp_path / "tbl" / version) if f.startswith("part-")]
    assert len(parts) == (3 if shape == "repartition3" else 1)


def test_invariant_checker_runs_at_most_two_jobs(spark, tmp_path):
    path = str(tmp_path / "hist")
    _history(spark).write.parquet(path)
    staged = spark.read.parquet(path)
    _, jobs = session_jobs(spark, lambda: assert_version_invariants(staged, ["k"]))
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


def _flaky_key_udf(counter: str):
    # key 100 on the first evaluation, 100 + n on the n-th re-run,
    # via a file-backed counter shared by all local executors
    @F.udf("long")
    def flaky_key(i):
        import os

        n = int(open(counter).read()) if os.path.exists(counter) else 0
        with open(counter, "w") as f:
            f.write(str(n + 1))
        return 100 + n

    return flaky_key


def test_probe_append_pins_nondeterministic_incoming(spark, tmp_path):
    """The append probe is an eager action, but an unpinned plan would
    re-evaluate ``incoming`` lazily — a nondeterministic batch could
    pass the disjointness probe with one key set and materialize
    ANOTHER at write time, appending a second open version for an
    existing key. The merge pins the batch with a lazy
    localCheckpoint, so the probe's verdict and the written rows
    agree.

    The flaky batch here yields key 100 on its first evaluation and
    101 (= the key already open in ``current``) on any
    re-evaluation."""
    flaky_key = _flaky_key_udf(str(tmp_path / "evals"))
    incoming = (
        spark.range(1)
        .coalesce(1)
        .select(flaky_key(F.col("id")).alias("k"), F.lit(1.0).alias("v"))
    )
    current = spark.createDataFrame(
        [(101, 5.0, 1)], "k long, v double, valid_from long"
    ).withColumn("valid_to", F.lit(None).cast("long"))

    merged = scd2_merge(current, incoming, ["k"], version=2)
    rows = {r["k"]: r for r in current_view(merged).collect()}
    # the probe saw key 100 (disjoint -> fast path); the pinned batch
    # must append that SAME key, not a re-rolled 101
    assert set(rows) == {100, 101}, rows
    assert rows[100]["valid_from"] == 2
    assert rows[101]["valid_from"] == 1  # untouched open row
    assert_version_invariants(merged, ["k"])


def test_scd2_merge_pins_incoming_on_close_insert_path(spark, tmp_path):
    """probe_append=False also consumes ``incoming`` in multiple plan
    branches (to_insert and eff_keys/closed both derive from it), so
    the pin applies there too — an unpinned nondeterministic batch
    could close one key set while inserting another. Same flaky-batch
    construction as the probe test above, through the
    close-and-insert plan."""
    flaky_key = _flaky_key_udf(str(tmp_path / "evals"))
    incoming = (
        spark.range(1)
        .coalesce(1)
        .select(flaky_key(F.col("id")).alias("k"), F.lit(9.0).alias("v"))
    )
    current = spark.createDataFrame(
        [(100, 5.0, 1)], "k long, v double, valid_from long"
    ).withColumn("valid_to", F.lit(None).cast("long"))

    merged = scd2_merge(current, incoming, ["k"], version=2,
                        probe_append=False)
    rows = merged.orderBy("k", "valid_from").collect()
    # first evaluation yields key 100 (a changed value for the open
    # row): the SAME key must be closed AND re-inserted — an unpinned
    # batch would close 100 but insert a re-rolled 101
    assert [(r["k"], r["valid_from"], r["valid_to"]) for r in rows] == [
        (100, 1, 2),
        (100, 2, None),
    ], rows
    assert {r["k"] for r in current_view(merged).collect()} == {100}
    assert_version_invariants(merged, ["k"])


def test_scd2_idempotent_with_null_value_columns(spark):
    """EAV-shaped rows (all but one typed column NULL) must re-load
    as a no-op; a first-column NULL test would stack versions."""
    inc = spark.createDataFrame(
        [("k1", None, "hello")], "k string, val_int long, val_str string"
    )
    s1 = scd2_merge(empty_versioned(inc), inc, ["k"], version=1)
    s2 = scd2_merge(s1, inc, ["k"], version=2)
    rows = [(r.k, r.val_int, r.val_str, r.valid_from, r.valid_to) for r in s2.collect()]
    assert rows == [("k1", None, "hello", 1, None)]


def test_geoset_empty_observation_leaves_no_phantom_member(spark):
    from gerrydb_etl_spark.store.geoset import (
        current_membership,
        empty_members,
        empty_set_versions,
        replace_set_versions,
    )

    v, m = replace_set_versions(
        empty_set_versions(spark),
        empty_members(spark),
        spark.createDataFrame([("s1", "m1")], "set_key string, member string"),
        1,
    )
    v, m = replace_set_versions(
        v, m, spark.createDataFrame([("s1", None)], "set_key string, member string"), 2
    )
    assert m.filter(F.col("member").isNull()).count() == 0
    assert current_membership(v, m).count() == 0  # s1@2 is open, empty


# -- versions that carry unchanged files ---------------------------------


def _publish(spark, table, rows, version, audits=None):
    """Merge ``rows`` onto the table's published version (an empty
    history for the first) and write the result; returns the version."""
    inc = _df(spark, rows)
    current = table.read() if table.current_version() else empty_versioned(inc)
    return table.write(scd2_merge(current, inc, ["k"], version=version), audits=audits)


def _audit(staged):
    assert_version_invariants(staged, ["k"])


def _files(table, version):
    return _data_files(os.path.join(table.root, version))


def _inodes(paths):
    return {os.stat(p).st_ino for p in paths}


def _open_and_closed(path):
    valid_to = pq.read_table(path, columns=["valid_to"]).column(0)
    return valid_to.null_count, len(valid_to) - valid_to.null_count


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_older_versions_can_be_deleted(spark, tmp_path):
    """A version's files are its own (written, or hard links to an
    older version's), so deleting the older versions leaves the newest
    complete: the same rows, `_meta.json` row count and current view."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    v1 = _publish(spark, t, [("a", 1), ("b", 2), ("c", 3)], 1)
    v2 = _publish(spark, t, [("a", 10), ("d", 4)], 2)
    _publish(spark, t, [("b", 20), ("e", 5)], 3)
    rows, meta = _rows(t.read()), t.meta()
    current = _rows(current_view(t.read()))
    assert len(rows) == meta["rows"] == 7

    for old in (v1, v2):
        shutil.rmtree(os.path.join(t.root, old))
    assert _rows(t.read()) == rows
    assert t.meta() == meta
    assert _rows(current_view(t.read())) == current == [
        ("a", 10, 2),
        ("b", 20, 3),
        ("c", 3, 1),
        ("d", 4, 2),
        ("e", 5, 3),
    ]


def test_identical_reload_writes_no_data_file(spark, tmp_path):
    """Merged onto read(), a reload of identical data links every file
    of the published version and writes none, so its write runs only
    the audit's jobs."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    rows = [("a", 1), ("b", 2), ("c", None)]
    v1 = _publish(spark, t, rows, 1)
    merged = scd2_merge(t.read(), _df(spark, rows), ["k"], version=2)

    v2, write_jobs = session_jobs(spark, lambda: t.write(merged, audits=[_audit]))
    _, audit_jobs = session_jobs(spark, lambda: _audit(t.read()))
    assert write_jobs == audit_jobs
    assert _inodes(_files(t, v2)) == _inodes(_files(t, v1))
    assert t.meta()["rows"] == 3
    assert _rows(t.read()) == [("a", 1, 1, None), ("b", 2, 1, None), ("c", None, 1, None)]


def test_new_keys_only_link_every_file_and_write_the_inserts(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    v1 = _publish(spark, t, [("a", 1), ("b", 2)], 1)
    v2 = _publish(spark, t, [("a", 1), ("c", 3)], 2)
    old = _inodes(_files(t, v1))
    written = [f for f in _files(t, v2) if os.stat(f).st_ino not in old]
    assert old <= _inodes(_files(t, v2))
    assert [r for f in written for r in pq.read_table(f).to_pylist()] == [
        {"k": "c", "v": 3, "valid_from": 2, "valid_to": None}
    ]
    assert _rows(t.read()) == [("a", 1, 1, None), ("b", 2, 1, None), ("c", 3, 2, None)]


@pytest.mark.parametrize("joins", ["broadcast", "shuffled"])
def test_revision_chain_carries_closed_files(spark, tmp_path, joins):
    """Four vintages, each revising every key and adding one. The rows
    a vintage closes land in files of their own, so no data file mixes
    open and closed rows, and every closed-only file of vintage k is
    linked into vintage k+1. Each vintage rewrites only the open set
    and the rows it closes, so the bytes the whole chain writes (each
    inode counted once) stay under twice the last version's, where a
    full copy per vintage writes the sum of all four versions. With
    shuffled joins the delta's branches share a hash partitioning,
    which a union would otherwise zip into common files; their rows
    spread over one file per shuffle partition, whose footers
    outweigh rows this small, so there only the rows are bounded."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    keys = ["a", "b", "c", "d", "e", "f"]
    versions, expected = [], {}
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(threshold)
    if joins == "shuffled":
        spark.conf.set(threshold, "-1")
    try:
        for v in range(1, 5):
            batch = [(k, 10 * v + i) for i, k in enumerate(keys)] + [(f"n{v}", v)]
            versions.append(_publish(spark, t, batch, v, audits=[_audit]))
            expected.update(batch)
    finally:
        spark.conf.set(threshold, before)

    for version in versions:
        for f in _files(t, version):
            n_open, n_closed = _open_and_closed(f)
            assert not (n_open and n_closed), f"{f} mixes open and closed rows"
    for older, newer in zip(versions, versions[1:]):
        closed = [
            f for f in _files(t, older) if _open_and_closed(f)[0] == 0 < _open_and_closed(f)[1]
        ]
        assert bool(closed) == (older != versions[0])
        assert _inodes(closed) <= _inodes(_files(t, newer))

    seen, written, written_rows = set(), 0, 0
    for version in versions:
        for f in _files(t, version):
            st = os.stat(f)
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                written += st.st_size
                written_rows += pq.read_metadata(f).num_rows
    last = _files(t, versions[-1])
    assert written_rows < 2 * t.meta()["rows"], (written_rows, t.meta()["rows"])
    if joins == "broadcast":
        assert written < 2 * sum(map(os.path.getsize, last)), written
    assert {(k, v) for k, v, _ in _rows(current_view(t.read()))} == set(expected.items())
    assert t.meta()["rows"] == 6 * 4 + 4


@pytest.mark.parametrize("derive", ["filter", "select", "unionByName"])
def test_transformed_read_merges_and_writes_in_full(spark, tmp_path, derive):
    """Only the untransformed read() carries its version's files: a
    filtered, projected or unioned frame is merged and written in full,
    links nothing, and yields the same rows as the carrying merge."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    v1 = _publish(spark, t, [("a", 1), ("b", 2)], 1)
    read = t.read()
    current = {
        "filter": lambda: read.filter(F.col("v").isNotNull()),
        "select": lambda: read.select(*read.columns),
        "unionByName": lambda: read.unionByName(read.limit(0)),
    }[derive]()
    v2 = t.write(scd2_merge(current, _df(spark, [("a", 10), ("c", 3)]), ["k"], version=2))
    assert not _inodes(_files(t, v1)) & _inodes(_files(t, v2))
    assert _rows(t.read()) == [
        ("a", 1, 1, 2),
        ("a", 10, 2, None),
        ("b", 2, 1, None),
        ("c", 3, 2, None),
    ]


def test_carry_treats_a_file_without_statistics_as_open(spark, tmp_path):
    """A part file whose footer has no ``valid_to`` null count may hold
    open rows, so a revision rewrites it rather than linking it, and
    keeps its closed rows."""
    src = str(tmp_path / "src")
    rows = [("a", 1, 1, 2), ("a", 2, 2, None), ("b", 5, 1, None)]
    _versioned(spark, rows).coalesce(1).write.parquet(src)
    [spark_file] = _data_files(src)
    bare = str(tmp_path / "bare.parquet")
    footer = {SPARK_SCHEMA_KEY: pq.read_metadata(spark_file).metadata[SPARK_SCHEMA_KEY]}
    table = pq.read_table(spark_file).replace_schema_metadata(footer)
    pq.write_table(table, bare, write_statistics=False)
    assert pq.read_metadata(bare).row_group(0).column(3).statistics is None

    t = VersionedTable(spark, str(tmp_path / "t"))
    v1 = t.link([bare])
    v2 = t.write(scd2_merge(t.read(), _df(spark, [("b", 6)]), ["k"], version=3))
    assert not _inodes(_files(t, v1)) & _inodes(_files(t, v2))
    assert _rows(t.read()) == [
        ("a", 1, 1, 2),
        ("a", 2, 2, None),
        ("b", 5, 1, 3),
        ("b", 6, 3, None),
    ]


def test_carrying_merge_writes_incoming_in_the_stored_types(spark, tmp_path):
    """An incoming batch whose value column is narrower than the stored
    one (int against long) is compared and written in the stored type,
    both as a new-keys-only delta and as a rewrite, so every file of a
    version has one schema."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    _publish(spark, t, [("a", 1), ("b", 2)], 1)
    for version, rows in ((2, [("a", 1), ("c", 3)]), (3, [("b", 20)])):
        inc = spark.createDataFrame(rows, "k string, v int")
        written = t.write(scd2_merge(t.read(), inc, ["k"], version=version))
        assert {str(pq.read_schema(f).field("v").type) for f in _files(t, written)} == {"int64"}
    assert _rows(t.read()) == [
        ("a", 1, 1, None),
        ("b", 2, 1, 3),
        ("b", 20, 3, None),
        ("c", 3, 2, None),
    ]
