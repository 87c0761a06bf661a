"""SCD-2 versioned merge: close-and-insert with an append fast path.

Reimplements the semantics of the reference's direct-SQL sink
(/root/reference/gerrydb_etl/db.py:119-147): find the open rows
(valid_to IS NULL) for incoming keys, close them at the new version,
insert incoming rows as the new open versions — with the "most
values are only set once" fast path (db.py:135-139): when no open
row matches an incoming key, the close step short-circuits to a pure
append.

Two deliberate upgrades over the reference:
  - `skip_unchanged=True` makes re-loading identical data a no-op
    (idempotent re-runs — property-tested in tests/test_store.py);
    the reference would stack a new identical version per run.
  - versions are caller-supplied ordinals (or timestamps) instead of
    wall-clock now(), so merges are deterministic and testable.

Scale: two key joins — incoming LEFT JOIN the open current rows
(change detection), then current LEFT JOIN the changed keys (close);
AQE handles skew. No data collect, no window over the full table —
`current_view` filters valid_to IS NULL, the same O(scan) predicate
the reference queries with. A disjoint-key load skips the join
entirely: the probe_append fast path (a bounded take(1) probe that
runs 2 jobs — the semi join's shuffle map stage, then the take)
turns it into a partition-preserving union, so appends never rewrite
the current table through an exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

VALID_FROM = "valid_from"
VALID_TO = "valid_to"


def _as_version(v: int | Column) -> Column:
    return F.lit(v).cast("long") if isinstance(v, int) else v.cast("long")


def empty_versioned(incoming: DataFrame) -> DataFrame:
    """An empty version table matching incoming + interval columns."""
    return (
        incoming.withColumn(VALID_FROM, F.lit(None).cast("long"))
        .withColumn(VALID_TO, F.lit(None).cast("long"))
        .limit(0)
    )


def scd2_merge(
    current: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    version: int | Column,
    skip_unchanged: bool = True,
    probe_append: bool = True,
) -> DataFrame:
    """Merge ``incoming`` (key + value columns, no interval columns)
    into the versioned table ``current`` (same columns + valid_from/
    valid_to), returning the new state.

    - open rows whose key matches an incoming row with *different*
      values are closed (valid_to = version)
    - incoming rows that differ from the open version (or have no
      open version) are inserted with valid_from = version
    - with skip_unchanged=False every incoming key closes + inserts,
      mirroring the reference's unconditional behavior

    APPEND FAST PATH (``probe_append``, default on — the reference's
    "most values are only set once" short-circuit, db.py:135-139,
    SURVEY §4): a bounded probe semi-joins the incoming keys against
    the OPEN current rows and take(1)s the result (2 jobs: the
    join's shuffle map stage, then the take). When the
    overlap is empty — first load of a table, a partition-dated
    batch, any disjoint-key ingest — the merge returns
    ``current UNION incoming-as-v{version}`` directly: the close
    step's join against the full current table never runs, and
    neither does the change-detection join, so the big table passes
    through partition-preserving instead of being rewritten through
    a shuffle/broadcast join. When keys overlap, the probe finds a
    hit and the normal close-and-insert plan runs — the probe is
    then pure overhead: take(1) collects result partitions
    incrementally, but the semi join underneath still pays its
    map-side work (one scan of the open rows when the key side
    broadcasts; both shuffle map stages otherwise), so an
    update-heavy caller that KNOWS its batches overlap should pass
    ``probe_append=False`` to pin the one-pass close-and-insert
    plan. The probe is also an ACTION at merge-build time — and
    because the returned plan would otherwise re-evaluate
    ``incoming`` lazily, a NONDETERMINISTIC incoming (sampled /
    rand- or uuid-derived keys) could pass the disjointness probe
    yet materialize overlapping keys at write time, silently
    appending a second open version for an existing key. The merge
    therefore pins ``incoming`` with a lazy
    localCheckpoint before ANY branch reads it — not just the probe
    path: the probe_append=False plan also consumes ``incoming`` in
    multiple branches (to_insert and the eff_keys/closed join both
    derive from it), so an unpinned nondeterministic batch could
    close one key set while inserting another. The first action materializes the batch once; every branch — the
    fast-path union AND the close/insert joins — reads those same
    pinned rows. Output values are identical either way — with no
    overlapping key the close join closes nothing and the
    skip-unchanged filter keeps every row.

    Contract: ``incoming`` must have at most one row per key —
    duplicate keys would create two open versions. Enforce upstream
    with operators.validate.collision_ceiling (the reference's
    pl_geo.py:159-163 check) and audit the output with
    assert_version_invariants, which detects exactly this.
    """
    ver = _as_version(version)
    value_cols = [c for c in incoming.columns if c not in keys]

    # pin the batch so every consumer — probe, fast-path union, and
    # the close/insert joins — reads the SAME rows (the determinism
    # note above); lazy, so a deterministic single-read plan pays one
    # materialization at its first action either way
    incoming = incoming.localCheckpoint(eager=False)

    if probe_append:
        overlap = incoming.select(*keys).join(
            current.filter(F.col(VALID_TO).isNull()).select(*keys),
            keys,
            "left_semi",
        )
        if not overlap.take(1):
            return current.unionByName(
                incoming.withColumn(VALID_FROM, ver).withColumn(
                    VALID_TO, F.lit(None).cast("long")
                )
            )

    # explicit presence marker: testing a value column for NULL would
    # misread legitimately-NULL values (e.g. the EAV typed columns,
    # where all but one physical column is NULL by design) as "no
    # open row" and break idempotence
    open_rows = current.filter(F.col(VALID_TO).isNull()).select(
        *keys,
        *[F.col(c).alias(f"__cur_{c}") for c in value_cols],
        F.lit(1).alias("__cur_present"),
    )
    inc = incoming.join(open_rows, keys, "left")
    same = None
    for c in value_cols:
        eq = F.col(c).eqNullSafe(F.col(f"__cur_{c}"))
        same = eq if same is None else (same & eq)
    has_open = F.col("__cur_present").isNotNull()

    if skip_unchanged:
        if value_cols:
            effective = inc.filter(~(has_open & same))
        else:
            # keys-only incoming: a key with an open row is by
            # definition unchanged — without this branch the filter
            # predicate would be vacuous and re-loading identical
            # keys would stack a new version per run, contradicting
            # the idempotence guarantee
            effective = inc.filter(~has_open)
    else:
        effective = inc
    to_insert = effective.select(*keys, *value_cols).withColumn(
        VALID_FROM, ver
    ).withColumn(VALID_TO, F.lit(None).cast("long"))

    # Close open rows for effective (changed or new) incoming keys
    # only — the append fast path falls out naturally: if the semi
    # join is empty, nothing is rewritten and the plan is a union.
    eff_keys = effective.select(*keys).distinct().withColumn("__hit", F.lit(1))
    closed = (
        current.join(eff_keys, keys, "left")
        .withColumn(
            VALID_TO,
            F.when(
                F.col(VALID_TO).isNull() & (F.col("__hit") == 1), ver
            ).otherwise(F.col(VALID_TO)),
        )
        .drop("__hit")
    )
    return closed.unionByName(to_insert)


def current_view(versioned: DataFrame) -> DataFrame:
    """Open versions only (valid_to IS NULL) — the reference's
    'current rows' predicate (db.py:123-133)."""
    return versioned.filter(F.col(VALID_TO).isNull()).drop(VALID_TO)


def assert_version_invariants(versioned: DataFrame, keys: list[str]) -> None:
    """Structural invariants of a healthy SCD-2 table:
    at most one open version per key; intervals non-overlapping
    (closed rows ordered by valid_from have valid_to <= next
    valid_from). Raises AssertionError with offending keys; when a
    table breaks both, the multiple-open-versions error is raised.

    One window pass over (keys ORDER BY valid_from) computes both
    faults — the per-key open-row count over the whole partition and
    lead(valid_from) — so the table shuffles once, and one bounded
    collect (at most 5 rows, double-open first) returns the
    evidence: 2 jobs per call."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*keys).orderBy(F.col(VALID_FROM))
    whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    n_open = F.count(F.when(F.col(VALID_TO).isNull(), 1)).over(whole)
    next_from = F.lead(VALID_FROM).over(w)
    flagged = versioned.select(
        "*",
        n_open.alias("__n_open"),
        F.row_number().over(w).alias("__rn"),
        next_from.alias("__next_from"),
    )
    double_open = (F.col("__n_open") > 1) & (F.col("__rn") == 1)
    overlap = F.col("__next_from").isNotNull() & (
        F.col(VALID_TO).isNull() | (F.col(VALID_TO) > F.col("__next_from"))
    )
    bad = (
        flagged.filter(double_open | overlap)
        .withColumn("__double_open", double_open)
        .orderBy(F.col("__double_open").desc())
        .limit(5)
        .collect()
    )
    open_dups = [
        Row(**{k: r[k] for k in keys}, count=r["__n_open"])
        for r in bad
        if r["__double_open"]
    ]
    assert not open_dups, f"multiple open versions for keys: {open_dups}"
    overlaps = [
        Row(**{c: r[c] for c in (*versioned.columns, "__next_from")}) for r in bad
    ]
    assert not overlaps, f"overlapping version intervals: {overlaps}"
