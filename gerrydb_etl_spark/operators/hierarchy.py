"""General hierarchy expansion: slash-path materialization over a
self-referencing edge table via Spark 4 recursive CTEs.

The reference's locality tree (us -> state -> county,
pl_localities.py:246-271) is a self-referencing dimension whose
expansion it hardcodes at depth <= 3; SURVEY §7 hard part 5 unrolled
it with iterative broadcast joins. This operator is the GENERAL
form: depth is discovered, not declared — the
recursion runs until the frontier is empty, so a deeper hierarchy
(tract, block group, ...) needs no code change, and the unrolled
spelling can never silently truncate a grown tree.

Scale notes (100 TB): each recursion level is one equi-join of the
edge table against the previous frontier — the same join-per-level
cost as the manual unroll, scheduled by the engine's recursion
operator; total work is O(edges x depth), and real hierarchies are
shallow (Census tops out at ~6 levels). The parent dimension of a
level is typically tiny relative to the child fan-out, so the
per-level join broadcasts whenever stats allow, exactly as the
manual unroll did with its explicit hints.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# recursion guard: no real geographic hierarchy is deeper than this;
# any path REACHING it (an over-deep tree, or a cycle reachable from
# a root) raises at execution time instead of silently truncating
MAX_DEPTH = 32

# per-call temp-view names: a shared fixed name would let concurrent
# expand_paths calls in one session race each other's edge tables
_VIEW_SEQ = itertools.count()

# Spark's shipped default for spark.sql.cteRecursionRowLimit — the
# one value we may freely raise (anything else finite was set by a
# user and stays theirs; see the backstop note in expand_paths).
# Read from SQLConf at runtime (a future Spark could ship
# a different default, which would misclassify every session value as
# user-set and silently stop the ratchet); the literal is only the
# fallback when the JVM accessor is unavailable, and a unit test pins
# it to the session default so drift is caught.
_CTE_LIMIT_FALLBACK = 1_000_000

# resolved shipped default, cached per application id:
# re-invoking the JVM accessor per expand_paths call is waste, and a
# SILENT per-call fallback in an environment where the accessor breaks
# (e.g. Spark Connect has no sparkContext) would re-open the exact
# stale-literal misclassification the runtime read exists to prevent —
# so the fallback is taken once per application and WARNED once
_CTE_DEFAULT_CACHE: dict[str, int] = {}


def _cte_limit_default(spark) -> int:
    """The SHIPPED default of spark.sql.cteRecursionRowLimit, from
    SQLConf's conf-entry metadata (NOT the session value — a user-set
    session value must stay distinguishable from the default).
    Resolved once per application; if the JVM accessor is unavailable
    the stale-literal fallback is used with a one-time warning, since
    a changed shipped default would then misclassify every session
    value as user-set and silently stop the backstop ratchet."""
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        app = "<no-sparkContext>"
    if app in _CTE_DEFAULT_CACHE:
        return _CTE_DEFAULT_CACHE[app]
    try:
        val = int(
            spark.sparkContext._jvm.org.apache.spark.sql.internal
            .SQLConf.CTE_RECURSION_ROW_LIMIT()
            .defaultValueString()
        )
    except Exception:
        import warnings

        warnings.warn(
            "expand_paths: cannot read the shipped default of "
            "spark.sql.cteRecursionRowLimit from SQLConf (no JVM "
            f"accessor in this environment); assuming "
            f"{_CTE_LIMIT_FALLBACK}. If Spark ships a different "
            "default, the recursion-limit ratchet will treat the "
            "session value as user-set and leave it alone.",
            RuntimeWarning,
            stacklevel=2,
        )
        val = _CTE_LIMIT_FALLBACK
    _CTE_DEFAULT_CACHE[app] = val
    return val

# limits THIS module set, per Spark application id: lets a later
# expand_paths call distinguish "our own earlier ratchet" (safe to
# raise further for a bigger hierarchy) from a user-set value (never
# touched)
_OUR_CTE_LIMITS: dict[str, int] = {}


def expand_paths(
    edges: DataFrame,
    id_col: str = "node_id",
    parent_col: str = "parent_id",
    label_col: str = "label",
    broadcast_frontier: bool = False,
    require_complete: bool = False,
    skip_tree_check: bool = False,
) -> DataFrame:
    """(id, path, depth) for every node REACHABLE FROM A ROOT in a
    self-referencing edge table: roots are rows whose ``parent_col``
    IS NULL (their path is their label, depth 0); every other node
    appends '/' + label to its parent's path. Runs as one WITH
    RECURSIVE query — the engine iterates level joins until the
    frontier is empty. Any path reaching MAX_DEPTH raises at
    execution time (``raise_error`` in the projection, no extra
    pass): silent truncation of an over-deep tree — or of a cycle
    reachable from a root — is exactly the failure mode this operator
    exists to remove.

    Dropped-node semantics: a node whose parent chain never reaches a
    root — a dangling ``parent_col`` pointing at a non-existent id,
    or a cycle NOT reachable from any root — is simply absent from
    the output (the recursion never visits it). Pass
    ``require_complete=True`` to turn that silence into a ValueError
    naming sample unreachable ids: one extra distinct-id anti-join
    over the edge table, worth it whenever the input is not already
    FK-validated (see queries/profiling.py fk_integrity_audit for the
    standing audit).

    ``broadcast_frontier`` forces a BROADCAST hint on the frontier of
    every recursion step (~30% faster per level at bench scale).
    Opt-in ONLY when every level of the hierarchy — INCLUDING the
    leaf level — is known broadcastable: the engine joins the
    leaf-depth frontier once more to discover it has no children, so
    a billion-leaf hierarchy would broadcast a billion-row frontier.
    The default lets the planner pick shuffle vs broadcast per level,
    which is the scale-safe plan.

    INPUT CONTRACT: a TREE — ``id_col`` unique (one parent per node).
    Multi-parent DAGs are out of scope: path semantics would need one
    row per (node, path), multiplying output per shared ancestor, and
    the input-proportional row backstop below assumes one path row
    per node. Duplicate (or NULL) ids raise a ValueError up front —
    instead of the opaque cteRecursionRowLimit abort a DAG would
    otherwise hit. The check rides the same aggregate that sizes
    the backstop (no extra JOB) but is NOT free: it is a groupBy(id)
    whose shuffle carries one row per distinct id — ~n rows on
    exactly the conforming inputs, where unique ids give map-side
    partial aggregation nothing to compress. Pass
    ``skip_tree_check=True`` for inputs already uniqueness/FK-
    validated upstream (the require_complete opt-in pattern): the
    backstop is then sized by a shuffle-free count(), and
    a DAG slipped in anyway is still stopped by the row backstop /
    MAX_DEPTH guards, just without the named error."""
    spark = edges.sparkSession
    view = f"hierarchy_edges_input_{next(_VIEW_SEQ)}"
    hint = "/*+ BROADCAST(p) */ " if broadcast_frontier else ""
    nodes = edges.select(
        F.col(id_col).alias("id"),
        F.col(parent_col).alias("parent"),
        F.col(label_col).alias("label"),
    )
    # The UnionLoop executes its body once per level, and the body
    # re-derives this edge table from scratch each time (the executed
    # plan holds the caller's full scan/union/projection subtree
    # inside the loop — a depth-d tree re-pays it d+2 times: once per
    # level plus the empty-frontier probe). Materialize the
    # loop-invariant ONCE with a lazy local checkpoint: the
    # tree-check / backstop-sizing aggregate below is already an
    # eager action over exactly these rows, so the materialization
    # rides a job this function was paying anyway, and every loop
    # iteration then reads the pinned blocks (narrow 3-column rows,
    # MEMORY_AND_DISK — the same loop-invariant-persist contract as
    # operators/pagerank.py edges).
    nodes = nodes.localCheckpoint(eager=False)
    nodes.createOrReplaceTempView(view)
    # Spark guards recursive CTEs with a 1M-row accumulator limit
    # (spark.sql.cteRecursionRowLimit) — a runaway-query backstop
    # that a legitimate hierarchy outgrows as soon as the edge table
    # passes 1M rows (found at the natural-10x corpus: 1.5M order
    # leaves). With UNIQUE node ids the expansion's output is bounded
    # by the input (one path row per reachable node), so the backstop
    # is RAISED to an input-proportional bound — 2n + margin — rather
    # than disabled (-1 would outlive the call and
    # strip the guard from every later recursive CTE in the
    # session; and duplicate (id,parent) edge rows multiply paths per
    # level WITHOUT tripping the MAX_DEPTH guard — the tree-contract
    # check below now rejects those eagerly with a named error, and
    # the backstop stays as defense-in-depth behind it). The bound
    # must outlive this
    # function — the recursion runs at the CONSUMER's action — so it
    # is set monotonically (never lowered below a concurrent caller's
    # bound) instead of save/restored. Only the SHIPPED DEFAULT and
    # our own earlier ratchet (tracked per application id) may be
    # raised: a user who explicitly set a stricter finite limit — or
    # disabled the backstop with -1 — keeps their setting, even if
    # that aborts a legitimately large hierarchy (their guard, their
    # call; Spark's error names the conf). The one-job count is the
    # price of the bound; the recursion itself re-scans the same
    # view once per level, so it is marginal.
    # Expand-free spelling: a mixed plain+distinct aggregate would
    # compile to an Expand that doubles the row stream through the
    # partial aggregate; per-id partial counts reduce map-side first,
    # but on a CONFORMING tree every id is unique, so the partials
    # compress nothing and the shuffle carries ~n rows — the honest
    # cost of the contract check, which is why
    # skip_tree_check exists for pre-validated inputs at scale.
    if skip_tree_check:
        # shuffle-free backstop sizing only: count() folds per-task
        # partial counts, no per-id exchange
        n_nodes = nodes.count()
    else:
        hdr = (
            nodes.groupBy("id")
            .count()
            # count("id"), not count("*"): a NULL id forms its own
            # GROUP (so a singleton NULL would sneak past a group
            # count), but count("id")
            # skips it, making nd < n for ANY null or duplicate id
            .agg(F.sum("count").alias("n"), F.count("id").alias("nd"))
            .first()
        )
        n_nodes = int(hdr["n"] or 0)
        if int(hdr["nd"]) < n_nodes:
            raise ValueError(
                "expand_paths: input is not a tree — "
                f"{n_nodes - int(hdr['nd'])} duplicate (or NULL) "
                f"{id_col!r} rows. One parent per node is the input "
                "contract: multi-parent DAGs multiply path rows per "
                "shared node and are not supported; dedupe the edge "
                "table (or model the DAG as explicit (node, parent) "
                "paths) before expanding"
            )
    limit_default = _cte_limit_default(spark)
    prior = int(
        spark.conf.get(
            "spark.sql.cteRecursionRowLimit", str(limit_default)
        )
    )
    # same fallback as _cte_limit_default: on Spark Connect there is
    # no sparkContext, and the ratchet must not crash right after the
    # default-read path survived exactly that environment
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        app = "<no-sparkContext>"
    if prior != -1 and prior in (limit_default, _OUR_CTE_LIMITS.get(app)):
        bound = max(prior, 2 * n_nodes + 10_000)
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(bound))
        _OUR_CTE_LIMITS[app] = bound
    # Level limit (100) stays: it is above MAX_DEPTH and never binds
    # first.
    out = spark.sql(
        f"""
        WITH RECURSIVE paths (id, path, depth) AS (
            SELECT id, label, 0 FROM {view} WHERE parent IS NULL
            UNION ALL
            SELECT {hint}e.id, CONCAT(p.path, '/', e.label), p.depth + 1
            FROM {view} e JOIN paths p ON e.parent = p.id
            WHERE p.depth < {MAX_DEPTH}
        )
        SELECT id, path,
               CASE WHEN depth >= {MAX_DEPTH}
                    THEN raise_error(CONCAT(
                        'expand_paths: node ', id, ' sits at depth ',
                        CAST(depth AS STRING),
                        ' — hierarchy deeper than MAX_DEPTH ',
                        '{MAX_DEPTH}', ' (or a cycle reachable from ',
                        'a root); raise MAX_DEPTH if the tree is ',
                        'genuinely this deep'))
                    ELSE depth END AS depth
        FROM paths
        """
    )
    if require_complete:
        # pin the recursion output before checking: the anti-join
        # would otherwise re-run the whole recursive CTE, and the
        # caller would run it a third time — with the checkpoint the
        # check and every downstream consumer share one
        # materialization (measured 5.2s -> 3.8s at bench scale on
        # the depth-4 order hierarchy; 2.9s with no check at all)
        out = out.localCheckpoint(eager=False)
        missing = (
            nodes.select("id")
            .distinct()
            .join(out.select("id").distinct(), "id", "left_anti")
            .limit(6)
            .collect()
        )
        if missing:
            sample = ", ".join(str(r["id"]) for r in missing[:5])
            more = " (and more)" if len(missing) > 5 else ""
            raise ValueError(
                "expand_paths: nodes unreachable from any root — "
                "dangling parent ids or a root-less cycle: "
                f"{sample}{more}"
            )
    return out
