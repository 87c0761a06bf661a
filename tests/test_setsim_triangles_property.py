"""Property tests for two algorithmic
operators, each cross-checked against a brute-force reference on
randomized inputs:

  - prefix_filter_pairs vs an all-pairs exact Jaccard scan — the
    prefix-filtering theorem (rarest n - ceil(t*n) + 1 tokens must
    overlap) is easy to get off by one in either direction: too
    short silently LOSES pairs, too long only wastes work. A fixed
    fixture can't distinguish "correct" from "lucky"; random set
    families can.
  - triangle_counts vs a brute-force combination scan — the
    degree-ordered orientation must count every triangle exactly
    once for EVERY degree/tie profile, including multi-clique
    overlaps.

Style follows tests/test_property_operators.py (session-scoped spark
fixture reused across hypothesis examples).
"""

from __future__ import annotations

from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gerrydb_etl_spark.operators.setsim import prefix_filter_pairs
from gerrydb_etl_spark.operators.triangles import triangle_counts

# small universes force collisions: shared tokens, tied degrees
token_sets = st.lists(
    st.sets(st.integers(0, 14), min_size=1, max_size=8),
    min_size=2,
    max_size=10,
)

edge_lists = st.lists(
    st.tuples(st.integers(1, 12), st.integers(1, 12)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=30,
)


def _brute_jaccard_pairs(sets, t_num, t_den):
    out = set()
    for (i, a), (j, b) in combinations(enumerate(sets), 2):
        inter = len(a & b)
        union = len(a) + len(b) - inter
        if t_den * inter >= t_num * union:
            out.add((i, j, len(a), len(b), inter))
    return out


@given(sets=token_sets, t=st.sampled_from([(1, 2), (7, 10), (4, 5), (1, 1)]))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_prefix_filter_matches_brute_force(spark, sets, t):
    t_num, t_den = t
    rows = [
        (i, len(s), f"tok{tok}") for i, s in enumerate(sets) for tok in s
    ]
    df = spark.createDataFrame(rows, "doc long, n_sh long, shingle string")
    got = {
        (r["d1"], r["d2"], r["n1"], r["n2"], r["common"])
        for r in prefix_filter_pairs(df, t_num, t_den).collect()
    }
    assert got == _brute_jaccard_pairs(sets, t_num, t_den)


def _brute_triangle_counts(edges):
    es = {tuple(sorted(e)) for e in edges}
    nodes = {n for e in es for n in e}
    counts: dict[int, int] = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if {(a, b), (a, c), (b, c)} <= es:
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    return counts


@given(edges=edge_lists)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_triangle_counts_match_brute_force(spark, edges):
    es = sorted({tuple(sorted(e)) for e in edges})
    df = spark.createDataFrame(es, "u long, v long")
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert got == _brute_triangle_counts(es)
