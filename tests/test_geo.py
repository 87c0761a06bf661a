"""Property tests for the WKB codec and geometry kernels
(SURVEY.md §5 strategy: union associativity/area, codec round trip)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gerrydb_etl_spark.geo import wkb

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(finite, finite)
@settings(max_examples=50, deadline=None)
def test_point_roundtrip(x, y):
    gtype, (rx, ry) = wkb.decode(wkb.encode_point(x, y))
    assert gtype == wkb.POINT
    assert (rx, ry) == (x, y)  # float64 through the codec is lossless


def _square(cx, cy, h=0.5):
    return np.array(
        [
            [cx - h, cy - h],
            [cx + h, cy - h],
            [cx + h, cy + h],
            [cx - h, cy + h],
            [cx - h, cy - h],
        ]
    )


def test_polygon_roundtrip_and_centroid():
    poly = wkb.encode_polygon([_square(3.0, 4.0)])
    gtype, rings = wkb.decode(poly)
    assert gtype == wkb.POLYGON
    assert np.array_equal(rings[0], _square(3.0, 4.0))
    a, cx, cy = wkb.polygon_area_centroid(rings)
    assert a == pytest.approx(1.0)
    assert (cx, cy) == pytest.approx((3.0, 4.0))


def test_polygon_with_hole_centroid():
    outer = _square(0.0, 0.0, 2.0)  # area 16, ccw
    hole = _square(1.0, 0.0, 0.5)[::-1]  # area -1 (cw), centered (1, 0)
    a, cx, cy = wkb.polygon_area_centroid([outer, hole])
    assert a == pytest.approx(15.0)
    # removing unit mass at x=1 from a 16-mass at x=0: cx = -1/15
    assert cx == pytest.approx(-1.0 / 15.0)
    assert cy == pytest.approx(0.0)


def test_union_disjoint_area_additive():
    squares = [wkb.encode_polygon([_square(float(i) * 2, 0.0)]) for i in range(4)]
    u = wkb.union_disjoint(squares)
    gtype, polys = wkb.decode(u)
    assert gtype == wkb.MULTIPOLYGON
    assert len(polys) == 4
    total = sum(wkb.polygon_area_centroid(r)[0] for r in polys)
    assert total == pytest.approx(4.0)
    # centroid = mean of centers for equal areas
    cx, cy = wkb.centroid(u)
    assert cx == pytest.approx(3.0)
    assert cy == pytest.approx(0.0)


def test_union_flattens_nested_multipolygons():
    a = wkb.encode_polygon([_square(0.0, 0.0)])
    b = wkb.union_disjoint([wkb.encode_polygon([_square(2.0, 0.0)]),
                            wkb.encode_polygon([_square(4.0, 0.0)])])
    u = wkb.union_disjoint([a, b])
    _, polys = wkb.decode(u)
    assert len(polys) == 3


def test_zero_area_centroid_raises():
    degenerate = wkb.encode_polygon([np.array([[0.0, 0.0]] * 4)])
    with pytest.raises(ValueError, match="zero-area"):
        wkb.centroid(degenerate)


def test_union_rejects_points():
    with pytest.raises(ValueError, match="polygonal"):
        wkb.union_disjoint([wkb.encode_point(0.0, 0.0)])


def test_big_endian_rejected():
    buf = bytearray(wkb.encode_point(1.0, 2.0))
    buf[0] = 0  # claim big-endian
    with pytest.raises(ValueError, match="little-endian"):
        wkb.decode(bytes(buf))


# -- interior-overlap detection / dissolve ----------------------------


def test_union_disjoint_raises_on_overlapping_interiors():
    a = wkb.encode_polygon([_square(0.0, 0.0)])
    b = wkb.encode_polygon([_square(0.4, 0.0)])  # overlaps a
    with pytest.raises(ValueError, match="interiors overlap"):
        wkb.union_disjoint([a, b])


def test_union_disjoint_raises_on_identical_polygons():
    """Coincident polygons have no strict edge crossings and every
    vertex sits ON the other boundary — the centroid probe must
    still catch them."""
    a = wkb.encode_polygon([_square(1.0, 1.0)])
    with pytest.raises(ValueError, match="interiors overlap"):
        wkb.union_disjoint([a, a])


def test_union_disjoint_raises_on_containment():
    outer = wkb.encode_polygon([_square(0.0, 0.0, 2.0)])
    inner = wkb.encode_polygon([_square(0.0, 0.0, 0.5)])
    with pytest.raises(ValueError, match="interiors overlap"):
        wkb.union_disjoint([outer, inner])


def test_union_disjoint_allows_shared_edges_and_vertices():
    """Boundary touching is NOT interior overlap: the reference's
    aiannh R/T tiling shares edges, and the geo_union_centroid
    fixture is a grid of edge-adjacent unit squares."""
    row = [wkb.encode_polygon([_square(float(i), 0.0)]) for i in range(3)]
    # shares exactly the corner point (2.5, 0.5) with the i=2 square
    corner = wkb.encode_polygon([_square(3.0, 1.0)])
    u = wkb.union_disjoint(row + [corner])
    gtype, polys = wkb.decode(u)
    assert gtype == wkb.MULTIPOLYGON and len(polys) == 4
    total = sum(wkb.polygon_area_centroid(r)[0] for r in polys)
    assert total == pytest.approx(4.0)


def test_union_dissolve_without_shapely_matches_disjoint_or_raises():
    """Dependency-free path: disjoint inputs dissolve trivially (the
    multipolygon collect), overlap raises instead of returning a
    wrong area."""
    try:
        import shapely  # noqa: F401

        pytest.skip("shapely installed: fallback path not reachable")
    except ImportError:
        pass
    squares = [wkb.encode_polygon([_square(float(i) * 2, 0.0)]) for i in range(3)]
    assert wkb.union_dissolve(squares) == wkb.union_disjoint(squares)
    with pytest.raises(ValueError, match="interiors overlap"):
        wkb.union_dissolve(
            [wkb.encode_polygon([_square(0.0, 0.0)]),
             wkb.encode_polygon([_square(0.3, 0.1)])]
        )


@given(
    st.lists(
        st.tuples(st.integers(-20, 20), st.integers(-20, 20)),
        min_size=1,
        max_size=6,
        unique=True,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_union_disjoint_commutative_and_area_additive(cells, rng):
    """Property: for ANY set of distinct grid cells (edge/vertex
    touching allowed), the union accepts every input order, total
    area is additive, and the decoded part multiset is
    order-insensitive."""
    sqs = [wkb.encode_polygon([_square(float(x), float(y))]) for x, y in cells]
    shuffled = list(sqs)
    rng.shuffle(shuffled)
    u1, u2 = wkb.union_disjoint(sqs), wkb.union_disjoint(shuffled)
    _, p1 = wkb.decode(u1)
    _, p2 = wkb.decode(u2)
    area1 = sum(wkb.polygon_area_centroid(r)[0] for r in p1)
    assert area1 == pytest.approx(float(len(cells)))
    key = lambda rings: tuple(sorted(map(tuple, rings[0].tolist())))  # noqa: E731
    assert sorted(map(key, p1)) == sorted(map(key, p2))


def test_interiors_overlap_nonconvex_cross():
    """An L-shaped polygon crossing a square: caught by strict edge
    crossings even though no vertex is strictly inside."""
    ell = [
        np.array(
            [
                [0.0, 0.0], [3.0, 0.0], [3.0, 1.0], [1.0, 1.0],
                [1.0, 3.0], [0.0, 3.0], [0.0, 0.0],
            ]
        )
    ]
    bar = [_square(1.5, 0.5, 10.0)]  # wide slab crossing the L's foot
    assert wkb.interiors_overlap(ell, bar)
    far = [_square(10.0, 10.0)]
    assert not wkb.interiors_overlap(ell, far)


def test_union_dissolve_shapely_call_contract(monkeypatch):
    """The shapely-backed path (unreachable in this container) must
    load every input, dissolve via unary_union, promote a lone
    Polygon to a MultiPolygon, and dump the result — pinned with a
    stub shapely so an API drift fails here, not at a user's site."""
    import sys
    import types

    calls = {}

    class _Geom:
        def __init__(self, tag, geom_type="Polygon"):
            self.tag = tag
            self.geom_type = geom_type

    shapely = types.ModuleType("shapely")
    shapely_wkb = types.ModuleType("shapely.wkb")
    shapely_geometry = types.ModuleType("shapely.geometry")
    shapely_ops = types.ModuleType("shapely.ops")

    shapely_wkb.loads = lambda b: _Geom(("loaded", bytes(b)))
    shapely_wkb.dumps = lambda g: b"DUMPED:" + repr(g.tag).encode()

    def unary_union(geoms):
        calls["n_inputs"] = len(geoms)
        return _Geom("union", "Polygon")

    shapely_ops.unary_union = unary_union

    class MultiPolygon:
        def __init__(self, polys):
            calls["promoted"] = [p.tag for p in polys]
            self.tag = "multi"
            self.geom_type = "MultiPolygon"

    shapely_geometry.MultiPolygon = MultiPolygon
    shapely.wkb = shapely_wkb
    shapely.geometry = shapely_geometry
    shapely.ops = shapely_ops
    for name, mod in [
        ("shapely", shapely),
        ("shapely.wkb", shapely_wkb),
        ("shapely.geometry", shapely_geometry),
        ("shapely.ops", shapely_ops),
    ]:
        monkeypatch.setitem(sys.modules, name, mod)

    a = wkb.encode_polygon([_square(0.0, 0.0)])
    b = wkb.encode_polygon([_square(0.3, 0.0)])  # overlap: must be OK here
    out = wkb.union_dissolve([a, b])
    assert calls["n_inputs"] == 2
    assert calls["promoted"] == ["union"]  # Polygon promoted to multi
    assert out == b"DUMPED:'multi'"


# -- review-regression battery ----------------------------------------


def test_overlap_detected_when_crossings_hit_vertices():
    """Grid-aligned half-overlapping squares: every edge crossing
    falls ON a vertex, every vertex and both centroids lie ON the
    other boundary — a case a vertex-only probe misses. The SAT path
    (both convex) and the midpoint probes must both catch it."""
    a = [_square(1.0, 1.0, 1.0)]  # (0,0)-(2,2)
    b = [_square(2.0, 1.0, 1.0)]  # (1,0)-(3,2): true union area 6, not 8
    assert wkb.interiors_overlap(a, b)
    with pytest.raises(ValueError, match="interiors overlap"):
        wkb.union_disjoint(
            [wkb.encode_polygon(a), wkb.encode_polygon(b)]
        )


def test_ring_with_island_in_hole_is_disjoint():
    """A square ring (hole in the middle) plus a disjoint island
    INSIDE the hole — the reference's reservation/trust enclave
    shape. The ring's own centroid falls in its hole (inside the
    island), which an ungated centroid probe would
    mistake for overlap; the gated centroid probe must not fire."""
    ring = [
        _square(2.0, 2.0, 2.0),          # exterior (0,0)-(4,4)
        _square(2.0, 2.0, 1.0)[::-1],    # hole (1,1)-(3,3)
    ]
    island = [_square(2.0, 2.0, 0.5)]    # (1.5,1.5)-(2.5,2.5): in the hole
    assert not wkb.interiors_overlap(ring, island)
    assert not wkb.interiors_overlap(island, ring)
    # and the enclave union must succeed
    u = wkb.union_disjoint(
        [wkb.encode_polygon(ring), wkb.encode_polygon(island)]
    )
    _, polys = wkb.decode(u)
    total = sum(wkb.polygon_area_centroid(r)[0] for r in polys)
    assert total == pytest.approx(16.0 - 4.0 + 1.0)


def test_u_shape_with_square_in_cavity_is_disjoint():
    """Concave U whose centroid sits in its own cavity, with a
    disjoint square filling the cavity — probes on the U must not
    count its outside-the-polygon centroid as evidence."""
    import numpy as np

    u_shape = [
        np.array(
            [
                [0.0, 0.0], [3.0, 0.0], [3.0, 3.0], [2.0, 3.0],
                [2.0, 1.0], [1.0, 1.0], [1.0, 3.0], [0.0, 3.0],
                [0.0, 0.0],
            ]
        )
    ]
    cavity_sq = [_square(1.5, 2.0, 0.4)]  # floats inside the cavity
    assert not wkb.interiors_overlap(u_shape, cavity_sq)
    assert not wkb.interiors_overlap(cavity_sq, u_shape)
    # but a square PIERCING the U's left arm is overlap
    piercing = [_square(0.5, 2.0, 0.4)]
    assert wkb.interiors_overlap(u_shape, piercing)


def test_sat_convex_exactness_samples():
    """Convex pairs route through the separating-axis test: touching
    is not overlap, any positive-area intersection is."""
    import numpy as np

    tri = [np.array([[0.0, 0.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]])]
    # hypotenuse-touching twin (reflected) — boundary contact only
    twin = [np.array([[2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [2.0, 0.0]])]
    assert not wkb.interiors_overlap(tri, twin)
    # nudge the twin into the triangle
    moved = [twin[0] - np.array([0.25, 0.25])]
    assert wkb.interiors_overlap(tri, moved)


def test_is_convex_checks_wraparound_turn_at_vertex_zero():
    """Regression: a cross-product scan that skips the closing turn
    between the last edge and the first passes an arrowhead ring
    concave ONLY at its first vertex as convex, and interiors_overlap
    could then take the convex-only SAT path
    on a concave polygon. Every rotation of the ring must classify
    identically."""
    import numpy as np

    # arrowhead: reflex turn at (1,1); rotations put it at each index
    pts = [(1.0, 1.0), (2.0, 2.0), (0.0, 1.0), (2.0, 0.0)]
    for shift in range(len(pts)):
        rot = pts[shift:] + pts[:shift]
        ring = np.array(rot + [rot[0]])
        assert not wkb._is_convex(ring), f"reflex missed at shift {shift}"
    # convexity of genuinely convex rings is rotation-invariant too
    sq = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    for shift in range(len(sq)):
        rot = sq[shift:] + sq[:shift]
        ring = np.array(rot + [rot[0]])
        assert wkb._is_convex(ring), f"square misclassified at shift {shift}"


def test_interiors_overlap_arrowhead_first_vertex_reflex():
    """The concave-at-vertex-0 arrowhead must NOT be SAT-classified:
    a square sitting inside the arrowhead's notch (outside the
    polygon, inside its convex hull) does not overlap, while the SAT
    path on the hull would claim it does."""
    import numpy as np

    arrow = [np.array([
        [1.0, 1.0], [2.0, 2.0], [0.0, 1.0], [2.0, 0.0], [1.0, 1.0]
    ])]
    notch_sq = [_square(1.6, 1.0, 0.15)]  # in the notch cavity
    assert not wkb.interiors_overlap(arrow, notch_sq)
    assert not wkb.interiors_overlap(notch_sq, arrow)
    inside_sq = [_square(0.45, 0.95, 0.08)]  # genuinely interior
    assert wkb.interiors_overlap(arrow, inside_sq)
    assert wkb.interiors_overlap(inside_sq, arrow)


def test_union_disjoint_sweep_handles_large_tilings():
    """SCALE_r14: the disjoint check is a sweep over precomputed
    bboxes, not an all-pairs interiors_overlap loop — a large
    shared-edge tiling (every square touches its grid neighbors)
    must produce ZERO exact tests (touching open bboxes cannot share
    interior points) and still catch an overlap anywhere in the
    tiling, including at the sweep's far end."""
    import numpy as np

    def sq(cx, cy, h=0.5):
        return wkb.encode_polygon([np.array(
            [[cx - h, cy - h], [cx + h, cy - h], [cx + h, cy + h],
             [cx - h, cy + h], [cx - h, cy - h]], dtype=np.float64)])

    tiles = [sq(float(i % 50), float(i // 50)) for i in range(2000)]
    u = wkb.union_disjoint(tiles)
    gtype, parts = wkb.decode(u)
    area = sum(wkb.polygon_area_centroid(p)[0] for p in parts)
    assert abs(area - 2000.0) < 1e-9
    # an overlapper at the grid's far corner is still found
    with pytest.raises(ValueError, match="interiors overlap"):
        wkb.union_disjoint(tiles + [sq(49.3, 39.3)])
