"""Minimal WKB (well-known binary) codec: Point, Polygon,
MultiPolygon — little-endian, 2-D.

WKB is the reference's geometry storage contract (`shapely.wkb.dumps`
at pl_geo.py:244-245); shapely is not available in this environment,
so the codec is hand-rolled from the public OGC spec. Only the three
shapes the pipelines ship are supported; anything else raises.

Layout (little endian): 1 byte order, uint32 geom type
(1=Point, 3=Polygon, 6=MultiPolygon), then coordinates:
  Point:        x, y float64
  Polygon:      n_rings, then per ring n_points + points
  MultiPolygon: n_polys, then each polygon as a full WKB geometry
"""

from __future__ import annotations

import struct

import numpy as np

POINT = 1
POLYGON = 3
MULTIPOLYGON = 6

_LE = "<"


def encode_point(x: float, y: float) -> bytes:
    return struct.pack(f"{_LE}BIdd", 1, POINT, x, y)


def encode_polygon(rings: list[np.ndarray]) -> bytes:
    """rings: list of (n, 2) float64 arrays, closed (first == last)."""
    out = [struct.pack(f"{_LE}BII", 1, POLYGON, len(rings))]
    for ring in rings:
        arr = np.asarray(ring, dtype=np.float64)
        out.append(struct.pack(f"{_LE}I", len(arr)))
        out.append(arr.tobytes())
    return b"".join(out)


def encode_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack(f"{_LE}BII", 1, MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(encode_polygon(rings))
    return b"".join(out)


def _read_header(buf: bytes, off: int) -> tuple[int, int]:
    byte_order = buf[off]
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    (gtype,) = struct.unpack_from(f"{_LE}I", buf, off + 1)
    return gtype, off + 5


def _decode_polygon_body(buf: bytes, off: int) -> tuple[list[np.ndarray], int]:
    (n_rings,) = struct.unpack_from(f"{_LE}I", buf, off)
    off += 4
    rings = []
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from(f"{_LE}I", buf, off)
        off += 4
        arr = np.frombuffer(buf, dtype=np.float64, count=n_pts * 2, offset=off)
        rings.append(arr.reshape(n_pts, 2).copy())
        off += n_pts * 16
    return rings, off


def decode(buf: bytes) -> tuple[int, object]:
    """Decode WKB -> (geom_type, payload):
    POINT -> (x, y); POLYGON -> [rings]; MULTIPOLYGON -> [[rings]]."""
    gtype, off = _read_header(buf, 0)
    if gtype == POINT:
        x, y = struct.unpack_from(f"{_LE}dd", buf, off)
        return POINT, (x, y)
    if gtype == POLYGON:
        rings, _ = _decode_polygon_body(buf, off)
        return POLYGON, rings
    if gtype == MULTIPOLYGON:
        (n,) = struct.unpack_from(f"{_LE}I", buf, off)
        off += 4
        polys = []
        for _ in range(n):
            sub_type, off2 = _read_header(buf, off)
            if sub_type != POLYGON:
                raise ValueError("MultiPolygon member is not a Polygon")
            rings, off = _decode_polygon_body(buf, off2)
            polys.append(rings)
        return MULTIPOLYGON, polys
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def polygon_area_centroid(rings: list[np.ndarray]) -> tuple[float, float, float]:
    """Signed shoelace area + centroid of a polygon (holes = rings
    with opposite winding subtract naturally). Returns (area, cx, cy)."""
    total_a = 0.0
    sx = 0.0
    sy = 0.0
    for ring in rings:
        x, y = ring[:, 0], ring[:, 1]
        cross = x[:-1] * y[1:] - x[1:] * y[:-1]
        a2 = cross.sum()  # 2 * signed area
        total_a += a2 / 2.0
        sx += ((x[:-1] + x[1:]) * cross).sum() / 6.0
        sy += ((y[:-1] + y[1:]) * cross).sum() / 6.0
    if total_a == 0.0:
        raise ValueError("zero-area polygon has no centroid")
    return total_a, sx / total_a, sy / total_a


def centroid(buf: bytes) -> tuple[float, float]:
    """Centroid of a Point / Polygon / MultiPolygon WKB."""
    gtype, payload = decode(buf)
    if gtype == POINT:
        return payload
    if gtype == POLYGON:
        _, cx, cy = polygon_area_centroid(payload)
        return cx, cy
    # MultiPolygon: area-weighted combination of member centroids
    total = 0.0
    sx = 0.0
    sy = 0.0
    for rings in payload:
        a, cx, cy = polygon_area_centroid(rings)
        total += a
        sx += cx * a
        sy += cy * a
    if total == 0.0:
        raise ValueError("zero-area multipolygon has no centroid")
    return sx / total, sy / total


# -- interior-overlap detection (dependency-free heuristic) -----------
#
# The guard behind union_disjoint / the no-shapely union_dissolve
# path: polygons whose INTERIORS intersect must fail loudly instead
# of silently producing a multipolygon with double-counted area.
# Boundary touching (shared edges/vertices — the reference's aiannh
# R/T tiling) is NOT interior overlap and passes.
# Detection = strict edge crossings + strictly-interior point probes
# (vertices and the area centroid, skipping probes that land ON the
# other boundary, where even-odd ray casting is ill-defined). This is
# exact for convex polygons and catches the practical nonconvex
# configurations (crossing edges, containment, coincidence); the
# shapely-backed union_dissolve is the fully general path.


def _edges(ring: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return ring[:-1], ring[1:]


def _any_strict_crossing(ra: np.ndarray, rb: np.ndarray) -> bool:
    """Vectorized proper-crossing test between all edge pairs of two
    rings (numpy broadcast + per-edge bbox rejection, no Python loop
    over edge pairs)."""
    a1, a2 = _edges(ra)
    b1, b2 = _edges(rb)
    # per-edge bboxes, (m,1) vs (n,) broadcast to the (m,n) pair mask
    amin = np.minimum(a1, a2)
    amax = np.maximum(a1, a2)
    bmin = np.minimum(b1, b2)
    bmax = np.maximum(b1, b2)
    mask = (
        (amin[:, None, 0] <= bmax[None, :, 0])
        & (bmin[None, :, 0] <= amax[:, None, 0])
        & (amin[:, None, 1] <= bmax[None, :, 1])
        & (bmin[None, :, 1] <= amax[:, None, 1])
    )
    if not mask.any():
        return False
    ii, jj = np.nonzero(mask)
    p1, p2 = a1[ii], a2[ii]
    q1, q2 = b1[jj], b2[jj]

    def orient(o, a, b):
        return (a[:, 0] - o[:, 0]) * (b[:, 1] - o[:, 1]) - (
            a[:, 1] - o[:, 1]
        ) * (b[:, 0] - o[:, 0])

    d1 = orient(q1, q2, p1)
    d2 = orient(q1, q2, p2)
    d3 = orient(p1, p2, q1)
    d4 = orient(p1, p2, q2)
    proper = (
        (d1 != 0.0) & (d2 != 0.0) & (d3 != 0.0) & (d4 != 0.0)
        & ((d1 > 0.0) != (d2 > 0.0))
        & ((d3 > 0.0) != (d4 > 0.0))
    )
    return bool(proper.any())


def _points_on_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """(k,) bool: each point collinear with AND inside the span of
    some ring edge (vectorized)."""
    a, b = _edges(ring)
    ox = (b[None, :, 0] - a[None, :, 0]) * (pts[:, None, 1] - a[None, :, 1])
    oy = (b[None, :, 1] - a[None, :, 1]) * (pts[:, None, 0] - a[None, :, 0])
    coll = (ox - oy) == 0.0
    lo = np.minimum(a, b)
    hi = np.maximum(a, b)
    inspan = (
        (pts[:, None, 0] >= lo[None, :, 0])
        & (pts[:, None, 0] <= hi[None, :, 0])
        & (pts[:, None, 1] >= lo[None, :, 1])
        & (pts[:, None, 1] <= hi[None, :, 1])
    )
    return (coll & inspan).any(axis=1)


def _points_in_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """(k,) bool even-odd ray cast (rightward), vectorized; callers
    must exclude boundary points — parity is ill-defined there."""
    a, b = _edges(ring)
    ay = a[None, :, 1]
    by = b[None, :, 1]
    py = pts[:, None, 1]
    straddle = (ay > py) != (by > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = a[None, :, 0] + (py - ay) * (b[None, :, 0] - a[None, :, 0]) / (
            by - ay
        )
    hit = straddle & (pts[:, None, 0] < xin)
    return hit.sum(axis=1) % 2 == 1


def _points_strictly_inside(
    pts: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """(k,) bool: strictly interior to the polygon (inside the
    exterior ring, outside every hole, NOT on any boundary —
    boundary probes are inconclusive and report False)."""
    on_any = np.zeros(len(pts), dtype=bool)
    for r in rings:
        on_any |= _points_on_ring(pts, r)
    inside = _points_in_ring(pts, rings[0])
    for h in rings[1:]:
        inside &= ~_points_in_ring(pts, h)
    return inside & ~on_any


def _rings_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    ext = rings[0]
    return ext[:, 0].min(), ext[:, 1].min(), ext[:, 0].max(), ext[:, 1].max()


def _is_convex(ring: np.ndarray) -> bool:
    """All turns the same way (zeros allowed for collinear runs).
    The closing turn at vertex 0 — between the last edge and the
    first — must be checked too: pairing each edge with np.roll's
    successor covers every vertex, where the naive v[:-1]/v[1:]
    pairing skips the wrap-around and classifies a ring concave
    ONLY at its first vertex as convex (which would route
    interiors_overlap onto the convex-only SAT fast path)."""
    v = np.diff(ring, axis=0)
    w = np.roll(v, -1, axis=0)
    cross = v[:, 0] * w[:, 1] - v[:, 1] * w[:, 0]
    return bool((cross >= 0.0).all() or (cross <= 0.0).all())


def _sat_separated(ra: np.ndarray, rb: np.ndarray) -> bool:
    """Separating-axis test for two CONVEX rings: True when some edge
    normal separates them (touching projections count as separated —
    boundary contact is not interior overlap)."""
    for ring in (ra, rb):
        e = np.diff(ring, axis=0)
        normals = np.stack([-e[:, 1], e[:, 0]], axis=1)
        pa = ra[:-1] @ normals.T
        pb = rb[:-1] @ normals.T
        separated = (pa.max(axis=0) <= pb.min(axis=0)) | (
            pb.max(axis=0) <= pa.min(axis=0)
        )
        if separated.any():
            return True
    return False


def _probe_points(rings: list[np.ndarray]) -> np.ndarray:
    """Vertices + edge midpoints of every ring — each is a boundary
    point of the polygon, so landing strictly inside the OTHER
    polygon proves the interiors intersect (boundary points are
    limits of interior points)."""
    parts = []
    for r in rings:
        a, b = _edges(r)
        parts.append(a)
        parts.append((a + b) / 2.0)
    return np.concatenate(parts, axis=0)


def interiors_overlap(
    a: list[np.ndarray], b: list[np.ndarray]
) -> bool:
    """Interior-intersection test between two polygons (ring lists).
    Shared boundaries/vertices are NOT overlap. EXACT when both
    polygons are single-ring convex (separating-axis test);
    otherwise a sound-but-incomplete detector — strict edge
    crossings plus vertex/midpoint/centroid interior probes, each of
    which only fires on genuine interior intersection (no false
    positives), but an adversarial concave pair whose contact avoids
    every probe can slip through. The shapely-backed
    ``union_dissolve`` is the fully general path."""
    ax0, ay0, ax1, ay1 = _rings_bbox(a)
    bx0, by0, bx1, by1 = _rings_bbox(b)
    if ax1 < bx0 or bx1 < ax0 or ay1 < by0 or by1 < ay0:
        return False
    if len(a) == 1 and len(b) == 1 and _is_convex(a[0]) and _is_convex(b[0]):
        return not _sat_separated(a[0], b[0])
    # strict edge crossings between any pair of rings
    for ra in a:
        for rb in b:
            if _any_strict_crossing(ra, rb):
                return True
    # containment / coincidence: any boundary probe (vertex or edge
    # midpoint) of one strictly inside the other; the area centroid
    # joins the probe set ONLY when it lies strictly inside its own
    # polygon (a concave/holed polygon's centroid may fall outside
    # it, where its position proves nothing about overlap)
    for src, dst in ((a, b), (b, a)):
        probes = _probe_points(src)
        try:
            _, cx, cy = polygon_area_centroid(src)
            cpt = np.array([[cx, cy]], dtype=np.float64)
            if _points_strictly_inside(cpt, src)[0]:
                probes = np.concatenate([probes, cpt], axis=0)
        except ValueError:
            pass
        if _points_strictly_inside(probes, dst).any():
            return True
    return False


def _collect_polys(wkbs: list[bytes], op: str) -> list[list[np.ndarray]]:
    polys: list[list[np.ndarray]] = []
    for buf in wkbs:
        gtype, payload = decode(buf)
        if gtype == POLYGON:
            polys.append(payload)
        elif gtype == MULTIPOLYGON:
            polys.extend(payload)
        else:
            raise ValueError(f"{op} expects polygonal geometries")
    return polys


def union_disjoint(wkbs: list[bytes]) -> bytes:
    """Union of polygons with disjoint interiors = the MultiPolygon
    of all their parts. This is exactly the reference's aiannh
    reservation/trust merge (pl_geo.py:169-171): the R and T parts
    of one unit are disjoint regions whose union is their
    collection. Interior overlap is DETECTED and raises instead of
    silently double-counting area/topology; use ``union_dissolve``
    for overlapping inputs."""
    polys = _collect_polys(wkbs, "union_disjoint")
    # Sweep-line over PRECOMPUTED bboxes (SCALE_r14): the old
    # all-pairs loop called interiors_overlap m^2/2 times, and every
    # call re-derived BOTH polygons' bboxes from their rings — at
    # 6,000 parts per group (the natural-sf1 nation dissolve) that is
    # 18M ring scans per group, a quadratic hiding exactly where the
    # plan audit cannot see it (inside an opaque UDAF). Sorting by xmin and pruning the active set by xmax makes
    # candidate pairs those whose bboxes STRICTLY overlap on both
    # axes — strict is sound because a polygon's interior is an open
    # set inside its OPEN bbox (an interior point at x == xmax would
    # put points past xmax in the interior), so bboxes that merely
    # touch cannot have overlapping interiors; a tiling's
    # shared-edge neighbors are therefore never candidates. For a
    # genuinely disjoint tiling the check is O(m log m) with zero
    # exact tests; an adversarial input where every bbox strictly
    # overlaps degrades to the old O(m^2) — but then a real overlap
    # raises at the first detected pair anyway.
    boxes = [_rings_bbox(p) for p in polys]
    order = sorted(range(len(polys)), key=lambda i: boxes[i][0])
    active: list[int] = []
    for idx in order:
        x0, y0, x1, y1 = boxes[idx]
        still: list[int] = []
        for j in active:
            jx0, jy0, jx1, jy1 = boxes[j]
            if jx1 <= x0:
                # every later poly has xmin >= x0 too — prune forever
                continue
            still.append(j)
            if jy1 <= y0 or y1 <= jy0:
                continue
            if interiors_overlap(polys[idx], polys[j]):
                a, b = sorted((j, idx))
                raise ValueError(
                    "union_disjoint: polygon interiors overlap "
                    f"(members {a} and {b}); a disjoint multipolygon "
                    "would double-count their area — use "
                    "union_dissolve (shapely extra) to dissolve"
                )
        active = still
        active.append(idx)
    return encode_multipolygon(polys)


def union_dissolve(wkbs: list[bytes]) -> bytes:
    """True geometric union with shapely.unary_union semantics
    (reference pl_geo.py:169-171): overlapping interiors and shared
    boundaries dissolve into one geometry. Uses shapely when
    installed (the optional extra, same gating as the media codecs);
    the dependency-free fallback handles exactly the disjoint case
    (where dissolve == collect) and raises on detected overlap
    rather than return a wrong area."""
    try:
        from shapely import wkb as shapely_wkb  # optional extra
        from shapely.geometry import MultiPolygon as ShapelyMultiPolygon
        from shapely.ops import unary_union
    except ImportError:
        return union_disjoint(wkbs)
    # same input validation as the fallback path: non-polygonal
    # members must fail HERE, not as a confusing downstream decode
    # error on whatever unary_union makes of them
    _collect_polys(wkbs, "union_dissolve")
    u = unary_union([shapely_wkb.loads(bytes(b)) for b in wkbs])
    if u.geom_type == "Polygon":
        u = ShapelyMultiPolygon([u])
    if u.geom_type != "MultiPolygon":
        raise ValueError(
            f"union_dissolve: dissolve produced a {u.geom_type}, not a "
            "polygonal geometry (degenerate input?)"
        )
    return shapely_wkb.dumps(u)
