"""Polygon overlay (boolean) operations: intersection / union / difference.

The reference exposes the binary constructive SQLMM operators
``ST_Intersection`` (F/filter/sqlmm/SQLMM.java:135), ``ST_Union`` (:141),
``ST_Difference`` (:147) and ``ST_SymDifference`` (:153), all delegating to
the JTS/ESRI geometry library (F/filter/sqlmm/TwoGeometries.java).  Neither
library exists here, so the engine re-derives the overlay machinery from
published algorithms:

* ``clip_halfplane`` / ``clip_convex`` — Sutherland–Hodgman composition
  clipping (exact for convex clip regions; generalizes the anti-meridian
  clip of geometry.clip_polygon_x).
* ``clip_area_halfplane_edge_terms`` — per-edge Green's-theorem area of a
  polygon clipped to the halfplane ``x <= b``: each directed edge clipped
  independently contributes ``(x1*y2 - x2*y1) - b*(y2 - y1)``; the ``-b*dy``
  term closes the boundary along ``x = b`` (sum of chord shoelace terms).
  A pure per-edge aggregation — O(1) state, embarrassingly parallel, and
  expressible in plain SQL (the DuckDB oracle of the gate query).
* ``overlay`` — Greiner–Hormann polygon clipping for general simple
  polygon pairs (E. Greiner & K. Hormann, "Efficient clipping of arbitrary
  polygons", ACM TOG 17(2), 1998): intersection vertices are woven into both
  rings, marked entry/exit, and result rings traced by switching rings at
  each intersection.  Degenerate inputs (vertex exactly on an edge) are not
  supported — the engine's synthetic geometry is in general position, and
  the limitation is documented here.

All kernels are numpy; the SQLMM wrappers batch them per Arrow block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import geometry as geo
from .sqlmm import shoelace_area


def signed_area(vx: np.ndarray, vy: np.ndarray) -> float:
    wx = np.roll(vx, -1)
    wy = np.roll(vy, -1)
    return float(np.sum(vx * wy - wx * vy)) * 0.5


# ---------------------------------------------------------------- halfplane / convex clip

def clip_halfplane(vx, vy, a: float, b: float, c: float):
    """Sutherland–Hodgman clip of one ring to ``a*x + b*y <= c``.

    Returns (vx, vy), possibly empty.  Intersection points are placed with
    the parametric formula ``p1 + t*(p2-p1)``, t = (c - d1)/(d2 - d1) on the
    signed distances — exact halves of the anti-meridian special case
    (geometry.clip_polygon_x keeps its strict x-form for oracle parity).
    """
    vx = np.asarray(vx, dtype=np.float64)
    vy = np.asarray(vy, dtype=np.float64)
    ox: list[float] = []
    oy: list[float] = []
    n = len(vx)
    d = a * vx + b * vy - c
    for i in range(n):
        j = (i + 1) % n
        in1, in2 = d[i] <= 0.0, d[j] <= 0.0
        if in1:
            ox.append(vx[i])
            oy.append(vy[i])
        if in1 != in2:
            t = d[i] / (d[i] - d[j])
            ox.append(vx[i] + t * (vx[j] - vx[i]))
            oy.append(vy[i] + t * (vy[j] - vy[i]))
    return np.asarray(ox), np.asarray(oy)


def clip_convex(vx, vy, cvx, cvy):
    """Clip ring (vx, vy) to the CONVEX CCW ring (cvx, cvy) by successive
    halfplane clips (Sutherland–Hodgman).  Exact ST_Intersection when one
    operand is convex (e.g. envelope/box clip)."""
    cvx = np.asarray(cvx, dtype=np.float64)
    cvy = np.asarray(cvy, dtype=np.float64)
    if signed_area(cvx, cvy) < 0.0:
        cvx, cvy = cvx[::-1], cvy[::-1]
    ox, oy = np.asarray(vx, dtype=np.float64), np.asarray(vy, dtype=np.float64)
    m = len(cvx)
    for i in range(m):
        j = (i + 1) % m
        # inward halfplane of CCW edge (p_i -> p_j): cross(e, p - p_i) >= 0
        ex, ey = cvx[j] - cvx[i], cvy[j] - cvy[i]
        # e_x*(y - cy_i) - e_y*(x - cx_i) >= 0  <=>  e_y*x - e_x*y <= e_y*cx_i - e_x*cy_i
        ox, oy = clip_halfplane(ox, oy, ey, -ex, ey * cvx[i] - ex * cvy[i])
        if len(ox) == 0:
            break
    return ox, oy


# ---------------------------------------------------------------- per-edge clip area (gate kernel)

QUANT = 1.0e7
IRR_OFF = 0.123456789  # irrational-ish offset: keeps exact-zero terms off the floor boundary


def clip_area_halfplane_q(VX: np.ndarray, VY: np.ndarray, nv: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Quantized 2x-area of each padded polygon clipped to ``x <= b[i]``.

    ``VX, VY``: (M, K) padded vertex arrays (pad = repeat last vertex — a
    degenerate edge contributes the same term twice minus itself; we mask
    pads explicitly instead).  ``nv``: true vertex counts.  Per-edge term
    (identical op order to the DuckDB oracle SQL in queries.py):

        both in : (x1*y2 - x2*y1) - b*(y2 - y1)
        in1 only: (x1*yi - b*y1)           [x2 clipped to (b, yi)]
                  expanded: (x1*yi - b*y1) - b*(yi - y1)
        in2 only: (b*y2 - x2*yi) - b*(y2 - yi)
        neither : 0

    with yi = y1 + (b - x1)/(x2 - x1)*(y2 - y1).  Each term is floored at
    QUANT resolution with an irrational offset, summed as int64 — the sum is
    order-independent, so Spark partition order cannot change the result.
    """
    M, K = VX.shape
    ks = np.arange(K)
    valid = ks[None, :] < nv[:, None]
    nxt = np.where(ks[None, :] + 1 < nv[:, None], ks[None, :] + 1, 0)
    x1, y1 = VX, VY
    x2 = np.take_along_axis(VX, nxt, axis=1)
    y2 = np.take_along_axis(VY, nxt, axis=1)
    bb = np.asarray(b, dtype=np.float64)[:, None]
    in1 = x1 <= bb
    in2 = x2 <= bb
    with np.errstate(divide="ignore", invalid="ignore"):
        yi = y1 + (bb - x1) / (x2 - x1) * (y2 - y1)
    term_both = (x1 * y2 - x2 * y1) - bb * (y2 - y1)
    term_in1 = (x1 * yi - bb * y1) - bb * (yi - y1)
    term_in2 = (bb * y2 - x2 * yi) - bb * (y2 - yi)
    term = np.where(
        in1 & in2, term_both,
        np.where(in1, term_in1, np.where(in2, term_in2, 0.0)),
    )
    term = np.where(valid, term, 0.0)
    q = np.floor(term * QUANT - IRR_OFF).astype(np.int64)
    q = np.where(valid, q, 0)
    return q.sum(axis=1)


def supplier_clip_q_udf():
    """Arrow UDF: supplier key -> quantized doubled area of the synth polygon
    clipped to ``x <= cx`` (gate query halfplane_clip; vertices re-derived
    vectorized inside the batch so only int64 keys cross the boundary)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def clip_q(keys: pd.Series) -> pd.Series:
        from .. import synth

        k = keys.to_numpy(dtype=np.int64)
        VX, VY, nv = synth.polygon_vertices_padded_np(k)
        b = synth.polygon_params_np(k)["cx"]
        return pd.Series(clip_area_halfplane_q(VX, VY, nv, b))

    return clip_q


# ---------------------------------------------------------------- Greiner–Hormann

class _Node:
    __slots__ = ("x", "y", "nxt", "prv", "inter", "entry", "neighbor", "alpha", "visited")

    def __init__(self, x: float, y: float, inter: bool = False, alpha: float = 0.0):
        self.x = x
        self.y = y
        self.nxt = None
        self.prv = None
        self.inter = inter
        self.entry = False
        self.neighbor = None
        self.alpha = alpha
        self.visited = False


def _build_ring(vx, vy) -> _Node:
    nodes = [_Node(float(x), float(y)) for x, y in zip(vx, vy)]
    n = len(nodes)
    for i, nd in enumerate(nodes):
        nd.nxt = nodes[(i + 1) % n]
        nd.prv = nodes[(i - 1) % n]
    return nodes[0]


def _ring_nodes(head: _Node):
    nd = head
    while True:
        yield nd
        nd = nd.nxt
        if nd is head:
            break


def _insert_sorted(edge_start: _Node, node: _Node):
    """Insert intersection node after edge_start, keeping alpha order among
    the intersection nodes already inserted on this edge."""
    p = edge_start
    while p.nxt.inter and p.nxt.alpha < node.alpha and p.nxt is not edge_start:
        p = p.nxt
    node.nxt = p.nxt
    node.prv = p
    p.nxt.prv = node
    p.nxt = node


def _point_in_ring(x: float, y: float, vx: np.ndarray, vy: np.ndarray) -> bool:
    return bool(geo.points_in_polygon(np.array([x]), np.array([y]), vx, vy)[0])


def _edge_hits(a_edges, b_edges):
    """Proper intersections between two directed edge sets, both segments
    open: arrays (i, j, t, u, x, y) row-major over (edge i of a, edge j of
    b), where (x, y) = a_i + t * (a_i's direction)."""
    avx, avy, awx, awy = a_edges
    bvx, bvy, bwx, bwy = b_edges
    adx, ady = awx - avx, awy - avy
    t, u = geo.segment_params(avx[:, None], avy[:, None], adx[:, None], ady[:, None],
                              bvx[None, :], bvy[None, :], bwx - bvx, bwy - bvy)
    i, j = np.nonzero((t > 0.0) & (t < 1.0) & (u > 0.0) & (u < 1.0))
    t, u = t[i, j], u[i, j]
    return i, j, t, u, avx[i] + adx[i] * t, avy[i] + ady[i] * t


def overlay(avx, avy, bvx, bvy, op: str):
    """Greiner–Hormann boolean op between two simple rings (general position).

    op: 'intersection' | 'union' | 'difference' (A minus B) | 'symdifference'.
    Returns a list of rings [(vx, vy), ...] under even-odd semantics (a
    contained ring is a hole; symdifference of overlapping rings and
    difference with a fully-contained B produce such holes).
    """
    if op == "symdifference":
        return overlay(avx, avy, bvx, bvy, "difference") + overlay(bvx, bvy, avx, avy, "difference")

    avx = np.asarray(avx, dtype=np.float64)
    avy = np.asarray(avy, dtype=np.float64)
    bvx = np.asarray(bvx, dtype=np.float64)
    bvy = np.asarray(bvy, dtype=np.float64)

    heada = _build_ring(avx, avy)
    headb = _build_ring(bvx, bvy)

    # 1. pairwise edge intersections, one (A edges x B edges) grid
    a_nodes = list(_ring_nodes(heada))
    b_nodes = list(_ring_nodes(headb))
    hits = _edge_hits(geo.ring_edges([(avx, avy)]), geo.ring_edges([(bvx, bvy)]))
    pairs = [(a_nodes[i], b_nodes[j], x, y, float(ta), float(tb))
             for i, j, ta, tb, x, y in zip(*hits)]

    if not pairs:  # disjoint or containment
        a_in_b = _point_in_ring(avx[0], avy[0], bvx, bvy)
        b_in_a = _point_in_ring(bvx[0], bvy[0], avx, avy)
        A = [(avx.copy(), avy.copy())]
        B = [(bvx.copy(), bvy.copy())]
        if op == "intersection":
            return A if a_in_b else (B if b_in_a else [])
        if op == "union":
            return B if a_in_b else (A if b_in_a else A + B)
        # difference A \ B
        if a_in_b:
            return []
        return A + B if b_in_a else A  # B inside A -> A with hole B (even-odd)

    # 2. weave intersection nodes into both rings
    for na, nb, ix, iy, ta, tb in pairs:
        ia = _Node(ix, iy, inter=True, alpha=ta)
        ib = _Node(ix, iy, inter=True, alpha=tb)
        ia.neighbor = ib
        ib.neighbor = ia
        _insert_sorted(na, ia)
        _insert_sorted(nb, ib)

    # 3. entry/exit flags
    def mark(head, ovx, ovy, invert):
        inside = _point_in_ring(head.x, head.y, ovx, ovy)
        entry = not inside
        if invert:
            entry = not entry
        for nd in _ring_nodes(head):
            if nd.inter:
                nd.entry = entry
                entry = not entry

    # Greiner–Hormann flag table: intersection = (False, False);
    # union = (True, True); difference A\B inverts the SUBJECT ring's flags
    # (trace A outside B, B inside A reversed).
    inv_a, inv_b = {
        "intersection": (False, False),
        "union": (True, True),
        "difference": (True, False),
    }[op]
    mark(heada, bvx, bvy, inv_a)
    mark(headb, avx, avy, inv_b)

    # 4. trace result rings
    inters = [nd for nd in _ring_nodes(heada) if nd.inter]
    rings = []
    for start in inters:
        if start.visited:
            continue
        cur = start
        rx: list[float] = []
        ry: list[float] = []
        while not cur.visited:
            cur.visited = True
            if cur.neighbor is not None:
                cur.neighbor.visited = True
            if cur.entry:
                while True:
                    rx.append(cur.x)
                    ry.append(cur.y)
                    cur = cur.nxt
                    if cur.inter:
                        break
            else:
                while True:
                    rx.append(cur.x)
                    ry.append(cur.y)
                    cur = cur.prv
                    if cur.inter:
                        break
            cur = cur.neighbor
        if len(rx) >= 3:
            rings.append((np.asarray(rx), np.asarray(ry)))
    return rings


def _interior_point(vx: np.ndarray, vy: np.ndarray):
    """A point strictly inside a simple ring: try edge midpoints nudged along
    the inward normal (G-H result-ring vertices are intersection points that
    lie ON other result rings, so vertices themselves are unusable for
    containment parity)."""
    n = len(vx)
    diam = max(float(vx.max() - vx.min()), float(vy.max() - vy.min()), 1e-300)
    for eps_scale in (1e-7, 1e-5, 1e-3):
        eps = eps_scale * diam
        for i in range(n):
            j = (i + 1) % n
            mx, my = 0.5 * (vx[i] + vx[j]), 0.5 * (vy[i] + vy[j])
            ex, ey = vx[j] - vx[i], vy[j] - vy[i]
            h = float(np.hypot(ex, ey)) or 1.0
            nx, ny = -ey / h, ex / h
            for s in (eps, -eps):
                px, py = mx + s * nx, my + s * ny
                if _point_in_ring(px, py, vx, vy):
                    return px, py
    return float(vx.mean()), float(vy.mean())  # last resort


def rings_area(rings) -> float:
    """Area of an even-odd ring set: |signed| of the outermost orientation is
    not reliable after tracing, so use containment parity: a ring inside an
    odd number of other rings subtracts.  Containment is tested at a robust
    interior point (never at shared intersection vertices)."""
    n = len(rings)
    if n == 0:
        return 0.0
    areas = np.array([shoelace_area(vx, vy) for vx, vy in rings])
    pts = [_interior_point(vx, vy) for vx, vy in rings]
    depth = np.zeros(n, dtype=np.int64)
    for i in range(n):
        for j in range(n):
            if i != j and _point_in_ring(pts[i][0], pts[i][1], rings[j][0], rings[j][1]):
                depth[i] += 1
    sign = np.where(depth % 2 == 0, 1.0, -1.0)
    return float(np.sum(sign * areas))


# ------------------------------------------------- line-vs-polygon clip (r2)

def clip_line_polygon(vx, vy, rings, keep_inside=True):
    """Parametric clip of an open polyline against a polygon (outer ring +
    holes, even-odd): the dim-1 branch of SQLMM ST_Intersection
    (GeometryWrapper delegates mixed-dimension overlays to JTS; re-derived
    here for the general-position model).  ``keep_inside=False`` keeps the
    complement instead — the dim-1 branch of ST_Difference(line, polygon)
    (same crossing parameters, inverted midpoint classification, so
    intersection and difference pieces partition the line exactly).

    Per segment: crossing parameters t with every ring edge
    (t = cross(e0 - p0, edir) / cross(d, edir), proper iff 0 < t, u < 1 —
    the SAME expressions the SQL oracle uses), sorted; each (t_i, t_i+1)
    interval is kept iff its midpoint is inside (even-odd over all rings).

    Returns (pieces, qlen): ``pieces`` = list of (vx, vy) float64 polyline
    arrays (clipped sub-segments, merged where consecutive intervals join at
    a shared crossing), and ``qlen`` = int64 sum over kept intervals of
    floor(seg_len * (t_i+1 - t_i) * 1e7) — the order-independent quantized
    length used by the oracle gate."""
    vx = np.asarray(vx, np.float64)
    vy = np.asarray(vy, np.float64)
    e0x, e0y, e1x, e1y = geo.ring_edges(rings)
    edx, edy = e1x - e0x, e1y - e0y
    pieces: list[tuple[np.ndarray, np.ndarray]] = []
    qlen = np.int64(0)
    cur: list[tuple[float, float]] | None = None

    def flush():
        nonlocal cur
        if cur is not None and len(cur) >= 2:
            pieces.append((np.array([p[0] for p in cur]),
                           np.array([p[1] for p in cur])))
        cur = None

    def joins(a, b) -> bool:
        return abs(a[0] - b[0]) < 1e-12 and abs(a[1] - b[1]) < 1e-12

    for s in range(len(vx) - 1):
        p0x, p0y = vx[s], vy[s]
        dx, dy = vx[s + 1] - p0x, vy[s + 1] - p0y
        t, u = geo.segment_params(p0x, p0y, dx, dy, e0x, e0y, edx, edy)
        ts = sorted([0.0, 1.0] + t[(t > 0.0) & (t < 1.0) & (u > 0.0) & (u < 1.0)].tolist())
        seg_len = np.sqrt(dx * dx + dy * dy)
        for t0, t1 in zip(ts[:-1], ts[1:]):
            if t1 <= t0:
                continue
            mx = p0x + dx * (0.5 * (t0 + t1))
            my = p0y + dy * (0.5 * (t0 + t1))
            inside = bool(geo.points_in_polygon_with_holes(
                np.array([mx]), np.array([my]), rings)[0])
            if inside == keep_inside:
                qlen += np.int64(np.floor(seg_len * (t1 - t0) * 1e7))
                a = (p0x + dx * t0, p0y + dy * t0)
                b = (p0x + dx * t1, p0y + dy * t1)
                if cur is not None and joins(cur[-1], a):
                    cur.append(b)  # continues the previous kept interval
                else:
                    flush()
                    cur = [a, b]
            else:
                flush()
    flush()
    return pieces, int(qlen)


def st_intersection_line_poly_udf():
    """Scalar Arrow UDF (line_wkb, poly_wkb) -> MultiLineString WKB of the
    clipped polyline (empty MultiLineString when disjoint)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.BinaryType())
    def clip(l_s: pd.Series, p_s: pd.Series) -> pd.Series:
        from ..sources import polygons_from_wkb

        out = []
        for lb, pb in zip(l_s, p_s):
            typ, (lvx, lvy) = geo.wkb_parse(bytes(lb))
            if typ != "linestring":
                raise ValueError(f"expected linestring, got {typ}")
            (poly,) = polygons_from_wkb([(0, pb)])
            rings = [(poly["vx"], poly["vy"])] + list(poly.get("holes", []))
            pieces, _ = clip_line_polygon(lvx, lvy, rings)
            out.append(bytes(geo.wkb_multilinestring(pieces)))
        return pd.Series(out)

    return clip


# ------------------------------------------------- union-of-pieces + ST_Buffer (r2)

def _strictly_inside_even_odd(px, py, rings) -> bool:
    """Even-odd membership at a single point (boundary points are undefined —
    callers only probe generic midpoints, never lattice points)."""
    return bool(geo.points_in_polygon_with_holes(np.array([px]), np.array([py]), rings)[0])


def union_pieces(pieces, round_decimals: int = 9):
    """Boolean union of a list of material *pieces*, each a ring set with
    even-odd semantics (outer rings CCW, holes CW, so material is on the
    left of every directed edge).

    Edge-based union (the classic "keep boundary edges not interior to any
    other piece" construction — robust where sequential Greiner-Hormann
    unions are not, because shared piece corners are exact-duplicate floats,
    not near-miss intersections):

    1. split every directed edge at its proper intersections with edges of
       every OTHER piece (each intersection point computed once, shared by
       both edges — identical floats on both sides);
    2. keep a sub-edge iff its midpoint is not strictly inside (even-odd)
       any other piece;
    3. stitch kept directed edges into closed rings by walking start->end
       point keys; CCW output rings are shells, CW rings are holes.

    General-position assumptions as the rest of the overlay machinery
    (module docstring): no collinear overlapping edges between pieces.

    Reference operator: ST_Buffer / ST_Union composition
    (F/filter/sqlmm/SQLMM.java:129,:141, delegating to JTS buffer/union).
    """
    E = [geo.ring_edges(p) for p in pieces]
    key = lambda x, y: (round(float(x), round_decimals), round(float(y), round_decimals))
    # per (piece, edge) cut lists; each intersection point is computed ONCE
    # and shared by both edges, so the stitch keys are identical floats
    cuts = [[[] for _ in range(len(e[0]))] for e in E]
    for i in range(len(E)):
        for j in range(i + 1, len(E)):
            for ei, ej, tt, uu, x, y in zip(*_edge_hits(E[i], E[j])):
                x, y = float(x), float(y)
                cuts[i][ei].append((float(tt), x, y))
                cuts[j][ej].append((float(uu), x, y))
    out_edges = []
    for i, (avx, avy, awx, awy) in enumerate(E):
        for ei in range(len(avx)):
            pts = ([(0.0, float(avx[ei]), float(avy[ei]))]
                   + sorted(cuts[i][ei])
                   + [(1.0, float(awx[ei]), float(awy[ei]))])
            for (t0, x0, y0), (t1, x1, y1) in zip(pts, pts[1:]):
                if t1 <= t0:
                    continue
                mx, my = 0.5 * (x0 + x1), 0.5 * (y0 + y1)
                covered = any(
                    _strictly_inside_even_odd(mx, my, pieces[j])
                    for j in range(len(pieces)) if j != i
                )
                if not covered:
                    out_edges.append((key(x0, y0), key(x1, y1), x0, y0, x1, y1))
    # stitch directed edges into rings
    nxt = {}
    for e in out_edges:
        nxt.setdefault(e[0], []).append(e)
    rings = []
    used = set()
    for e0 in out_edges:
        if id(e0) in used:
            continue
        ring_x, ring_y = [], []
        e = e0
        while id(e) not in used:
            used.add(id(e))
            ring_x.append(e[2])
            ring_y.append(e[3])
            cands = [c for c in nxt.get(e[1], []) if id(c) not in used]
            if not cands:
                break
            e = cands[0]
        if len(ring_x) >= 3 and e[1] == e0[0]:  # closed back to start
            rings.append((np.asarray(ring_x), np.asarray(ring_y)))
    return rings


def _disk_ring(cx: float, cy: float, r: float, n_seg: int):
    ang = np.linspace(0.0, 2.0 * np.pi, n_seg, endpoint=False)
    return cx + r * np.cos(ang), cy + r * np.sin(ang)


def _segment_rect(x0, y0, x1, y1, r: float):
    dx, dy = x1 - x0, y1 - y0
    h = float(np.hypot(dx, dy))
    if h == 0.0:
        return None
    nx, ny = -dy / h * r, dx / h * r
    # CCW: right side first, then left (material on the left of every edge)
    return (np.array([x0 - nx, x1 - nx, x1 + nx, x0 + nx]),
            np.array([y0 - ny, y1 - ny, y1 + ny, y0 + ny]))


def _normalize_poly_piece(rings):
    """Material-orientation normalization: outer ring CCW, holes CW, closing
    duplicates stripped."""
    fixed = []
    for k, (vx, vy) in enumerate(rings):
        vx = np.asarray(vx, np.float64)
        vy = np.asarray(vy, np.float64)
        if len(vx) >= 2 and vx[0] == vx[-1] and vy[0] == vy[-1]:
            vx, vy = vx[:-1], vy[:-1]
        ccw = signed_area(vx, vy) > 0
        want_ccw = k == 0
        if ccw != want_ccw:
            vx, vy = vx[::-1].copy(), vy[::-1].copy()
        fixed.append((vx, vy))
    return fixed


def _assemble_rings(rings):
    """Stitched union rings -> ('polygon', rings) | ('multipolygon', polys):
    CCW rings are shells, CW rings are holes assigned to their containing
    shell."""
    shells = [(vx, vy) for vx, vy in rings if signed_area(vx, vy) > 0]
    holes = [(vx, vy) for vx, vy in rings if signed_area(vx, vy) <= 0]
    if not shells:
        return ("polygon", [])
    polys = [[s] for s in shells]
    for hvx, hvy in holes:
        for poly in polys:
            if _point_in_ring(float(hvx[0]), float(hvy[0]), poly[0][0], poly[0][1]):
                poly.append((hvx, hvy))
                break
    if len(polys) == 1:
        return ("polygon", polys[0])
    return ("multipolygon", polys)


def buffer_geometry(typ: str, val, radius: float, n_seg: int = 24):
    """ST_Buffer (SQLMM.java:129) for any 2-D geometry, positive radius:
    union of per-segment rectangles + per-vertex n_seg-gon disks (+ the
    polygon body itself for areal inputs, holes included even-odd).  Round
    joins/caps are approximated by the inscribed n_seg-gon, the same
    stand-in the point-buffer kernel documents.  Returns ('polygon', rings)
    for a single shell or ('multipolygon', [rings...]) for several; shells
    come out CCW and holes CW from the stitched union boundary."""
    from .sqlmm import geom_decompose

    g = geom_decompose(typ, val)
    pieces = [_normalize_poly_piece(rings) for rings in g["polys"]]
    for x0, y0, x1, y1 in zip(g["svx"], g["svy"], g["swx"], g["swy"]):
        rect = _segment_rect(float(x0), float(y0), float(x1), float(y1), radius)
        if rect is not None:
            pieces.append([rect])
    # dedupe centers: ring vertex arrays carry the closing duplicate, and two
    # identical disks would put exact-overlap edges into the union (undefined
    # under the general-position model)
    for x, y in dict.fromkeys(zip(g["px"].tolist(), g["py"].tolist())):
        pieces.append([_disk_ring(float(x), float(y), radius, n_seg)])
    return _assemble_rings(union_pieces(pieces))


def union_geometries(parsed_geoms):
    """N-ary ST_Union (SQLMM.java:141 binary op generalized to the aggregate
    form every SQL engine ships): union of the areal parts of any number of
    parsed geometries via the same edge-based union as ST_Buffer.  Exact
    duplicates are deduped first (identical members would put exact-overlap
    edges into the union)."""
    from .sqlmm import geom_decompose

    pieces = []
    seen = set()
    for typ, val in parsed_geoms:
        g = geom_decompose(typ, val)
        for rings in g["polys"]:
            norm = _normalize_poly_piece(rings)
            key = tuple((r[0].tobytes(), r[1].tobytes()) for r in norm)
            if key not in seen:
                seen.add(key)
                pieces.append(norm)
    return _assemble_rings(union_pieces(pieces))


def st_union_agg(df, group_col: str = "gid", wkb_col: str = "wkb"):
    """Distributed aggregate ST_Union: one union geometry per group.  The
    shuffle moves only (group, wkb) rows; each group's union is a single
    numpy union_pieces call inside applyInPandas (Statistics-combine
    pattern of S/storage/aggregate applied to geometry)."""
    from pyspark.sql import functions as F  # noqa: F401  (plan helpers)

    def fn(key, pdf):
        geoms = [geo.wkb_parse(bytes(b)) for b in pdf[wkb_col]]
        t, rings = union_geometries(geoms)
        return pd.DataFrame({
            group_col: [key[0]],
            "wkb": [geo.wkb_write(t, rings) if rings else None],
        })

    return df.groupBy(group_col).applyInPandas(
        fn, schema=f"{group_col} long, wkb binary")


def difference_line_polygon(vx, vy, rings):
    """ST_Difference(line, polygon): the polyline pieces OUTSIDE the polygon
    — the complement classification of clip_line_polygon over the identical
    crossing parameters, so (intersection ∪ difference) reconstructs the
    input line exactly (interval-partition invariant, tested)."""
    return clip_line_polygon(vx, vy, rings, keep_inside=False)


def st_difference_line_poly_udf():
    """Scalar Arrow UDF (line_wkb, poly_wkb) -> MultiLineString WKB of the
    polyline pieces outside the polygon (the whole line when disjoint)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.BinaryType())
    def fn(l_s: pd.Series, p_s: pd.Series) -> pd.Series:
        from ..sources import polygons_from_wkb

        out = []
        for lb, pb in zip(l_s, p_s):
            typ, (lvx, lvy) = geo.wkb_parse(bytes(lb))
            if typ != "linestring":
                raise ValueError(f"expected linestring, got {typ}")
            (poly,) = polygons_from_wkb([(0, pb)])
            rings = [(poly["vx"], poly["vy"])] + list(poly.get("holes", []))
            pieces, _q = difference_line_polygon(lvx, lvy, rings)
            out.append(bytes(geo.wkb_multilinestring(pieces)))
        return pd.Series(out)

    return fn


def line_line_intersection_points(avx, avy, bvx, bvy):
    """ST_Intersection(line, line) under the general-position model: the
    proper crossing points of two open polylines (dim-1 ∩ dim-1 -> dim-0,
    the remaining cell of the mixed-dimension intersection matrix; collinear
    overlap is out of the general-position scope, as in relate.py).

    Vectorized over the (n_edges_a, n_edges_b) grid of
    geometry.segment_params, open on both segments.  Returns (px, py) float64 arrays, deduplicated exactly
    (a shared crossing computed from adjacent edge pairs yields identical
    IEEE values, so exact dedup suffices)."""
    avx = np.asarray(avx, np.float64); avy = np.asarray(avy, np.float64)
    bvx = np.asarray(bvx, np.float64); bvy = np.asarray(bvy, np.float64)
    a0x, a0y = avx[:-1, None], avy[:-1, None]
    adx, ady = (avx[1:] - avx[:-1])[:, None], (avy[1:] - avy[:-1])[:, None]
    b0x, b0y = bvx[None, :-1], bvy[None, :-1]
    bdx, bdy = (bvx[1:] - bvx[:-1])[None, :], (bvy[1:] - bvy[:-1])[None, :]
    t, u = geo.segment_params(a0x, a0y, adx, ady, b0x, b0y, bdx, bdy)
    ok = (t > 0.0) & (t < 1.0) & (u > 0.0) & (u < 1.0)
    # mask t before the multiply: inf/nan entries would raise RuntimeWarning
    # in the product even though ok excludes them from the result
    tm = np.where(ok, t, 0.0)
    px = (a0x + adx * tm)[ok]
    py = (a0y + ady * tm)[ok]
    if len(px) == 0:
        return px, py
    uniq = np.unique(np.stack([px, py], axis=1), axis=0)
    return uniq[:, 0], uniq[:, 1]


def st_intersection_line_line_udf():
    """Scalar Arrow UDF (line_wkb, line_wkb) -> MultiPoint WKB of the proper
    crossing points (empty MultiPoint when the lines do not cross)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.BinaryType())
    def fn(a_s: pd.Series, b_s: pd.Series) -> pd.Series:
        out = []
        for ab, bb in zip(a_s, b_s):
            _ta, (avx, avy) = geo.wkb_parse(bytes(ab))
            _tb, (bvx, bvy) = geo.wkb_parse(bytes(bb))
            px, py = line_line_intersection_points(avx, avy, bvx, bvy)
            out.append(bytes(geo.wkb_multipoint(px, py)))
        return pd.Series(out)

    return fn


# ------------------------------------------- batched line-clip qlen (r4)

def clip_qlen_batch(l_bufs, p_bufs) -> np.ndarray:
    """Batched quantized clipped-length kernel for WKB (line, polygon)
    pairs -> int64 array: the qlen output of clip_line_polygon without the
    per-pair Python loop.  Pairs group by the polygon operand (parsed
    once); each group flattens every candidate line's segments into one
    (segments x ring-edges) crossing-parameter grid, sorts crossing
    parameters per segment with one lexsort, classifies every interval
    midpoint with one even-odd grid, and bincount-sums the quantized
    interval lengths per pair.  All FP expressions are the scalar
    kernel's, and the int64 interval sum is order-independent, so the
    result is bit-identical to clip_line_polygon(...)[1] pair by pair."""
    from ..sources import polygons_from_wkb

    n = len(l_bufs)
    out = np.zeros(n, np.int64)
    lcache: dict[bytes, tuple] = {}
    pcache: dict[bytes, list] = {}
    groups: dict[bytes, list[int]] = {}
    lb = [bytes(x) for x in l_bufs]
    pb = [bytes(x) for x in p_bufs]
    for i, b in enumerate(pb):
        groups.setdefault(b, []).append(i)

    for buf, idxs in groups.items():
        rings = pcache.get(buf)
        if rings is None:
            (poly,) = polygons_from_wkb([(0, buf)])
            rings = [(poly["vx"], poly["vy"])] + list(poly.get("holes", []))
            pcache[buf] = rings
        e0x, e0y, e1x, e1y = geo.ring_edges(rings)
        edx, edy = e1x - e0x, e1y - e0y

        lines = []
        for i in idxs:
            ln = lcache.get(lb[i])
            if ln is None:
                typ, (lvx, lvy) = geo.wkb_parse(lb[i])
                if typ != "linestring":
                    raise ValueError(f"expected linestring, got {typ}")
                ln = lcache[lb[i]] = (np.asarray(lvx, np.float64),
                                      np.asarray(lvy, np.float64))
            lines.append(ln)

        for c0, c1 in geo.grid_chunks([len(ln[0]) for ln in lines], len(e0x)):
            _clip_qlen_group(lines[c0:c1], idxs[c0:c1],
                             e0x, e0y, edx, edy, rings, out)
    return out


def _clip_qlen_group(lines, idxs, e0x, e0y, edx, edy, rings, out):
    # flatten segments with owner pair-index
    p0x, p0y, dx, dy, owner = [], [], [], [], []
    for j, (lvx, lvy) in enumerate(lines):
        if len(lvx) < 2:
            continue
        p0x.append(lvx[:-1]); p0y.append(lvy[:-1])
        dx.append(lvx[1:] - lvx[:-1]); dy.append(lvy[1:] - lvy[:-1])
        owner.append(np.full(len(lvx) - 1, j, np.int64))
    if not p0x:
        return
    p0x = np.concatenate(p0x); p0y = np.concatenate(p0y)
    dx = np.concatenate(dx); dy = np.concatenate(dy)
    owner = np.concatenate(owner)
    S = len(p0x)

    # crossing parameters, the scalar kernel's on a (segments x edges) grid
    t, u = geo.segment_params(p0x[:, None], p0y[:, None], dx[:, None], dy[:, None],
                              e0x, e0y, edx, edy)
    ok = (t > 0.0) & (t < 1.0) & (u > 0.0) & (u < 1.0)

    # per-segment sorted parameter runs [0, crossings..., 1]
    kk = ok.sum(axis=1)
    seg_of = np.concatenate([np.repeat(np.arange(S), 2),
                             np.repeat(np.arange(S), kk)])
    ts = np.concatenate([np.tile(np.array([0.0, 1.0]), S), t[ok]])
    order = np.lexsort((ts, seg_of))
    seg_s, ts_s = seg_of[order], ts[order]
    run_len = kk + 2
    ends = np.cumsum(run_len) - 1          # index of each run's last entry
    last = np.zeros(len(ts_s), bool)
    last[ends] = True
    t0 = ts_s[~last]
    t1 = np.concatenate([ts_s[1:], [np.nan]])[~last]
    iseg = seg_s[~last]
    keep = t1 > t0                          # scalar skips t1 <= t0
    t0, t1, iseg = t0[keep], t1[keep], iseg[keep]
    if len(t0) == 0:
        return

    mx = p0x[iseg] + dx[iseg] * (0.5 * (t0 + t1))
    my = p0y[iseg] + dy[iseg] * (0.5 * (t0 + t1))
    inside = geo.points_in_polygon_with_holes(mx, my, rings)

    seg_len = np.sqrt(dx * dx + dy * dy)
    q = np.floor(seg_len[iseg][inside] * (t1[inside] - t0[inside]) * 1e7).astype(np.int64)
    np.add.at(out, np.asarray(idxs, np.int64)[owner[iseg][inside]], q)
