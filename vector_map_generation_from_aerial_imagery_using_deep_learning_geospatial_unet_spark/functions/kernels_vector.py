"""Vector kernels: polygonize, simplify, hull/MBR, shoelace — pure NumPy.

Pinned semantics (file:line into /root/reference):

* polygonize   — gdal.Polygonize contract (src/io.py:200-272): one polygon
  per 4-connected constant-value region, staircase boundary on pixel corners,
  ``value`` attribute = the region's pixel value.  Boundary is traced
  inside-on-the-right in row-down pixel coords; with the usual negative
  geo y-scale exterior rings come out CW in geo coords (the shapefile
  exterior-ring convention the reference writes); hole loops opposite.
  Minimal vertices (corners only, collinear points merged) like GDAL.
* simplify     — Douglas-Peucker with tolerance; stands in for GEOS
  SimplifyPreserveTopology(0.7) (src/postprocess.py:306-309, config.py:32).
  Documented deviation: plain DP does not guarantee no self-intersection;
  ring validity is asserted by tests on the pipeline's actual shapes.
* polygon_area — shoelace, rounded to 2 dp, reference formula verbatim
  (src/postprocess.py:96-99).
* minimum_bounding_rectangle — the reference's own angle-search over hull
  edges (src/postprocess.py:29-92), hull via Andrew monotone chain instead
  of scipy.spatial.ConvexHull.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "trace_regions",
    "polygonize",
    "douglas_peucker",
    "simplify_ring",
    "convex_hull",
    "minimum_bounding_rectangle",
    "polygon_area",
    "pip_grid",
    "trace_skeleton_paths",
]


_DIRS = {  # side -> (corner_start_offset, corner_end_offset) in (cx, cy)
    "top": ((0, 0), (1, 0)),
    "right": ((1, 0), (1, 1)),
    "bottom": ((1, 1), (0, 1)),
    "left": ((0, 1), (0, 0)),
}


def _region_loops(mask: np.ndarray, ox: int = 0, oy: int = 0):
    """Directed-crack boundary loops of a binary region.

    Yields loops as lists of (cx, cy) pixel-corner vertices (closed, first ==
    last), corners only.  Inside is kept on the right while walking (row-down
    coords); ambiguous checkerboard corners resolved by preferring the right
    turn, which keeps pinched rings consistently oriented.
    """
    h, w = mask.shape
    padded = np.zeros((h + 2, w + 2), dtype=bool)
    padded[1:-1, 1:-1] = mask
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(s, e):
        edges.setdefault(s, []).append(e)

    ys, xs = np.nonzero(mask)
    top = ~padded[ys, xs + 1]      # neighbour (y-1, x)
    bottom = ~padded[ys + 2, xs + 1]
    left = ~padded[ys + 1, xs]
    right = ~padded[ys + 1, xs + 2]
    for y, x, t, b, l, r in zip(
        ys.tolist(), xs.tolist(), top.tolist(), bottom.tolist(),
        left.tolist(), right.tolist(),
    ):
        if t:
            add((x, y), (x + 1, y))
        if r:
            add((x + 1, y), (x + 1, y + 1))
        if b:
            add((x + 1, y + 1), (x, y + 1))
        if l:
            add((x, y + 1), (x, y))

    def take(start, incoming):
        outs = edges[start]
        if len(outs) == 1:
            return outs.pop()
        # right-turn preference relative to incoming direction
        dx, dy = incoming
        pref = [(dy, -dx) == (e[0] - start[0], e[1] - start[1]) for e in outs]
        i = pref.index(True) if True in pref else 0
        return outs.pop(i)

    loops = []
    while edges:
        start = min(edges)  # deterministic: lexicographic smallest corner
        cur = start
        nxt = edges[cur].pop()
        if not edges[cur]:
            del edges[cur]
        loop = [cur]
        incoming = (nxt[0] - cur[0], nxt[1] - cur[1])
        cur = nxt
        while cur != start:
            loop.append(cur)
            nxt = take(cur, incoming)
            if not edges[cur]:
                del edges[cur]
            incoming = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
        loop.append(start)
        # merge collinear (all edges axis-aligned: drop middle of equal-dir runs)
        out = []
        for i, v in enumerate(loop):
            if 0 < i < len(loop) - 1:
                a, b = loop[i - 1], loop[i + 1]
                if (v[0] - a[0], v[1] - a[1]) == (b[0] - v[0], b[1] - v[1]):
                    continue
            out.append((v[0] + ox, v[1] + oy))
        loops.append(out)
    return loops


def _loop_signed_area_px(loop) -> float:
    x = np.array([p[0] for p in loop], dtype=np.float64)
    y = np.array([p[1] for p in loop], dtype=np.float64)
    return 0.5 * float(np.dot(x[:-1], y[1:]) - np.dot(y[:-1], x[1:]))


def trace_regions(labels: np.ndarray):
    """Yield (value, exterior_loop, hole_loops) per 4-connected constant-value
    region (pixel-corner coords).  Values emitted ascending; zero/background
    regions are NOT emitted (callers filter value>0 anyway,
    src/postprocess.py:303)."""
    from .kernels_morph import label as cc_label

    labels = np.asarray(labels)
    ys, xs = np.nonzero(labels)
    if ys.size == 0:
        return
    vals = labels[ys, xs]
    # one pass over the nonzero pixels -> per-value bbox; all later work is
    # confined to each value's sub-window (regions are tiny vs the plane)
    uniq, inv = np.unique(vals, return_inverse=True)
    n = len(uniq)
    vy0 = np.full(n, np.iinfo(np.int64).max)
    vx0 = np.full(n, np.iinfo(np.int64).max)
    vy1 = np.zeros(n, dtype=np.int64)
    vx1 = np.zeros(n, dtype=np.int64)
    np.minimum.at(vy0, inv, ys)
    np.maximum.at(vy1, inv, ys)
    np.minimum.at(vx0, inv, xs)
    np.maximum.at(vx1, inv, xs)
    for i, v in enumerate(uniq):          # np.unique -> values ascending
        vmask = labels[vy0[i] : vy1[i] + 1, vx0[i] : vx1[i] + 1] == v
        # raster order inside the bbox == full-plane raster order restricted
        # to this value, so component numbering matches the unwindowed scan
        comps = cc_label(vmask, connectivity=1)
        for c in range(1, comps.max() + 1):
            m = comps == c
            cys, cxs = np.nonzero(m)
            y0, y1, x0, x1 = cys.min(), cys.max(), cxs.min(), cxs.max()
            sub = m[y0 : y1 + 1, x0 : x1 + 1]
            loops = _region_loops(sub, ox=int(vx0[i] + x0), oy=int(vy0[i] + y0))
            # exterior = largest |area| loop; rest are holes
            areas = [abs(_loop_signed_area_px(lp)) for lp in loops]
            ext = int(np.argmax(areas))
            yield int(v), loops[ext], [lp for j, lp in enumerate(loops) if j != ext]


def polygonize(labels: np.ndarray, gt: tuple | list) -> list[dict]:
    """Label grid -> polygons in geo coords (P4).  Returns dicts with
    ``value``, ``ring`` (closed [[x,y],...]), ``holes``."""
    g0, g1, _, g3, _, g5 = gt

    def to_geo(loop):
        return [[g0 + cx * g1, g3 + cy * g5] for cx, cy in loop]

    return [
        {"value": v, "ring": to_geo(ext), "holes": [to_geo(h) for h in holes]}
        for v, ext, holes in trace_regions(labels)
    ]


def douglas_peucker(points: np.ndarray, eps: float) -> np.ndarray:
    """Iterative DP on an open polyline; keeps endpoints."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[j] - pts[i]
        norm = np.hypot(*seg)
        mid = pts[i + 1 : j]
        if norm == 0:
            d = np.hypot(*(mid - pts[i]).T)
        else:
            d = np.abs(np.cross(seg, mid - pts[i])) / norm
        kmax = int(np.argmax(d))
        if d[kmax] > eps:
            k = i + 1 + kmax
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return pts[keep]


def simplify_ring(ring, eps: float):
    """DP on a closed ring: split at the vertex farthest from vertex 0 so
    both halves have stable anchors; re-close.

    Topology guard (the 'PreserveTopology' in the reference's GEOS call,
    src/postprocess.py:306-309): if DP would collapse the ring below a valid
    polygon (under 3 distinct vertices / zero area), the original ring is
    returned unchanged — GEOS stops simplifying rather than invalidate."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) <= 4:
        return pts
    closed = np.allclose(pts[0], pts[-1])
    body = pts[:-1] if closed else pts
    far = int(np.argmax(((body - body[0]) ** 2).sum(axis=1)))
    if far == 0:
        return pts
    h1 = douglas_peucker(body[: far + 1], eps)
    h2 = douglas_peucker(np.vstack([body[far:], body[:1]]), eps)
    out = np.vstack([h1[:-1], h2[:-1]])
    out = np.vstack([out, out[:1]])
    if len(np.unique(out[:-1], axis=0)) < 3 or _loop_signed_area(out) == 0.0:
        return np.vstack([body, body[:1]]) if not closed else pts
    return out


def _loop_signed_area(loop: np.ndarray) -> float:
    x, y = loop[:, 0], loop[:, 1]
    return 0.5 * float(np.dot(x[:-1], y[1:]) - np.dot(y[:-1], x[1:]))


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain, CCW, no duplicate endpoint."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts
    def half(ps):
        out = []
        for p in ps:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out
    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def minimum_bounding_rectangle(points: np.ndarray) -> np.ndarray:
    """Reference algorithm (src/postprocess.py:29-92): hull edge angles mod
    pi/2, unique, rotate, min-area argmin; returns 4x2 corners."""
    pi2 = np.pi / 2.0
    hull_points = convex_hull(points)
    if len(hull_points) == 1:
        return np.repeat(hull_points, 4, axis=0)
    if len(hull_points) == 2:
        hull_points = np.vstack([hull_points, hull_points[0]])
    closed = np.vstack([hull_points, hull_points[:1]])
    edges = closed[1:] - closed[:-1]
    angles = np.arctan2(edges[:, 1], edges[:, 0])
    angles = np.abs(np.mod(angles, pi2))
    angles = np.unique(angles)
    rotations = np.vstack(
        [np.cos(angles), np.cos(angles - pi2), np.cos(angles + pi2), np.cos(angles)]
    ).T.reshape((-1, 2, 2))
    rot_points = np.dot(rotations, hull_points.T)
    min_x = np.nanmin(rot_points[:, 0], axis=1)
    max_x = np.nanmax(rot_points[:, 0], axis=1)
    min_y = np.nanmin(rot_points[:, 1], axis=1)
    max_y = np.nanmax(rot_points[:, 1], axis=1)
    areas = (max_x - min_x) * (max_y - min_y)
    best = int(np.argmin(areas))
    x1, x2 = max_x[best], min_x[best]
    y1, y2 = max_y[best], min_y[best]
    r = rotations[best]
    return np.array(
        [np.dot([x1, y2], r), np.dot([x2, y2], r), np.dot([x2, y1], r), np.dot([x1, y1], r)]
    )


def polygon_area(x, y) -> float:
    """Shoelace, reference verbatim (src/postprocess.py:96-99)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    correction = x[-1] * y[0] - y[-1] * x[0]
    main_area = np.dot(x[:-1], y[1:]) - np.dot(y[:-1], x[1:])
    return round(0.5 * np.abs(main_area + correction), 2)


def pip_grid(xs, ys, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon over a separable point grid: bool
    (len(py), len(px)) — True where (px[j], py[i]) is inside the simple
    polygon (xs, ys) (closing edge implicit).  The same ray-cast rule as
    the join-side PIP (operators/joins.py) but vectorized per edge over
    the whole pixel grid: cost O(edges * pixels) with numpy inner loops,
    the raster-side refinement for polygon zonal statistics.  Points on
    an edge follow the half-open crossing rule — callers choose
    off-boundary sample coordinates (pixel CENTERS) so ties cannot
    arise."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if xs.shape != ys.shape or xs.size < 3:
        raise ValueError("pip_grid: need >= 3 vertices with matching shapes")
    px = np.asarray(px, dtype=np.float64)[None, :]
    py = np.asarray(py, dtype=np.float64)[:, None]
    inside = np.zeros((py.shape[0], px.shape[1]), dtype=bool)
    n = xs.size
    for k in range(n):
        x1, y1 = xs[k], ys[k]
        x2, y2 = xs[(k + 1) % n], ys[(k + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses a horizontal ray
        crosses = (y1 > py) != (y2 > py)
        xi = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xi)
    return inside


_N8 = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]


def _collinear_merge(path: np.ndarray) -> np.ndarray:
    """Drop interior vertices whose incoming and outgoing integer
    directions match — a straight pixel run becomes its two endpoints.
    Exact (integer direction compare), orientation-stable."""
    if len(path) <= 2:
        return path
    d = np.diff(path, axis=0)
    keep = np.ones(len(path), dtype=bool)
    keep[1:-1] = (d[1:] != d[:-1]).any(axis=1)
    return path[keep]


def trace_skeleton_paths(
    skel: np.ndarray, simplify: bool = True
) -> list[np.ndarray]:
    """Vectorize a 1-px skeleton mask (P2 output) into centerline
    polylines: 8-connected pixels form a graph; endpoints and junctions
    (degree != 2) are nodes, and each maximal degree-2 chain between
    nodes becomes one path.  Pure cycles (no node) close on their lowest
    pixel; isolated pixels become 1-point paths.  Every skeleton edge is
    emitted exactly once.  Returns (n, 2) int arrays of (col, row) pixel
    coordinates; with ``simplify`` straight runs collapse to their
    endpoints (exact integer collinear merge, no tolerance).

    The reference stops at the skeleton raster
    (/root/reference/src/postprocess.py:193-217) and writes it out as
    pixels; tracing it into vector centerlines is what a road layer
    needs before simplify/export (S8)."""
    rr, cc = np.nonzero(skel)
    pts = set(zip(rr.tolist(), cc.tolist()))
    if not pts:
        return []
    nbrs: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for p in pts:
        r, c = p
        nbrs[p] = [
            (r + dr, c + dc) for dr, dc in _N8 if (r + dr, c + dc) in pts
        ]
    used: set[tuple[tuple[int, int], tuple[int, int]]] = set()
    paths: list[np.ndarray] = []

    def walk(a, b):
        """Follow the chain starting with edge a->b until a node or a
        revisited edge; marks edges used in both directions."""
        chain = [a, b]
        used.add((a, b))
        used.add((b, a))
        prev, cur = a, b
        while len(nbrs[cur]) == 2:
            nxt = nbrs[cur][0] if nbrs[cur][0] != prev else nbrs[cur][1]
            if (cur, nxt) in used:
                break  # closed a cycle
            used.add((cur, nxt))
            used.add((nxt, cur))
            chain.append(nxt)
            prev, cur = cur, nxt
        return np.array(chain, dtype=np.int64)

    nodes = sorted(p for p in pts if len(nbrs[p]) != 2)
    for p in nodes:
        if not nbrs[p]:
            paths.append(np.array([p], dtype=np.int64))
            continue
        for q in sorted(nbrs[p]):
            if (p, q) not in used:
                paths.append(walk(p, q))
    # leftover pure cycles: every pixel degree 2, no node touched them
    for p in sorted(pts):
        if len(nbrs[p]) == 2:
            for q in sorted(nbrs[p]):
                if (p, q) not in used:
                    paths.append(walk(p, q))
    out = []
    for path in paths:
        xy = path[:, ::-1].copy()  # (row, col) -> (col, row)
        out.append(_collinear_merge(xy) if simplify else xy)
    return out
