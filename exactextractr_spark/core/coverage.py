"""Exact per-cell polygon coverage fractions, pure numpy.

Reproduces the semantics of the reference's ``raster_cell_intersection``
(``/root/reference/src/exactextract/src/raster_cell_intersection.cpp:26-142``)
— per-cell fraction of area covered by a polygon, exact for piecewise-linear
boundaries — with a different, vectorization-friendly algorithm:

Instead of the reference's sequential ring walk (Cell::take / traversal
stitching, ``cell.cpp:87-150``), we integrate the polygon indicator function
cell-by-cell via Green's theorem. For a point (x, y), the winding number is

    chi(x, y) = sum over edges e of  s_e * [x >= x_e(y)],

where ``s_e = +1`` for downward edges and ``-1`` for upward edges, and
``x_e(y)`` is the edge's x at height y. Integrating over a cell:

    covered_area(cell) = sum_e s_e * INT_{y in cell ∩ e} clamp(cx1 - x_e(y), 0, dx) dy

Each edge's integrand is piecewise linear in y, with breakpoints exactly at
cell-row and cell-column boundaries — so we split every edge at those
boundaries and evaluate the integral in closed form per piece. Cells wholly
right of a crossing receive the full-width term, accumulated with a per-row
prefix sum (this also performs the reference's interior flood fill,
``floodfill.cpp:22-39``, for free). Results are bit-for-bit exact for
boundaries representable in float64 and match the reference's Catch2 goldens
(``test_raster_cell_intersection.cpp:49-68``).

Ring-orientation semantics follow the reference: each exterior ring
contributes |coverage|, each interior ring subtracts |coverage|
(``raster_cell_intersection.cpp:308-310, 423-431``); overlapping polygons in
an invalid MultiPolygon therefore sum, so fractions may exceed 1
(``R/exact_extract.R:30-31``).
"""

from __future__ import annotations

import numpy as np

from .geom import Geometry, signed_area
from .grid import Grid

__all__ = [
    "coverage_fraction",
    "coverage_fraction_ring",
    "cell_lengths",
    "tile_class",
    "EXTERIOR",
    "INTERIOR",
    "BOUNDARY",
]

#: the answers of ``tile_class``: coverage 0 in every cell, 1 in every
#: cell, or anything else
EXTERIOR, INTERIOR, BOUNDARY = "exterior", "interior", "boundary"


def _exclusive_cumsum(a: np.ndarray, axis: int = -1) -> np.ndarray:
    out = np.cumsum(a, axis=axis)
    out = np.roll(out, 1, axis=axis)
    if axis in (-1, a.ndim - 1):
        out[..., 0] = 0.0
    else:
        raise ValueError("only last-axis supported")
    return out


def _split_segments_to_cells(
    pts0: np.ndarray, pts1: np.ndarray, grid: Grid, clamp_x: bool,
    inclusive_y: bool = False,
):
    """Split directed segments at all cell-row and cell-column boundaries.

    Returns (row, col, xa, ya, xb, yb) arrays of final sub-segments, each
    lying within a single grid cell. Segments are first clipped to the grid's
    y-extent (parts outside contribute nothing to any cell's integral) and,
    when ``clamp_x``, split at the grid's x-limits with outside parts clamped
    onto the boundary (preserving their winding contribution, which is how
    the reference's processing-region crop behaves,
    ``raster_cell_intersection.cpp:50-95``).
    """
    gx0, gy0, gx1, gy1 = grid.xmin, grid.ymin, grid.xmax, grid.ymax
    dx, dy = grid.dx, grid.dy
    nrows, ncols = grid.nrows, grid.ncols

    x0 = pts0[:, 0].astype(np.float64)
    y0 = pts0[:, 1].astype(np.float64)
    x1 = pts1[:, 0].astype(np.float64)
    y1 = pts1[:, 1].astype(np.float64)

    # ---- clip to grid y-range (drop outside parts) ----
    # strict for the areal path (a zero-measure boundary edge has no area
    # integral); inclusive for the line path, where a segment lying exactly
    # ON the boundary carries real length (rows/cols clamp into range)
    dy_e = y1 - y0
    if inclusive_y:
        keep = np.maximum(y0, y1) >= gy0
        keep &= np.minimum(y0, y1) <= gy1
    else:
        keep = np.maximum(y0, y1) > gy0
        keep &= np.minimum(y0, y1) < gy1
    x0, y0, x1, y1, dy_e = x0[keep], y0[keep], x1[keep], y1[keep], dy_e[keep]
    if len(x0) == 0:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0, np.float64),) * 4

    nz = dy_e != 0
    t_lo = np.zeros(len(x0))
    t_hi = np.ones(len(x0))
    with np.errstate(divide="ignore", invalid="ignore"):
        ta = np.where(nz, (gy0 - y0) / dy_e, 0.0)
        tb = np.where(nz, (gy1 - y0) / dy_e, 1.0)
    t_lo = np.clip(np.minimum(ta, tb), 0.0, 1.0)
    t_hi = np.clip(np.maximum(ta, tb), 0.0, 1.0)
    t_lo = np.where(nz, t_lo, 0.0)
    t_hi = np.where(nz, t_hi, 1.0)
    xa = x0 + t_lo * (x1 - x0)
    ya = np.clip(y0 + t_lo * (y1 - y0), gy0, gy1)
    xb = x0 + t_hi * (x1 - x0)
    yb = np.clip(y0 + t_hi * (y1 - y0), gy0, gy1)

    # ---- split at grid x-limits, clamp outside x onto the boundary ----
    if clamp_x:
        segs = [(xa, ya, xb, yb)]
        for bound in (gx0, gx1):
            nxt = []
            for sxa, sya, sxb, syb in segs:
                dx_e = sxb - sxa
                crosses = ((sxa - bound) * (sxb - bound) < 0) & (dx_e != 0)
                with np.errstate(divide="ignore", invalid="ignore"):
                    t = np.where(crosses, (bound - sxa) / dx_e, 1.0)
                xm = np.where(crosses, bound, sxb)
                ym = np.where(crosses, sya + t * (syb - sya), syb)
                # piece 1: (a -> m), piece 2: (m -> b); piece 2 empty unless crossing
                nxt.append((sxa, sya, xm, ym))
                if crosses.any():
                    idx = np.nonzero(crosses)[0]
                    nxt.append((xm[idx], ym[idx], sxb[idx], syb[idx]))
            segs = nxt
        xa = np.concatenate([s[0] for s in segs])
        ya = np.concatenate([s[1] for s in segs])
        xb = np.concatenate([s[2] for s in segs])
        yb = np.concatenate([s[3] for s in segs])
        xa = np.clip(xa, gx0, gx1)
        xb = np.clip(xb, gx0, gx1)

    # drop zero-length pieces
    live = (xa != xb) | (ya != yb)
    xa, ya, xb, yb = xa[live], ya[live], xb[live], yb[live]
    if len(xa) == 0:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0, np.float64),) * 4

    # ---- split at row boundaries ----
    r_a = np.clip(np.floor((gy1 - np.maximum(ya, yb)) / dy).astype(np.int64), 0, nrows - 1)
    r_b = np.clip(np.floor((gy1 - np.minimum(ya, yb)) / dy).astype(np.int64), 0, nrows - 1)
    nseg = r_b - r_a + 1
    total = int(nseg.sum())
    eidx = np.repeat(np.arange(len(xa)), nseg)
    offs = np.arange(total) - np.repeat(np.cumsum(nseg) - nseg, nseg)
    row = r_a[eidx] + offs

    exa, eya, exb, eyb = xa[eidx], ya[eidx], xb[eidx], yb[eidx]
    row_top = gy1 - row * dy
    row_bot = row_top - dy
    d_y = eyb - eya
    nzv = d_y != 0
    with np.errstate(divide="ignore", invalid="ignore"):
        t_top = np.where(nzv, (row_top - eya) / d_y, 0.0)
        t_bot = np.where(nzv, (row_bot - eya) / d_y, 1.0)
    tlo = np.clip(np.minimum(t_top, t_bot), 0.0, 1.0)
    thi = np.clip(np.maximum(t_top, t_bot), 0.0, 1.0)
    tlo = np.where(nzv, tlo, 0.0)
    thi = np.where(nzv, thi, 1.0)
    sxa = exa + tlo * (exb - exa)
    sya = np.clip(eya + tlo * d_y, row_bot, row_top)
    sxb = exa + thi * (exb - exa)
    syb = np.clip(eya + thi * d_y, row_bot, row_top)

    # ---- split at column boundaries ----
    c_a = np.clip(np.floor((np.minimum(sxa, sxb) - gx0) / dx).astype(np.int64), 0, ncols - 1)
    c_b = np.clip(np.floor((np.maximum(sxa, sxb) - gx0) / dx).astype(np.int64), 0, ncols - 1)
    ncseg = c_b - c_a + 1
    total2 = int(ncseg.sum())
    sidx = np.repeat(np.arange(len(sxa)), ncseg)
    coffs = np.arange(total2) - np.repeat(np.cumsum(ncseg) - ncseg, ncseg)
    col = c_a[sidx] + coffs

    fxa, fya, fxb, fyb = sxa[sidx], sya[sidx], sxb[sidx], syb[sidx]
    erow = row[sidx]
    col_l = gx0 + col * dx
    col_r = col_l + dx
    d_x = fxb - fxa
    nzh = d_x != 0
    with np.errstate(divide="ignore", invalid="ignore"):
        t_l = np.where(nzh, (col_l - fxa) / d_x, 0.0)
        t_r = np.where(nzh, (col_r - fxa) / d_x, 1.0)
    tlo2 = np.clip(np.minimum(t_l, t_r), 0.0, 1.0)
    thi2 = np.clip(np.maximum(t_l, t_r), 0.0, 1.0)
    tlo2 = np.where(nzh, tlo2, 0.0)
    thi2 = np.where(nzh, thi2, 1.0)
    pxa = np.clip(fxa + tlo2 * d_x, col_l, col_r)
    pya = fya + tlo2 * (fyb - fya)
    pxb = np.clip(fxa + thi2 * d_x, col_l, col_r)
    pyb = fya + thi2 * (fyb - fya)
    # preserve direction: tlo2/thi2 sort by t along the segment, which is the
    # original direction, so (pa -> pb) keeps the edge's orientation.

    return erow, col, pxa, pya, pxb, pyb


def _closed_edges(ring) -> "tuple[np.ndarray, np.ndarray]":
    """(start, end) points of a ring's edges, closing the ring when its
    last point is not its first."""
    pts = np.asarray(ring, dtype=np.float64)
    if not (pts[0] == pts[-1]).all():
        pts = np.vstack([pts, pts[0]])
    return pts[:-1], pts[1:]


def coverage_fraction_ring(grid: Grid, ring: np.ndarray) -> np.ndarray:
    """Signed coverage fraction of one ring, sign = ring orientation
    (CCW positive). Exact closed-form integration, see module docstring."""
    nrows, ncols = grid.nrows, grid.ncols
    out = np.zeros((nrows, ncols), dtype=np.float64)
    if nrows == 0 or ncols == 0 or len(ring) < 3:
        return out
    p0, p1 = _closed_edges(ring)
    horiz = p0[:, 1] == p1[:, 1]
    p0, p1 = p0[~horiz], p1[~horiz]
    if len(p0) == 0:
        return out
    row, col, xa, ya, xb, yb = _split_segments_to_cells(p0, p1, grid, clamp_x=True)
    if len(row) == 0:
        return out
    d_y = yb - ya  # signed along edge direction
    col_r = grid.xmin + (col + 1) * grid.dx
    xm = 0.5 * (xa + xb)
    flat = row * ncols + col
    n = nrows * ncols
    # A: partial-width term inside the crossed cell; C: winding deposit
    A = np.bincount(flat, weights=-d_y * (col_r - xm), minlength=n).reshape(nrows, ncols)
    C = np.bincount(flat, weights=-d_y, minlength=n).reshape(nrows, ncols)
    out = A + grid.dx * _exclusive_cumsum(C, axis=-1)
    out /= grid.dx * grid.dy
    return out


def reject_mixed_collection(geom: Geometry) -> None:
    """The reference refuses GeometryCollections mixing areal and linear
    elements (raster_cell_intersection.cpp:121-142) — coverage semantics
    would be ambiguous. Raise the same way instead of silently using only
    the polygons."""
    if (
        geom.kind == "GeometryCollection"
        and geom.polygons()
        and geom.linestrings()
    ):
        raise ValueError(
            "GeometryCollection mixes areal and linear elements; "
            "supply polygons and linestrings separately"
        )


def coverage_fraction(grid: Grid, geom: Geometry) -> np.ndarray:
    """Per-cell covered fraction in [0, 1] for a (Multi)Polygon /
    GeometryCollection. Exterior rings add |cov|, holes subtract
    (ref raster_cell_intersection.cpp:308-310, 423-431).

    A purely linear/point geometry raises (the reference refuses
    non-polygonal features on the areal path,
    test_exact_extract_errors.R:38-45); genuinely empty geometries yield
    all-zero coverage (the feature keeps its NA row downstream)."""
    reject_mixed_collection(geom)
    if not geom.polygons() and (
        geom.linestrings() or geom.kind in ("Point", "MultiPoint")
    ):
        raise ValueError(
            f"geometry of kind {geom.kind!r} is not polygonal; areal stats "
            "need polygons — use exact_extract_lines for linear features"
        )
    out = np.zeros((grid.nrows, grid.ncols), dtype=np.float64)
    for ring, sign in _signed_rings(geom):
        out += coverage_fraction_ring(grid, ring) * sign
    # tiny negative fuzz from float cancellation
    np.maximum(out, 0.0, out=out)
    return out


def _signed_rings(geom: Geometry):
    """The rings ``coverage_fraction`` sums, each with its sign: +1 or -1
    so that an exterior ring adds |coverage| and a hole subtracts it
    whatever its orientation."""
    for rings in geom.polygons():
        for i, ring in enumerate(rings):
            if len(ring) < 3:
                continue
            orient = 1.0 if signed_area(np.asarray(ring, dtype=np.float64)) >= 0 else -1.0
            yield ring, (orient if i == 0 else -orient)


def _edges_meet_box(a: np.ndarray, b: np.ndarray, x0, y0, x1, y1) -> bool:
    """Whether any edge ``a[i] -> b[i]`` meets the closed box: its bbox
    overlaps the box and the box corners do not all lie strictly on one
    side of its line (the separating-axis test of a segment and a box)."""
    ax, ay, bx, by = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
    near = ((np.minimum(ax, bx) <= x1) & (np.maximum(ax, bx) >= x0)
            & (np.minimum(ay, by) <= y1) & (np.maximum(ay, by) >= y0))
    if not near.any():
        return False
    ax, ay, bx, by = ax[near], ay[near], bx[near], by[near]
    ex, ey = bx - ax, by - ay
    side = [ex * (qy - ay) - ey * (qx - ax)
            for qx, qy in ((x0, y0), (x1, y0), (x0, y1), (x1, y1))]
    return bool(((np.minimum.reduce(side) <= 0) & (np.maximum.reduce(side) >= 0)).any())


def _winding(a: np.ndarray, b: np.ndarray, px: float, py: float) -> int:
    """Winding number of the closed ring with edges ``a[i] -> b[i]`` about
    (px, py), counter-clockwise positive: the signed crossings of the ray
    to the right of the point, half-open in y."""
    ay, by = a[:, 1], b[:, 1]
    up = (ay <= py) & (by > py)
    down = (by <= py) & (ay > py)
    cross = up | down
    if not cross.any():
        return 0
    ax, bx, ay, by = a[cross, 0], b[cross, 0], ay[cross], by[cross]
    right = ax + (py - ay) * (bx - ax) / (by - ay) > px
    return int(np.count_nonzero(right & up[cross])) - int(np.count_nonzero(right & down[cross]))


def tile_class(grid: Grid, geom: Geometry) -> str:
    """What ``coverage_fraction(grid, geom)`` would give, found without the
    integral: ``EXTERIOR`` when it is 0 in every cell, ``INTERIOR`` when it
    is 1 in every cell, ``BOUNDARY`` otherwise or when the geometry is not
    purely polygonal (the integral then raises, or handles it).

    When no ring edge meets the closed grid box, widened by 1e-9 of its
    size so that float noise cannot hide a touching edge, every ring's
    winding number is one constant over the box. The integrand of every
    cell is then the signed sum of those winding numbers, clamped at 0 as
    ``coverage_fraction`` clamps it; it is read at the box centre. A sum
    of 1 is one part's exterior ring around the box, outside all its holes
    (the reference's flood-filled interior, floodfill.cpp:22-39); a sum of
    2 or more (overlapping parts) stays with the integral.

    On a grid whose coordinates, cell steps and vertices are exact in
    binary at the raster's scale the integral gives exactly 1 and 0 on
    such boxes; elsewhere it gives 1 and 0 to within about 1e-14, where
    this answer is the reference's exact value."""
    if not geom.polygons() or geom.linestrings():
        return BOUNDARY
    pad = 1e-9 * ((grid.xmax - grid.xmin) + (grid.ymax - grid.ymin))
    box = (grid.xmin - pad, grid.ymin - pad, grid.xmax + pad, grid.ymax + pad)
    cx, cy = 0.5 * (grid.xmin + grid.xmax), 0.5 * (grid.ymin + grid.ymax)
    total = 0.0
    for ring, sign in _signed_rings(geom):
        a, b = _closed_edges(ring)
        if _edges_meet_box(a, b, *box):
            return BOUNDARY
        total += sign * _winding(a, b, cx, cy)
    if total <= 0:
        return EXTERIOR
    return INTERIOR if total == 1 else BOUNDARY


def cell_lengths(
    grid: Grid,
    geom: Geometry,
    *,
    closed_bottom: bool = True,
    closed_right: bool = True,
) -> np.ndarray:
    """Per-cell traversal length for LineStrings — the reference's linear
    analog of coverage (raster_cell_intersection.cpp:250-259).

    Boundary ownership follows the global floor convention: a segment on a
    row/column boundary belongs to the cell BELOW/RIGHT of it, so a segment
    on this grid's top or left edge is counted here, while one on the
    bottom/right edge belongs to the neighboring grid — EXCEPT when that
    edge is the raster's outer edge (``closed_bottom``/``closed_right``,
    the default for a standalone grid), where it clamps inward. Tiled
    callers pass the flags so a boundary line is counted exactly once.

    A polygonal or point geometry raises (the mirror of
    ``coverage_fraction``'s refusal of lines): it has no traversal length,
    and reporting none would read as a line that misses the raster."""
    reject_mixed_collection(geom)
    if not geom.linestrings() and (
        geom.polygons() or geom.kind in ("Point", "MultiPoint")
    ):
        raise ValueError(
            f"geometry of kind {geom.kind!r} is not linear; line stats "
            "need linestrings — use exact_extract for polygons"
        )
    nrows, ncols = grid.nrows, grid.ncols
    out = np.zeros((nrows, ncols), dtype=np.float64)
    for line in geom.linestrings():
        pts = np.asarray(line, dtype=np.float64)
        if len(pts) < 2:
            continue
        # Liang-Barsky clip of each segment to the grid box (drop outside
        # parts; unlike polygons, lines carry no winding so a plain clip is
        # the right semantics)
        p0, p1 = pts[:-1].astype(np.float64), pts[1:].astype(np.float64)
        dxs = p1[:, 0] - p0[:, 0]
        dys = p1[:, 1] - p0[:, 1]
        t0 = np.zeros(len(p0))
        t1 = np.ones(len(p0))
        for d, lo, hi in (
            (dxs, grid.xmin - p0[:, 0], grid.xmax - p0[:, 0]),
            (dys, grid.ymin - p0[:, 1], grid.ymax - p0[:, 1]),
        ):
            with np.errstate(divide="ignore", invalid="ignore"):
                ta = np.where(d != 0, lo / d, np.where(lo > 0, np.inf, -np.inf))
                tb = np.where(d != 0, hi / d, np.where(hi < 0, -np.inf, np.inf))
            t0 = np.maximum(t0, np.minimum(ta, tb))
            t1 = np.minimum(t1, np.maximum(ta, tb))
        ok = t0 < t1
        if not ok.any():
            continue
        q0 = p0[ok] + t0[ok, None] * np.column_stack([dxs[ok], dys[ok]])
        q1 = p0[ok] + t1[ok, None] * np.column_stack([dxs[ok], dys[ok]])
        # open-edge ownership: segments lying ENTIRELY on an open boundary
        # belong to the neighboring grid
        if not closed_bottom:
            on_bot = (q0[:, 1] == grid.ymin) & (q1[:, 1] == grid.ymin)
            q0, q1 = q0[~on_bot], q1[~on_bot]
        if not closed_right and len(q0):
            on_right = (q0[:, 0] == grid.xmax) & (q1[:, 0] == grid.xmax)
            q0, q1 = q0[~on_right], q1[~on_right]
        if len(q0) == 0:
            continue
        row, col, xa, ya, xb, yb = _split_segments_to_cells(
            q0, q1, grid, clamp_x=False, inclusive_y=True
        )
        if len(row) == 0:
            continue
        L = np.hypot(xb - xa, yb - ya)
        flat = row * ncols + col
        out += np.bincount(flat, weights=L, minlength=nrows * ncols).reshape(
            nrows, ncols
        )
    return out
