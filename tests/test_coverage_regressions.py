"""Real-world robustness regressions from the reference Catch2 suite
(/root/reference/src/exactextract/test/test_raster_cell_intersection.cpp:440-614).

The WKT resource files are read from the reference tree (read-only) — they
are test DATA, not code — and the tests that need them skip when it is
absent. Seeded in-repo geometries with the same properties (a ring of
thousands of vertices over hundreds of cells, a polygon on the antimeridian
on a sub-degree grid, a cell-wall-aligned polygon with an exact integer
coverage sum) keep those properties covered without them.
"""

from pathlib import Path

import numpy as np
import pytest

from exactextractr_spark.core.coverage import coverage_fraction
from exactextractr_spark.core.geom import from_wkt
from exactextractr_spark.core.grid import Box, Grid

RES = Path("/root/reference/src/exactextract/test/resources")
needs_resources = pytest.mark.skipif(
    not RES.is_dir(), reason="reference test resources not present"
)


def load_wkt(name: str) -> str:
    # files are C++ string literals: "WKT..." possibly multi-line
    text = RES.joinpath(name).read_text()
    return text.strip().strip('"')


def crop_cov(grid: Grid, wkt: str):
    geom = from_wkt(wkt)
    b = geom.bounds()
    sub = grid.crop(Box(*b))
    return sub, coverage_fraction(sub, geom), geom


def test_fiji():
    # rightmost edge exactly on a cell wall (cpp:440-451)
    grid = Grid(-180.5, -90.5, 180.5, 90.5, 0.5, 0.5)
    fiji = (
        "MULTIPOLYGON (((178.3736000000001 -17.33992000000002, 178.71806000000007 "
        "-17.62845999999996, 178.5527099999999 -18.150590000000008, 177.93266000000008 "
        "-18.287990000000036, 177.38145999999992 -18.164319999999975, 177.28504000000007 "
        "-17.72464999999997, 177.67087 -17.381139999999974, 178.12557000000007 "
        "-17.50480999999995, 178.3736000000001 -17.33992000000002)), "
        "((179.36414266196417 -16.801354076946836, 178.7250593629972 -17.012041674368007, "
        "178.5968385951172 -16.63915000000003, 179.0966093629972 -16.43398427754741, "
        "179.4135093629972 -16.379054277547382, 180.00000000000003 -16.06713266364241, "
        "180.00000000000003 -16.555216566639146, 179.36414266196417 -16.801354076946836)), "
        "((-179.91736938476527 -16.501783135649347, -179.99999999999997 -16.555216566639146, "
        "-179.99999999999997 -16.06713266364241, -179.79332010904858 -16.020882256741217, "
        "-179.91736938476527 -16.501783135649347)))"
    )
    sub, cov, geom = crop_cov(grid, fiji)
    assert np.isfinite(cov).all()
    assert cov.min() >= -1e-12
    assert cov.sum() * sub.dx * sub.dy == pytest.approx(geom.area(), rel=1e-9)


def test_small_polygon_single_cell():
    grid = Grid(0, 0, 10, 10, 10, 10)
    cov = coverage_fraction(grid, from_wkt("POLYGON ((3 3, 4 3, 4 4, 3 4, 3 3))"))
    np.testing.assert_allclose(cov, [[0.01]], atol=1e-15)


def test_fill_handled_correctly():
    # cpp:465-481: concave polygon with a slot — fill must not leak
    grid = Grid(0, 0, 3, 5, 1, 1)
    cov = coverage_fraction(
        grid,
        from_wkt(
            "POLYGON ((0.5 0.2, 2.2 0.2, 2.2 0.4, 0.7 0.4, 0.7 2.2, 2.2 2.2, "
            "2.2 0.6, 2.4 0.6, 2.4 4.8, 0.5 4.8, 0.5 0.2))"
        ),
    )
    want = np.array(
        [
            [0.40, 0.80, 0.32],
            [0.50, 1.00, 0.40],
            [0.44, 0.80, 0.36],
            [0.20, 0.00, 0.20],
            [0.22, 0.20, 0.12],
        ]
    )
    np.testing.assert_allclose(cov, want, atol=1e-12)


def test_result_indexing():
    # cpp:483-511: crop offsets within a larger grid
    grid = Grid(-20, -15, 40, 30, 0.5, 1)
    geom = from_wkt("POLYGON ((0.25 0.20, 2.75 0.20, 2.75 4.5, 0.25 4.5, 0.25 0.20))")
    sub = grid.crop(Box(*geom.bounds()))
    assert sub.nrows == 5 and sub.ncols == 6
    r_off, c_off = grid.row_col_offset(sub)
    assert (r_off, c_off) == (25, 40)
    cov = coverage_fraction(sub, geom)
    want = np.array(
        [
            [0.25, 0.50, 0.50, 0.50, 0.50, 0.25],
            [0.50, 1.00, 1.00, 1.00, 1.00, 0.50],
            [0.50, 1.00, 1.00, 1.00, 1.00, 0.50],
            [0.50, 1.00, 1.00, 1.00, 1.00, 0.50],
            [0.40, 0.80, 0.80, 0.80, 0.80, 0.40],
        ]
    )
    np.testing.assert_allclose(cov, want, atol=1e-12)


@needs_resources
@pytest.mark.parametrize(
    "fname,grid",
    [
        ("antarctica.wkt", Grid(-180, -90, 180, 90, 1 / 6, 1 / 6)),  # regression #1
        ("russia.wkt", Grid(-180, -90, 180, 90, 1 / 6, 1 / 6)),  # regression #2
        (
            "regression4.wkt",
            Grid(-166.84166666666667, 66.991666666666674, -152.625, 71.358333333333334,
                 0.0083333333333333332, 0.0083333333333333332),
        ),
    ],
)
def test_robustness_no_throw_and_area(fname, grid):
    sub, cov, geom = crop_cov(grid, load_wkt(fname))
    assert np.isfinite(cov).all()
    assert cov.min() >= -1e-9
    assert cov.max() <= 1 + 1e-9
    # area invariant restricted to the grid (these polygons lie inside it)
    assert cov.sum() * sub.dx * sub.dy == pytest.approx(geom.area(), rel=1e-6)


def test_regression3_sliver():
    grid = Grid(
        179.96666666664618,
        -16.541666666669137,
        179.99999999997954,
        -16.475000000002474,
        0.0083333333333328596,
        0.0083333333333328596,
    )
    geom = from_wkt(
        "POLYGON ((179.9715827094184135 -16.5409617106119526, "
        "180.0000000000000000 -16.5326999999999984, "
        "179.9872884114583655 -16.5342697143554425, "
        "179.9715827094184135 -16.5409617106119526))"
    )
    cov = coverage_fraction(grid, geom)
    assert np.isfinite(cov).all()


@needs_resources
def test_regression6_exact_sum():
    # cpp:575-597: total coverage exactly 823.0, all fractions in [0,1]
    grid = Grid(145.925, -35.525, 147.375, -33.475, 0.05, 0.05)
    geom = from_wkt(load_wkt("regression6.wkt"))
    cov = coverage_fraction(grid, geom)
    assert cov.min() >= -1e-12
    assert cov.max() <= 1 + 1e-12
    assert cov.sum() == pytest.approx(823.0, abs=1e-6)


def test_regression7_degenerate_sliver():
    # cpp:599-614: near-degenerate triangle with a duplicate vertex pair;
    # fractions must stay within [0, polygon_area/cell_area]
    grid = Grid(487800, 5813800, 492800, 5818800, 100, 100)
    geom = from_wkt(
        "POLYGON ((492094.9283999996 5816959.8553, "
        "492374.9335527361 5816811.352641133, "
        "492374.9335527363 5816811.352641133, "
        "492094.9283999996 5816959.8553))"
    )
    cov = coverage_fraction(grid, geom)
    max_frac = geom.area() / (grid.dx * grid.dy)
    # the polygon's true area (~1e-9 m^2) is below float64 shoelace noise at
    # coordinate magnitude ~5e6, so compare with an absolute fraction fuzz
    assert cov.min() >= -1e-12
    assert cov.max() <= max_frac + 1e-9


def _polygon_wkt(ring: np.ndarray) -> str:
    """WKT of one closed ring, coordinates written exactly (repr)."""
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


def _star_arc(rng, n, cx, cy, r0, r1, t0, t1) -> np.ndarray:
    """``n`` vertices at sorted random angles in (t0, t1) and random radii
    in [r0, r1] around (cx, cy): consecutive by angle, so the ring they
    close is simple (star-shaped about the center)."""
    theta = np.sort(rng.uniform(t0, t1, n))
    r = rng.uniform(r0, r1, n)
    return np.column_stack([cx + r * np.cos(theta), cy + r * np.sin(theta)])


def test_many_vertex_ring_area_invariant():
    # stands in for the antarctica/russia regressions: a seeded ring of
    # 5,000 vertices over ~1,500 cells of a 1/6-degree global grid
    rng = np.random.default_rng(11)
    pts = _star_arc(rng, 5000, -60.3, -75.2, 1.5, 4.0, 0.0, 2 * np.pi)
    wkt = _polygon_wkt(np.vstack([pts, pts[:1]]))
    sub, cov, geom = crop_cov(Grid(-180, -90, 180, 90, 1 / 6, 1 / 6), wkt)
    assert sub.nrows * sub.ncols > 1000
    assert np.isfinite(cov).all()
    assert cov.min() >= -1e-9
    assert cov.max() <= 1 + 1e-9
    assert cov.sum() * sub.dx * sub.dy == pytest.approx(geom.area(), rel=1e-9)


def test_antimeridian_polygon_on_subdegree_grid():
    # stands in for regression3/regression4: a seeded polygon whose right
    # edge lies on x = 180, the east edge of a 1/120-degree grid
    rng = np.random.default_rng(12)
    arc = _star_arc(rng, 400, 180.0, -16.5, 0.2, 0.45, np.pi / 2, 3 * np.pi / 2)
    ring = np.vstack([[(180.0, -16.05)], arc, [(180.0, -16.95), (180.0, -16.05)]])
    sub, cov, geom = crop_cov(Grid(179.0, -17.0, 180.0, -16.0, 1 / 120, 1 / 120),
                              _polygon_wkt(ring))
    assert np.isfinite(cov).all()
    assert cov.min() >= -1e-9
    assert cov.max() <= 1 + 1e-9
    assert cov.sum() * sub.dx * sub.dy == pytest.approx(geom.area(), rel=1e-9)


def test_cell_wall_aligned_exact_sum():
    # stands in for regression6 (coverage sums to exactly 823.0): a seeded
    # staircase polygon whose every edge lies on a cell wall of the same
    # grid, so its coverage sums to its whole number of cells
    grid = Grid(145.925, -35.525, 147.375, -33.475, 0.05, 0.05)
    rng = np.random.default_rng(13)
    cols = np.arange(3, 26)
    bottom = rng.integers(0, 10, len(cols))
    top = rng.integers(12, 40, len(cols))
    x = [grid.xmin + j * grid.dx for j in range(cols[0], cols[-1] + 2)]
    y = lambda k: grid.ymin + k * grid.dy  # noqa: E731
    ring = []
    for i, b in enumerate(bottom):
        ring += [(x[i], y(b)), (x[i + 1], y(b))]
    for i in range(len(cols) - 1, -1, -1):
        ring += [(x[i + 1], y(top[i])), (x[i], y(top[i]))]
    ring.append(ring[0])
    cov = coverage_fraction(grid, from_wkt(_polygon_wkt(np.array(ring))))
    want = int((top - bottom).sum())
    assert cov.min() >= -1e-12
    assert cov.max() <= 1 + 1e-12
    assert cov.sum() == pytest.approx(want, abs=1e-6)
