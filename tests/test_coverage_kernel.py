"""Coverage-kernel goldens mirroring the reference Catch2/testthat suites.

Golden values from:
- /root/reference/src/exactextract/test/test_raster_cell_intersection.cpp
- /root/reference/tests/testthat/test_coverage_fraction.R
"""

import numpy as np
import pytest

from exactextractr_spark.core.coverage import (
    cell_lengths,
    coverage_fraction,
)
from exactextractr_spark.core.geom import from_wkt
from exactextractr_spark.core.grid import Grid

G33 = Grid(0, 0, 3, 3, 1, 1)  # the canonical 3x3 unit grid


def cov(wkt, grid=G33):
    return coverage_fraction(grid, from_wkt(wkt))


def test_canonical_square():
    # test_raster_cell_intersection.cpp:49-68 / test_coverage_fraction.R:16-38
    got = cov("POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))")
    want = np.array([[0.25, 0.5, 0.25], [0.5, 1.0, 0.5], [0.25, 0.5, 0.25]])
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_clockwise_ring_same_result():
    got = cov("POLYGON ((0.5 0.5, 0.5 2.5, 2.5 2.5, 2.5 0.5, 0.5 0.5))")
    want = np.array([[0.25, 0.5, 0.25], [0.5, 1.0, 0.5], [0.25, 0.5, 0.25]])
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_grid_aligned_square():
    got = cov("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")
    want = np.zeros((3, 3))
    want[1, 1] = 1.0
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_full_extent():
    got = cov("POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))")
    np.testing.assert_allclose(got, np.ones((3, 3)), atol=1e-14)


def test_polygon_with_hole():
    # outer square minus centered 1x1 hole
    got = cov(
        "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))"
    )
    want = np.ones((3, 3))
    want[1, 1] = 0.0
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_small_geometry_within_cell():
    # raster_cell_intersection.cpp:283-304 small-geometry path
    got = cov("POLYGON ((1.25 1.25, 1.75 1.25, 1.75 1.75, 1.25 1.75, 1.25 1.25))")
    want = np.zeros((3, 3))
    want[1, 1] = 0.25
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_triangle_diagonals():
    # right triangle covering lower-left half of one cell
    got = cov("POLYGON ((1 1, 2 1, 1 2, 1 1))")
    want = np.zeros((3, 3))
    want[1, 1] = 0.5
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_polygon_extending_beyond_grid():
    # polygon covering everything left of x=1.5 including area outside grid
    got = cov("POLYGON ((-5 -5, 1.5 -5, 1.5 8, -5 8, -5 -5))")
    want = np.tile([1.0, 0.5, 0.0], (3, 1))
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_polygon_fully_outside():
    got = cov("POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))")
    np.testing.assert_allclose(got, np.zeros((3, 3)), atol=1e-14)


def test_multipolygon_sums():
    got = cov(
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))"
    )
    want = np.zeros((3, 3))
    want[2, 0] = 1.0  # (0,0)-(1,1) is the bottom-left = row 2 col 0
    want[0, 2] = 1.0
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_geometrycollection_equals_multipolygon():
    # test_exact_extract.R:256-268
    mp = cov("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))")
    gc = cov(
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)), "
        "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2)))"
    )
    np.testing.assert_allclose(mp, gc, atol=1e-15)


def test_z_coordinates_dropped():
    a = cov("POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))")
    b = cov("POLYGON Z ((0.5 0.5 7, 2.5 0.5 7, 2.5 2.5 7, 0.5 2.5 7, 0.5 0.5 7))")
    np.testing.assert_allclose(a, b, atol=1e-15)


@pytest.mark.parametrize(
    "wkt",
    [
        "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))",
        "POLYGON ((0.2 0.2, 2.8 0.3, 2.7 2.9, 0.1 2.6, 0.2 0.2))",
        "POLYGON ((1 0, 3 1.5, 1 3, 0 1.5, 1 0))",
        # ring following grid lines (test_raster_cell_intersection.cpp:282-439)
        "POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 2 2, 2 3, 0 3, 0 0))",
        # start on boundary / bounce off boundary
        "POLYGON ((1 1, 2.5 1.5, 1 2, 1 1))",
        # hole
        "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0), (0.5 0.5, 0.5 1.5, 1.5 1.5, 1.5 0.5, 0.5 0.5))",
    ],
)
def test_area_invariant(wkt):
    """Sum(cov * cell_area) == polygon area (test_coverage_fraction.R:107-121)."""
    geom = from_wkt(wkt)
    got = coverage_fraction(G33, geom)
    assert got.sum() * 1.0 == pytest.approx(geom.area(), abs=1e-12)


def test_area_invariant_fine_grid_irregular():
    wkt = (
        "POLYGON ((0.31 0.06, 2.95 0.12, 2.87 1.44, 1.5 1.2, 0.9 2.9, 0.12 2.4, "
        "0.31 0.06))"
    )
    geom = from_wkt(wkt)
    g = Grid(0, 0, 3, 3, 3 / 17, 3 / 13)
    got = coverage_fraction(g, geom)
    assert (got.sum() * g.dx * g.dy) == pytest.approx(geom.area(), rel=1e-12)
    assert got.min() >= -1e-12 and got.max() <= 1 + 1e-12


def test_circle_area_invariant():
    # buffered point like make_circle (helper_functions.R:31-37)
    theta = np.linspace(0, 2 * np.pi, 257)
    xs = 5 + 2 * np.cos(theta)
    ys = 4 + 2 * np.sin(theta)
    wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in zip(xs, ys)) + "))"
    geom = from_wkt(wkt)
    g = Grid(0, 0, 10, 10, 1, 1)
    got = coverage_fraction(g, geom)
    assert got.sum() == pytest.approx(geom.area(), rel=1e-12)


def test_partial_overlap_with_grid_edge():
    # polygon hanging off the grid: only the inside part counts
    g = Grid(0, 0, 2, 2, 1, 1)
    got = cov("POLYGON ((1.5 1.5, 2.5 1.5, 2.5 2.5, 1.5 2.5, 1.5 1.5))", g)
    want = np.zeros((2, 2))
    want[0, 1] = 0.25
    np.testing.assert_allclose(got, want, atol=1e-14)


def test_overlapping_multipolygon_exceeds_one():
    # invalid multipolygon: parts overlap -> fractions sum (R/exact_extract.R:30-31)
    got = cov(
        "MULTIPOLYGON (((0 0, 3 0, 3 3, 0 3, 0 0)), ((1 1, 2 1, 2 2, 1 2, 1 1)))"
    )
    assert got[1, 1] == pytest.approx(2.0)
    assert got[0, 0] == pytest.approx(1.0)


def test_linestring_lengths():
    g = Grid(0, 0, 3, 3, 1, 1)
    got = cell_lengths(g, from_wkt("LINESTRING (0 0.5, 3 0.5)"))
    want = np.zeros((3, 3))
    want[2, :] = 1.0
    np.testing.assert_allclose(got, want, atol=1e-14)
    got = cell_lengths(g, from_wkt("LINESTRING (0 0, 3 3)"))
    assert got.sum() == pytest.approx(np.hypot(3, 3), rel=1e-12)
    # polygons and points have no traversal length: refused, not zero
    for wkt in ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POINT (1 1)"):
        with pytest.raises(ValueError, match="not linear"):
            cell_lengths(g, from_wkt(wkt))
