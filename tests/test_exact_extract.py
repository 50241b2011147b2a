"""End-to-end exact_extract goldens mirroring the reference testthat suite
(/root/reference/tests/testthat/test_exact_extract.R; fixtures in
/root/repo/FIXTURES.md)."""

import math

import numpy as np
import pytest

from exactextractr_spark.operators.zonal import exact_extract
from exactextractr_spark.sources.features import features_from_wkt
from exactextractr_spark.sources.tiles import Raster, RasterMeta

SQ_WKT = "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"


def meta33(layer="values"):
    return RasterMeta(layer=layer, xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3)


@pytest.fixture(scope="module")
def r19(spark):
    """values 1..9 row-major on (0,0)-(3,3) (test_exact_extract.R:22-27)."""
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    return Raster.from_array(spark, arr, meta33())


@pytest.fixture(scope="module")
def sq(spark):
    return features_from_wkt(spark, [SQ_WKT])


def one_row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


def test_basic_stats(spark, r19, sq):
    # goldens: test_exact_extract.R:42-55
    got = one_row(
        exact_extract(
            r19,
            sq,
            ["count", "sum", "mean", "min", "max", "variance", "stdev",
             "coefficient_of_variation", "variety", "mode", "majority", "minority",
             "median", "quantile"],
            quantiles=[0.25, 0.75],
        )
    )
    assert got["count"] == pytest.approx(4.0)
    assert got["sum"] == pytest.approx(20.0)
    assert got["mean"] == pytest.approx(5.0)
    assert got["min"] == 1.0
    assert got["max"] == 9.0
    assert got["variance"] == pytest.approx(5.0)
    assert got["stdev"] == pytest.approx(math.sqrt(5.0))
    assert got["coefficient_of_variation"] == pytest.approx(math.sqrt(5.0) / 5.0)
    assert got["variety"] == 9
    assert got["mode"] == 5.0
    assert got["majority"] == 5.0
    assert got["minority"] == 1.0
    assert got["median"] == pytest.approx(5.0)
    assert got["q25"] == pytest.approx(3.5)
    assert got["q75"] == pytest.approx(6.5)


def test_equal_weights(spark, r19, sq):
    # test_exact_extract.R:65-92: all-1 weights -> weighted == unweighted
    ones = Raster.from_array(spark, np.ones((3, 3)), meta33("w"))
    got = one_row(
        exact_extract(
            r19,
            sq,
            ["mean", "weighted_mean", "sum", "weighted_sum", "variance",
             "weighted_variance", "stdev", "weighted_stdev"],
            weights=ones,
        )
    )
    assert got["weighted_mean"] == pytest.approx(got["mean"]) == pytest.approx(5.0)
    assert got["weighted_sum"] == pytest.approx(got["sum"]) == pytest.approx(20.0)
    assert got["weighted_variance"] == pytest.approx(got["variance"])
    assert got["weighted_stdev"] == pytest.approx(got["stdev"])


def test_bottom_row_weights(spark, r19, sq):
    # test_exact_extract.R:94-105
    w = np.zeros((3, 3))
    w[2, :] = 1.0
    wr = Raster.from_array(spark, w, meta33("w"))
    got = one_row(
        exact_extract(
            r19,
            sq,
            ["weighted_mean", "weighted_sum", "weighted_stdev", "weighted_variance"],
            weights=wr,
        )
    )
    assert got["weighted_mean"] == pytest.approx(8.0)
    assert got["weighted_sum"] == pytest.approx(8.0)
    assert got["weighted_variance"] == pytest.approx(0.5)
    assert got["weighted_stdev"] == pytest.approx(0.7071068, rel=1e-6)


def test_frac(spark, sq):
    # FIXTURES F3 / test_exact_extract.R:108-135
    arr = np.array([[1, 1, 1], [2, 2, 2], [3, 3, 3]], dtype=np.float64)
    cat = Raster.from_array(spark, arr, meta33("cat"))
    feats = features_from_wkt(
        spark,
        [
            "POLYGON ((0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))",
            SQ_WKT,
        ],
    )
    df = exact_extract(cat, feats, ["count", "frac"]).orderBy("feature_id")
    rows = [r.asDict() for r in df.collect()]
    r1, r2 = rows
    assert r1["count"] == pytest.approx(0.25)
    assert r1["frac_1"] == pytest.approx(0.0)
    assert r1["frac_2"] == pytest.approx(0.0)
    assert r1["frac_3"] == pytest.approx(1.0)
    assert r2["count"] == pytest.approx(4.0)
    assert r2["frac_1"] == pytest.approx(0.25)
    assert r2["frac_2"] == pytest.approx(0.5)
    assert r2["frac_3"] == pytest.approx(0.25)


def test_weighted_frac(spark, sq):
    arr = np.array([[1, 1, 1], [2, 2, 2], [3, 3, 3]], dtype=np.float64)
    wts = np.array([[3, 3, 3], [2, 2, 2], [1, 1, 1]], dtype=np.float64)
    cat = Raster.from_array(spark, arr, meta33("cat"))
    wr = Raster.from_array(spark, wts, meta33("w"))
    feats = features_from_wkt(
        spark,
        ["POLYGON ((0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))", SQ_WKT],
    )
    df = exact_extract(cat, feats, ["weighted_frac", "sum"], weights=wr)
    rows = [r.asDict() for r in df.orderBy("feature_id").collect()]
    r1, r2 = rows
    assert r1["weighted_frac_1"] == pytest.approx(0.0)
    assert r1["weighted_frac_2"] == pytest.approx(0.0)
    assert r1["weighted_frac_3"] == pytest.approx(1.0)
    assert r1["sum"] == pytest.approx(0.75)
    assert r2["weighted_frac_1"] == pytest.approx(0.375)
    assert r2["weighted_frac_2"] == pytest.approx(0.5)
    assert r2["weighted_frac_3"] == pytest.approx(0.125)
    assert r2["sum"] == pytest.approx(8.0)


def test_na_handling(spark):
    # FIXTURES F4 / test_exact_extract.R:176-197
    arr = np.arange(1, 101, dtype=np.float64).reshape(10, 10)
    arr[6:10, 0:4] = np.nan  # rows 7-10 x cols 1-4 (1-based)
    meta = RasterMeta("v", xmin=0, ymax=10, dx=1, dy=1, width=10, height=10,
                      tile_w=10, tile_h=10)
    r = Raster.from_array(spark, arr, meta)
    feats = features_from_wkt(
        spark,
        [
            # square fully inside the NA region
            "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))",
            # square (3.5,3.5)-(4.5,4.5): sum = 43.5
            "POLYGON ((3.5 3.5, 4.5 3.5, 4.5 4.5, 3.5 4.5, 3.5 3.5))",
        ],
    )
    rows = [
        r_.asDict()
        for r_ in exact_extract(r, feats, ["count", "sum", "mean"]).collect()
    ]
    assert rows[0]["count"] == pytest.approx(0.0)
    assert rows[0]["sum"] == pytest.approx(0.0)
    assert rows[0]["mean"] is None
    assert rows[1]["sum"] == pytest.approx(43.5)


def test_multires_weights(spark):
    # FIXTURES F2 multiresolution (test_stats.cpp:101-129): value grid 8x6@1,
    # weight grid 4x3@2, polygon (3.5,1.5)-(6.5,2.5)
    vals = np.arange(1, 49, dtype=np.float64).reshape(6, 8)
    wts = np.arange(1, 13, dtype=np.float64).reshape(3, 4)
    vmeta = RasterMeta("v", xmin=0, ymax=6, dx=1, dy=1, width=8, height=6,
                       tile_w=8, tile_h=6)
    wmeta = RasterMeta("w", xmin=0, ymax=6, dx=2, dy=2, width=4, height=3,
                       tile_w=4, tile_h=3)
    rv = Raster.from_array(spark, vals, vmeta)
    rw = Raster.from_array(spark, wts, wmeta)
    feats = features_from_wkt(
        spark, ["POLYGON ((3.5 1.5, 6.5 1.5, 6.5 2.5, 3.5 2.5, 3.5 1.5))"]
    )
    got = one_row(exact_extract(rv, feats, ["weighted_mean", "mean"], weights=rw))
    # oracle: direct numpy computation of the same formula
    cov = np.zeros((6, 8))
    for rr in range(6):
        for cc in range(8):
            ox = max(0, min(6.5, cc + 1) - max(3.5, cc))
            oy = max(0, min(2.5, 6 - rr) - max(1.5, 5 - rr))
            cov[rr, cc] = ox * oy
    wfull = np.kron(wts, np.ones((2, 2)))
    want_wm = (vals * cov * wfull).sum() / (cov * wfull).sum()
    want_m = (vals * cov).sum() / cov.sum()
    assert got["weighted_mean"] == pytest.approx(want_wm, rel=1e-12)
    assert got["mean"] == pytest.approx(want_m, rel=1e-12)


def test_large_weight_raster_shuffles_not_broadcasts(spark, monkeypatch):
    """Above the size gate the weight tile payload must NOT be broadcast —
    the slim-key equi-join shuffles instead, and results stay bit-exact.
    Forces the gate with a zeroed threshold on a multi-tile weight grid."""
    import exactextractr_spark.operators.zonal as zmod

    vals = np.arange(1, 65, dtype=np.float64).reshape(8, 8)
    wts = (np.arange(64, dtype=np.float64).reshape(8, 8) % 7) + 1.0
    vmeta = RasterMeta("v", xmin=0, ymax=8, dx=1, dy=1, width=8, height=8,
                       tile_w=4, tile_h=4)
    # DIFFERENT tiling (one 8x8 weight tile vs 4x4 value tiles) so the
    # general cover-join path runs — the aligned fast path is asserted
    # separately below
    wmeta = RasterMeta("w", xmin=0, ymax=8, dx=1, dy=1, width=8, height=8,
                       tile_w=8, tile_h=8)
    rv = Raster.from_array(spark, vals, vmeta)
    rw = Raster.from_array(spark, wts, wmeta)
    feats = features_from_wkt(
        spark,
        [
            "POLYGON ((0.5 0.5, 6.5 0.5, 6.5 6.5, 0.5 6.5, 0.5 0.5))",
            "POLYGON ((2.2 1.8, 7.9 1.8, 7.9 7.4, 2.2 7.4, 2.2 1.8))",
        ],
    )
    stats = ["weighted_mean", "weighted_sum", "weighted_stdev"]
    want = [
        r.asDict()
        for r in exact_extract(rv, feats, stats, weights=rw)
        .orderBy("feature_id").collect()
    ]
    # force the over-threshold path; disable AQE auto-broadcast so that any
    # BroadcastExchange left in the plan could only come from a hint
    monkeypatch.setattr(zmod, "WEIGHT_BROADCAST_MAX_BYTES", 0)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got_df = exact_extract(rv, feats, stats, weights=rw)
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        # the weight-tile equi-join (keys w_tr/w_tc) must be a shuffle
        # join, never a broadcast-hash join of the payload side; other
        # broadcasts (per-feature aggregate result) are fine
        import re

        assert not re.search(r"BroadcastHashJoin \[w_tr", plan)
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[w_tr", plan)
        got = [r.asDict() for r in got_df.orderBy("feature_id").collect()]
        # ALIGNED weights (same grid + tiling): the fast path joins on the
        # tile index with no explode/collect_list, still without a
        # payload broadcast above the gate, and stays bit-exact
        wmeta2 = RasterMeta("w", xmin=0, ymax=8, dx=1, dy=1, width=8,
                            height=8, tile_w=4, tile_h=4)
        rw2 = Raster.from_array(spark, wts, wmeta2)
        want2 = [
            r.asDict()
            for r in exact_extract(rv, feats, stats, weights=rw2)
            .orderBy("feature_id").collect()
        ]
        got2_df = exact_extract(rv, feats, stats, weights=rw2)
        plan2 = got2_df._jdf.queryExecution().executedPlan().toString()
        # the weight attach is the tile-index join: above the gate it must
        # shuffle, not broadcast (the feature_id result broadcast is fine)
        assert not re.search(r"BroadcastHashJoin \[tile_row", plan2)
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[tile_row", plan2)
        assert "collect_list" not in plan2  # no regroup on the fast path
        got2 = [r.asDict() for r in got2_df.orderBy("feature_id").collect()]
        assert got2 == want2 == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert got == want


def test_weighted_variance(spark, r19, sq):
    # weighted variance/stdev: population variance with weight c_i*w_i
    # (ref raster_stats.h:320-341, second WestVariance fed ciwi)
    w = np.array([[3.0, 1.0, 2.0], [2.0, 5.0, 1.0], [1.0, 1.0, 4.0]])
    wr = Raster.from_array(spark, w, meta33("w"))
    got = one_row(
        exact_extract(r19, sq, ["weighted_variance", "weighted_stdev"], weights=wr)
    )
    vals = np.arange(1.0, 10.0).reshape(3, 3)
    cov = np.array([[0.25, 0.5, 0.25], [0.5, 1.0, 0.5], [0.25, 0.5, 0.25]])
    cw = cov * w
    m = (vals * cw).sum() / cw.sum()
    want = ((vals - m) ** 2 * cw).sum() / cw.sum()
    assert got["weighted_variance"] == pytest.approx(want, rel=1e-12)
    assert got["weighted_stdev"] == pytest.approx(np.sqrt(want), rel=1e-12)


def test_salted_cover_join_equivalence(spark, r19):
    # salting the per-tile feature lists (mega-polygon skew handling) must
    # not change any result — only the physical grouping
    feats = features_from_wkt(
        spark,
        [
            SQ_WKT,
            "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))",
            "POLYGON ((1.25 1.25, 1.75 1.25, 1.75 1.75, 1.25 1.75, 1.25 1.25))",
        ],
    )
    stats = ["mean", "sum", "count", "mode", "median"]
    base = exact_extract(r19, feats, stats).toPandas()
    salted = exact_extract(
        r19, feats, stats, broadcast_features=False, salt_buckets=4
    ).toPandas()
    assert base.equals(salted)


def test_finer_weights_disaggregate_values(spark):
    # weights FINER than values: the value raster is disaggregated onto the
    # finest common grid (ref RasterView raster.h:248-312 via
    # exact_extract.cpp:96-98); count/sum forbidden (exact_extract.cpp:329-332)
    vals = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    wts = np.arange(1, 37, dtype=np.float64).reshape(6, 6)
    vmeta = RasterMeta("v", xmin=0, ymax=6, dx=2, dy=2, width=3, height=3,
                       tile_w=3, tile_h=3)
    wmeta = RasterMeta("w", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                       tile_w=6, tile_h=6)
    rv = Raster.from_array(spark, vals, vmeta)
    rw = Raster.from_array(spark, wts, wmeta)
    feats = features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 4.5 0.5, 4.5 4.5, 0.5 4.5, 0.5 0.5))"]
    )
    got = one_row(
        exact_extract(rv, feats, ["weighted_mean", "mean", "weighted_sum"],
                      weights=rw)
    )
    # oracle at the fine (1x1) grid: values np.kron-upsampled
    vfull = np.kron(vals, np.ones((2, 2)))
    cov = np.zeros((6, 6))
    for rr in range(6):
        for cc in range(6):
            ox = max(0.0, min(4.5, cc + 1) - max(0.5, cc))
            oy = max(0.0, min(4.5, 6 - rr) - max(0.5, 5 - rr))
            cov[rr, cc] = ox * oy
    want_wm = (vfull * cov * wts).sum() / (cov * wts).sum()
    want_m = (vfull * cov).sum() / cov.sum()
    want_ws = (vfull * cov * wts).sum()
    assert got["weighted_mean"] == pytest.approx(want_wm, rel=1e-12)
    assert got["mean"] == pytest.approx(want_m, rel=1e-12)
    assert got["weighted_sum"] == pytest.approx(want_ws, rel=1e-12)
    with pytest.raises(ValueError, match="disaggregated"):
        exact_extract(rv, feats, ["count"], weights=rw)


def test_polygon_outside_raster(spark, r19):
    # test_exact_extract.R:433-485: disjoint polygon -> count/sum 0, mean NA
    feats = features_from_wkt(
        spark, ["POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))"]
    )
    got = one_row(exact_extract(r19, feats, ["count", "sum", "mean", "min", "max"]))
    assert got["count"] == 0.0
    assert got["sum"] == 0.0
    assert got["mean"] is None
    assert got["min"] is None


def test_multi_tile_chunking_equivalence(spark, sq):
    # chunking equivalence (test_exact_extract.R:598-604): same answer when
    # the raster is split into many small tiles — Spark partitions ARE the
    # reference's subdivide() chunks
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    tiny = RasterMeta("values", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=1, tile_h=2)
    r = Raster.from_array(spark, arr, tiny)
    got = one_row(
        exact_extract(r, sq, ["count", "sum", "mean", "variance", "median"])
    )
    assert got["count"] == pytest.approx(4.0)
    assert got["sum"] == pytest.approx(20.0)
    assert got["mean"] == pytest.approx(5.0)
    assert got["variance"] == pytest.approx(5.0)
    assert got["median"] == pytest.approx(5.0)


def test_default_value(spark):
    # test_exact_extract.R:1048-1086
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    arr[1, 1] = np.nan
    r = Raster.from_array(spark, arr, meta33())
    feats = features_from_wkt(spark, [SQ_WKT])
    got = one_row(exact_extract(r, feats, ["sum"], default_value=5.0))
    assert got["sum"] == pytest.approx(20.0)
    got2 = one_row(exact_extract(r, feats, ["sum"]))
    assert got2["sum"] == pytest.approx(15.0)


def test_coverage_area_mode(spark, r19, sq):
    # coverage_area=True: count becomes covered area (cell area = 1 here)
    got = one_row(exact_extract(r19, sq, ["count"], coverage_area=True))
    assert got["count"] == pytest.approx(4.0)


def test_area_weights(spark, r19, sq):
    # weights='area', cartesian: constant weight == unweighted
    got = one_row(
        exact_extract(r19, sq, ["weighted_mean", "mean"], weights="area")
    )
    assert got["weighted_mean"] == pytest.approx(got["mean"])


def test_z_polygon_sum_golden(spark):
    """POLYGON Z over the 5x5 1..25 raster: sum == 70.5 through both the
    named-stat (C++) path and the pixel (R-function) path
    (test_exact_extract.R:654-662, github issue #26)."""
    arr = np.arange(1, 26, dtype=np.float64).reshape(5, 5)
    meta = RasterMeta("v", xmin=0, ymax=5, dx=1, dy=1, width=5, height=5,
                      tile_w=5, tile_h=5)
    r = Raster.from_array(spark, arr, meta)
    feats = features_from_wkt(
        spark, ["POLYGON Z ((1 1 0, 4 1 0, 4 4 0, 1 1 0))"])
    assert one_row(exact_extract(r, feats, ["sum"]))["sum"] == pytest.approx(70.5)
    from exactextractr_spark.operators.zonal import exact_extract_pixels

    px = exact_extract_pixels(r, feats).collect()
    assert sum(p["value"] * p["coverage_fraction"] for p in px) == pytest.approx(70.5)


def test_polygon_straddling_raster_edge_clips(spark):
    """Portions outside the raster are ignored; surviving cells carry the
    correct world coordinates and 1-based cell ids
    (test_exact_extract.R:270-289, scaled down)."""
    from exactextractr_spark.operators.zonal import exact_extract_pixels

    arr = np.arange(1, 37, dtype=np.float64).reshape(6, 6)
    meta = RasterMeta("v", xmin=-3, ymax=3, dx=1, dy=1, width=6, height=6,
                      tile_w=3, tile_h=3)
    r = Raster.from_array(spark, arr, meta)
    # rectangle half past the right edge, one cell tall
    feats = features_from_wkt(spark, ["POLYGON ((2.5 0, 3.5 0, 3.5 1, 2.5 1, 2.5 0))"])
    rows = exact_extract_pixels(
        r, feats, include_xy=True, include_cell=True
    ).collect()
    # only the in-raster half-column of cells survives: x = 2.75 is outside;
    # covered cell centers at x=2.5, y=0.5 (row 2, col 5)
    assert len(rows) == 1
    p = rows[0]
    assert p["x"] == pytest.approx(2.5) and p["y"] == pytest.approx(0.5)
    assert p["cell"] == 2 * 6 + 5 + 1
    assert p["coverage_fraction"] == pytest.approx(0.5)


def test_polygon_outside_values_inside_weights_gives_na(spark):
    """Polygon entirely outside the value raster but inside the weight
    raster: weighted_mean is NaN/null, not an exception
    (test_exact_extract.R:642-652)."""
    varr = np.arange(1, 26, dtype=np.float64).reshape(5, 5)
    vmeta = RasterMeta("v", xmin=5, ymax=10, dx=1, dy=1, width=5, height=5,
                       tile_w=5, tile_h=5)
    v = Raster.from_array(spark, varr, vmeta)
    warr = np.ones((10, 10))
    wmeta = RasterMeta("w", xmin=0, ymax=10, dx=1, dy=1, width=10, height=10,
                       tile_w=10, tile_h=10)
    w = Raster.from_array(spark, warr, wmeta)
    feats = features_from_wkt(
        spark, ["POLYGON ((1.5 1.5, 2.7 1.5, 2.7 2.7, 1.5 2.7, 1.5 1.5))"])
    row = one_row(exact_extract(v, feats, ["weighted_mean"], weights=w))
    assert row["weighted_mean"] is None or math.isnan(row["weighted_mean"])


def test_unweighted_stat_unaffected_by_weight_raster_gaps(spark):
    """sum requested together with weighted_mean must equal sum alone, even
    when the polygon partially leaves the weight raster
    (test_exact_extract.R:626-640)."""
    varr = np.arange(1, 26, dtype=np.float64).reshape(5, 5)
    vmeta = RasterMeta("v", xmin=0, ymax=5, dx=1, dy=1, width=5, height=5,
                       tile_w=5, tile_h=5)
    v = Raster.from_array(spark, varr, vmeta)
    warr = np.sqrt(np.arange(1, 16, dtype=np.float64)).reshape(3, 5)
    wmeta = RasterMeta("w", xmin=0, ymax=5, dx=1, dy=1, width=5, height=3,
                       tile_w=5, tile_h=3)
    w = Raster.from_array(spark, warr, wmeta)
    feats = features_from_wkt(
        spark, ["POLYGON ((1.1 1.1, 3.1 1.1, 3.1 3.1, 1.1 3.1, 1.1 1.1))"])
    alone = one_row(exact_extract(v, feats, ["sum"]))["sum"]
    both = one_row(exact_extract(v, feats, ["sum", "weighted_mean"], weights=w))
    assert both["sum"] == pytest.approx(alone, rel=1e-12)


def test_frac_cardinality_guard(spark, monkeypatch):
    """A continuous-valued raster fails LOUDLY on frac instead of building
    a pivot with one column per float (cap is limit-bounded, no full
    driver collect)."""
    import exactextractr_spark.operators.zonal as zonal_mod

    monkeypatch.setattr(zonal_mod, "MAX_FRAC_VALUES", 4)
    arr = np.arange(9, dtype=np.float64).reshape(3, 3)  # 9 distinct values
    cont = Raster.from_array(spark, arr, meta33("cont"))
    feats = features_from_wkt(spark, [SQ_WKT])
    with pytest.raises(ValueError, match="categorical"):
        exact_extract(cont, feats, ["frac"]).collect()
    # nodata does NOT count toward the cap: 2 values + NaN passes cap=2
    arr2 = np.array([[1, 1, np.nan], [2, 2, np.nan], [1, 2, np.nan]],
                    dtype=np.float64)
    cat2 = Raster.from_array(spark, arr2, meta33("cat2"))
    rows = exact_extract(cat2, feats, ["frac"]).collect()
    assert rows and "frac_1" in rows[0].asDict()


def test_quantile_continuous_distributed_parity(spark):
    """The distributed JVM quantile plan must reproduce the reference
    weighted-quantile interpolation BIT-EXACTLY on a continuous raster
    (every covered cell a distinct float value) — the case where per-value
    frequency rows are numerous and float rounding differences would show.
    Cross-checked against core.quantiles.weighted_quantile on the pixel
    table the kernel itself emits."""
    from exactextractr_spark.core.quantiles import weighted_quantile
    from exactextractr_spark.operators.zonal import exact_extract_pixels

    n = 64
    rng = np.random.default_rng(7)
    arr = rng.uniform(-1000.0, 1000.0, (n, n))
    meta = RasterMeta(layer="c", xmin=0, ymax=n, dx=1, dy=1, width=n,
                      height=n, tile_w=16, tile_h=16)
    r = Raster.from_array(spark, arr, meta)
    # one mega-polygon covering most of the raster with fractional edges,
    # plus a small one — both have ~100% distinct values per covered cell
    feats = features_from_wkt(spark, [
        f"POLYGON ((0.25 0.25, {n-0.25} 0.25, {n-0.25} {n-0.25}, "
        f"0.25 {n-0.25}, 0.25 0.25))",
        "POLYGON ((1.5 1.5, 7.5 1.5, 7.5 9.25, 1.5 9.25, 1.5 1.5))",
    ])
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    got = {
        row["feature_id"]: row
        for row in exact_extract(
            r, feats, ["median", "quantile"], quantiles=qs
        ).collect()
    }
    px = exact_extract_pixels(r, feats).collect()
    for fid in (1, 2):
        vals = np.array([p["value"] for p in px if p["feature_id"] == fid])
        cov = np.array(
            [p["coverage_fraction"] for p in px if p["feature_id"] == fid]
        )
        assert len(np.unique(vals)) > 1000 or fid == 2
        expect = weighted_quantile(vals, cov, [0.5] + qs)
        row = got[fid]
        names = ["median", "q10", "q25", "q50", "q75", "q90"]
        for nm, e in zip(names, expect):
            assert row[nm] == e, (fid, nm, row[nm], e)


def test_kernel_emit_paths_and_strategies_agree(spark):
    """One raster with NaN and sentinel-nodata cells, an aligned and a
    finer weight raster: the moments, freq and pixel emits of the coverage
    kernel agree with each other under both candidate strategies
    (broadcast and cover join); the coverage-only facts (coverage_fraction
    and the rasterize target) list the same cells, nodata cells included;
    and the line kernel is strategy-independent."""
    import pandas as pd

    from exactextractr_spark.operators.coverage_op import (
        coverage_fraction_df,
        line_cell_lengths_df,
    )
    from exactextractr_spark.operators.rasterize import blank_raster
    from exactextractr_spark.operators.zonal import (
        build_candidates,
        coverage_facts,
        exact_extract_pixels,
    )

    rng = np.random.default_rng(7)
    vals = rng.integers(1, 7, (12, 12)).astype(np.float64)
    vals[9:12, 0:3] = np.nan  # NaN block: y 0..3, x 0..3
    for r_, c_ in ((4, 6), (1, 10), (7, 3)):
        vals[r_, c_] = -9999.0  # nodata sentinel, mapped to NaN on decode
    vmeta = RasterMeta("v", xmin=0, ymax=12, dx=1, dy=1, width=12, height=12,
                       tile_w=5, tile_h=5, nodata=-9999.0)
    rv = Raster.from_array(spark, vals, vmeta)
    w_al = np.round(rng.uniform(0.5, 3.0, (12, 12)) * 4) / 4
    w_fine = np.round(rng.uniform(0.5, 3.0, (24, 24)) * 4) / 4
    weights = {
        "aligned": Raster.from_array(spark, w_al, RasterMeta(
            "w", xmin=0, ymax=12, dx=1, dy=1, width=12, height=12,
            tile_w=5, tile_h=5)),
        "finer": Raster.from_array(spark, w_fine, RasterMeta(
            "w", xmin=0, ymax=12, dx=0.5, dy=0.5, width=24, height=24,
            tile_w=10, tile_h=10)),
    }
    feats = features_from_wkt(
        spark,
        [
            "POLYGON ((0.5 0.5, 9.3 0.5, 9.3 8.7, 0.5 8.7, 0.5 0.5))",
            "POLYGON ((2.2 11.5, 11.8 3.1, 11.8 11.9, 2.2 11.5))",
            "POLYGON ((0.2 0.2, 2.8 0.2, 2.8 2.8, 0.2 2.8, 0.2 0.2))",
            "POLYGON ((4 4, 8 4, 8 8, 4 8, 4 4), (5 5, 7 5, 7 7, 5 7, 5 5))",
        ],
    )
    fids = [1, 2, 3, 4]

    def table(df, cols):
        pdf = df.toPandas().set_index("feature_id").reindex(fids)
        return pdf[cols].astype(float).to_numpy()

    def pixel_stats(df, cols):
        p = df.toPandas()
        p["vc"] = p["value"] * p["coverage_fraction"]
        p["cw"] = p["coverage_fraction"] * p["weight"]
        p["vcw"] = p["vc"] * p["weight"]
        g = p.groupby("feature_id")
        s = pd.DataFrame({
            "count": g["coverage_fraction"].sum(),
            "sum": g["vc"].sum(),
            "min": g["value"].min(),
            "max": g["value"].max(),
            "weighted_count": g["cw"].sum(),
            "weighted_sum": g["vcw"].sum(),
        }).reindex(fids)
        s[["count", "sum", "weighted_count", "weighted_sum"]] = s[
            ["count", "sum", "weighted_count", "weighted_sum"]].fillna(0.0)
        s["mean"] = s["sum"] / s["count"].where(s["count"] > 0)
        s["weighted_mean"] = s["weighted_sum"] / s["weighted_count"].where(
            s["weighted_count"] > 0)
        return s[cols].to_numpy()

    for kind, rw in weights.items():
        stats = ["mean", "min", "max", "weighted_count", "weighted_sum",
                 "weighted_mean"]
        if kind == "aligned":
            stats = ["count", "sum"] + stats
        per_strategy = []
        for bc in (True, False):
            mom = table(exact_extract(rv, feats, stats, weights=rw,
                                      broadcast_features=bc), stats)
            frq = table(exact_extract(rv, feats, stats + ["variety"],
                                      weights=rw, broadcast_features=bc),
                        stats + ["variety"])
            pix = pixel_stats(exact_extract_pixels(
                rv, feats, weights=rw, broadcast_features=bc), stats)
            np.testing.assert_allclose(frq[:, :-1], mom, rtol=1e-12,
                                       equal_nan=True)
            np.testing.assert_allclose(pix, mom, rtol=1e-12, equal_nan=True)
            per_strategy.append(np.column_stack([mom, frq]))
        np.testing.assert_allclose(per_strategy[0], per_strategy[1],
                                   rtol=1e-12, equal_nan=True)
        # the all-nodata polygon covers cells but counts none
        assert np.isnan(mom[2, stats.index("mean")])

    # coverage-only facts: every covered cell, value NaN or not
    target = blank_raster(spark, vmeta)
    cand, fbc = build_candidates(target, feats)
    want = coverage_facts(
        cand, feats_bc=fbc, values_meta=vmeta, include_cell=True,
        coverage_only=True,
    ).select("feature_id", "cell", "cov").toPandas()
    want = want.sort_values(["feature_id", "cell"]).reset_index(drop=True)
    flat = vals.ravel()
    nodata_cells = {c for c in want["cell"]
                    if np.isnan(flat[c - 1]) or flat[c - 1] == -9999.0}
    assert len(nodata_cells) >= 10
    for bc in (True, False):
        got = coverage_fraction_df(rv, feats, broadcast_features=bc).select(
            "feature_id", "cell", "cov").toPandas()
        got = got.sort_values(["feature_id", "cell"]).reset_index(drop=True)
        assert got[["feature_id", "cell"]].equals(want[["feature_id", "cell"]])
        np.testing.assert_allclose(got["cov"], want["cov"], rtol=1e-12)

    # line kernel: broadcast and cover join give the same (cell, v, length)
    lines = features_from_wkt(
        spark, ["LINESTRING (0.5 7, 11.5 7)", "LINESTRING (0.3 0.2, 11.7 11.1)",
                "LINESTRING (5 0.5, 5 11.5)"]
    )
    got_l = [
        line_cell_lengths_df(rv, lines, broadcast_features=bc)
        .orderBy("feature_id", "cell").toPandas()
        for bc in (True, False)
    ]
    assert got_l[0][["feature_id", "cell"]].equals(
        got_l[1][["feature_id", "cell"]])
    np.testing.assert_allclose(got_l[0][["v", "length"]].to_numpy(),
                               got_l[1][["v", "length"]].to_numpy(),
                               rtol=1e-12, equal_nan=True)
    assert got_l[0]["v"].isna().any()
