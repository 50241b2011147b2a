"""Stack / multi-layer semantics + dense coverage + weight-grid validation."""

import numpy as np
import pytest

from exactextractr_spark.operators.coverage_op import coverage_fraction_raster
from exactextractr_spark.operators.stack import exact_extract_stack
from exactextractr_spark.operators.zonal import exact_extract
from exactextractr_spark.sources.features import features_from_wkt
from exactextractr_spark.sources.tiles import Raster, RasterMeta

SQ_WKT = "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"


def meta33(layer):
    return RasterMeta(layer=layer, xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3)


def test_stack_apply_naming(spark):
    # stack naming rules: multiple layers -> stat.layer
    # (R/exact_extract_helpers.R:28-93, tests at test_exact_extract.R:792-874)
    a = Raster.from_array(spark, np.arange(1, 10, dtype=np.float64).reshape(3, 3),
                          meta33("a"))
    b = Raster.from_array(spark, 2 * np.arange(1, 10, dtype=np.float64).reshape(3, 3),
                          meta33("b"))
    feats = features_from_wkt(spark, [SQ_WKT])
    df = exact_extract_stack([a, b], feats, ["mean", "sum"])
    row = df.collect()[0].asDict()
    assert row["mean.a"] == pytest.approx(5.0)
    assert row["mean.b"] == pytest.approx(10.0)
    assert row["sum.a"] == pytest.approx(20.0)
    assert row["sum.b"] == pytest.approx(40.0)


def test_stack_weight_recycling(spark):
    # one value layer recycled against two weight layers
    v = Raster.from_array(spark, np.arange(1, 10, dtype=np.float64).reshape(3, 3),
                          meta33("v"))
    w1 = Raster.from_array(spark, np.ones((3, 3)), meta33("w1"))
    w2arr = np.zeros((3, 3)); w2arr[2, :] = 1.0
    w2 = Raster.from_array(spark, w2arr, meta33("w2"))
    df = exact_extract_stack([v], features_from_wkt(spark, [SQ_WKT]),
                             ["weighted_mean"], weights=[w1, w2],
                             full_colnames=True)
    row = df.collect()[0].asDict()
    assert row["weighted_mean.v.w1"] == pytest.approx(5.0)
    assert row["weighted_mean.v.w2"] == pytest.approx(8.0)


def test_stack_recycling_error(spark):
    v = Raster.from_array(spark, np.ones((3, 3)), meta33("a"))
    v2 = Raster.from_array(spark, np.ones((3, 3)), meta33("b"))
    w = [Raster.from_array(spark, np.ones((3, 3)), meta33(f"w{i}")) for i in range(3)]
    with pytest.raises(ValueError, match="recycled"):
        exact_extract_stack([v, v2], features_from_wkt(spark, [SQ_WKT]),
                            ["weighted_mean"], weights=w)


def test_incompatible_weight_grid(spark):
    v = Raster.from_array(spark, np.ones((3, 3)), meta33("v"))
    wmeta = RasterMeta("w", xmin=0.31, ymax=3, dx=1, dy=1, width=3, height=3,
                       tile_w=3, tile_h=3)
    w = Raster.from_array(spark, np.ones((3, 3)), wmeta)
    with pytest.raises(ValueError, match="not compatible"):
        exact_extract(v, features_from_wkt(spark, [SQ_WKT]),
                      ["weighted_mean"], weights=w)


def test_finer_weights_disaggregate(spark):
    # finer weights now disaggregate the value raster (RasterView analog);
    # with uniform weights the weighted mean equals the unweighted mean,
    # and count/sum are rejected (ref exact_extract.cpp:329-332)
    v = Raster.from_array(spark, np.arange(1.0, 10.0).reshape(3, 3), meta33("v"))
    wmeta = RasterMeta("w", xmin=0, ymax=3, dx=0.5, dy=0.5, width=6, height=6,
                       tile_w=6, tile_h=6)
    w = Raster.from_array(spark, np.ones((6, 6)), wmeta)
    feats = features_from_wkt(spark, [SQ_WKT])
    got = exact_extract(v, feats, ["weighted_mean"], weights=w).collect()[0]
    plain = exact_extract(v, feats, ["mean"]).collect()[0]
    assert got["weighted_mean"] == pytest.approx(plain["mean"], rel=1e-12)
    with pytest.raises(ValueError, match="disaggregated"):
        exact_extract(v, feats, ["sum"], weights=w)


def test_dense_coverage_crop_and_full(spark):
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    meta = RasterMeta("v", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3)
    r = Raster.from_array(spark, arr, meta)
    feats = features_from_wkt(spark, [SQ_WKT])
    dense = coverage_fraction_raster(r, feats).collect()
    assert len(dense) == 1
    got = np.array(dense[0]["cov_px"]).reshape(3, 3)
    want = np.array([[0.25, 0.5, 0.25], [0.5, 1.0, 0.5], [0.25, 0.5, 0.25]])
    np.testing.assert_allclose(got, want, atol=1e-14)
    # crop=False over a polygon touching nothing -> zero-filled full tiles
    far = features_from_wkt(spark, ["POLYGON ((50 50, 51 50, 51 51, 50 51, 50 50))"])
    dense2 = coverage_fraction_raster(r, far, crop=False).collect()
    assert len(dense2) == 1
    assert np.array(dense2[0]["cov_px"]).sum() == 0.0


def test_summarize_df_combined_frame(spark):
    """stack_apply=FALSE / summarize_df: ONE frame per feature with a
    column per layer (ref R/exact_extract.R:585-721, goldens shaped like
    test_exact_extract.R:652-721)."""
    import pandas as pd
    from pyspark.sql import types as T

    from exactextractr_spark.operators.stack import summarize_df, summarize_df_pixels

    arr_a = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    arr_b = 2 * arr_a
    a = Raster.from_array(spark, arr_a, meta33("a"))
    b = Raster.from_array(spark, arr_b, meta33("b"))
    feats = features_from_wkt(spark, [SQ_WKT])

    px = summarize_df_pixels([a, b], feats).toPandas()
    assert {"feature_id", "a", "b", "coverage_fraction"} <= set(px.columns)
    # layer b is exactly 2x layer a, cell-aligned
    assert np.allclose(px["b"], 2 * px["a"])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf["coverage_fraction"]
        return pd.DataFrame(
            {
                "feature_id": [pdf["feature_id"].iloc[0]],
                "wmean_a": [(pdf["a"] * c).sum() / c.sum()],
                "wmean_b": [(pdf["b"] * c).sum() / c.sum()],
            }
        )

    schema = T.StructType(
        [
            T.StructField("feature_id", T.LongType()),
            T.StructField("wmean_a", T.DoubleType()),
            T.StructField("wmean_b", T.DoubleType()),
        ]
    )
    row = summarize_df([a, b], feats, fn, schema).collect()[0]
    ref = exact_extract(a, feats, ["mean"]).collect()[0]["mean"]
    assert row["wmean_a"] == pytest.approx(ref)
    assert row["wmean_b"] == pytest.approx(2 * ref)


def test_summarize_df_grid_mismatch_raises(spark):
    from exactextractr_spark.operators.stack import summarize_df_pixels

    a = Raster.from_array(spark, np.ones((3, 3)), meta33("a"))
    feats = features_from_wkt(spark, [SQ_WKT])
    off = RasterMeta(layer="b", xmin=0.5, ymax=3, dx=1, dy=1, width=3, height=3,
                     tile_w=3, tile_h=3)
    # same origin and resolution, one column wider: row-major cell ids
    # differ between the layers, so a (feature_id, cell) join would pair
    # the wrong pixels
    wide = RasterMeta(layer="b", xmin=0, ymax=3, dx=1, dy=1, width=4, height=3,
                      tile_w=4, tile_h=3)
    for meta in (off, wide):
        b = Raster.from_array(
            spark, np.ones((meta.height, meta.width)) + 100.0, meta
        )
        with pytest.raises(ValueError, match="one grid"):
            summarize_df_pixels([a, b], feats)


def test_colname_fun(spark):
    """Custom column naming (ref R/exact_extract.R:288)."""
    a = Raster.from_array(spark, np.arange(1, 10, dtype=np.float64).reshape(3, 3),
                          meta33("a"))
    b = Raster.from_array(spark, np.ones((3, 3)), meta33("b"))
    feats = features_from_wkt(spark, [SQ_WKT])

    def namer(fun_name, values, weights, fun_value, nvalues, nweights):
        return f"{values}__{fun_name}"

    df = exact_extract_stack([a, b], feats, ["mean"], colname_fun=namer)
    assert set(df.columns) == {"feature_id", "a__mean", "b__mean"}


def test_mixed_geometry_collection_rejected(spark):
    """Reference errors on GCs mixing areal+linear
    (raster_cell_intersection.cpp:121-142)."""
    from exactextractr_spark.core.coverage import coverage_fraction
    from exactextractr_spark.core.geom import from_wkt
    from exactextractr_spark.core.grid import Grid

    gc = from_wkt(
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
        "LINESTRING (0 0, 3 3))"
    )
    with pytest.raises(ValueError, match="areal and linear"):
        coverage_fraction(Grid(0, 0, 3, 3, 1, 1), gc)
    # end-to-end through the kernel
    feats = features_from_wkt(
        spark,
        ["GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
         "LINESTRING (0 0, 3 3))"],
    )
    r = Raster.from_array(spark, np.ones((3, 3)), meta33("v"))
    with pytest.raises(Exception, match="areal and linear"):
        exact_extract(r, feats, ["count"]).collect()


def test_crs_mismatch_fails_loudly(spark):
    # a pair with no closed-form transform raises with guidance
    # (EPSG:27200 is the NZ Map Grid — a custom conformal, not
    # implemented; Swiss EPSG:2056 joined the family in round 5)
    feats = features_from_wkt(spark, [SQ_WKT], crs="EPSG:27200")
    meta = RasterMeta(layer="v", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3, crs="EPSG:4326")
    r = Raster.from_array(spark, np.ones((3, 3)), meta)
    with pytest.raises(ValueError, match="does not match the raster CRS"):
        exact_extract(r, feats, ["count"])
    # matching CRS passes through
    ok = features_from_wkt(spark, [SQ_WKT], crs="EPSG:4326")
    got = exact_extract(r, ok, ["count"]).collect()[0]["count"]
    assert got == pytest.approx(4.0)


def test_stack_single_pass_equivalence(spark):
    """Multi-layer single-scan fast path (one kernel pass, moments tagged by
    layer, pivot) must equal the per-layer loop bit-for-bit."""
    from exactextractr_spark.operators import stack as stack_mod
    from exactextractr_spark.sources.tiles import tile_table_from_array

    arr_a = np.arange(1, 37, dtype=np.float64).reshape(6, 6)
    arr_b = np.sqrt(arr_a) * 3.0
    meta_a = RasterMeta("a", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                        tile_w=3, tile_h=3)
    meta_b = RasterMeta("b", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                        tile_w=3, tile_h=3)
    shared = tile_table_from_array(spark, arr_a, meta_a).unionByName(
        tile_table_from_array(spark, arr_b, meta_b)
    )
    ra = Raster.from_tiles(shared, meta_a)
    rb = Raster.from_tiles(shared, meta_b)
    assert ra._raw is shared and rb._raw is shared
    feats = features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))",
                "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"]  # outside
    )
    stats = ["mean", "sum", "count", "min", "max"]
    fast = stack_mod._stack_single_pass(
        [ra, rb], feats, stats, weights=None, full_colnames=False,
        colname_fun=None,
    )
    assert fast is not None  # preconditions hold -> fast path taken
    got = {r["feature_id"]: r.asDict() for r in fast.collect()}

    # the per-layer loop is the oracle
    ra2 = Raster.from_array(spark, arr_a, meta_a)
    rb2 = Raster.from_array(spark, arr_b, meta_b)
    want = {r["feature_id"]: r.asDict() for r in
            stack_mod._stack_loop([ra2, rb2], feats, stats).collect()}
    assert set(got) == set(want) == {1, 2}
    for fid in want:
        assert set(got[fid]) == set(want[fid]), (set(got[fid]), set(want[fid]))
        for c in want[fid]:
            gv, wv = got[fid][c], want[fid][c]
            if wv is None or (isinstance(wv, float) and np.isnan(wv)):
                assert gv is None or np.isnan(gv), (fid, c, gv, wv)
            else:
                assert gv == pytest.approx(wv, rel=1e-12), (fid, c, gv, wv)
    # and the public API auto-detects the shared table
    auto = exact_extract_stack([ra, rb], feats, stats)
    assert {r["feature_id"]: r.asDict() for r in auto.collect()} == got


def test_stack_single_pass_freq_equivalence(spark):
    """Freq stats (mode/median/variety) + mixed algebraic ride the single
    scan and must equal the per-layer loop."""
    from exactextractr_spark.operators import stack as stack_mod
    from exactextractr_spark.sources.tiles import tile_table_from_array

    # categorical-ish small-integer layers so mode/median ties are exercised
    arr_a = (np.arange(36, dtype=np.float64).reshape(6, 6) % 5) + 1
    arr_b = (np.arange(36, dtype=np.float64).reshape(6, 6) % 3) + 10
    meta_a = RasterMeta("a", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                        tile_w=3, tile_h=3)
    meta_b = RasterMeta("b", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                        tile_w=3, tile_h=3)
    shared = tile_table_from_array(spark, arr_a, meta_a).unionByName(
        tile_table_from_array(spark, arr_b, meta_b)
    )
    ra = Raster.from_tiles(shared, meta_a)
    rb = Raster.from_tiles(shared, meta_b)
    feats = features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 4.5 0.5, 4.5 4.5, 0.5 4.5, 0.5 0.5))",
                "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"]  # outside
    )
    stats = ["mean", "mode", "median", "variety"]
    fast = stack_mod._stack_single_pass(
        [ra, rb], feats, stats, weights=None, full_colnames=False,
        colname_fun=None,
    )
    assert fast is not None
    got = {r["feature_id"]: r.asDict() for r in fast.collect()}
    ra2 = Raster.from_array(spark, arr_a, meta_a)
    rb2 = Raster.from_array(spark, arr_b, meta_b)
    want = {r["feature_id"]: r.asDict() for r in
            stack_mod._stack_loop([ra2, rb2], feats, stats).collect()}
    assert set(got) == set(want) == {1, 2}
    for fid in want:
        assert set(got[fid]) == set(want[fid]), (set(got[fid]), set(want[fid]))
        for c in want[fid]:
            gv, wv = got[fid][c], want[fid][c]
            if wv is None or (isinstance(wv, float) and np.isnan(wv)):
                assert gv is None or (isinstance(gv, float) and np.isnan(gv)), (fid, c, gv, wv)
            else:
                assert gv == pytest.approx(wv, rel=1e-12), (fid, c, gv, wv)


def test_stack_union_single_pass_equivalence(spark):
    """Layers in SEPARATE tile tables on one grid: the unioned single-scan
    fast path must be taken and equal the per-layer loop bit-for-bit
    (incl. freq stats)."""
    from exactextractr_spark.operators import stack as stack_mod

    arr_a = np.arange(1, 37, dtype=np.float64).reshape(6, 6)
    arr_b = ((np.arange(36, dtype=np.float64) % 4) + 2).reshape(6, 6)
    meta_a = RasterMeta("a", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                        tile_w=3, tile_h=3)
    meta_b = RasterMeta("b", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                        tile_w=3, tile_h=3)
    ra = Raster.from_array(spark, arr_a, meta_a)
    rb = Raster.from_array(spark, arr_b, meta_b)
    assert ra._raw is not rb._raw  # genuinely separate tables
    feats = features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 4.5 0.5, 4.5 4.5, 0.5 4.5, 0.5 0.5))",
                "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"]
    )
    for stats in (["mean", "sum", "count"], ["mean", "mode", "variety"]):
        fast = stack_mod._stack_single_pass(
            [ra, rb], feats, stats, weights=None, full_colnames=False,
            colname_fun=None,
        )
        assert fast is not None  # the union path engaged
        got = {r["feature_id"]: r.asDict() for r in fast.collect()}
        want = {r["feature_id"]: r.asDict() for r in
                stack_mod._stack_loop([ra, rb], feats, stats).collect()}
        assert set(got) == set(want) == {1, 2}
        for fid in want:
            assert set(got[fid]) == set(want[fid])
            for c in want[fid]:
                gv, wv = got[fid][c], want[fid][c]
                if wv is None or (isinstance(wv, float) and np.isnan(wv)):
                    assert gv is None or (
                        isinstance(gv, float) and np.isnan(gv)
                    ), (fid, c, gv, wv)
                else:
                    assert gv == pytest.approx(wv, rel=1e-12), (fid, c, gv, wv)
    # duplicated layer names across separate tables must fall back
    rb_dup = Raster.from_array(spark, arr_b, meta_a)
    assert stack_mod._stack_single_pass(
        [ra, rb_dup], feats, ["mean"], weights=None, full_colnames=False,
        colname_fun=None,
    ) is None
    # one grid, but tiled 2x2 instead of 3x3: the single pass reads the
    # first layer's tile keys, so it declines and the loop runs
    rb_t2 = Raster.from_array(spark, arr_b, RasterMeta(
        "b", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6, tile_w=2, tile_h=2))
    stats = ["mean", "sum", "count", "mode"]
    assert stack_mod._stack_single_pass([ra, rb_t2], feats, stats) is None
    got = [r.asDict() for r in exact_extract_stack([ra, rb_t2], feats, stats).collect()]
    want = [r.asDict() for r in stack_mod._stack_loop([ra, rb_t2], feats, stats).collect()]
    assert got == want


def test_nonpolygonal_feature_rejected_on_areal_path(spark):
    """Reference refuses linear features in exact_extract
    (test_exact_extract_errors.R:38-45)."""
    from exactextractr_spark.core.coverage import coverage_fraction
    from exactextractr_spark.core.geom import from_wkt
    from exactextractr_spark.core.grid import Grid

    with pytest.raises(ValueError, match="not polygonal"):
        coverage_fraction(Grid(0, 0, 3, 3, 1, 1), from_wkt("LINESTRING (0 0, 3 3)"))
    with pytest.raises(ValueError, match="not polygonal"):
        coverage_fraction(Grid(0, 0, 3, 3, 1, 1), from_wkt("POINT (1 1)"))
    # end to end
    feats = features_from_wkt(spark, ["LINESTRING (0 0, 3 3)"])
    r = Raster.from_array(spark, np.ones((3, 3)), meta33("v"))
    with pytest.raises(Exception, match="not polygonal"):
        exact_extract(r, feats, ["count"]).collect()


def test_crs_mixed_null_and_defined_raises(spark):
    """A table unioning CRS-less rows (assumed raster CRS) with rows in a
    transformable-but-mismatched CRS must NOT silently reproject the
    CRS-less rows — it raises instead."""
    import pyspark.sql.functions as F

    meta = RasterMeta("v", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3, crs="EPSG:3857")
    r = Raster.from_array(spark, np.ones((3, 3)), meta)
    with_crs = features_from_wkt(spark, [SQ_WKT], ids=[1], crs="EPSG:4326")
    no_crs = features_from_wkt(spark, [SQ_WKT], ids=[2]).withColumn(
        "crs", F.lit(None).cast("string")
    )
    mixed = with_crs.unionByName(no_crs)
    with pytest.raises(ValueError, match="mixes rows"):
        exact_extract(r, mixed, ["count"])


def test_crs_auto_transform_4326_to_3857(spark):
    """The supported closed-form pair transforms with a warning (reference
    behavior); results equal the same square specified directly in the
    raster CRS. Unsupported pairs still raise."""
    import math
    import warnings

    _R = 6378137.0

    def merc_x(lon):
        return _R * math.radians(lon)

    def merc_y(lat):
        return _R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))

    # mercator raster whose extent matches lon/lat [0, 0.01]^2-ish
    x1, y1 = merc_x(0.03), merc_y(0.03)
    meta = RasterMeta("v", xmin=0, ymax=y1, dx=x1 / 3, dy=y1 / 3, width=3,
                      height=3, tile_w=3, tile_h=3, crs="EPSG:3857")
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    r = Raster.from_array(spark, arr, meta)
    # square covering the center cell exactly, in geographic coordinates
    wkt_ll = (f"POLYGON (({0.01} {0.01}, {0.02} {0.01}, "
              f"{0.02} {0.02}, {0.01} {0.02}, {0.01} {0.01}))")
    feats_ll = features_from_wkt(spark, [wkt_ll], crs="EPSG:4326")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = exact_extract(r, feats_ll, ["sum", "count"]).collect()[0]
    # direct mercator equivalent
    wkt_m = (f"POLYGON (({merc_x(0.01)} {merc_y(0.01)}, {merc_x(0.02)} {merc_y(0.01)}, "
             f"{merc_x(0.02)} {merc_y(0.02)}, {merc_x(0.01)} {merc_y(0.02)}, "
             f"{merc_x(0.01)} {merc_y(0.01)}))")
    feats_m = features_from_wkt(spark, [wkt_m], crs="EPSG:3857")
    want = exact_extract(r, feats_m, ["sum", "count"]).collect()[0]
    assert got["sum"] == pytest.approx(want["sum"], rel=1e-9)
    assert got["count"] == pytest.approx(want["count"], rel=1e-9)
    # unsupported pair still raises (oblique mercator, not implemented)
    feats_bad = features_from_wkt(spark, [wkt_ll], crs="EPSG:27200")
    with pytest.raises(ValueError, match="no closed-form transform"):
        exact_extract(r, feats_bad, ["count"])


def test_utm_transform_series():
    """Krüger-series UTM: anchors, round-trip, and the meridian arc checked
    against independent numerical integration of the ellipsoid meridian
    radius (a wrong series coefficient fails this at ~1e-6)."""
    from exactextractr_spark.core.crs import can_transform, transform_xy

    assert can_transform("EPSG:32633", "EPSG:4326")
    assert can_transform("EPSG:32733", "EPSG:3857")
    assert can_transform("EPSG:27700", "EPSG:4326")  # Helmert-shifted TM
    assert can_transform("EPSG:2154", "EPSG:4326")  # LCC (closed-form)
    assert can_transform("EPSG:5070", "EPSG:3035")  # Albers <-> LAEA
    assert not can_transform("EPSG:27200", "EPSG:4326")  # NZ Map Grid
    assert can_transform("EPSG:2056", "EPSG:4326")  # Swiss, round 5
    # central-meridian/equator anchors (exact by construction)
    e, n = transform_xy(np.array([15.0]), np.array([0.0]),
                        "EPSG:4326", "EPSG:32633")
    assert e[0] == pytest.approx(500_000.0, abs=1e-6)
    assert n[0] == pytest.approx(0.0, abs=1e-6)
    e, n = transform_xy(np.array([15.0]), np.array([0.0]),
                        "EPSG:4326", "EPSG:32733")
    assert n[0] == pytest.approx(10_000_000.0, abs=1e-6)
    # round-trip across the zone (and beyond its 3-degree half-width)
    rng = np.random.default_rng(7)
    lon = 15 + rng.uniform(-4, 4, 500)
    lat = rng.uniform(-80, 84, 500)
    E, N = transform_xy(lon, lat, "EPSG:4326", "EPSG:32633")
    lon2, lat2 = transform_xy(E, N, "EPSG:32633", "EPSG:4326")
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9
    # meridian arc to 60N vs numerical integration of M(phi)
    a, f = 6378137.0, 1 / 298.257223563
    e2 = f * (2 - f)
    phi = np.linspace(0.0, np.radians(60.0), 400_001)
    M = a * (1 - e2) / np.power(1 - e2 * np.sin(phi) ** 2, 1.5)
    arc = np.trapz(M, phi)
    E, N = transform_xy(np.array([15.0]), np.array([60.0]),
                        "EPSG:4326", "EPSG:32633")
    assert N[0] / 0.9996 == pytest.approx(arc, rel=1e-9)


def test_utm_features_auto_transform(spark):
    """UTM polygon against a geographic raster: transforms with a warning
    and matches the same polygon given directly in raster coordinates."""
    import warnings

    from exactextractr_spark.core.crs import transform_xy

    meta = RasterMeta("v", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3, crs="EPSG:4326")
    r = Raster.from_array(spark, np.arange(1.0, 10.0).reshape(3, 3), meta)
    want = exact_extract(
        r, features_from_wkt(spark, [SQ_WKT], crs="EPSG:4326"),
        ["sum", "count"],
    ).collect()[0]
    # same square reprojected into UTM zone 31N coordinates
    xs = np.array([0.5, 2.5, 2.5, 0.5, 0.5])
    ys = np.array([0.5, 0.5, 2.5, 2.5, 0.5])
    ex, ny = transform_xy(xs, ys, "EPSG:4326", "EPSG:32631")
    wkt = "POLYGON ((" + ", ".join(
        f"{x!r} {y!r}" for x, y in zip(ex, ny)) + "))"
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = exact_extract(
            r, features_from_wkt(spark, [wkt], crs="EPSG:32631"),
            ["sum", "count"],
        ).collect()[0]
    assert got["sum"] == pytest.approx(want["sum"], rel=1e-9)
    assert got["count"] == pytest.approx(want["count"], rel=1e-9)


def test_unused_weights_warn(spark):
    """Warning when weights provided but no weighted stat requested
    (test_exact_extract_errors.R:28-36)."""
    import warnings

    v = Raster.from_array(spark, np.ones((3, 3)), meta33("v"))
    w = Raster.from_array(spark, np.ones((3, 3)), meta33("w"))
    feats = features_from_wkt(spark, [SQ_WKT])
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        exact_extract(v, feats, ["mean"], weights=w).collect()
    assert any("weights provided" in str(x.message) for x in rec)


def test_osgb36_national_grid():
    """EPSG:27700 (non-WGS84 datum): the projection reproduces the OS
    worked example ('A guide to coordinate systems in Great Britain':
    52°39'27.2531"N 1°43'4.5177"E -> E 651409.903 N 313177.270) to the
    millimetre, and the WGS84 path (Helmert 7-parameter + Airy TM)
    round-trips."""
    from exactextractr_spark.core.crs import (
        _NAMED_TM,
        _series_consts,
        _tm_forward,
        transform_xy,
    )

    a, f, lat0, lon0, k0, fe, fn, _helm = _NAMED_TM["EPSG:27700"]
    consts = _series_consts(a, f)
    phi = 52 + 39 / 60 + 27.2531 / 3600
    lam = 1 + 43 / 60 + 4.5177 / 3600
    ae, an = _tm_forward(np.array([lam]), np.array([phi]), lon0, consts)
    _, an0 = _tm_forward(np.array([lon0]), np.array([lat0]), lon0, consts)
    assert fe + k0 * ae[0] == pytest.approx(651409.903, abs=1e-3)
    assert fn + k0 * (an[0] - an0[0]) == pytest.approx(313177.270, abs=1e-3)
    # WGS84 <-> BNG round-trip through the datum shift
    lon = np.array([-0.1246, -2.0, -5.5])
    lat = np.array([51.5007, 49.0, 58.0])
    e, n = transform_xy(lon, lat, "EPSG:4326", "EPSG:27700")
    lon2, lat2 = transform_xy(e, n, "EPSG:27700", "EPSG:4326")
    assert np.abs(lon2 - lon).max() < 1e-7
    assert np.abs(lat2 - lat).max() < 1e-7
    # true origin maps to the false origin (datum-shift-free identity on
    # the projection: transform OSGB36's origin THROUGH WGS84 and back
    # lands within the Helmert model's published accuracy)
    e0, n0 = transform_xy(np.array([-2.0]), np.array([49.0]),
                          "EPSG:4326", "EPSG:27700")
    assert abs(e0[0] - 400_000.0) < 120  # datum shift moves it ~100 m
    assert abs(n0[0] - (-100_000.0)) < 120


def test_nztm_and_etrs89_utm():
    """EPSG:2193 (NZTM2000/GRS80) and EPSG:258xx (ETRS89/UTM) anchors +
    round-trips."""
    from exactextractr_spark.core.crs import can_transform, transform_xy

    e, n = transform_xy(np.array([173.0]), np.array([0.0]),
                        "EPSG:4326", "EPSG:2193")
    assert e[0] == pytest.approx(1_600_000.0, abs=1e-6)
    assert n[0] == pytest.approx(10_000_000.0, abs=1e-6)
    lon = np.array([174.7762, 168.0])
    lat = np.array([-41.2865, -46.4])
    e, n = transform_xy(lon, lat, "EPSG:4326", "EPSG:2193")
    lon2, lat2 = transform_xy(e, n, "EPSG:2193", "EPSG:4326")
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9
    e, n = transform_xy(np.array([9.0]), np.array([0.0]),
                        "EPSG:4326", "EPSG:25832")
    assert e[0] == pytest.approx(500_000.0, abs=1e-6)
    assert can_transform("EPSG:25832", "EPSG:27700")
