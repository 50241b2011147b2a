"""coverage_fraction / exact_resample / rasterize_polygons / pixel path
goldens (reference: test_coverage_fraction.R, test_exact_resample.R,
test_rasterize.R, test_exact_extract_include_args.R)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from exactextractr_spark.operators.coverage_op import coverage_fraction_df
from exactextractr_spark.operators.rasterize import rasterize_polygons
from exactextractr_spark.operators.resample import exact_resample
from exactextractr_spark.operators.zonal import (
    exact_extract_apply,
    exact_extract_pixels,
)
from exactextractr_spark.sources.features import features_from_wkt
from exactextractr_spark.sources.tiles import Raster, RasterMeta

SQ_WKT = "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"


def meta33(layer="values", tile=3):
    return RasterMeta(layer=layer, xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=tile, tile_h=tile)


def test_line_cell_lengths(spark):
    # the reference's linear coverage: per-cell traversal length
    # (raster_cell_intersection.cpp:250-259); diagonal of a 3x3 unit grid
    # crosses cells (2,0),(1,1),(0,2) with length sqrt(2) each
    import numpy as np

    from exactextractr_spark.operators.coverage_op import line_cell_lengths_df
    from exactextractr_spark.sources.features import features_from_wkt
    from exactextractr_spark.sources.tiles import Raster, RasterMeta

    meta = RasterMeta("v", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3)
    r = Raster.from_array(spark, np.arange(1.0, 10.0).reshape(3, 3), meta)
    feats = features_from_wkt(spark, ["LINESTRING (0 0, 3 3)"])
    rows = {x["cell"]: x for x in line_cell_lengths_df(r, feats).collect()}
    # cells (row=2,col=0)->7, (1,1)->5, (0,2)->3; 1-based row-major ids
    assert sorted(rows) == [3, 5, 7]
    for cell, want_v in ((3, 3.0), (5, 5.0), (7, 7.0)):
        assert rows[cell]["v"] == want_v
        assert rows[cell]["length"] == pytest.approx(np.sqrt(2.0), rel=1e-12)
    # length-weighted mean over the diagonal = (3+5+7)/3 = 5
    total = sum(x["v"] * x["length"] for x in rows.values()) / sum(
        x["length"] for x in rows.values()
    )
    assert total == pytest.approx(5.0, rel=1e-12)


def test_coverage_fraction_df(spark):
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    r = Raster.from_array(spark, arr, meta33())
    feats = features_from_wkt(spark, [SQ_WKT])
    rows = coverage_fraction_df(r, feats).collect()
    got = {row["cell"]: row["cov"] for row in rows}
    want = {1: 0.25, 2: 0.5, 3: 0.25, 4: 0.5, 5: 1.0, 6: 0.5, 7: 0.25, 8: 0.5, 9: 0.25}
    assert len(got) == 9
    for k, v in want.items():
        assert got[k] == pytest.approx(v)


def test_resample_sum_preservation(spark):
    # test_exact_resample.R:16-43: resampling with 'sum' preserves total
    rng = np.random.default_rng(42)
    arr = rng.uniform(0, 100, (20, 20))
    src_meta = RasterMeta("v", xmin=0, ymax=20, dx=1, dy=1, width=20, height=20,
                          tile_w=7, tile_h=7)
    src = Raster.from_array(spark, arr, src_meta)
    # coarser unaligned destination covering the source
    dst_meta = RasterMeta("d", xmin=-1, ymax=21, dx=3, dy=3, width=8, height=8,
                          tile_w=8, tile_h=8)
    out = exact_resample(src, dst_meta, "sum")
    total = sum(r["value"] for r in out.collect())
    assert total == pytest.approx(arr.sum(), rel=1e-9)


def test_resample_mean_aligned(spark):
    # 2x2 downsample of an aligned grid: mean of each 2x2 block
    arr = np.arange(16, dtype=np.float64).reshape(4, 4)
    src_meta = RasterMeta("v", xmin=0, ymax=4, dx=1, dy=1, width=4, height=4,
                          tile_w=4, tile_h=4)
    dst_meta = RasterMeta("d", xmin=0, ymax=4, dx=2, dy=2, width=2, height=2,
                          tile_w=2, tile_h=2)
    out = exact_resample(Raster.from_array(spark, arr, src_meta), dst_meta, "mean")
    got = {(r["dst_row"], r["dst_col"]): r["value"] for r in out.collect()}
    blocks = arr.reshape(2, 2, 2, 2).mean(axis=(1, 3))
    for rr in range(2):
        for cc in range(2):
            assert got[(rr, cc)] == pytest.approx(blocks[rr, cc])


def test_rasterize_polygons(spark):
    # two half-plane-ish triangles over a 2x2 grid: each cell goes to the
    # polygon covering more of it; tie -> first feature
    feats = features_from_wkt(
        spark,
        [
            "POLYGON ((0 0, 2 0, 0 2, 0 0))",  # lower-left triangle
            "POLYGON ((2 0, 2 2, 0 2, 2 0))",  # upper-right triangle
        ],
    )
    meta = RasterMeta("g", xmin=0, ymax=2, dx=1, dy=1, width=2, height=2,
                      tile_w=2, tile_h=2)
    got = {r["cell"]: r["feature_id"] for r in
           rasterize_polygons(spark, feats, meta).collect()}
    # cell 1 = top-left (half/half tie -> feature 1), cell 2 = top-right (f2),
    # cell 3 = bottom-left (f1), cell 4 = bottom-right (tie -> f1)
    assert got == {1: 1, 2: 2, 3: 1, 4: 1}


def test_rasterize_min_coverage(spark):
    feats = features_from_wkt(spark, ["POLYGON ((0 0, 1.5 0, 1.5 2, 0 2, 0 0))"])
    meta = RasterMeta("g", xmin=0, ymax=2, dx=1, dy=1, width=2, height=2,
                      tile_w=2, tile_h=2)
    got = {r["cell"] for r in
           rasterize_polygons(spark, feats, meta, min_coverage=0.75).collect()}
    # right-column cells covered 0.5 < 0.75 -> dropped
    assert got == {1, 3}


def test_pixels_include_args(spark):
    # include_xy/cell semantics (test_exact_extract_include_args.R:18-201)
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    r = Raster.from_array(spark, arr, meta33())
    feats = features_from_wkt(spark, [SQ_WKT])
    rows = exact_extract_pixels(
        r, feats, include_xy=True, include_cell=True, include_area=True
    ).collect()
    by_cell = {row["cell"]: row for row in rows}
    assert len(by_cell) == 9
    assert by_cell[1]["x"] == 0.5 and by_cell[1]["y"] == 2.5
    assert by_cell[5]["value"] == 5.0
    assert by_cell[5]["coverage_fraction"] == pytest.approx(1.0)
    assert by_cell[9]["area"] == pytest.approx(1.0)


def test_apply_in_pandas_surface(spark):
    # the reference's fun=function(v, c) weighted.mean(v, c) path
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    r = Raster.from_array(spark, arr, meta33())
    feats = features_from_wkt(spark, [SQ_WKT])

    def wmean(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf["coverage_fraction"]
        return pd.DataFrame(
            {
                "feature_id": [pdf["feature_id"].iloc[0]],
                "wmean": [(pdf["value"] * c).sum() / c.sum()],
            }
        )

    schema = T.StructType(
        [
            T.StructField("feature_id", T.LongType()),
            T.StructField("wmean", T.DoubleType()),
        ]
    )
    got = exact_extract_apply(r, feats, wmean, schema).collect()
    assert got[0]["wmean"] == pytest.approx(5.0)


def test_multi_tile_resample_unaligned(spark):
    # jittered extents (test_exact_resample.R:16-43 style)
    rng = np.random.default_rng(7)
    arr = rng.uniform(-5, 5, (30, 30))
    src_meta = RasterMeta("v", xmin=0.37, ymax=30.21, dx=1, dy=1, width=30,
                          height=30, tile_w=11, tile_h=9)
    dst_meta = RasterMeta("d", xmin=-2, ymax=33, dx=2.5, dy=2.5, width=16,
                          height=16, tile_w=16, tile_h=16)
    out = exact_resample(Raster.from_array(spark, arr, src_meta), dst_meta, "sum")
    total = sum(r["value"] for r in out.collect())
    assert total == pytest.approx(arr.sum(), rel=1e-9)


def test_fused_collect_needs_estimate_margin(spark, monkeypatch):
    """build_candidates fuses the broadcast collect with its size guard only
    when the optimizer's estimate is within a quarter of the cap: an
    estimate between cap/4 and the cap takes the count-first path, so no
    geometry is collected before the broadcast-or-cover-join decision
    (forced here to the cover join)."""
    from exactextractr_spark.operators import _exec, zonal
    from exactextractr_spark.sources.features import features_from_wkt

    meta = RasterMeta("v", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                      tile_w=3, tile_h=3)
    r = Raster.from_array(spark, np.arange(1.0, 37.0).reshape(6, 6), meta)
    feats = features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))",
                "POLYGON ((3 3, 5 3, 5 5, 3 5, 3 3))",
                "POLYGON ((1 4, 2 4, 2 5, 1 5, 1 4))"]
    )
    est = _exec.size_estimate(feats)
    assert est > 0
    monkeypatch.setattr(_exec, "size_estimate", lambda df: est)
    monkeypatch.setattr(zonal, "BROADCAST_FEATURE_LIMIT", 2)
    # the concrete DataFrame class: PySpark 4 defines collect and toArrow
    # there, not on pyspark.sql.DataFrame
    SparkDF = type(feats)
    geom_collects = []
    for name in ("toArrow", "collect"):
        def recording(self, *a, _real=getattr(SparkDF, name), **k):
            if "geom" in self.columns:
                geom_collects.append(self.columns)
            return _real(self, *a, **k)

        monkeypatch.setattr(SparkDF, name, recording)
    # estimate within cap/4: one fused collect carries the geometries
    monkeypatch.setattr(_exec, "_FUSED_COLLECT_MAX_BYTES", 4 * est)
    _, fb = zonal.build_candidates(r, feats)
    assert fb is None and len(geom_collects) == 1
    # estimate between cap/4 and the cap: count first, collect nothing
    geom_collects.clear()
    for cap in (2 * est, est):
        monkeypatch.setattr(_exec, "_FUSED_COLLECT_MAX_BYTES", cap)
        _, fb = zonal.build_candidates(r, feats)
        assert fb is None
    assert geom_collects == []


def test_large_feature_table_skips_driver_collect(spark, monkeypatch):
    """Above BROADCAST_FEATURE_LIMIT, build_candidates must route to the
    distributed cover join. On the count-first path (forced here with a
    zero fused-collect cap) no geometry reaches the driver; the fused path
    may stage at most limit+1 rows, and only when the size estimate is
    within a quarter of the cap."""
    from exactextractr_spark.operators import _exec, zonal
    from exactextractr_spark.sources.features import features_from_wkt

    arr = np.arange(1.0, 37.0).reshape(6, 6)
    meta = RasterMeta("v", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                      tile_w=3, tile_h=3)
    r = Raster.from_array(spark, arr, meta)
    feats = features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))",
                "POLYGON ((3 3, 5 3, 5 5, 3 5, 3 3))",
                "POLYGON ((1 4, 2 4, 2 5, 1 5, 1 4))"]
    )
    monkeypatch.setattr(zonal, "BROADCAST_FEATURE_LIMIT", 2)
    monkeypatch.setattr(_exec, "_FUSED_COLLECT_MAX_BYTES", 0)
    # the concrete DataFrame class: PySpark 4 defines toArrow there, not on
    # pyspark.sql.DataFrame
    SparkDF = type(feats)
    real_to_arrow = SparkDF.toArrow

    def guarded_to_arrow(self):
        assert "geom" not in self.columns, (
            "geometries were collected to the driver on the cover-join path"
        )
        return real_to_arrow(self)

    monkeypatch.setattr(SparkDF, "toArrow", guarded_to_arrow)
    cand, fb = zonal.build_candidates(r, feats)
    assert fb is None  # cover-join strategy chosen
    monkeypatch.setattr(SparkDF, "toArrow", real_to_arrow)
    out = {row["feature_id"]: row for row in
           zonal.exact_extract(r, feats, ["mean", "sum", "count"],
                               broadcast_features=True).collect()}
    # same goldens as the broadcast path (strategy equivalence)
    assert out[1]["mean"] == pytest.approx(26.0)
    assert out[1]["sum"] == pytest.approx(104.0)
    assert out[1]["count"] == pytest.approx(4.0)


def test_blanket_feature_spans_trigger_early_bailout(spark):
    """A raster-spanning polygon must trip the blanket fallback from its
    SPAN (before enumerating tile keys): tile_side comes back unfiltered —
    the identical DataFrame object, no IN-set join built."""
    from exactextractr_spark.operators import zonal
    from exactextractr_spark.sources.features import features_from_wkt

    arr = np.zeros((40, 40)) + 7.0
    meta = RasterMeta("v", xmin=0, ymax=40, dx=1, dy=1, width=40, height=40,
                      tile_w=4, tile_h=4)  # 100 tiles, cap = 64
    r = Raster.from_array(spark, arr, meta)
    feats = features_from_wkt(
        spark, ["POLYGON ((-1 -1, 41 -1, 41 41, -1 41, -1 -1))"])
    tile_side, fb = zonal.build_candidates(r, feats)
    assert fb is not None
    # blanket bail-out: returned frame IS the raw/meta frame, not a join
    assert "Join" not in tile_side._jdf.queryExecution().logical().toString()


def test_resample_full_stat_surface(spark):
    """Freq + dispersion stats through exact_resample (reference allows any
    single non-weighted named stat, R/exact_resample.R:44-60). 4x4 source
    blocks aggregate to one dst cell each -> closed-form goldens."""
    arr = np.zeros((8, 8))
    arr[:4, :4] = [[1, 1, 2, 3]] * 4        # dst (0,0): mode 1, minority 2*
    arr[:4, 4:] = 5.0                        # dst (0,1): constant
    arr[4:, :4] = np.arange(16).reshape(4, 4)  # dst (1,0): 0..15
    arr[4:, 4:] = [[2, 2, 7, 7]] * 4        # dst (1,1): tie 2 vs 7
    meta = RasterMeta("v", xmin=0, ymax=8, dx=1, dy=1, width=8, height=8,
                      tile_w=8, tile_h=8)
    src = Raster.from_array(spark, arr, meta)
    dst = RasterMeta("d", xmin=0, ymax=8, dx=4, dy=4, width=2, height=2,
                     tile_w=2, tile_h=2)

    def grid(stat, **kw):
        return {(r["dst_row"], r["dst_col"]): r["value"]
                for r in exact_resample(src, dst, stat, **kw).collect()}

    mode = grid("mode")
    assert mode[(0, 0)] == 1.0           # 1 covers 8 cells vs 4/4
    assert mode[(1, 1)] == 7.0           # tie 8v8 -> larger value
    minority = grid("minority")
    assert minority[(0, 0)] in (2.0, 3.0) and minority[(0, 0)] == 2.0  # tie -> smaller
    variety = grid("variety")
    assert variety[(0, 0)] == 3.0 and variety[(0, 1)] == 1.0 and variety[(1, 0)] == 16.0
    var = grid("variance")
    block = np.arange(16)
    assert var[(1, 0)] == pytest.approx(block.var())
    assert var[(0, 1)] == pytest.approx(0.0)
    sd = grid("stdev")
    assert sd[(1, 0)] == pytest.approx(block.std())
    cv = grid("coefficient_of_variation")
    assert cv[(1, 0)] == pytest.approx(block.std() / block.mean())
    med = grid("median")
    assert med[(0, 1)] == pytest.approx(5.0)
    q25 = grid("quantile", q=0.25)
    assert q25[(0, 1)] == pytest.approx(5.0)
    # median of uniform weights over 0..15 (weighted interpolation)
    from exactextractr_spark.core.quantiles import weighted_quantile
    want = weighted_quantile(block.astype(float), np.ones(16), [0.5])[0]
    assert med[(1, 0)] == pytest.approx(want)


def test_exact_extract_lines_stats(spark):
    """Named stats over LineStrings: length-weighted (reference CLI linear
    semantics, raster_cell_intersection.cpp:250-259)."""
    from exactextractr_spark.operators.coverage_op import exact_extract_lines
    from exactextractr_spark.sources.features import features_from_wkt

    arr = np.arange(9, dtype=np.float64).reshape(3, 3)
    meta = RasterMeta("v", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3)
    r = Raster.from_array(spark, arr, meta)
    # horizontal line through the middle row (y=1.5): cells 3,4,5 each 1.0
    feats = features_from_wkt(spark, ["LINESTRING (0 1.5, 3 1.5)",
                                      "LINESTRING (0.5 2.5, 1.5 2.5)"])
    out = {row["feature_id"]: row.asDict() for row in
           exact_extract_lines(r, feats,
                               ["mean", "sum", "count", "min", "max",
                                "mode", "median", "variety"]).collect()}
    assert out[1]["count"] == pytest.approx(3.0)
    assert out[1]["sum"] == pytest.approx(3 + 4 + 5)
    assert out[1]["mean"] == pytest.approx(4.0)
    assert out[1]["min"] == 3.0 and out[1]["max"] == 5.0
    assert out[1]["variety"] == 3
    assert out[1]["median"] == pytest.approx(4.0)
    # feature 2: half a cell in 0, half in 1 -> mode tie -> larger value
    assert out[2]["count"] == pytest.approx(1.0)
    assert out[2]["mean"] == pytest.approx(0.5)
    assert out[2]["mode"] == 1.0
    # weighted stats refused
    with pytest.raises(ValueError, match="weighted"):
        exact_extract_lines(r, feats, ["weighted_mean"])


def test_exact_extract_lines_refuses_polygons(spark):
    """A polygon on the line path fails loudly instead of reading as a line
    that misses the raster (count 0, NULL mean); the message points at
    ``exact_extract``."""
    from exactextractr_spark.operators.coverage_op import exact_extract_lines

    r = Raster.from_array(spark, np.arange(9, dtype=np.float64).reshape(3, 3), meta33())
    feats = features_from_wkt(spark, [SQ_WKT])
    for bc in (True, False):
        with pytest.raises(Exception, match="use exact_extract for polygons"):
            exact_extract_lines(r, feats, ["count", "mean"],
                                broadcast_features=bc).collect()


def test_exact_extract_lines_hints_broadcast_only_with_feature_broadcast(
    spark, monkeypatch
):
    """Above the broadcast limit the lines take the cover join, and the
    per-feature result is not hinted for broadcast: the line stats add no
    broadcast hint to those of the line kernel. Results are unchanged."""
    import exactextractr_spark.operators.zonal as zonal_mod
    from exactextractr_spark.operators.coverage_op import (
        exact_extract_lines,
        line_cell_lengths_df,
    )

    r = Raster.from_array(spark, np.arange(36, dtype=np.float64).reshape(6, 6),
                          RasterMeta("v", xmin=0, ymax=6, dx=1, dy=1, width=6,
                                     height=6, tile_w=3, tile_h=3))
    lines = features_from_wkt(spark, ["LINESTRING (0 1.5, 6 1.5)",
                                      "LINESTRING (0.5 0.5, 5.5 5.2)",
                                      "LINESTRING (9 9, 10 10)"])  # outside
    stats = ["count", "sum", "mean", "max"]

    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "strategy=broadcast")

    want = [row.asDict() for row in exact_extract_lines(r, lines, stats).collect()]
    monkeypatch.setattr(zonal_mod, "BROADCAST_FEATURE_LIMIT", 2)
    out = exact_extract_lines(r, lines, stats)
    assert hints(out) == hints(line_cell_lengths_df(r, lines))
    got = [row.asDict() for row in out.collect()]
    assert [g["feature_id"] for g in got] == [w["feature_id"] for w in want]
    for g, w in zip(got, want):
        for s in stats:
            assert g[s] == pytest.approx(w[s], rel=1e-12), (g, w)


def test_rasterize_nonintersecting_and_partial(spark):
    """No error when polygons miss or only partially intersect the grid
    (test_rasterize.R:78-97)."""
    meta = RasterMeta("g", xmin=0, ymax=2, dx=1, dy=1, width=2, height=2,
                      tile_w=2, tile_h=2)
    missed = features_from_wkt(spark, ["POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"])
    assert rasterize_polygons(spark, missed, meta).count() == 0
    partial = features_from_wkt(
        spark, ["POLYGON ((1 1, 5 1, 5 5, 1 5, 1 1))"])
    got = {r["cell"]: r["feature_id"] for r in
           rasterize_polygons(spark, partial, meta).collect()}
    assert got == {2: 1}  # only the top-right cell is covered (fully)


def test_pixels_zero_rows_for_nonintersecting_polygon(spark):
    """Zero-row pixel frame, not an error (include_args.R:177-189)."""
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    r = Raster.from_array(spark, arr, meta33())
    feats = features_from_wkt(spark, ["POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"])
    assert exact_extract_pixels(r, feats).count() == 0


def test_resample_error_parity(spark):
    """Weighted or unknown stats are refused (test_exact_resample.R:45-66)."""
    arr = np.ones((4, 4))
    src_meta = RasterMeta("v", xmin=0, ymax=4, dx=1, dy=1, width=4, height=4,
                          tile_w=4, tile_h=4)
    dst = RasterMeta("d", xmin=0, ymax=4, dx=2, dy=2, width=2, height=2,
                     tile_w=2, tile_h=2)
    src = Raster.from_array(spark, arr, src_meta)
    with pytest.raises(ValueError, match="not supported"):
        exact_resample(src, dst, "weighted_mean")
    with pytest.raises(ValueError, match="not supported"):
        exact_resample(src, dst, "nope")


def test_resample_apply_and_coverage_area(spark):
    """R-function resample path (R/exact_resample.R:62-69) + coverage_area
    flag: a custom weighted-mean fn must equal stat='mean'; planar
    coverage_area scales weights by dx*dy (ratios unchanged for mean,
    'count' becomes area)."""
    import pandas as pd
    from pyspark.sql import types as T

    from exactextractr_spark.operators.resample import (
        exact_resample_apply,
        resample_facts,
    )

    rng = np.random.default_rng(3)
    arr = rng.uniform(0, 10, (6, 6))
    src_meta = RasterMeta("v", xmin=0, ymax=12, dx=2, dy=2, width=6, height=6,
                          tile_w=6, tile_h=6)
    src = Raster.from_array(spark, arr, src_meta)
    dst = RasterMeta("d", xmin=0, ymax=12, dx=3, dy=3, width=4, height=4,
                     tile_w=4, tile_h=4)

    def wmean(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf["coverage_fraction"]
        return pd.DataFrame(
            {
                "dst_row": [pdf["dst_row"].iloc[0]],
                "dst_col": [pdf["dst_col"].iloc[0]],
                "value": [(pdf["value"] * c).sum() / c.sum()],
            }
        )

    schema = T.StructType(
        [
            T.StructField("dst_row", T.IntegerType()),
            T.StructField("dst_col", T.IntegerType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    got = {(r["dst_row"], r["dst_col"]): r["value"]
           for r in exact_resample_apply(src, dst, wmean, schema).collect()}
    want = {(r["dst_row"], r["dst_col"]): r["value"]
            for r in exact_resample(src, dst, "mean").collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)

    # planar coverage_area: every weight scales by dx*dy=4 -> count == 4x
    cnt = {(r["dst_row"], r["dst_col"]): r["value"]
           for r in exact_resample(src, dst, "count").collect()}
    cnt_area = {(r["dst_row"], r["dst_col"]): r["value"]
                for r in exact_resample(src, dst, "count", coverage_area=True).collect()}
    for k in cnt:
        assert cnt_area[k] == pytest.approx(4.0 * cnt[k], rel=1e-12)
    # spherical: facts weights vary by latitude band (monotone toward equator)
    f = resample_facts(src, dst, coverage_area=True, spherical=True).collect()
    assert len({round(r["cov"], 6) for r in f}) > 1


def test_line_on_tile_and_raster_edges_counted_once(spark):
    """Boundary lines (degenerate bboxes) follow the global floor
    convention: owned by the cell below/right, clamped inward at the
    raster's outer edges, counted exactly once across tiles."""
    from exactextractr_spark.operators.coverage_op import line_cell_lengths_df
    from exactextractr_spark.sources.features import features_from_wkt

    meta = RasterMeta("v", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                      tile_w=3, tile_h=3)  # interior boundaries at x=3, y=3
    r = Raster.from_array(spark, np.arange(36, dtype=np.float64).reshape(6, 6), meta)
    cases = {
        "LINESTRING (0 6, 6 6)": (6.0, [1, 2, 3, 4, 5, 6]),          # global top
        "LINESTRING (0 0, 6 0)": (6.0, [31, 32, 33, 34, 35, 36]),    # global bottom
        "LINESTRING (0 0.5, 0 5.5)": (5.0, [1, 7, 13, 19, 25, 31]),  # global left
        "LINESTRING (6 0.5, 6 5.5)": (5.0, [6, 12, 18, 24, 30, 36]), # global right
        "LINESTRING (0 3, 6 3)": (6.0, [19, 20, 21, 22, 23, 24]),    # interior y
        "LINESTRING (3 0.5, 3 5.5)": (5.0, [4, 10, 16, 22, 28, 34]), # interior x
    }
    for wkt, (want_total, want_cells) in cases.items():
        feats = features_from_wkt(spark, [wkt])
        rows = line_cell_lengths_df(r, feats).collect()
        assert sum(x["length"] for x in rows) == pytest.approx(want_total), wkt
        assert sorted(x["cell"] for x in rows) == want_cells, wkt


def test_pixels_include_cols(spark):
    """include_cols copies source attributes onto every pixel row
    (R/exact_extract.R include_cols, include_args.R:99-111)."""
    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    r = Raster.from_array(spark, arr, meta33())
    feats = features_from_wkt(spark, [SQ_WKT])
    attrs = spark.createDataFrame([(1, "parcel-a", 7.5)],
                                  "feature_id: long, name: string, zoning: double")
    rows = exact_extract_pixels(r, feats, include_cols=attrs).collect()
    assert len(rows) == 9
    assert all(x["name"] == "parcel-a" and x["zoning"] == 7.5 for x in rows)


def test_resample_crs_error_parity(spark):
    """Differing defined CRS between source and destination raises
    (R/exact_resample.R:68-76); one undefined side warns and proceeds."""
    import warnings

    arr = np.ones((4, 4))
    src_meta = RasterMeta("v", xmin=0, ymax=4, dx=1, dy=1, width=4, height=4,
                          tile_w=4, tile_h=4, crs="EPSG:4326")
    src = Raster.from_array(spark, arr, src_meta)
    dst_other = RasterMeta("d", xmin=0, ymax=4, dx=2, dy=2, width=2, height=2,
                           tile_w=2, tile_h=2, crs="EPSG:3857")
    with pytest.raises(ValueError, match="same CRS as source"):
        exact_resample(src, dst_other, "mean")
    dst_undef = RasterMeta("d", xmin=0, ymax=4, dx=2, dy=2, width=2, height=2,
                           tile_w=2, tile_h=2, crs="")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {(r["dst_row"], r["dst_col"]): r["value"]
               for r in exact_resample(src, dst_undef, "mean").collect()}
    assert any("No CRS specified" in str(x.message) for x in w)
    assert got[(0, 0)] == pytest.approx(1.0)
    # semantic compare: aliases of the same CRS are NOT a mismatch
    dst_alias = RasterMeta("d", xmin=0, ymax=4, dx=2, dy=2, width=2, height=2,
                           tile_w=2, tile_h=2, crs="WGS84")
    ok = {(r["dst_row"], r["dst_col"]): r["value"]
          for r in exact_resample(src, dst_alias, "mean").collect()}
    assert ok[(0, 0)] == pytest.approx(1.0)
    # the R-function path validates CRS too (R/exact_resample.R:31-41)
    import pandas as pd
    from pyspark.sql import types as T

    from exactextractr_spark.operators.resample import exact_resample_apply

    sch = T.StructType([T.StructField("dst_row", T.IntegerType()),
                        T.StructField("dst_col", T.IntegerType()),
                        T.StructField("value", T.DoubleType())])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.iloc[:1][["dst_row", "dst_col", "value"]]

    with pytest.raises(ValueError, match="same CRS as source"):
        exact_resample_apply(src, dst_other, fn, sch)


def test_transform_geometry_restamps_srid():
    """Reprojection must not leave the source SRID embedded in the output
    geometry (stale EWKB SRID contradicting the crs column)."""
    from exactextractr_spark.core.crs import transform_geometry
    from exactextractr_spark.core.geom import from_wkt

    g = from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    g = type(g)(kind=g.kind, coords=g.coords, rings=g.rings, parts=g.parts,
                srid=4326)
    out = transform_geometry(g, "EPSG:4326", "EPSG:3857")
    assert out.srid == 3857
    # srid-less input stays srid-less
    g2 = from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert transform_geometry(g2, "EPSG:4326", "EPSG:3857").srid is None
