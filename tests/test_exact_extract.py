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


def _plan_nodes(df):
    """(node name, output column names) of every node of ``df``'s physical
    plan, AQE wrappers unwrapped."""
    nodes, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        attrs = node.output()
        nodes.append((node.nodeName(),
                      {attrs.apply(i).name() for i in range(attrs.size())}))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def _weight_joins(df):
    """The joins of ``df``'s plan that carry the weight lists, and the
    broadcast exchanges that carry a weight tile payload."""
    nodes = _plan_nodes(df)
    joins = [n for n, cols in nodes if n.endswith("Join") and "wtiles" in cols]
    bcasts = [n for n, cols in nodes
              if n == "BroadcastExchange" and cols & {"wtile", "wtiles"}]
    return joins, bcasts


def test_large_weight_raster_shuffles_not_broadcasts(spark, monkeypatch):
    """Above the size gate the weight tile payload must NOT be broadcast —
    the weight-list join shuffles instead, and results stay bit-exact.
    Forces the gate with a zeroed threshold on a multi-tile weight grid."""
    import exactextractr_spark.operators.zonal as zmod

    vals = np.arange(1, 65, dtype=np.float64).reshape(8, 8)
    wts = (np.arange(64, dtype=np.float64).reshape(8, 8) % 7) + 1.0
    vmeta = RasterMeta("v", xmin=0, ymax=8, dx=1, dy=1, width=8, height=8,
                       tile_w=4, tile_h=4)
    # DIFFERENT tiling (one 8x8 weight tile vs 4x4 value tiles) so the
    # grouped weight lists are built — the aligned lists are asserted
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
    want_df = exact_extract(rv, feats, stats, weights=rw)
    # below the gate the lists are broadcast: the plan check sees them
    assert _weight_joins(want_df) == (["BroadcastHashJoin"], ["BroadcastExchange"])
    want = [r.asDict() for r in want_df.orderBy("feature_id").collect()]
    # force the over-threshold path; disable AQE auto-broadcast so that any
    # BroadcastExchange left in the plan could only come from a hint
    monkeypatch.setattr(zmod, "WEIGHT_BROADCAST_MAX_BYTES", 0)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got_df = exact_extract(rv, feats, stats, weights=rw)
        # the weight-list join is a shuffle join and no broadcast exchange
        # carries a weight tile; other broadcasts (the per-feature result)
        # are fine
        joins, bcasts = _weight_joins(got_df)
        assert len(joins) == 1 and joins[0] in ("SortMergeJoin", "ShuffledHashJoin")
        assert bcasts == []
        got = [r.asDict() for r in got_df.orderBy("feature_id").collect()]
        # the raw weight raster (8*8 cells * 8 bytes) fits the gate but its
        # lists do not: the one 8x8 weight tile lands in every 4x4 value
        # tile's list, and the gate counts each copy
        monkeypatch.setattr(zmod, "WEIGHT_BROADCAST_MAX_BYTES", 8 * 8 * 8)
        fan_df = exact_extract(rv, feats, stats, weights=rw)
        joins, bcasts = _weight_joins(fan_df)
        assert len(joins) == 1 and joins[0] in ("SortMergeJoin", "ShuffledHashJoin")
        assert bcasts == []
        assert [r.asDict() for r in fan_df.orderBy("feature_id").collect()] == want
        monkeypatch.setattr(zmod, "WEIGHT_BROADCAST_MAX_BYTES", 0)
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
        joins2, bcasts2 = _weight_joins(got2_df)
        assert len(joins2) == 1 and joins2[0] in ("SortMergeJoin", "ShuffledHashJoin")
        assert bcasts2 == []
        plan2 = got2_df._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan2  # no regroup on the fast path
        got2 = [r.asDict() for r in got2_df.orderBy("feature_id").collect()]
        assert got2 == want2 == want
        # aligned lists hold each weight tile once: the same raw size that
        # shuffles the grouped lists above is broadcast here
        monkeypatch.setattr(zmod, "WEIGHT_BROADCAST_MAX_BYTES", 8 * 8 * 8)
        al_df = exact_extract(rv, feats, stats, weights=rw2)
        assert _weight_joins(al_df) == (["BroadcastHashJoin"], ["BroadcastExchange"])
        assert [r.asDict() for r in al_df.orderBy("feature_id").collect()] == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert got == want


def test_weight_list_gate_counts_the_real_payload(spark, monkeypatch):
    """80x120 weight tiles over the 100x100 value tiles of one 1200² grid:
    a weight tile sits in the list of every value tile it spans, 3.2 on
    average, so the lists hold 36.9 MB. The gate counts exactly that, from
    metadata, and broadcasts them under its 64 MB (a bound of 2 x 3 copies
    per tile read 69 MB and shuffled them). Checked against an integer
    count of the spans; no job runs."""
    from dataclasses import replace

    from exactextractr_spark.operators import zonal
    from exactextractr_spark.sources.tiles import TILE_SCHEMA

    vm = RasterMeta("v", xmin=0, ymax=1200, dx=1, dy=1, width=1200, height=1200,
                    tile_w=100, tile_h=100)
    wm = replace(vm, layer="w", tile_w=80, tile_h=120)

    def spans(n, step, vstep, v0=0, vn=1200):
        """Sum over the tiles [a, a + step) of an n-cell axis that meet
        [v0, v0 + vn) of (cells x value tiles of vstep met with area)."""
        total = 0
        for a in range(0, n, step):
            lo, hi = max(a, v0) - v0, min(a + step, n, v0 + vn) - v0
            if hi > lo:
                total += min(step, n - a) * (-(-hi // vstep) - lo // vstep)
        return total

    want = 8 * spans(1200, 80, 100) * spans(1200, 120, 100)
    assert want == 36_864_000  # 3.2 copies of 1200² float64 cells
    assert zonal._weight_list_bytes(vm, wm) == want
    # weight tiles that miss the value raster are not listed
    right = replace(vm, xmin=600, width=600)
    assert zonal._weight_list_bytes(right, wm) == 8 * spans(
        1200, 80, 100, 600, 600) * spans(1200, 120, 100) < want

    def hinted(limit):
        monkeypatch.setattr(zonal, "WEIGHT_BROADCAST_MAX_BYTES", limit)
        w = Raster.from_tiles(spark.createDataFrame([], TILE_SCHEMA), wm)
        plan = zonal.weight_lists(vm, w)._jdf.queryExecution().analyzed().toString()
        return "strategy=broadcast" in plan

    assert hinted(64 << 20)
    assert not hinted(want - 1)


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
    import exactextractr_spark.plans.stats as stats_mod

    monkeypatch.setattr(stats_mod, "MAX_FRAC_VALUES", 4)
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
    the line cover stage is strategy-independent, and the line stats of
    both strategies are the NaN-skipped aggregates of the line pixel
    table, which keeps the nodata cells."""
    import pandas as pd

    from exactextractr_spark.operators.coverage_op import (
        coverage_fraction_df,
        exact_extract_lines,
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

    # line cover stage: broadcast and cover join give the same (cell, v, length)
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

    # line stats: the pixel table's defined cells, aggregated by length
    lstats = ["count", "sum", "mean", "min", "max", "variety", "mode"]
    per_strategy = []
    for bc, px in zip((True, False), got_l):
        p = px.dropna(subset=["v"]).assign(vl=lambda d: d["v"] * d["length"])
        g = p.groupby("feature_id")
        by_v = p.groupby(["feature_id", "v"], as_index=False)["length"].sum()
        # the most length, ties to the larger value
        mode = by_v.sort_values(["feature_id", "length", "v"]).groupby(
            "feature_id")["v"].last()
        want = pd.DataFrame({
            "count": g["length"].sum(), "sum": g["vl"].sum(),
            "mean": g["vl"].sum() / g["length"].sum(), "min": g["v"].min(),
            "max": g["v"].max(), "variety": g["v"].nunique(), "mode": mode,
        }).reindex(fids)[lstats].to_numpy()
        got = table(exact_extract_lines(rv, lines, lstats, broadcast_features=bc),
                    lstats)
        np.testing.assert_allclose(got, want, rtol=1e-12, equal_nan=True)
        per_strategy.append(got)
    np.testing.assert_allclose(per_strategy[0], per_strategy[1], rtol=1e-12,
                               equal_nan=True)


def test_classified_pairs_match_the_integral(spark, monkeypatch):
    """The classify stage (exterior pairs dropped, interior pairs at
    coverage 1.0 without the integral) changes no kernel output: on a
    dyadic grid every emit is bitwise that of a run whose classifier sends
    every pair to the integral. Covers a hole inside a tile and one
    holding a whole tile, overlapping MultiPolygon parts over a tile
    (coverage 2), ring vertices and edges on tile edges, NaN and sentinel
    cells inside an interior tile (one of them all NaN) with and without
    ``default_value``, aligned and finer weights, cell areas, the pixels
    emit with cells and centres, and the coverage-only facts, with moments
    and freq also under the cover join. On a non-dyadic grid the named
    stats agree to rel 1e-12 and interior cells read exactly 1.0. A
    non-polygonal feature still raises."""
    import re

    from exactextractr_spark.core import geom as G
    from exactextractr_spark.core.coverage import BOUNDARY, EXTERIOR, INTERIOR
    from exactextractr_spark.core.grid import Box
    from exactextractr_spark.operators import zonal
    from exactextractr_spark.operators.coverage_op import coverage_fraction_df

    # values and weights not exact in binary: sums depend on cell order
    rng = np.random.default_rng(3)
    vals = rng.uniform(1, 7, (24, 24))
    vals[16:18, 12:14] = np.nan  # inside interior tile (4, 3)
    vals[18, 15] = vals[19, 12] = -9999.0  # sentinels, same tile
    vals[16:20, 16:20] = np.nan  # interior tile (4, 4): all nodata
    w_al = rng.uniform(0.5, 3.0, (24, 24))
    w_fine = rng.uniform(0.5, 3.0, (48, 48))
    wkts = [
        # holes: one holding tile (4, 1) whole, one inside tile (3, 3)
        "POLYGON ((0.5 0.5, 23.5 0.5, 23.5 15.5, 0.5 15.5, 0.5 0.5), "
        "(3.5 3.5, 8.5 3.5, 8.5 8.5, 3.5 8.5, 3.5 3.5), "
        "(13.25 9.25, 14.5 9.25, 14.5 10.5, 13.25 10.5, 13.25 9.25))",
        # parts overlapping over tile (1, 4), and a clockwise third part
        "MULTIPOLYGON (((15.5 15.5, 23.5 15.5, 23.5 23.5, 15.5 23.5, 15.5 15.5)), "
        "((15.75 15.75, 23.25 15.75, 23.25 23.25, 15.75 23.25, 15.75 15.75)), "
        "((0.5 16.5, 0.5 23.5, 3.5 23.5, 3.5 16.5, 0.5 16.5)))",
        # vertices on tile edges and corners
        "POLYGON ((8 16, 12 17, 13 22.5, 9.5 23, 8 16))",
        # a ring along tile edges
        "POLYGON ((4 0, 12 0, 12 4, 4 4, 4 0))",
    ]

    def setup(scale):
        """Raster, weights and features on the grid x' = x0 + s x."""
        x0, s_ = scale

        def move(wkt):
            return re.sub(r"(\d+(?:\.\d+)?) (\d+(?:\.\d+)?)",
                          lambda m: f"{x0 + s_ * float(m[1])!r} {x0 + s_ * float(m[2])!r}",
                          wkt)

        def meta(layer, n, d, tile, nodata=None):
            return RasterMeta(layer, xmin=x0, ymax=x0 + 24 * s_, dx=d, dy=d, width=n,
                              height=n, tile_w=tile, tile_h=tile, nodata=nodata)

        vmeta = meta("v", 24, s_, 4, nodata=-9999.0)
        rv = Raster.from_array(spark, vals, vmeta)
        ws = {"aligned": Raster.from_array(spark, w_al, meta("w", 24, s_, 4)),
              "finer": Raster.from_array(spark, w_fine, meta("w", 48, s_ / 2, 10))}
        return vmeta, rv, ws, [move(w) for w in wkts]

    def kernel_rows(vmeta, rv, feats, emit, weights=None, bc=True, **kw):
        cand, fbc = zonal.build_candidates(rv, feats, bc)
        cand = zonal.attach_weights(cand, vmeta, weights)
        df = zonal.coverage_facts(cand, emit=emit, feats_bc=fbc, values_meta=vmeta,
                                  disagg=zonal.weight_disagg(vmeta, weights), **kw)
        pdf = df.toPandas()
        return pdf.sort_values(list(pdf.columns), ignore_index=True)

    def runs(scale):
        vmeta, rv, ws, fw = setup(scale)
        feats = features_from_wkt(spark, fw)
        return [
            kernel_rows(vmeta, rv, feats, "moments"),
            kernel_rows(vmeta, rv, feats, "moments", bc=False),
            kernel_rows(vmeta, rv, feats, "moments", ws["aligned"], default_value=2.5),
            kernel_rows(vmeta, rv, feats, "freq", ws["finer"], bc=False),
            kernel_rows(vmeta, rv, feats, "freq", default_value=2.5),
            kernel_rows(vmeta, rv, feats, "moments", area_weights=True, coverage_area=True),
            kernel_rows(vmeta, rv, feats, "pixels", ws["aligned"], include_cell=True,
                        include_xy=True, include_area=True, coverage_area=True),
            kernel_rows(vmeta, rv, feats, "pixels", ws["finer"], include_cell=True,
                        include_xy=True),
            coverage_fraction_df(rv, feats).toPandas()
            .sort_values(["feature_id", "cell"], ignore_index=True),
        ]

    # every class occurs, where the raster puts the cases
    vmeta, _, _, fw = setup((0.0, 1.0))
    kinds = {}
    for i, wkt in enumerate(fw):
        g = G.from_wkt(wkt)
        for tr in range(6):
            for tc in range(6):
                t = vmeta.tile_grid(tr, tc)
                kinds[i, tr, tc] = zonal.classify_pair(t, g, Box(*g.bounds()))
    assert kinds[0, 4, 1] == EXTERIOR and kinds[0, 3, 3] == BOUNDARY
    assert kinds[0, 4, 3] == kinds[0, 4, 4] == INTERIOR
    assert kinds[1, 1, 4] == BOUNDARY and kinds[1, 1, 1] == EXTERIOR
    assert kinds[3, 5, 1] == kinds[3, 5, 2] == BOUNDARY
    assert sum(k == INTERIOR for k in kinds.values()) >= 3

    def interior_cov(cov):
        """Coverage of the first feature's cells in interior tile (4, 3)."""
        cells = {r * 24 + c + 1 for r in range(16, 20) for c in range(12, 16)}
        return cov[(cov["feature_id"] == 1) & cov["cell"].isin(cells)]["cov"]

    got = runs((0.0, 1.0))
    with monkeypatch.context() as mp:
        mp.setattr(zonal, "classify_pair", lambda tile, geom, bbox: BOUNDARY)
        want = runs((0.0, 1.0))
    for a, b in zip(got, want):
        assert list(a.columns) == list(b.columns)
        assert np.array_equal(a.to_numpy(dtype=np.float64), b.to_numpy(dtype=np.float64),
                              equal_nan=True)
    assert (interior_cov(got[-1]) == 1.0).sum() == 16

    # non-dyadic grid: the integral's interior cells read 1 +- ~1e-14
    vmeta, rv, ws, fw = setup((0.1, 0.3))
    feats = features_from_wkt(spark, fw)
    stats = ["count", "sum", "mean", "min", "max", "weighted_sum", "weighted_mean"]

    def nondyadic():
        return [exact_extract(rv, feats, stats + extra, weights=ws["aligned"])
                .toPandas()[stats + extra].to_numpy(dtype=np.float64)
                for extra in ([], ["variety"])], coverage_fraction_df(rv, feats).toPandas()

    got, cov = nondyadic()
    with monkeypatch.context() as mp:
        mp.setattr(zonal, "classify_pair", lambda tile, geom, bbox: BOUNDARY)
        want, _ = nondyadic()
    for a, b in zip(got, want):
        np.testing.assert_allclose(a, b, rtol=1e-12, equal_nan=True)
    assert (interior_cov(cov) == 1.0).sum() == 16

    points = features_from_wkt(spark, ["MULTIPOINT ((1 1), (23 23))"])
    _, rv, _, _ = setup((0.0, 1.0))
    with pytest.raises(Exception, match="not polygonal"):
        exact_extract(rv, points, ["mean"]).collect()


def test_nan_weights_poison_weighted_stats(spark, r19, sq, tmp_path):
    """A NaN weight on a covered cell poisons weighted_sum, weighted_count
    and weighted_mean (raster_stats.h:104-107) on every path: both
    candidate strategies, the moments emit and the freq emit (``variety``
    added), and streaming. ``default_weight`` replaces the NaN and gives
    finite values."""
    from exactextractr_spark.sources.tiles import tile_table_from_array
    from exactextractr_spark.streaming.zonal_stream import stream_zonal_stats

    warr = np.ones((3, 3))
    warr[1, 1] = np.nan  # the centre cell, fully covered by the square
    w = Raster.from_array(spark, warr, meta33("w"))
    wstats = ["weighted_sum", "weighted_count", "weighted_mean"]
    for bc in (True, False):
        for extra in ([], ["variety"]):
            row = one_row(exact_extract(r19, sq, wstats + extra, weights=w,
                                        broadcast_features=bc))
            assert all(math.isnan(row[s]) for s in wstats), (bc, extra, row)
            fine = one_row(exact_extract(r19, sq, wstats + extra, weights=w,
                                         default_weight=1.0,
                                         broadcast_features=bc))
            assert fine["weighted_sum"] == pytest.approx(20.0)
            assert fine["weighted_count"] == pytest.approx(4.0)
            assert fine["weighted_mean"] == pytest.approx(5.0)

    src = str(tmp_path / "src")
    tile_table_from_array(
        spark, np.arange(1, 10, dtype=np.float64).reshape(3, 3), meta33()
    ).write.parquet(src)
    for extra in ([], ["variety"]):
        name = f"nan_weights_{len(extra)}"
        q = stream_zonal_stats(
            spark, src, sq, wstats + extra, meta=meta33(), weights=w,
            checkpoint_dir=str(tmp_path / name), query_name=name,
        )
        q.awaitTermination(180)
        row = one_row(spark.table(name))
        assert all(math.isnan(row[s]) for s in wstats), (extra, row)


def test_quantile_all_nan_rows_read_null(spark):
    """NULL-vs-NaN contract of the quantile piece: frequency rows whose
    value is NaN drop out before the window, so a feature whose rows are
    all NaN reads NULL, not NaN (the coverage kernel never emits such
    rows). Pinned on a hand-built frequency table."""
    from exactextractr_spark.plans.stats import StatsPlan

    freq = spark.createDataFrame(
        [(1, 1.0, 1.0), (1, 3.0, 1.0), (2, float("nan"), 0.5)],
        "feature_id long, v double, sum_c double",
    )
    plan = StatsPlan(["variety", "median", "quantile"], [0.25])
    got = {r["feature_id"]: r.asDict() for r in plan.from_freq(freq).collect()}
    assert got[1]["median"] == pytest.approx(2.0)
    assert got[2]["variety"] == 1
    assert got[2]["median"] is None and got[2]["q25"] is None
