"""``exact_resample`` — re-grid a raster by exact area-weighted aggregation.

Reference: ``R/exact_resample.R:31-105`` + ``src/resample.cpp:52-171``.
Destination cells are axis-aligned rectangles, so coverage is the
closed-form rectangle overlap (``raster_cell_intersection.cpp:161-248``) —
no geometry kernel needed. Spark plan: map each source tile to the
destination cells it overlaps (pure arithmetic inside the kernel), emit
(dst_cell, value, overlap_weight) facts, then one groupBy(dst_cell) agg.

Sum-preservation invariant for stat='sum' on aligned grids:
``tests/testthat/test_exact_resample.R:16-43``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.stats import StatsPlan, quantile_name
from ..sources.tiles import Raster, RasterMeta, TilePayloads, in_payload_order, tile_pixels

_FACTS = T.StructType(
    [
        T.StructField("dst_row", T.IntegerType(), False),
        T.StructField("dst_col", T.IntegerType(), False),
        T.StructField("v", T.DoubleType(), False),
        T.StructField("cov", T.DoubleType(), False),
    ]
)

#: the reference accepts any single non-weighted named stat
#: (R/exact_resample.R:44-60); quantile takes q via the ``q`` kwarg
_SUPPORTED = {
    "sum", "mean", "count", "min", "max",
    "variance", "stdev", "coefficient_of_variation",
    "mode", "majority", "minority", "variety",
    "median", "quantile",
}


def _check_resample_crs(src_meta: RasterMeta, dst_meta: RasterMeta) -> None:
    """Reference parity (R/exact_resample.R:68-90): differing defined CRS
    is an error; one side undefined warns and assumes the other's."""
    from ..core.crs import _norm

    s, d = _norm(src_meta.crs or ""), _norm(dst_meta.crs or "")
    if s and d and s != d:
        raise ValueError(
            "Destination raster must have same CRS as source "
            f"({s!r} vs {d!r}; ref R/exact_resample.R:68-76)"
        )
    if bool(s) != bool(d):
        import warnings

        warnings.warn(
            "No CRS specified for one raster; assuming it matches the other "
            "(ref R/exact_resample.R:77-90)"
        )


def resample_facts(
    src: Raster,
    dst_meta: RasterMeta,
    *,
    coverage_area: bool = False,
    spherical: bool = False,
) -> DataFrame:
    """(dst_row, dst_col, v, cov) overlap facts between source cells and
    destination cells. ``coverage_area=True`` replaces the covered FRACTION
    with the covered AREA (per-latitude-band spherical area when
    ``spherical``, ref R/exact_resample.R:75 .areaMethod / raster_area.h:
    21-69) — the reference's coverage_area flag for geographic grids."""
    from ..core.grid import Grid
    from .zonal import cell_areas

    dxmin, dymax = dst_meta.xmin, dst_meta.ymax
    ddx, ddy = dst_meta.dx, dst_meta.dy
    dw, dh = dst_meta.width, dst_meta.height

    def _facts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payloads = TilePayloads()
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                nr, nc = int(row.nrows), int(row.ncols)
                # raw rows decode in-kernel, same contract as the zonal
                # kernel: the payload crosses the Arrow boundary
                # compressed, or is read from the tile's row group
                px = tile_pixels(row, payloads)
                sdx, sdy = row.dx, row.dy
                # source cell edges
                xs0 = row.xmin + np.arange(nc) * sdx
                ys1 = row.ymax - np.arange(nr) * sdy  # top edges
                # overlapped destination index ranges per src cell
                cx0 = np.floor((xs0 - dxmin) / ddx).astype(np.int64)
                cx1 = np.floor((xs0 + sdx - dxmin) / ddx - 1e-12).astype(np.int64)
                ry0 = np.floor((dymax - ys1) / ddy).astype(np.int64)
                ry1 = np.floor((dymax - (ys1 - sdy)) / ddy - 1e-12).astype(np.int64)
                # expand (src_row, src_col) x (dst_row, dst_col) pairs
                ncell_x = np.clip(cx1, 0, dw - 1) - np.clip(cx0, 0, dw - 1) + 1
                ncell_y = np.clip(ry1, 0, dh - 1) - np.clip(ry0, 0, dh - 1) + 1
                # build row-axis pairs
                src_r = np.repeat(np.arange(nr), ncell_y)
                dst_r = (
                    np.arange(int(ncell_y.sum()))
                    - np.repeat(np.cumsum(ncell_y) - ncell_y, ncell_y)
                    + np.repeat(np.clip(ry0, 0, dh - 1), ncell_y)
                )
                src_c = np.repeat(np.arange(nc), ncell_x)
                dst_c = (
                    np.arange(int(ncell_x.sum()))
                    - np.repeat(np.cumsum(ncell_x) - ncell_x, ncell_x)
                    + np.repeat(np.clip(cx0, 0, dw - 1), ncell_x)
                )
                # overlap lengths
                oy = np.minimum(ys1[src_r], dymax - dst_r * ddy) - np.maximum(
                    ys1[src_r] - sdy, dymax - (dst_r + 1) * ddy
                )
                ox = np.minimum(xs0[src_c] + sdx, dxmin + (dst_c + 1) * ddx) - np.maximum(
                    xs0[src_c], dxmin + dst_c * ddx
                )
                okr = oy > 0
                okc = ox > 0
                src_r, dst_r, oy = src_r[okr], dst_r[okr], oy[okr]
                src_c, dst_c, ox = src_c[okc], dst_c[okc], ox[okc]
                if len(src_r) == 0 or len(src_c) == 0:
                    continue
                # cross product of row pairs x col pairs
                R = len(src_r)
                C = len(src_c)
                sr = np.repeat(src_r, C)
                dr = np.repeat(dst_r, C)
                wy = np.repeat(oy, C)
                sc = np.tile(src_c, R)
                dc = np.tile(dst_c, R)
                wx = np.tile(ox, R)
                v = px[sr, sc]
                ok = ~np.isnan(v)
                if not ok.all():
                    sr, dr, wy, sc, dc, wx, v = (
                        a[ok] for a in (sr, dr, wy, sc, dc, wx, v)
                    )
                if len(v) == 0:
                    continue
                cov = (wx * wy) / (row.dx * row.dy)
                if coverage_area:
                    tile = Grid(row.xmin, row.ymin, row.xmax, row.ymax, row.dx, row.dy)
                    cov = cov * cell_areas(tile, sr, spherical)
                outs.append((dr.astype(np.int32), dc.astype(np.int32), v, cov))
            if outs:
                # ONE frame per Arrow batch (np.concatenate of column
                # arrays), not a pandas frame + concat per tile — same
                # assemble-once fix the zonal kernel carries
                cols = list(zip(*outs))
                yield pd.DataFrame(
                    {
                        "dst_row": np.concatenate(cols[0]),
                        "dst_col": np.concatenate(cols[1]),
                        "v": np.concatenate(cols[2]),
                        "cov": np.concatenate(cols[3]),
                    }
                )

    return in_payload_order(src.scan).mapInPandas(_facts, _FACTS)


def exact_resample(
    src: Raster,
    dst_meta: RasterMeta,
    stat: str = "mean",
    *,
    q: float = 0.5,
    coverage_area: bool = False,
    spherical: bool = False,
) -> DataFrame:
    """Returns (dst_row, dst_col, value) for destination cells with any
    source coverage. Single unweighted stat, like the reference
    (R/exact_resample.R:41-69), through the same named-stat finish as
    ``exact_extract`` keyed by destination cell — the reference builds one
    RasterStats per destination cell (resample.cpp:52-171): algebraic stats
    aggregate the overlap facts directly; frequency stats (mode/minority/
    variety/median/quantile) run over the per-cell value-frequency table,
    quantiles as the JVM window pass. ``coverage_area`` weights by covered
    area instead of covered fraction (the reference's flag for geographic
    grids)."""
    if stat not in _SUPPORTED:
        raise ValueError(f"stat {stat!r} not supported for resample")
    plan = StatsPlan([stat], [q] if stat == "quantile" else [])
    _check_resample_crs(src.meta, dst_meta)
    facts = resample_facts(
        src, dst_meta, coverage_area=coverage_area, spherical=spherical
    )
    keys = ("dst_row", "dst_col")
    if plan.freq:
        # the freq weight is the total coverage each value contributes
        # (raster_stats.h:176-230)
        res = plan.from_freq(plan.merge_freq(facts.withColumnRenamed("cov", "sum_c"), keys), keys)
    else:
        res = plan.from_facts(facts, keys)
    name = quantile_name(q) if stat == "quantile" else stat
    return res.select(*keys, F.col(name).cast("double").alias("value"))

def exact_resample_apply(
    src: Raster,
    dst_meta: RasterMeta,
    fn,
    schema,
    *,
    coverage_area: bool = False,
    spherical: bool = False,
) -> DataFrame:
    """The reference's R-function resample path (R/exact_resample.R:62-69:
    ``fun(values, coverage_fractions)`` per destination cell):
    ``fn(pdf) -> pdf`` receives one pandas frame per destination cell with
    columns (dst_row, dst_col, value, coverage_fraction) and may return any
    number of rows — groupBy(dst_row, dst_col).applyInPandas."""
    # same CRS validation as the named-stat path (the reference checks
    # before both, R/exact_resample.R:31-41)
    _check_resample_crs(src.meta, dst_meta)
    facts = resample_facts(
        src, dst_meta, coverage_area=coverage_area, spherical=spherical
    )
    px = facts.select(
        "dst_row",
        "dst_col",
        F.col("v").alias("value"),
        F.col("cov").alias("coverage_fraction"),
    )
    return px.groupBy("dst_row", "dst_col").applyInPandas(fn, schema)
