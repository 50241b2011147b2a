"""``coverage_fraction`` operator — the coverage raster itself as a table.

Reference: ``R/coverage_fraction.R:17-79`` + ``src/coverage_fraction.cpp:
27-89``. Output is the sparse long form (feature_id, cell, row, col, x, y,
cov) — the fact table every stat aggregates over; ``crop=True`` restricts to
feature-bbox tiles, ``crop=False`` semantics (0-filled full extent) are
recovered by densifying against the full cell universe downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tiles import Raster, tile_pixels
from .zonal import build_candidates, coverage_facts


def coverage_fraction_df(
    values: Raster,
    features: DataFrame,
    *,
    broadcast_features: bool = True,
    include_xy: bool = True,
) -> DataFrame:
    """Sparse per-cell coverage fractions, one row per covered cell."""
    cand, feats_bc = build_candidates(values, features, broadcast_features)
    facts = coverage_facts(
        cand,
        feats_bc=feats_bc,
        values_meta=values.meta,
        include_cell=True,
        include_xy=include_xy,
        coverage_only=True,  # coverage does not look at values at all
    )
    cols = ["feature_id", "cell", "cov"] + (["cx", "cy"] if include_xy else [])
    return facts.select(*cols)


def line_cell_lengths_df(
    values: Raster,
    features: DataFrame,
    *,
    broadcast_features: bool = True,
) -> DataFrame:
    """Per-cell traversal LENGTH for LineString features — the reference's
    linear analog of coverage (raster_cell_intersection.cpp:250-259; the
    CLI accepts lines, the R API does not). Output: one row per
    (feature, traversed cell) with the cell's value and the length of the
    line inside that cell; stats over lines weight by length the way areal
    stats weight by coverage fraction."""
    return _line_cell_lengths(values, features, broadcast_features)[0]


def _line_cell_lengths(values: Raster, features: DataFrame, broadcast_features: bool):
    """``line_cell_lengths_df`` and the feature broadcast it ran with (None
    on the cover-join strategy)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..core.coverage import cell_lengths
    from ..core.grid import Grid

    from .zonal import TileFeatures

    cand, feats_bc = build_candidates(values, features, broadcast_features)

    schema = T.StructType(
        [
            T.StructField("feature_id", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
            T.StructField("length", T.DoubleType(), False),
            T.StructField("cell", T.LongType(), False),
        ]
    )
    raster_xmin = values.meta.xmin
    raster_ymax = values.meta.ymax
    raster_width = values.meta.width
    raster_ymin = values.meta.ymax - values.meta.height * values.meta.dy
    raster_xmax = values.meta.xmin + values.meta.width * values.meta.dx

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # candidate tests must be INCLUSIVE for lines: a horizontal/vertical
        # line has a degenerate bbox that can lie exactly on a tile edge; the
        # kernel's closed/open edge ownership then ensures each boundary
        # segment is counted exactly once
        features = TileFeatures(feats_bc, inclusive=True)
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                # nodata -> NaN, same contract as the zonal kernel: a line
                # traversing a nodata cell reports v=NaN, not the sentinel
                px = tile_pixels(row)
                tg = Grid(row.xmin, row.ymin, row.xmax, row.ymax, row.dx, row.dy)
                for fid, geom, *_ in features(row):
                    # half-cell tolerance: the tile edge is computed JVM-side
                    # from caption JSON ((ymax - r0*dy) - h*dy) and the raster
                    # edge driver-side (ymax - height*dy); a 1-ULP divergence
                    # must not flip the raster's outer edge to "open" and drop
                    # a boundary-line segment
                    lens = cell_lengths(
                        tg,
                        geom,
                        closed_bottom=row.ymin <= raster_ymin + 0.5 * row.dy,
                        closed_right=row.xmax >= raster_xmax - 0.5 * row.dx,
                    )
                    rr, cc = np.nonzero(lens > 0)
                    if len(rr) == 0:
                        continue
                    grow = int(round((raster_ymax - tg.ymax) / tg.dy)) + rr
                    gcol = int(round((tg.xmin - raster_xmin) / tg.dx)) + cc
                    outs.append(
                        (
                            np.full(len(rr), fid, dtype=np.int64),
                            px[rr, cc],
                            lens[rr, cc],
                            (grow * raster_width + gcol + 1).astype(np.int64),
                        )
                    )
            if outs:
                cols = list(zip(*outs))
                yield pd.DataFrame(
                    {
                        "feature_id": np.concatenate(cols[0]),
                        "v": np.concatenate(cols[1]),
                        "length": np.concatenate(cols[2]),
                        "cell": np.concatenate(cols[3]),
                    }
                )

    return cand.mapInPandas(_kernel, schema), feats_bc


def exact_extract_lines(
    values: Raster,
    features: DataFrame,
    stats: "list[str] | str",
    *,
    quantiles: "list[float] | None" = None,
    broadcast_features: bool = True,
    sort: bool = True,
) -> DataFrame:
    """Named stats for LineString features — the reference CLI accepts
    linear geometries and weights every stat by the traversal LENGTH in
    each cell instead of the covered fraction (raster_cell_intersection.
    cpp:250-259; the R API refuses lines, the CLI does not).

    All non-weighted named stats are supported (mean = Σ v·len / Σ len,
    count = Σ len, mode = argmax of summed length per value, median/
    quantile = length-weighted interpolation…). Raster-weighted stats are
    refused — the reference has no weighted linear path either."""
    from ..plans.stats import StatsPlan, with_all_features

    if isinstance(stats, str):
        stats = [stats]
    plan = StatsPlan(stats, quantiles or [])
    if plan.needs_weights:
        raise ValueError(
            f"stats {sorted(set(stats))} are weighted; linear features "
            "have no weighted path (length IS the weight)"
        )
    facts, feats_bc = _line_cell_lengths(values, features, broadcast_features)
    # NA-skip contract: nodata cells traversed by the line contribute
    # nothing (same as areal stats ignoring NaN values)
    facts = facts.filter(F.col("v").isNotNull() & ~F.isnan("v"))
    freq = plan.merge_freq(facts.withColumnRenamed("length", "sum_c"))
    if plan.freq:
        # localCheckpoint, not persist: blocks released on GC, no cache
        # leak across repeated calls in a long-lived session
        freq = freq.localCheckpoint(eager=True)
    result = with_all_features(plan.from_freq(freq), features, feats_bc)
    return result.orderBy("feature_id") if sort else result


def coverage_fraction_raster(
    values: Raster, features: DataFrame, *, crop: bool = True
) -> DataFrame:
    """Dense form: one row per (feature, tile) with the coverage-fraction
    block as an array — the reference's RasterLayer-per-feature output
    (coverage_fraction.cpp:27-89). ``crop=False`` emits ALL tiles per
    feature with 0-filled blocks outside (R/coverage_fraction.R crop arg).
    Both modes audit the feature CRS like every zonal entry point
    (``zonal.reconcile_crs``)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..core.coverage import coverage_fraction
    from ..core.grid import Grid

    from .zonal import FEATURE_COLUMNS, TileFeatures, reconcile_crs

    if crop:
        # the cover join: every tile a feature bbox reaches, with its list
        cand, _ = build_candidates(values, features, broadcast_features=False)
        # the dense kernel is geometry-only: drop pixel payloads BEFORE the
        # python stage (mapInPandas ships every input column — Catalyst
        # cannot prune through it)
        cand = cand.select(
            "tile_row", "tile_col", "xmin", "ymin", "xmax", "ymax",
            "dx", "dy", "nrows", "ncols", "feats",
        )
    else:
        # cross every feature with every tile (0-filled outside). Output is
        # inherently |features| x |tiles| — quadratic by DEFINITION of
        # crop=FALSE, so refuse feature sets where that product is a mistake
        # rather than silently launching it (the reference only ever does
        # this one feature at a time, R/coverage_fraction.R:17-79).
        features, n_feats = reconcile_crs(values.meta, features)
        if n_feats is None:
            # limit-bounded guard job: we only need to know "more than
            # 1000?", never the exact count
            n_feats = features.limit(1001).count()
        if n_feats > 1000:
            raise ValueError(
                "coverage_fraction(crop=False) with >1000 features "
                "would emit a dense (feature x tile) product; use "
                "crop=True (sparse) or restrict the feature set"
            )
        feats_l = features.select(F.struct(*FEATURE_COLUMNS).alias("_feat")).agg(
            F.collect_list("_feat").alias("feats")
        )
        cand = values.scan.select(
            "tile_row", "tile_col", "xmin", "ymin", "xmax", "ymax",
            "dx", "dy", "nrows", "ncols",
        ).crossJoin(F.broadcast(feats_l))

    schema = T.StructType(
        [
            T.StructField("feature_id", T.LongType()),
            T.StructField("tile_row", T.IntegerType()),
            T.StructField("tile_col", T.IntegerType()),
            T.StructField("nrows", T.IntegerType()),
            T.StructField("ncols", T.IntegerType()),
            T.StructField("cov_px", T.ArrayType(T.DoubleType())),
        ]
    )

    def _dense(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # each feature's WKB is parsed once per partition, not per tile
        features = TileFeatures()
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                tile_grid = Grid(row.xmin, row.ymin, row.xmax, row.ymax, row.dx, row.dy)
                for ft in row.feats:
                    geom = features.geom(bytes(ft["geom"]))
                    cov = coverage_fraction(tile_grid, geom)
                    rows.append(
                        {
                            "feature_id": ft["feature_id"],
                            "tile_row": row.tile_row,
                            "tile_col": row.tile_col,
                            "nrows": tile_grid.nrows,
                            "ncols": tile_grid.ncols,
                            "cov_px": cov.ravel(),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return cand.mapInPandas(_dense, schema)
