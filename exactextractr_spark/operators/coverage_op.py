"""``coverage_fraction`` operator — the coverage raster itself as a table —
and the LineString operators.

Reference: ``R/coverage_fraction.R:17-79`` + ``src/coverage_fraction.cpp:
27-89``. ``coverage_fraction_df`` is the sparse long form (feature_id, cell,
cov[, x, y]) — the fact table every stat aggregates over;
``coverage_fraction_raster`` the dense per-(feature, tile) blocks, with
``crop=False`` emitting the 0-filled full extent.

The LineString operators (``line_cell_lengths_df``, ``exact_extract_lines``)
are the reference CLI's linear coverage (raster_cell_intersection.cpp:
250-259): the traversal length per cell takes the place of the covered
fraction. They and ``coverage_fraction_df`` run the one tile kernel,
``zonal.coverage_facts``; only the dense form has a kernel of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stats import StatsPlan
from ..sources.tiles import Raster
from .zonal import _kernel_stats, build_candidates, coverage_facts


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
    line inside that cell, from the coverage kernel's line cover stage
    (``coverage_facts(linear=True)``). Nodata cells stay, with v = NaN;
    stats over lines skip them and weight by length the way areal stats
    weight by coverage fraction."""
    cand, feats_bc = build_candidates(values, features, broadcast_features)
    facts = coverage_facts(
        cand, feats_bc=feats_bc, values_meta=values.meta, include_cell=True, linear=True,
    )
    return facts.select("feature_id", "v", F.col("cov").alias("length"), "cell")


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
    quantile = length-weighted interpolation…), through ``exact_extract``'s
    kernel and finish with the line cover stage; nodata cells contribute
    nothing. Raster-weighted stats are refused — the reference has no
    weighted linear path either — and so are polygons (use
    ``exact_extract``)."""
    if isinstance(stats, str):
        stats = [stats]
    plan = StatsPlan(stats, quantiles or [])
    if plan.needs_weights:
        raise ValueError(
            f"stats {sorted(set(stats))} are weighted; linear features "
            "have no weighted path (length IS the weight)"
        )
    cand, feats_bc = build_candidates(values, features, broadcast_features)
    return _kernel_stats(plan, cand, features, feats_bc, sort=sort,
                         values_meta=values.meta, linear=True)


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
