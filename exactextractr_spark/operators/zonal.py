"""``exact_extract`` — zonal statistics over (feature × tile) candidate pairs.

Spark-first re-expression of the reference pipeline
(``/root/reference/R/exact_extract.R:270-773`` + ``src/exact_extract.cpp:
266-507``): the reference's per-feature loop and ``subdivide`` chunking
disappear into shuffle parallelism; its StatsRegistry merge is Spark's
partial/final aggregation.

Plan shape (the reference's *raster-sequential* strategy,
``raster_sequential_processor.cpp:38-121``, with the STRtree replaced by a
tile-key equi-join Catalyst can broadcast or shuffle-hash):

    features ──explode tile cover (pure Catalyst sequence arithmetic)──┐
    tiles ──decode (mapInPandas)───────────────────────────────────────┤
                                                                        ▼
          equi-join on (tile_row, tile_col)  +  exact bbox refine
                                                                        ▼
          coverage kernel (mapInPandas, Arrow-vectorized) → sparse facts
                                                                        ▼
     the named-stat finish of ``plans.stats.StatsPlan``: merge the
     kernel's partials by feature (moments, or groupBy(fid, v) for
     frequency stats), finalize, back-fill the features with no facts

The coverage kernel (``coverage_facts``) is the one tile kernel for
polygons and lines: a chain of stages, each a module-level helper that the
resample kernel shares where it needs it:

- features: ``TileFeatures`` — a tile's candidate features, from the
  feature broadcast or the row's cover-join list, through the one bbox
  predicate ``bbox_overlaps``;
- classify: ``classify_pair`` — each polygon pair is exterior (dropped),
  interior or boundary (``core.coverage.tile_class``), before anything is
  decoded;
- decode: ``sources.tiles.tile_pixels`` — a tile's pixels, nodata as NaN,
  only for a tile with a pair left, from the payload its row carries or,
  for a file-backed tile table, from the tile's parquet row group
  (``sources.tiles.TilePayloads``);
- cover: ``cover_cells`` (polygons: exact coverage fractions),
  ``interior_cells`` (interior pairs: every cell at 1.0, no integral) or
  ``cover_lines`` (LineStrings: the traversal length per cell), all as
  ``Cells``;
- values and weights: ``Cells.take_values``, ``cell_areas``,
  ``sample_weights`` (over the ``wtiles`` lists that ``attach_weights``,
  the one weight path of every entry point, joins onto the tiles);
- reduce: one ``Reducer`` per emit mode — ``MomentsReducer`` (one row of
  algebraic moments per feature and tile, the reference's RasterStats
  accumulator), ``FreqReducer`` (per-value partial sums) and
  ``PixelsReducer`` (the sparse per-cell facts). Each owns its output
  schema, its optional ``layer`` tag and its frame assembly.
"""

from __future__ import annotations

import math
from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import geom as G
from ..core.coverage import (
    BOUNDARY,
    EXTERIOR,
    INTERIOR,
    cell_lengths,
    coverage_fraction,
    tile_class,
)
from ..core.grid import Box, Grid
from ..plans.stats import StatsPlan, with_all_features
from ..sources.tiles import Raster, TilePayloads, in_payload_order, tile_pixels
from ._exec import bounded_collect

EARTH_RADIUS = 6378137.0  # authalic, ref raster_area.h:63
_PI180 = math.pi / 180.0

FACTS_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("v", T.DoubleType(), True),
        T.StructField("w", T.DoubleType(), True),
        T.StructField("cov", T.DoubleType(), False),
        T.StructField("cell", T.LongType(), True),
        T.StructField("cx", T.DoubleType(), True),
        T.StructField("cy", T.DoubleType(), True),
        T.StructField("area", T.DoubleType(), True),
    ]
)

#: per-(feature, tile) partial value-frequency rows — kernel-side combine of
#: the groupBy(fid, v) shuffle (shuffle bytes scale with distinct values per
#: tile, not with covered cells)
FREQ_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("v", T.DoubleType(), False),
        T.StructField("sum_c", T.DoubleType(), False),
        T.StructField("sum_cw", T.DoubleType(), True),
    ]
)

#: per-(feature, tile) algebraic moments — the reference's StatsRegistry
#: accumulator (raster_stats.h:31-140) emitted as ONE row per candidate
#: pair, so the shuffle is independent of cell count entirely
MOMENTS_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("_p_sum_c", T.DoubleType(), True),
        T.StructField("_p_sum_xc", T.DoubleType(), True),
        T.StructField("_p_sum_xxc", T.DoubleType(), True),
        T.StructField("_p_sum_cw", T.DoubleType(), True),
        T.StructField("_p_sum_xcw", T.DoubleType(), True),
        T.StructField("_p_sum_xxcw", T.DoubleType(), True),
        T.StructField("_p_min", T.DoubleType(), True),
        T.StructField("_p_max", T.DoubleType(), True),
    ]
)


def cell_areas(grid: Grid, rows: np.ndarray, spherical: bool) -> np.ndarray:
    """Cell area per row index — cartesian constant or per-latitude-band
    spherical (ref raster_area.h:21-69, authalic radius 6378137)."""
    if not spherical:
        return np.full(len(rows), grid.dx * grid.dy)
    y_top = grid.ymax - rows * grid.dy
    y_bot = y_top - grid.dy
    return (
        EARTH_RADIUS
        * EARTH_RADIUS
        * _PI180
        * np.abs(np.sin(y_bot * _PI180) - np.sin(y_top * _PI180))
        * grid.dx
    )


# ---------------------------------------------------------------------------
# candidate join
# ---------------------------------------------------------------------------

def _tile_index(offset: Column, step: float, n: int, nudge: float = 0.0) -> Column:
    """``floor(offset / step + nudge)`` clamped to the tile indexes [0, n-1]."""
    q = offset / F.lit(step)
    if nudge > 0:
        q = q + F.lit(nudge)
    elif nudge < 0:
        q = q - F.lit(-nudge)
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), F.floor(q))).cast("int")


def _tiles_spanned(near: float, far: float, step: float, n: int, tol: float) -> int:
    """How many tiles one axis of ``tile_span`` gives for the offsets
    ``near`` and ``far``, on the driver with the same float operations:
    ``F.sequence`` of the first and last index, which counts down too."""
    first = max(0, min(n - 1, math.floor(near / step + tol)))
    last = max(0, min(n - 1, math.floor(far / step - tol)))
    return abs(last - first) + 1


def tile_span(m, xmin: Column, ymin: Column, xmax: Column, ymax: Column,
              tol: float = 0.0) -> "tuple[Column, Column, Column, Column]":
    """(first row, last row, first col, last col) of the tiles of the
    raster ``m`` that a box overlaps — pure Catalyst arithmetic. ``tol``
    shrinks the box by that fraction of a tile step on each side, so a box
    edge lying on a tile edge (up to float noise) does not reach into the
    neighbouring tile."""
    step_x = m.dx * m.tile_w
    step_y = m.dy * m.tile_h
    return (
        _tile_index(F.lit(m.ymax) - ymax, step_y, m.n_tile_rows, tol),
        _tile_index(F.lit(m.ymax) - ymin, step_y, m.n_tile_rows, -tol),
        _tile_index(xmin - F.lit(m.xmin), step_x, m.n_tile_cols, tol),
        _tile_index(xmax - F.lit(m.xmin), step_x, m.n_tile_cols, -tol),
    )


def feature_tile_cover(values: Raster, feats: DataFrame) -> DataFrame:
    """Explode each feature's bbox into covering tile keys (pure Catalyst
    sequence arithmetic — the 'H3 cover' of the north rule at tile
    granularity). Returns (tile_row, tile_col, feature_id, geom, f-bbox)."""
    m = values.meta
    f = feats.filter(bbox_overlaps(
        F.col("fxmin"), F.col("fymin"), F.col("fxmax"), F.col("fymax"),
        F.lit(m.xmin), F.lit(m.ymin), F.lit(m.xmax), F.lit(m.ymax), inclusive=True,
    ))
    tr0, tr1, tc0, tc1 = tile_span(
        m, F.col("fxmin"), F.col("fymin"), F.col("fxmax"), F.col("fymax")
    )
    return f.withColumn("tile_row", F.explode(F.sequence(tr0, tr1))).withColumn(
        "tile_col", F.explode(F.sequence(tc0, tc1))
    )


def tile_feature_lists(values: Raster, feats: DataFrame, salt_buckets: int = 1) -> DataFrame:
    """The cover join's feature side: (tile_row, tile_col, feats), each tile
    key with the LIST of features whose bbox overlaps it. Joined onto the
    tile rows (``build_candidates``), a tile's (heavy) pixel payload crosses
    the JVM→Python boundary exactly once no matter how many features touch
    it — the fanout of a continent-sized polygon duplicates only its
    (small) WKB into the per-tile lists, never the rasters. At 10^12-tile
    scale the per-tile work list is also the unit of checkpointing and skew
    is bounded by features-per-tile, not cells-per-feature.

    ``salt_buckets > 1`` splits each hot tile's feature list into that many
    salt buckets (north-rule skew handling): the per-tile ``collect_list``
    and the downstream kernel row both stay bounded; the tile payload is
    replicated once per non-empty bucket — the standard payload-duplication
    vs task-size salting trade."""
    cover = feature_tile_cover(values, feats).select(
        "tile_row", "tile_col", F.struct(*FEATURE_COLUMNS).alias("_feat")
    )
    group_keys = ["tile_row", "tile_col"]
    if salt_buckets > 1:
        cover = cover.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("_feat.feature_id")), F.lit(salt_buckets)).cast(
                "int"
            ),
        )
        group_keys = group_keys + ["_salt"]
    per_tile = cover.groupBy(*group_keys).agg(
        F.collect_list("_feat").alias("feats")
    )
    if salt_buckets > 1:
        per_tile = per_tile.drop("_salt")
    return per_tile


def bbox_overlaps(fxmin, fymin, fxmax, fymax, xmin, ymin, xmax, ymax,
                  inclusive: bool = False):
    """Whether a feature bbox overlaps a box: open intervals by default (a
    bbox that only touches a tile edge covers none of its area); closed
    with ``inclusive``, for LINEAR features, whose degenerate bboxes can lie
    exactly on a tile edge (the line cover stage's edge ownership counts a
    boundary segment once). Elementwise over numpy arrays or Spark Columns,
    plain over scalars."""
    if inclusive:
        return (fxmin <= xmax) & (fxmax >= xmin) & (fymin <= ymax) & (fymax >= ymin)
    return (fxmin < xmax) & (fxmax > xmin) & (fymin < ymax) & (fymax > ymin)


class FeatureBroadcast:
    """Driver-collected feature set for the feature-sequential strategy
    (ref feature_sequential_processor.cpp:24-91): when the polygon table is
    small enough to broadcast (the reference's only mode), the candidate
    'join' degenerates to a vectorized bbox test inside the kernel and the
    whole zonal plan is ONE stage: scan tiles → kernel → agg. No shuffle,
    no per-tile list build, no AQE job chain — at 10^12-tile scale the tile
    scan is the only data motion."""

    __slots__ = ("ids", "fxmin", "fymin", "fxmax", "fymax", "wkbs", "_geoms")

    def __getstate__(self):
        return (self.ids, self.fxmin, self.fymin, self.fxmax, self.fymax, self.wkbs)

    def __setstate__(self, st):
        self.ids, self.fxmin, self.fymin, self.fxmax, self.fymax, self.wkbs = st
        self._geoms = None

    def __init__(self, table):
        """``table``: the Arrow collect of ``FEATURE_COLUMNS``."""
        self._geoms = None
        self.ids = np.array(table.column("feature_id"), dtype=np.int64)
        self.fxmin = np.array(table.column("fxmin"), dtype=np.float64)
        self.fymin = np.array(table.column("fymin"), dtype=np.float64)
        self.fxmax = np.array(table.column("fxmax"), dtype=np.float64)
        self.fymax = np.array(table.column("fymax"), dtype=np.float64)
        self.wkbs = table.column("geom").to_pylist()

    def overlapping(self, xmin, ymin, xmax, ymax, inclusive: bool = False) -> np.ndarray:
        """Indices of features whose bbox meets the given tile box
        (``bbox_overlaps``)."""
        return np.nonzero(bbox_overlaps(self.fxmin, self.fymin, self.fxmax, self.fymax,
                                        xmin, ymin, xmax, ymax, inclusive))[0]

    def geom(self, i: int):
        """Parsed geometry, cached per worker (the broadcast value is
        deserialized once per executor, so the cache amortizes across all
        tasks and batches)."""
        g = self._geoms
        if g is None:
            g = self._geoms = [None] * len(self.wkbs)
        if g[i] is None:
            g[i] = G.from_wkb(self.wkbs[i])
        return g[i]


#: features above this count fall back to the cover-join strategy
BROADCAST_FEATURE_LIMIT = 200_000

#: the columns a ``FeatureBroadcast`` is built from
FEATURE_COLUMNS = ("feature_id", "geom", "fxmin", "fymin", "fxmax", "fymax")


def reconcile_crs(values_meta, feats: DataFrame) -> "tuple[DataFrame, int | None]":
    """The CRS audit of every zonal entry point: returns ``feats`` in the
    raster CRS and the feature count, or None when there was nothing to
    audit (no ``crs`` column, or a raster without a CRS).

    The reference auto-transforms the polygons to the raster CRS with a
    warning (R/exact_extract.R:360-377). We do the same for the closed-form
    pairs of ``core/crs.py``; every other mismatched pair fails loudly
    instead of producing silently wrong answers on misaligned coordinates.
    ONE metadata job, agg(count, collect_set(crs)), covers the audit and the
    count: the audit must see every row's crs anyway (any single mismatched
    row invalidates the run), so the count the broadcast-size guard needs
    comes free."""
    if "crs" not in feats.columns or not values_meta.crs:
        return feats, None
    meta_row = feats.agg(
        F.count(F.lit(1)).alias("n"),
        # coalesce to "" so a null-crs row is visible in the set — rows
        # with no CRS are conventionally assumed to already be in the
        # raster CRS and must NOT be silently reprojected
        F.collect_set(F.coalesce(F.col("crs"), F.lit(""))).alias("cset"),
    ).first()
    cset = set(meta_row["cset"])
    has_null = "" in cset
    fcrs = sorted(cset - {""})
    bad = [c for c in fcrs if c != values_meta.crs]
    if bad:
        from ..core.crs import can_transform
        from ..sources.features import transform_features

        if has_null:
            # mixed null-CRS and defined-CRS rows: transform_features
            # reprojects EVERY row, which would silently move the
            # null-CRS geometries (assumed already in the raster CRS)
            raise ValueError(
                "feature table mixes rows with no CRS and rows in "
                f"{bad[0]!r}; cannot auto-transform without silently "
                "reprojecting the CRS-less rows — stamp or transform "
                "them explicitly first"
            )
        if len(set(bad)) == 1 and len(fcrs) == 1 and can_transform(
            bad[0], values_meta.crs
        ):
            import warnings

            warnings.warn(
                f"transforming features from {bad[0]!r} to the raster "
                f"CRS {values_meta.crs!r} (ref R/exact_extract.R:360-377)"
            )
            feats = transform_features(feats, bad[0], values_meta.crs)
        else:
            raise ValueError(
                f"feature CRS {bad[0]!r} does not match the raster CRS "
                f"{values_meta.crs!r} and no closed-form transform "
                "exists; transform the features to the raster CRS first "
                "(the reference transforms automatically via PROJ, "
                "R/exact_extract.R:360-377)"
            )
    return feats, meta_row["n"]


def build_candidates(
    values: Raster,
    feats: DataFrame,
    broadcast_features: bool = True,
    salt_buckets: int = 1,
    *,
    tiles: "DataFrame | None" = None,
):
    """The one door into the coverage kernel: audit the feature CRS
    (``reconcile_crs``), then choose the candidate strategy (the
    reference's --strategy flag, exactextract.cpp:95-101):

    - feature-sequential / broadcast (small feature table): returns
      ``(tiles_df, sc.broadcast(FeatureBroadcast))`` — single-stage plan,
      with the tiles no feature bbox reaches pruned on the driver.
    - raster-sequential / cover join (``broadcast_features=False``, or more
      than ``BROADCAST_FEATURE_LIMIT`` features): returns
      ``(tiles joined with their feats lists, None)``.

    ``tiles`` is the tile frame to scan, keyed like ``values``' tiles; by
    default ``values.scan``. The stack single pass passes its layer-tagged
    frame of several same-grid layers.
    """
    feats, n_feats = reconcile_crs(values.meta, feats)
    # broadcast-size guard; the CRS audit's count, if any, saves a job
    table = None
    if broadcast_features:
        table = bounded_collect(
            feats.select(*FEATURE_COLUMNS), BROADCAST_FEATURE_LIMIT, count=n_feats
        )
    if table is None:
        per_tile = tile_feature_lists(values, feats, salt_buckets)
        if broadcast_features:
            per_tile = F.broadcast(per_tile)
        tiles = values.scan if tiles is None else tiles
        return tiles.join(per_tile, on=["tile_row", "tile_col"], how="inner"), None
    fb = FeatureBroadcast(table)
    tiles = values.scan if tiles is None else tiles
    # driver-side tile pruning from feature bboxes (the reference's crop,
    # exact_extract.cpp:359-361): skip the filter when features blanket the
    # raster — scanning everything beats building a huge IN-set
    m = values.meta
    step_x = m.dx * m.tile_w
    step_y = m.dy * m.tile_h
    keys: set[tuple[int, int]] = set()
    blanket = False
    cap = max(64, (m.n_tile_rows * m.n_tile_cols) // 2)
    for i in range(len(fb.ids)):
        tr0 = max(0, min(m.n_tile_rows - 1, int((m.ymax - fb.fymax[i]) // step_y)))
        tr1 = max(0, min(m.n_tile_rows - 1, int((m.ymax - fb.fymin[i]) // step_y)))
        tc0 = max(0, min(m.n_tile_cols - 1, int((fb.fxmin[i] - m.xmin) // step_x)))
        tc1 = max(0, min(m.n_tile_cols - 1, int((fb.fxmax[i] - m.xmin) // step_x)))
        # bail out on the SPAN before enumerating: one raster-blanketing
        # polygon on a 10^12-tile grid must not build the cross product
        if len(keys) + (tr1 - tr0 + 1) * (tc1 - tc0 + 1) > cap:
            blanket = True
            break
        for tr in range(tr0, tr1 + 1):
            for tc in range(tc0, tc1 + 1):
                keys.add((tr, tc))
    if not blanket and len(keys) < m.n_tile_rows * m.n_tile_cols:
        spark = tiles.sparkSession
        # pandas/Arrow path => a true LocalTableScan: a python-list
        # createDataFrame becomes a 32-slice python RDD whose first
        # materialization costs one python-worker round-trip PER SLICE
        # (measured ~4s of pure overhead per fresh query plan)
        ks = sorted(keys)
        keys_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "tile_row": pd.Series([k[0] for k in ks], dtype="int32"),
                    "tile_col": pd.Series([k[1] for k in ks], dtype="int32"),
                }
            )
        )
        tiles = tiles.join(
            F.broadcast(keys_df), on=["tile_row", "tile_col"], how="inner"
        )
    sc = tiles.sparkSession.sparkContext
    return tiles, sc.broadcast(fb)


def candidate_pairs_flat(values: Raster, feats: DataFrame) -> DataFrame:
    """Metadata-only (feature × tile) candidate pairs with the exact bbox
    refine — no pixel payloads; for diagnostics / pair accounting."""
    m = values.meta
    cover = feature_tile_cover(values, feats)
    tile_xmin = F.lit(m.xmin) + F.col("tile_col") * F.lit(m.dx * m.tile_w)
    tile_ymax = F.lit(m.ymax) - F.col("tile_row") * F.lit(m.dy * m.tile_h)
    tile_xmax = F.least(F.lit(m.xmax), tile_xmin + F.lit(m.dx * m.tile_w))
    tile_ymin = F.greatest(F.lit(m.ymin), tile_ymax - F.lit(m.dy * m.tile_h))
    return cover.filter(bbox_overlaps(
        F.col("fxmin"), F.col("fymin"), F.col("fxmax"), F.col("fymax"),
        tile_xmin, tile_ymin, tile_xmax, tile_ymax,
    ))


# Broadcast the weight lists only while their full pixel payload, every
# copy of a weight tile counted, is plausibly executor-memory safe. Above
# this the hint is dropped and the tile-key join of the lists shuffles
# instead (AQE picks the strategy) — an unconditional broadcast of a
# 100-TB-scale weight raster's payloads is a driver/executor OOM, not a
# slowdown.
WEIGHT_BROADCAST_MAX_BYTES = 64 << 20


def _weight_list_bytes(values_meta, wm, tol: float = 1e-9) -> int:
    """The pixel payload, in float64 bytes, of the lists ``weight_lists``
    builds, from metadata alone: each weight tile that meets the value
    raster is copied into the list of every value tile it spans. Overlap
    and span separate by axis, so the payload is the sum over weight-tile
    columns of (width x value tiles spanned), times the same sum over
    rows, times 8. The tile edges repeat the float arithmetic of
    ``RasterMeta.tile_grid`` and ``raw_tiles_with_meta``, the spans that
    of ``tile_span(tol=tol)``."""
    vm = values_meta
    cols = rows = 0
    for c0 in range(0, wm.width, wm.tile_w):
        n = min(wm.tile_w, wm.width - c0)
        x0 = wm.xmin + c0 * wm.dx
        x1 = x0 + n * wm.dx
        if x0 < vm.xmax and x1 > vm.xmin:
            cols += n * _tiles_spanned(x0 - vm.xmin, x1 - vm.xmin, vm.dx * vm.tile_w,
                                       vm.n_tile_cols, tol)
    for r0 in range(0, wm.height, wm.tile_h):
        n = min(wm.tile_h, wm.height - r0)
        y1 = wm.ymax - r0 * wm.dy
        y0 = y1 - n * wm.dy
        if y0 < vm.ymax and y1 > vm.ymin:
            rows += n * _tiles_spanned(vm.ymax - y1, vm.ymax - y0, vm.dy * vm.tile_h,
                                       vm.n_tile_rows, tol)
    return 8 * cols * rows


def _weight_side(w: DataFrame, nbytes: int) -> DataFrame:
    """``w``, hinted for broadcast while the weight lists' in-memory pixel
    payload ``nbytes`` is at most WEIGHT_BROADCAST_MAX_BYTES."""
    if nbytes <= WEIGHT_BROADCAST_MAX_BYTES:
        return F.broadcast(w)
    return w


def weight_disagg(values_meta, weights: "Raster | None", stats=()) -> "tuple[int, int]":
    """The weight decision of every zonal entry point (ref
    exact_extract.cpp:316-332), made from metadata before any job: the
    factor (fx, fy) by which a weight grid finer than the value grid
    disaggregates the value raster onto the finest common grid (ref
    RasterView, raster.h:248-312); (1, 1) when the weights are not finer,
    or absent. Raises when resolutions are not integer multiples or origins
    do not align (ref grid.h:219-282): a misaligned weight grid must not
    silently sample the wrong cells. Refuses ``count``/``sum`` among
    ``stats`` when the values are disaggregated: they are meaningless on
    disaggregated values (exact_extract.cpp:329-332)."""
    if weights is None:
        return (1, 1)
    vg, wg = values_meta.grid, weights.meta.grid
    if not vg.compatible_with(wg):
        raise ValueError(
            "weights grid is not compatible with the value grid "
            "(resolutions must be integer multiples, origins aligned)"
        )
    if not (wg.dx < vg.dx or wg.dy < vg.dy):
        return (1, 1)
    banned = {"count", "sum"} & set(stats)
    if banned:
        raise ValueError(
            f"stats {sorted(banned)} cannot be computed when the "
            "value raster is disaggregated to a finer weight grid"
        )
    return (int(round(vg.dx / wg.dx)), int(round(vg.dy / wg.dy)))


def _weight_tile() -> Column:
    """One weight tile as the struct the coverage kernel samples weights
    from (grid origin, resolution, shape and decoded pixels)."""
    return F.struct(*[
        F.col(c).alias(c) for c in ("xmin", "ymax", "dx", "dy", "nrows", "ncols", "px")
    ])


def weight_lists(values_meta, weights: Raster) -> DataFrame:
    """(tile_row, tile_col, wtiles) keyed by VALUE-raster tile index: the
    weight tiles each value tile samples its weights from. Built from the
    weight raster alone, so batch and streaming attach it the same way (a
    stream-static equi-join runs no grouping on the streaming side), and
    hinted for broadcast under the size gate (``_weight_side``).

    Aligned weights (``same_grid`` and the same tiling): value tile (r, c)
    overlaps weight tile (r, c) and nothing else, so each list is that one
    tile under its own key — no explode, no regroup. Otherwise each weight
    tile that meets the value raster enumerates the value tiles it overlaps
    (``tile_span`` on the value grid) and one groupBy collects the lists;
    a weight tile then sits in several lists, and the size gate counts
    each copy (``_weight_list_bytes``). ``sample_weights`` reads each cell
    from the listed tile that contains its centre, and weight tiles are
    disjoint, so neither list order nor a member that only touches the
    value tile changes a weight."""
    wm, vm = weights.meta, values_meta
    nbytes = _weight_list_bytes(vm, wm)
    if vm.same_grid(wm) and (wm.tile_w, wm.tile_h) == (vm.tile_w, vm.tile_h):
        return _weight_side(
            weights.tiles.select(
                "tile_row", "tile_col", F.array(_weight_tile()).alias("wtiles")
            ),
            nbytes,
        )
    # weight tiles off the value raster would be clamped onto its edge tiles
    wt = weights.tiles.filter(bbox_overlaps(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
        F.lit(vm.xmin), F.lit(vm.ymin), F.lit(vm.xmax), F.lit(vm.ymax),
    )).select("xmin", "ymin", "xmax", "ymax", _weight_tile().alias("wtile"))
    r0, r1, c0, c1 = tile_span(
        vm, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), tol=1e-9
    )
    expanded = wt.withColumn("tile_row", F.explode(F.sequence(r0, r1))).withColumn(
        "tile_col", F.explode(F.sequence(c0, c1))
    )
    return _weight_side(
        expanded.groupBy("tile_row", "tile_col").agg(
            F.collect_list("wtile").alias("wtiles")
        ),
        nbytes,
    )


def attach_weights(cand: DataFrame, values_meta, weights: "Raster | None") -> DataFrame:
    """``cand`` with the ``weight_lists`` left-joined on the tile key as
    ``wtiles`` — the one weight attach of every entry point, which first
    takes its ``coverage_facts(disagg=)`` factor, and its refusals, from
    ``weight_disagg``; ``cand`` unchanged without weights."""
    if weights is None:
        return cand
    return cand.join(
        weight_lists(values_meta, weights), on=["tile_row", "tile_col"], how="left"
    )


# ---------------------------------------------------------------------------
# the coverage kernel: features -> classify -> decode -> cover -> reduce
# ---------------------------------------------------------------------------

class TileFeatures:
    """Features stage of the tile kernels: a tile row's candidate
    features, as ``(feature_id, geom, fxmin, fymin, fxmax, fymax)``.

    With a feature broadcast (``feats_bc``) the candidates come from its
    vectorized bbox test; otherwise from the row's cover-join ``feats``
    list, refined by the exact bbox test (the cover is tile-granular).
    ``inclusive`` closes the bbox test for lines, whose degenerate bboxes
    can lie exactly on a tile edge. Cover-join geometries are parsed once
    per worker into a size-capped cache, which ``geom`` also serves to
    the dense coverage kernel."""

    GEOM_CACHE_MAX = 4096

    def __init__(self, feats_bc=None, inclusive: bool = False):
        self.fb = feats_bc.value if feats_bc is not None else None
        self.inclusive = inclusive
        self._geoms: dict[bytes, object] = {}

    def geom(self, wkb: bytes):
        """The parsed geometry of ``wkb``, through the cache."""
        geom = self._geoms.get(wkb)
        if geom is None:
            if len(self._geoms) >= self.GEOM_CACHE_MAX:
                self._geoms.clear()
            geom = self._geoms[wkb] = G.from_wkb(wkb)
        return geom

    def __call__(self, row):
        fb = self.fb
        if fb is not None:
            for j in fb.overlapping(row.xmin, row.ymin, row.xmax, row.ymax, self.inclusive):
                yield (int(fb.ids[j]), fb.geom(j),
                       fb.fxmin[j], fb.fymin[j], fb.fxmax[j], fb.fymax[j])
            return
        for ft in row.feats:
            if bbox_overlaps(ft["fxmin"], ft["fymin"], ft["fxmax"], ft["fymax"],
                             row.xmin, row.ymin, row.xmax, row.ymax, self.inclusive):
                yield (ft["feature_id"], self.geom(bytes(ft["geom"])),
                       ft["fxmin"], ft["fymin"], ft["fxmax"], ft["fymax"])


class Cells:
    """One (feature, tile) pair's covered cells, as the cover stage finds
    them and the value and weight stages fill them in: ``rr``/``cc`` index
    the sampling grid ``samp`` (finer than the tile when disaggregating),
    ``tr``/``tc`` the tile; ``cov`` is the covered fraction, or for lines
    the traversal length; ``w`` is None when no weight applies.

    The dense form (``interior_cells`` without an index) has no
    ``rr``/``cc``/``tr``/``tc``: it is every cell of the tile, row-major."""

    __slots__ = ("feature_id", "tile", "samp", "rr", "cc", "tr", "tc",
                 "cov", "v", "w", "area", "_xy")

    def __init__(self, feature_id, tile, samp, rr, cc, tr, tc, cov):
        self.feature_id = feature_id
        self.tile, self.samp = tile, samp
        self.rr, self.cc, self.tr, self.tc = rr, cc, tr, tc
        self.cov = cov
        self.v = self.w = self.area = self._xy = None

    def __len__(self) -> int:
        return len(self.cov)

    def take_values(self, px: "np.ndarray | None", default_value,
                    keep_nan: bool = False) -> bool:
        """Sample the tile's values (0 without a pixel block); NaN cells
        (after ``default_value``) drop out unless ``keep_nan``. False when
        no cell is left."""
        if px is None:
            self.v = np.zeros(len(self))
            return True
        v = px.ravel() if self.tr is None else px[self.tr, self.tc]
        if default_value is not None:
            v = np.where(np.isnan(v), default_value, v)
        ok = ~np.isnan(v)
        if not keep_nan and not ok.all():
            if self.tr is not None:
                self.rr, self.cc, self.tr, self.tc = (
                    self.rr[ok], self.cc[ok], self.tr[ok], self.tc[ok]
                )
            self.cov, v = self.cov[ok], v[ok]
        self.v = v
        return len(v) > 0

    def centers(self) -> "tuple[np.ndarray, np.ndarray]":
        """Cell centers in world coordinates, at sampling resolution."""
        if self._xy is None:
            s = self.samp
            self._xy = (s.xmin + (self.cc + 0.5) * s.dx,
                        s.ymax - (self.rr + 0.5) * s.dy)
        return self._xy


def classify_pair(tile: Grid, geom, bbox: Box) -> str:
    """Classify stage: ``coverage.tile_class`` of a (tile, feature) pair.
    An interior answer also needs the feature bbox to contain the tile box,
    because the cover stage crops the tile to the bbox; a pair that fails
    that (it cannot, for a bbox that bounds the geometry) stays boundary."""
    kind = tile_class(tile, geom)
    if kind == INTERIOR and not (bbox.xmin <= tile.xmin and bbox.ymin <= tile.ymin
                                 and bbox.xmax >= tile.xmax and bbox.ymax >= tile.ymax):
        return BOUNDARY
    return kind


def _refined(grid: Grid, disagg) -> Grid:
    """``grid`` with its cells split ``disagg`` = (fx, fy) ways: the grid
    coverage is computed on when a finer weight grid disaggregates the
    values. The value raster is then sampled by integer division — the
    reference's lazy RasterView (raster.h:248-312) without materializing
    the upsampled block."""
    fx, fy = disagg
    if fx > 1 or fy > 1:
        return Grid(grid.xmin, grid.ymin, grid.xmax, grid.ymax, grid.dx / fx, grid.dy / fy)
    return grid


def cover_cells(tile: Grid, feature_id, geom, bbox: Box, disagg) -> "Cells | None":
    """Cover stage: the exact coverage fractions of ``geom`` over the part
    of ``tile`` inside its bbox, on the grid refined by ``disagg``."""
    sub = tile.crop(bbox)
    if sub.size == 0:
        return None
    samp = _refined(sub, disagg)
    cov = coverage_fraction(samp, geom)
    rr, cc = np.nonzero(cov > 0)
    if len(rr) == 0:
        return None
    fx, fy = disagg
    r_off, c_off = tile.row_col_offset(sub)
    return Cells(feature_id, tile, samp, rr, cc, rr // fy + r_off, cc // fx + c_off,
                 cov[rr, cc])


def interior_cells(tile: Grid, feature_id, disagg, index: bool) -> Cells:
    """Cover stage of an ``INTERIOR`` pair (whose feature bbox contains the
    tile, so ``cover_cells`` would cover all of it): every cell of the
    sampling grid at coverage 1.0, in the row-major order ``cover_cells``
    lists them, with no integral and no gather. Without ``index`` (no
    weights, areas, disaggregation or per-cell output) it is the dense
    form."""
    samp = _refined(tile, disagg)
    cov = np.ones(samp.size)
    if not index:
        return Cells(feature_id, tile, samp, None, None, None, None, cov)
    fx, fy = disagg
    rr, cc = np.divmod(np.arange(samp.size), samp.ncols)
    return Cells(feature_id, tile, samp, rr, cc, rr // fy, cc // fx, cov)


def cover_lines(tile: Grid, feature_id, geom, values_meta) -> "Cells | None":
    """Cover stage for LineStrings: the traversal length of ``geom`` in
    each cell of the whole ``tile`` (as ``cov``; the sampling grid is the
    tile). The tile's bottom/right edge is closed when it is the raster's
    outer edge, so a boundary line is counted once across tiles. The test
    allows half a cell: the tile edge comes from the tile table and the
    raster edge from ``values_meta``, and a 1-ULP divergence must not open
    the raster's outer edge and drop a boundary segment."""
    lens = cell_lengths(
        tile,
        geom,
        closed_bottom=tile.ymin <= values_meta.ymin + 0.5 * tile.dy,
        closed_right=tile.xmax >= values_meta.xmax - 0.5 * tile.dx,
    )
    rr, cc = np.nonzero(lens > 0)
    if len(rr) == 0:
        return None
    return Cells(feature_id, tile, tile, rr, cc, rr, cc, lens[rr, cc])


def sample_weights(wtiles, cells: Cells, default_weight) -> np.ndarray:
    """Weight stage: each covered cell's weight from the weight tile its
    center falls in (NaN outside every tile, then ``default_weight``)."""
    cx, cy = cells.centers()
    w = np.full(len(cells), np.nan)
    for wt in wtiles if wtiles is not None else []:
        nr, nc = int(wt["nrows"]), int(wt["ncols"])
        wpx = np.asarray(wt["px"], dtype=np.float64).reshape(nr, nc)
        wr = np.floor((wt["ymax"] - cy) / wt["dy"]).astype(np.int64)
        wc = np.floor((cx - wt["xmin"]) / wt["dx"]).astype(np.int64)
        sel = (wr >= 0) & (wr < nr) & (wc >= 0) & (wc < nc)
        if sel.any():
            w[sel] = wpx[wr[sel], wc[sel]]
    if default_weight is not None:
        w = np.where(np.isnan(w), default_weight, w)
    return w


class Reducer:
    """Reduce stage: folds each pair's ``Cells`` into output rows and
    assembles ONE frame per Arrow batch. ``by_layer`` tags every row with
    its tile's layer (multi-layer single pass). Subclasses give the schema
    (without the tag) and ``reduce``, which returns the row's columns in
    schema order: scalars for one row per pair, arrays for many."""

    SCHEMA: T.StructType
    SCALAR = False

    def __init__(self, by_layer: bool = False):
        self.by_layer = by_layer
        fields = list(self.SCHEMA.fields)
        if by_layer:
            fields.insert(1, T.StructField("layer", T.StringType()))
        self.schema = T.StructType(fields)
        self._parts: list[tuple] = []

    def reduce(self, c: Cells) -> tuple:
        raise NotImplementedError

    def add(self, c: Cells, layer) -> None:
        cols = self.reduce(c)
        if self.by_layer:
            tag = layer if self.SCALAR else np.full(len(cols[0]), layer, dtype=object)
            cols = (cols[0], tag) + cols[1:]
        self._parts.append(cols)

    def frame(self) -> "pd.DataFrame | None":
        """The rows added since the last call, or None if there are none."""
        if not self._parts:
            return None
        cols, self._parts = list(zip(*self._parts)), []
        if not self.SCALAR:
            # np.concatenate of column arrays, not a pandas concat of
            # per-pair frames
            return pd.DataFrame({f.name: np.concatenate(col)
                                 for f, col in zip(self.schema.fields, cols)})
        data = {}
        for f, col in zip(self.schema.fields, cols):
            if f.name == "layer":
                data[f.name] = list(col)
            elif isinstance(f.dataType, T.LongType):
                data[f.name] = np.asarray(col, dtype=np.int64)
            else:
                data[f.name] = np.asarray(col, dtype=np.float64)
        return pd.DataFrame(data)


class MomentsReducer(Reducer):
    """``emit="moments"``: ONE row of algebraic moments per (feature,
    tile), accumulated as plain tuples — a pandas frame per pair costs
    more than the moments themselves."""

    SCHEMA = MOMENTS_SCHEMA
    SCALAR = True

    def reduce(self, c: Cells) -> tuple:
        v, cov, w = c.v, c.cov, c.w
        vc = v * cov
        if w is None:
            wsums = (math.nan, math.nan, math.nan)
        else:
            cw = cov * w
            vcw = v * cw
            wsums = (cw.sum(), vcw.sum(), (v * vcw).sum())
        return (c.feature_id, cov.sum(), vc.sum(), (v * vc).sum()) + wsums + (
            v.min(), v.max()
        )


class FreqReducer(Reducer):
    """``emit="freq"``: per-(feature, tile, value) partial sums (v, Σc,
    Σcw) — the map-side combine of the groupBy(fid, v) shuffle."""

    SCHEMA = FREQ_SCHEMA

    def reduce(self, c: Cells) -> tuple:
        uv, inv = np.unique(c.v, return_inverse=True)
        sum_c = np.bincount(inv, weights=c.cov)
        if c.w is None:
            sum_cw = np.full(len(uv), np.nan)
        else:
            sum_cw = np.bincount(inv, weights=c.cov * c.w)
        return (np.full(len(uv), c.feature_id, np.int64), uv, sum_c, sum_cw)


class PixelsReducer(Reducer):
    """``emit="pixels"``: the sparse facts (feature_id, v, w, cov, cell,
    cx, cy, area) — the coverage-fraction raster in long form. Columns not
    asked for (``include_cell``/``include_xy``, area) read 0."""

    SCHEMA = FACTS_SCHEMA

    def __init__(self, by_layer: bool = False, *, values_meta=None,
                 include_cell: bool = False, include_xy: bool = False):
        super().__init__(by_layer)
        self.meta = values_meta
        self.include_cell = include_cell
        self.include_xy = include_xy

    def reduce(self, c: Cells) -> tuple:
        n = len(c)
        zeros = np.zeros(n)
        if self.include_cell:
            # 1-based row-major cell index of the VALUE raster, also when
            # disaggregated (ref raster_utils.cpp:53-118)
            m, t = self.meta, c.tile
            grow = int(round((m.ymax - t.ymax) / t.dy)) + c.tr
            gcol = int(round((t.xmin - m.xmin) / t.dx)) + c.tc
            cell = (grow * m.width + gcol + 1).astype(np.int64)
        else:
            cell = np.zeros(n, dtype=np.int64)
        cx, cy = c.centers() if self.include_xy else (zeros, zeros)
        return (
            np.full(n, c.feature_id, dtype=np.int64),
            c.v,
            np.full(n, np.nan) if c.w is None else c.w,
            c.cov,
            cell,
            cx,
            cy,
            zeros if c.area is None else c.area,
        )


def coverage_facts(
    cand: DataFrame,
    *,
    values_meta,
    area_weights: bool = False,
    spherical: bool = False,
    coverage_area: bool = False,
    include_cell: bool = False,
    include_xy: bool = False,
    include_area: bool = False,
    default_value: float | None = None,
    default_weight: float | None = None,
    emit: str = "pixels",
    feats_bc=None,
    disagg: "tuple[int, int]" = (1, 1),
    by_layer: bool = False,
    coverage_only: bool = False,
    linear: bool = False,
) -> DataFrame:
    """Run the exact coverage kernel over tile rows, as one ``mapInPandas``.

    Per tile row the kernel runs its stages in order:

    1. features — ``TileFeatures``: the tile's candidate features. With
       ``feats_bc`` (a ``sc.broadcast(FeatureBroadcast)``, the
       feature-sequential strategy) ``cand`` is the bare tile DataFrame and
       candidates come from a vectorized bbox test; otherwise ``cand``
       carries each tile's cover-join ``feats`` list;
    2. classify — ``classify_pair``: a polygon pair is ``EXTERIOR`` (no
       ring edge meets the closed tile box and the box lies outside the
       polygon, or in a hole: dropped), ``INTERIOR`` (no edge meets the
       box, exactly one part holds it, outside its holes, and the feature
       bbox contains it) or ``BOUNDARY`` (everything else, overlapping
       parts and non-polygonal features included); ``linear`` pairs are
       all boundary;
    3. decode — ``tiles.tile_pixels``: the tile's pixel block, once for all
       its pairs, and only when a pair is left (skipped under
       ``coverage_only``). A located row (a file-backed tile table, see
       ``tiles.raw_tiles_with_meta``) has no ``bytes``: the task's
       ``TilePayloads`` reads the payload from the tile's parquet row
       group, holding one row group at a time, so the rows are sorted by
       (file, row) within each partition first (``in_payload_order``) and
       a tile whose pairs are all exterior is never read;
    4. cover — boundary pairs: ``cover_cells``, exact coverage fractions on
       the tile grid, refined by ``disagg`` for a finer weight grid; with
       ``linear``, ``cover_lines``: the traversal length per cell of
       LineString features, as ``cov`` (the reference's linear coverage,
       raster_cell_intersection.cpp:250-259). Interior pairs:
       ``interior_cells``, every cell at coverage 1.0 in the same
       row-major order, with no integral; with no weights, areas,
       disaggregation or per-cell output they are dense (values are the
       tile block's ravel, no cell index is built);
    5. values, areas and weights — ``Cells.take_values`` (NaN cells drop
       out, except from the ``linear`` pixels emit), ``cell_areas``
       (``coverage_area``, ``area_weights``, ``include_area``),
       ``sample_weights`` (a ``wtiles`` column); with neither weights nor
       ``area_weights`` the weighted sums are NaN;
    6. reduce — the ``Reducer`` of ``emit`` (the reference's per-chunk
       StatsRegistry accumulation, stats_registry.h:25-84, done before the
       shuffle instead of after it):

       - ``"pixels"`` (``PixelsReducer``): sparse facts (feature_id, v, w,
         cov[, cell, cx, cy, area]) — the coverage-fraction raster in long
         form, for the pixel/UDF path;
       - ``"freq"`` (``FreqReducer``): per-(feature, tile, value) partial
         sums (v, Σc, Σcw) for the groupBy(fid, v) frequency-stat shuffle;
       - ``"moments"`` (``MomentsReducer``): ONE row per (feature, tile) of
         algebraic moments — shuffle volume independent of cell count.

       ``by_layer`` tags each row with its tile's layer.

    ``coverage_only`` is for geometry-only queries (coverage fractions,
    rasterize): the pixel payload columns are dropped before the Python
    stage, every covered cell is kept and values read 0.

    Interior and exterior pairs get the reference's exact 1.0 and 0
    (floodfill.cpp:22-39). On a grid whose coordinates, steps and vertices
    are exact in binary at the raster's scale (unit cells, power-of-two
    steps) the integral gives the same, so every emit is bitwise that of
    the integral alone. On other grids the integral gives interior cells
    1 ± ~1e-14 and exterior cells up to ~1e-14, so sums move by about
    that relative amount.
    """
    if emit == "moments":
        new_reducer = partial(MomentsReducer, by_layer)
    elif emit == "freq":
        new_reducer = partial(FreqReducer, by_layer)
    else:
        new_reducer = partial(
            PixelsReducer, by_layer, values_meta=values_meta,
            include_cell=include_cell, include_xy=include_xy,
        )
    need_area = include_area or coverage_area or area_weights or spherical
    if linear:
        def cover(tile, fid, geom, bbox):
            return cover_lines(tile, fid, geom, values_meta)
        classify = None
    else:
        cover = partial(cover_cells, disagg=disagg)
        # bound here, not looked up in the worker, so a test can patch it
        classify = classify_pair
    # interior cells need their indexes for anything but the values
    index = emit == "pixels" or coverage_only or need_area or disagg != (1, 1)
    # the line pixel table lists every traversed cell, nodata ones with
    # v = NaN (a line's path is data in itself); the stat emits drop them
    keep_nan = linear and emit == "pixels"
    if coverage_only:
        # mapInPandas ships every input column (Catalyst cannot prune
        # through it): drop the unread payload before the Arrow boundary
        cand = cand.drop("bytes", "src_path", "src_row", "px")
    else:
        cand = in_payload_order(cand)

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        features = TileFeatures(feats_bc, inclusive=linear)
        reducer = new_reducer()
        payloads = TilePayloads()
        for pdf in batches:
            has_w = "wtiles" in pdf.columns
            for row in pdf.itertuples(index=False):
                tile = Grid(row.xmin, row.ymin, row.xmax, row.ymax, row.dx, row.dy)
                pairs = []
                for fid, geom, fxmin, fymin, fxmax, fymax in features(row):
                    bbox = Box(fxmin, fymin, fxmax, fymax)
                    kind = BOUNDARY if classify is None else classify(tile, geom, bbox)
                    if kind != EXTERIOR:
                        pairs.append((fid, geom, bbox, kind))
                if not pairs:
                    continue
                px = None if coverage_only else tile_pixels(row, payloads)
                layer = row.layer if by_layer else None
                for fid, geom, bbox, kind in pairs:
                    if kind == INTERIOR:
                        c = interior_cells(tile, fid, disagg, index or has_w)
                    else:
                        c = cover(tile, fid, geom, bbox)
                    if c is None:
                        continue
                    if not c.take_values(px, default_value, keep_nan):
                        continue
                    if need_area:
                        c.area = cell_areas(c.samp, c.rr, spherical)
                        if coverage_area:
                            c.cov = c.cov * c.area
                    if area_weights:
                        c.w = c.area
                    elif has_w:
                        c.w = sample_weights(row.wtiles, c, default_weight)
                    reducer.add(c, layer)
            out = reducer.frame()
            if out is not None:
                yield out

    return cand.mapInPandas(_kernel, new_reducer().schema)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def exact_extract(
    values: Raster,
    features: DataFrame,
    stats: "list[str] | str",
    *,
    weights: "Raster | str | None" = None,
    quantiles: "list[float] | None" = None,
    coverage_area: bool = False,
    spherical: bool = False,
    default_value: float | None = None,
    default_weight: float | None = None,
    broadcast_features: bool = True,
    salt_buckets: int = 1,
    append_cols: "DataFrame | None" = None,
    sort: bool = True,
) -> DataFrame:
    """Named-stats path of the reference API (R/exact_extract.R:270-773).

    ``features`` must have (feature_id, geom, fxmin..fymax) — see
    ``sources.features.prepare_features``. ``weights`` may be a second
    Raster or the string ``'area'`` (cell-area weighting,
    R/exact_extract_helpers.R:154-160). ``sort=False`` skips the final
    global orderBy — at scale that is one avoidable full sort; pass False
    whenever downstream consumers don't need feature_id order.

    Cardinality note: frequency stats (``mode``/``minority``/``variety``/
    ``median``/``quantile``/``frac``/``weighted_frac``) shuffle one row
    per DISTINCT (feature, value) pair, and ``frac`` additionally collects
    the GLOBAL distinct value set on the driver to zero-fill (the
    reference's own two-pass semantics, src/exact_extract.cpp:420-434) —
    intended for categorical rasters. A continuous-valued raster makes
    these scale with covered cells; algebraic stats are unaffected.
    """
    if isinstance(stats, str):
        stats = [stats]
    plan = StatsPlan(stats, quantiles or [])

    area_weights = weights == "area"
    wraster = weights if isinstance(weights, Raster) else None
    if plan.needs_weights and weights is None:
        raise ValueError(f"stats {sorted(set(stats))} require weights")
    if weights is not None and not plan.needs_weights:
        import warnings

        warnings.warn(
            "weights provided but no requested stat uses them "
            "(ref test_exact_extract_errors.R:28-36)"
        )
    disagg = weight_disagg(values.meta, wraster, stats)
    cand, feats_bc = build_candidates(
        values, features, broadcast_features, salt_buckets=salt_buckets
    )
    cand = attach_weights(cand, values.meta, wraster)
    return _kernel_stats(
        plan, cand, features, feats_bc, append_cols=append_cols, sort=sort,
        disagg=disagg,
        values_meta=values.meta,
        area_weights=area_weights,
        spherical=spherical,
        coverage_area=coverage_area,
        default_value=default_value,
        default_weight=default_weight,
    )


def _kernel_stats(plan: StatsPlan, cand: DataFrame, features: DataFrame, feats_bc, *,
                  append_cols: "DataFrame | None" = None, sort: bool = True,
                  **kernel_kwargs) -> DataFrame:
    """The named stats of ``plan`` from one coverage-kernel pass over
    ``cand`` (``coverage_facts`` with ``kernel_kwargs``), one row per
    feature — the path of ``exact_extract`` and ``exact_extract_lines``."""
    if plan.freq:
        # one kernel pass; everything (algebraic included) derives exactly
        # from the merged value-frequency table. The freq table is consumed
        # once per requested freq-stat piece (mode + minority + quantile +
        # frac each reference it), so materialize it — it is tiny (features ×
        # distinct values) and saves a full kernel re-scan per piece.
        # localCheckpoint: blocks are released when the result is GC'd, no
        # CacheManager entry leaked across repeated calls.
        partials = coverage_facts(cand, emit="freq", feats_bc=feats_bc, **kernel_kwargs)
        result = plan.from_freq(plan.merge_freq(partials).localCheckpoint(eager=True))
    else:
        # moments path: kernel emits ONE row per (feature, tile); the final
        # shuffle is independent of cell count (StatsRegistry merge)
        result = plan.from_moments(
            coverage_facts(cand, emit="moments", feats_bc=feats_bc, **kernel_kwargs))
    result = with_all_features(result, features, feats_bc)
    if append_cols is not None:
        result = result.join(append_cols, on="feature_id", how="left")
    return result.orderBy("feature_id") if sort else result


def exact_extract_pixels(
    values: Raster,
    features: DataFrame,
    *,
    weights: "Raster | None" = None,
    include_xy: bool = False,
    include_cell: bool = False,
    include_area: bool = False,
    coverage_area: bool = False,
    spherical: bool = False,
    default_value: float | None = None,
    default_weight: float | None = None,
    broadcast_features: bool = True,
    include_cols: "DataFrame | None" = None,
) -> DataFrame:
    """The R-function path's pixel table (ref src/exact_extract.cpp:46-237):
    one row per (feature, covered cell) with value / coverage_fraction /
    optional weight / x / y / cell / area columns.

    ``include_cols`` (ref R/exact_extract.R include_cols): a DataFrame with
    a ``feature_id`` column whose remaining columns are copied onto every
    pixel row of that feature (broadcast left join — attribute tables are
    small next to pixel tables)."""
    disagg = weight_disagg(values.meta, weights)
    cand, feats_bc = build_candidates(values, features, broadcast_features)
    cand = attach_weights(cand, values.meta, weights)
    facts = coverage_facts(
        cand,
        feats_bc=feats_bc,
        disagg=disagg,
        values_meta=values.meta,
        include_cell=include_cell,
        include_xy=include_xy,
        include_area=include_area,
        coverage_area=coverage_area,
        spherical=spherical,
        default_value=default_value,
        default_weight=default_weight,
    )
    cols = [F.col("feature_id"), F.col("v").alias("value")]
    if weights is not None:
        cols.append(F.col("w").alias("weight"))
    cols.append(F.col("cov").alias("coverage_fraction"))
    if include_xy:
        cols += [F.col("cx").alias("x"), F.col("cy").alias("y")]
    if include_cell:
        cols.append(F.col("cell"))
    if include_area:
        cols.append(F.col("area"))
    out = facts.select(*cols)
    if include_cols is not None:
        out = out.join(F.broadcast(include_cols), on="feature_id", how="left")
    return out


def exact_extract_apply(
    values: Raster,
    features: DataFrame,
    fn,
    schema,
    *,
    weights: "Raster | None" = None,
    **pixel_kwargs,
) -> DataFrame:
    """UD(A)F surface — the reference's R-function path
    (R/exact_extract.R:144-166, 585-721): ``fn(pdf) -> pdf`` receives one
    pandas frame per feature (columns value/coverage_fraction[/weight/...])
    and may return any number of rows. One-to-one Spark analog:
    groupBy(feature_id).applyInPandas."""
    pixels = exact_extract_pixels(values, features, weights=weights, **pixel_kwargs)
    return pixels.groupBy("feature_id").applyInPandas(fn, schema)

