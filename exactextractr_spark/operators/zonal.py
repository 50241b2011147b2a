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
     groupBy(feature_id).agg(all algebraic stats)   [+ groupBy(fid, v)
     for frequency stats; quantiles interpolate JVM-side from one window
     pass over the frequency table — no per-feature Python group]

The coverage kernel (``coverage_facts``) is a chain of stages, each a
module-level helper that the line kernel (``coverage_op``) and the resample
kernel share where they need it:

- decode: ``sources.tiles.tile_pixels`` — a tile's pixels, nodata as NaN;
- features: ``TileFeatures`` — a tile's candidate features, from the
  feature broadcast or the row's cover-join list;
- cover: ``cover_cells`` — exact coverage fractions as ``Cells``;
- values and weights: ``Cells.take_values``, ``cell_areas``,
  ``sample_weights``;
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
from ..core.coverage import coverage_fraction
from ..core.grid import Box, Grid
from ..plans.stats import StatsPlan, quantile_name
from ..sources.tiles import Raster, tile_pixels
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

#: frac/weighted_frac produce one result column per GLOBAL distinct value;
#: beyond this the raster is not categorical and the request fails loudly
#: (matches Spark's own spark.sql.pivotMaxValues default)
MAX_FRAC_VALUES = 10_000

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
    f = feats.filter(
        (F.col("fxmin") <= F.lit(m.xmax))
        & (F.col("fxmax") >= F.lit(m.xmin))
        & (F.col("fymin") <= F.lit(m.ymax))
        & (F.col("fymax") >= F.lit(m.ymin))
    )
    tr0, tr1, tc0, tc1 = tile_span(
        m, F.col("fxmin"), F.col("fymin"), F.col("fxmax"), F.col("fymax")
    )
    return f.withColumn("tile_row", F.explode(F.sequence(tr0, tr1))).withColumn(
        "tile_col", F.explode(F.sequence(tc0, tc1))
    )


def candidate_pairs(
    values: Raster,
    feats: DataFrame,
    broadcast_features: bool = True,
    salt_buckets: int = 1,
) -> DataFrame:
    """Grouped candidate join: each tile row carries the LIST of features
    overlapping it, so a tile's (heavy) pixel payload crosses the JVM→Python
    boundary exactly once no matter how many features touch it — the fanout
    of a continent-sized polygon duplicates only its (small) WKB into the
    per-tile lists, never the rasters. At 10^12-tile scale the per-tile
    work list is also the unit of checkpointing and skew is bounded by
    features-per-tile, not cells-per-feature.

    ``salt_buckets > 1`` splits each hot tile's feature list into that many
    salt buckets (north-rule skew handling): the per-tile ``collect_list``
    and the downstream kernel row both stay bounded; the tile payload is
    replicated once per non-empty bucket — the standard payload-duplication
    vs task-size salting trade."""
    cover = feature_tile_cover(values, feats).select(
        "tile_row",
        "tile_col",
        F.struct("feature_id", "geom", "fxmin", "fymin", "fxmax", "fymax").alias(
            "_feat"
        ),
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
    if broadcast_features:
        per_tile = F.broadcast(per_tile)
    tile_side = values.raw_meta
    if tile_side is None:
        tile_side = values.tiles
    return tile_side.join(per_tile, on=["tile_row", "tile_col"], how="inner")


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

    def overlapping(self, xmin, ymin, xmax, ymax) -> np.ndarray:
        """Indices of features whose bbox intersects the given tile box."""
        return np.nonzero(
            (self.fxmin < xmax)
            & (self.fxmax > xmin)
            & (self.fymin < ymax)
            & (self.fymax > ymin)
        )[0]

    def overlapping_inclusive(self, xmin, ymin, xmax, ymax) -> np.ndarray:
        """Closed-interval variant for LINEAR features, whose degenerate
        bboxes can lie exactly on a tile edge (the line kernel's edge
        ownership de-duplicates boundary segments)."""
        return np.nonzero(
            (self.fxmin <= xmax)
            & (self.fxmax >= xmin)
            & (self.fymin <= ymax)
            & (self.fymax >= ymin)
        )[0]

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


def build_candidates(
    values: Raster,
    feats: DataFrame,
    broadcast_features: bool = True,
    salt_buckets: int = 1,
):
    """Choose the candidate strategy (the reference's --strategy flag,
    exactextract.cpp:95-101):

    - feature-sequential / broadcast (small feature table): returns
      ``(tiles_df, sc.broadcast(FeatureBroadcast))`` — single-stage plan.
    - raster-sequential / cover join (huge feature table): returns
      ``(joined_df_with_feats_lists, None)``.
    """
    # CRS reconciliation: the reference auto-transforms the polygons to the
    # raster CRS with a warning (R/exact_extract.R:360-377). We do the same
    # for the closed-form pair (EPSG:4326 <-> EPSG:3857, core/crs.py); every
    # other mismatched pair fails loudly instead of producing silently wrong
    # answers on misaligned coordinates.
    # ONE metadata job covers both the CRS audit and the broadcast-size
    # guard: agg(count, collect_set(crs)) — the CRS audit must see every
    # row's crs anyway (any single mismatched row invalidates the run), so
    # folding count() into the same aggregate is free, and every zonal query
    # now issues at most one auxiliary driver job before the kernel stage.
    n_feats: int | None = None
    check_crs = "crs" in feats.columns and bool(values.meta.crs)
    if check_crs:
        meta_row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            # coalesce to "" so a null-crs row is visible in the set — rows
            # with no CRS are conventionally assumed to already be in the
            # raster CRS and must NOT be silently reprojected
            F.collect_set(F.coalesce(F.col("crs"), F.lit(""))).alias("cset"),
        ).first()
        n_feats = meta_row["n"]
        cset = set(meta_row["cset"])
        has_null = "" in cset
        fcrs = sorted(cset - {""})
        bad = [c for c in fcrs if c != values.meta.crs]
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
                bad[0], values.meta.crs
            ):
                import warnings

                warnings.warn(
                    f"transforming features from {bad[0]!r} to the raster "
                    f"CRS {values.meta.crs!r} (ref R/exact_extract.R:360-377)"
                )
                feats = transform_features(feats, bad[0], values.meta.crs)
            else:
                raise ValueError(
                    f"feature CRS {bad[0]!r} does not match the raster CRS "
                    f"{values.meta.crs!r} and no closed-form transform "
                    "exists; transform the features to the raster CRS first "
                    "(the reference transforms automatically via PROJ, "
                    "R/exact_extract.R:360-377)"
                )
    if not broadcast_features:
        return (
            candidate_pairs(
                values, feats, broadcast_features=False, salt_buckets=salt_buckets
            ),
            None,
        )
    # broadcast-size guard; the CRS audit's count, if any, saves a job
    table = bounded_collect(
        feats.select(*FEATURE_COLUMNS), BROADCAST_FEATURE_LIMIT, count=n_feats
    )
    if table is None:
        return (
            candidate_pairs(
                values, feats, broadcast_features=True,
                salt_buckets=salt_buckets,
            ),
            None,
        )
    fb = FeatureBroadcast(table)
    tile_side = values.raw_meta
    if tile_side is None:
        tile_side = values.tiles
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
        spark = tile_side.sparkSession
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
        tile_side = tile_side.join(
            F.broadcast(keys_df), on=["tile_row", "tile_col"], how="inner"
        )
    sc = tile_side.sparkSession.sparkContext
    return tile_side, sc.broadcast(fb)


def candidate_pairs_flat(values: Raster, feats: DataFrame) -> DataFrame:
    """Metadata-only (feature × tile) candidate pairs with the exact bbox
    refine — no pixel payloads; for diagnostics / pair accounting."""
    m = values.meta
    cover = feature_tile_cover(values, feats)
    tile_xmin = F.lit(m.xmin) + F.col("tile_col") * F.lit(m.dx * m.tile_w)
    tile_ymax = F.lit(m.ymax) - F.col("tile_row") * F.lit(m.dy * m.tile_h)
    tile_xmax = F.least(F.lit(m.xmax), tile_xmin + F.lit(m.dx * m.tile_w))
    tile_ymin = F.greatest(F.lit(m.ymin), tile_ymax - F.lit(m.dy * m.tile_h))
    return cover.filter(
        (F.col("fxmin") < tile_xmax)
        & (F.col("fxmax") > tile_xmin)
        & (F.col("fymin") < tile_ymax)
        & (F.col("fymax") > tile_ymin)
    )


# Broadcast the weight tile table only while its full pixel payload is
# plausibly executor-memory safe. Above this the hint is dropped and the
# slim-key equi-join on (w_tr, w_tc) shuffles instead (AQE picks the
# strategy) — an unconditional broadcast of a 100-TB-scale weight raster's
# payloads is a driver/executor OOM, not a slowdown.
WEIGHT_BROADCAST_MAX_BYTES = 64 << 20


def _weight_payload_bytes(wm) -> int:
    """Upper-bound estimate of the weight raster's in-memory pixel payload
    (8 bytes/cell float64), computable from metadata alone — no job."""
    return int(wm.width) * int(wm.height) * 8


def _weight_tile() -> Column:
    """One weight tile as the struct the coverage kernel samples weights
    from (grid origin, resolution, shape and decoded pixels)."""
    return F.struct(*[
        F.col(c).alias(c) for c in ("xmin", "ymax", "dx", "dy", "nrows", "ncols", "px")
    ])


def _attach_weights(cand: DataFrame, values: Raster, weights: Raster) -> DataFrame:
    """Join the weight tiles overlapping each candidate value tile
    (collect_list of structs; exactly 1 element when schemes align).
    Grouping happens on a slim key projection so the heavy tile payload
    never enters the shuffle; the weight side is broadcast only below a
    size gate (see WEIGHT_BROADCAST_MAX_BYTES).

    Aligned fast path: when the weight raster shares the value raster's
    grid AND tiling exactly, value tile (r, c) overlaps weight tile
    (r, c) and nothing else — one equi-join on the tile index, no
    explode/collect_list shuffle at all (the common case: weights
    produced alongside values on one grid)."""
    wm = weights.meta
    vm = values.meta
    aligned = (
        wm.xmin == vm.xmin and wm.ymax == vm.ymax
        and wm.dx == vm.dx and wm.dy == vm.dy
        and wm.tile_w == vm.tile_w and wm.tile_h == vm.tile_h
        and wm.width == vm.width and wm.height == vm.height
    )
    if aligned:
        w1 = weights.tiles.select(
            "tile_row", "tile_col",
            F.array(_weight_tile()).alias("wtiles"),
        )
        if _weight_payload_bytes(wm) <= WEIGHT_BROADCAST_MAX_BYTES:
            w1 = F.broadcast(w1)
        return cand.join(w1, on=["tile_row", "tile_col"], how="left")
    w = weights.tiles.select(
        F.col("tile_row").alias("w_tr"),
        F.col("tile_col").alias("w_tc"),
        _weight_tile().alias("wtile"),
    )
    wr0, wr1, wc0, wc1 = tile_span(
        wm, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), tol=1e-9
    )
    slim = cand.select("tile_row", "tile_col", "xmin", "ymin", "xmax", "ymax").dropDuplicates(
        ["tile_row", "tile_col"]
    )
    expanded = slim.withColumn("w_tr", F.explode(F.sequence(wr0, wr1))).withColumn(
        "w_tc", F.explode(F.sequence(wc0, wc1))
    )
    if _weight_payload_bytes(wm) <= WEIGHT_BROADCAST_MAX_BYTES:
        w = F.broadcast(w)
    joined = expanded.join(w, on=["w_tr", "w_tc"], how="left")
    wlists = joined.groupBy("tile_row", "tile_col").agg(
        F.collect_list("wtile").alias("wtiles")
    )
    return cand.join(wlists, on=["tile_row", "tile_col"], how="left")


def static_weight_lists(values_meta, weights: Raster) -> DataFrame:
    """(tile_row, tile_col, wtiles) keyed by VALUE-raster tile index, built
    entirely from the static weight raster — for stream-static joins where
    the value tiles arrive as a stream and no stateful grouping may run on
    the streaming side (``_attach_weights`` groups on the candidate side,
    which Structured Streaming forbids before the final aggregate). Each
    weight tile enumerates the value tiles it overlaps (pure arithmetic on
    the value grid), then one STATIC groupBy collects the per-value-tile
    weight lists; the streaming join is a stateless broadcast equi-join."""
    wt = weights.tiles.select(
        "xmin", "ymin", "xmax", "ymax",
        _weight_tile().alias("wtile"),
    )
    vr0, vr1, vc0, vc1 = tile_span(
        values_meta, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
        tol=1e-9,
    )
    expanded = wt.withColumn("tile_row", F.explode(F.sequence(vr0, vr1))).withColumn(
        "tile_col", F.explode(F.sequence(vc0, vc1))
    )
    return expanded.groupBy("tile_row", "tile_col").agg(
        F.collect_list("wtile").alias("wtiles")
    )


# ---------------------------------------------------------------------------
# the coverage kernel: decode -> features -> cover -> reduce
# ---------------------------------------------------------------------------

class TileFeatures:
    """Features stage of the tile kernels: a tile row's candidate
    features, as ``(feature_id, geom, fxmin, fymin, fxmax, fymax)``.

    With a feature broadcast (``feats_bc``) the candidates come from its
    vectorized bbox test; otherwise from the row's cover-join ``feats``
    list, refined by the exact bbox test (the cover is tile-granular).
    ``inclusive`` closes the bbox test for lines, whose degenerate bboxes
    can lie exactly on a tile edge. Cover-join geometries are parsed once
    per worker into a size-capped cache."""

    GEOM_CACHE_MAX = 4096

    def __init__(self, feats_bc=None, inclusive: bool = False):
        self.fb = feats_bc.value if feats_bc is not None else None
        self.inclusive = inclusive
        self._geoms: dict[bytes, object] = {}

    def _geom(self, wkb: bytes):
        geom = self._geoms.get(wkb)
        if geom is None:
            if len(self._geoms) >= self.GEOM_CACHE_MAX:
                self._geoms.clear()
            geom = self._geoms[wkb] = G.from_wkb(wkb)
        return geom

    def __call__(self, row):
        fb = self.fb
        if fb is not None:
            test = fb.overlapping_inclusive if self.inclusive else fb.overlapping
            for j in test(row.xmin, row.ymin, row.xmax, row.ymax):
                yield (int(fb.ids[j]), fb.geom(j),
                       fb.fxmin[j], fb.fymin[j], fb.fxmax[j], fb.fymax[j])
            return
        for ft in row.feats:
            if self.inclusive:
                outside = (ft["fxmin"] > row.xmax or ft["fxmax"] < row.xmin
                           or ft["fymin"] > row.ymax or ft["fymax"] < row.ymin)
            else:
                outside = (ft["fxmin"] >= row.xmax or ft["fxmax"] <= row.xmin
                           or ft["fymin"] >= row.ymax or ft["fymax"] <= row.ymin)
            if not outside:
                yield (ft["feature_id"], self._geom(bytes(ft["geom"])),
                       ft["fxmin"], ft["fymin"], ft["fxmax"], ft["fymax"])


class Cells:
    """One (feature, tile) pair's covered cells, as the cover stage finds
    them and the value and weight stages fill them in: ``rr``/``cc`` index
    the sampling grid ``samp`` (finer than the tile when disaggregating),
    ``tr``/``tc`` the tile; ``w`` is None when no weight applies."""

    __slots__ = ("feature_id", "tile", "samp", "rr", "cc", "tr", "tc",
                 "cov", "v", "w", "area", "_xy")

    def __init__(self, feature_id, tile, samp, rr, cc, tr, tc, cov):
        self.feature_id = feature_id
        self.tile, self.samp = tile, samp
        self.rr, self.cc, self.tr, self.tc = rr, cc, tr, tc
        self.cov = cov
        self.v = self.w = self.area = self._xy = None

    def __len__(self) -> int:
        return len(self.rr)

    def take_values(self, px: "np.ndarray | None", default_value) -> bool:
        """Sample the tile's values (0 without a pixel block); NaN cells
        (after ``default_value``) drop out. False when no cell is left."""
        if px is None:
            self.v = np.zeros(len(self.rr))
            return True
        v = px[self.tr, self.tc]
        if default_value is not None:
            v = np.where(np.isnan(v), default_value, v)
        ok = ~np.isnan(v)
        if not ok.all():
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


def cover_cells(tile: Grid, feature_id, geom, bbox: Box, disagg) -> "Cells | None":
    """Cover stage: the exact coverage fractions of ``geom`` over the part
    of ``tile`` inside its bbox, on the grid refined by ``disagg``."""
    sub = tile.crop(bbox)
    if sub.size == 0:
        return None
    fx, fy = disagg
    if fx > 1 or fy > 1:
        # disaggregate: coverage on the finer common grid; the value raster
        # is sampled by integer division — the reference's lazy RasterView
        # (raster.h:248-312) without materializing the upsampled block
        samp = Grid(sub.xmin, sub.ymin, sub.xmax, sub.ymax, sub.dx / fx, sub.dy / fy)
    else:
        samp = sub
    cov = coverage_fraction(samp, geom)
    rr, cc = np.nonzero(cov > 0)
    if len(rr) == 0:
        return None
    r_off, c_off = tile.row_col_offset(sub)
    return Cells(feature_id, tile, samp, rr, cc, rr // fy + r_off, cc // fx + c_off,
                 cov[rr, cc])


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
) -> DataFrame:
    """Run the exact coverage kernel over tile rows, as one ``mapInPandas``.

    Per tile row the kernel runs its stages in order:

    1. decode — ``tiles.tile_pixels``: the tile's pixel block, once for all
       its features (skipped under ``coverage_only``);
    2. features — ``TileFeatures``: the tile's candidate features. With
       ``feats_bc`` (a ``sc.broadcast(FeatureBroadcast)``, the
       feature-sequential strategy) ``cand`` is the bare tile DataFrame and
       candidates come from a vectorized bbox test; otherwise ``cand``
       carries each tile's cover-join ``feats`` list;
    3. cover — ``cover_cells``: exact coverage fractions on the tile grid,
       refined by ``disagg`` for a finer weight grid;
    4. values, areas and weights — ``Cells.take_values`` (NaN cells drop
       out), ``cell_areas`` (``coverage_area``, ``area_weights``,
       ``include_area``), ``sample_weights`` (a ``wtiles`` column); with
       neither weights nor ``area_weights`` the weighted sums are NaN;
    5. reduce — the ``Reducer`` of ``emit`` (the reference's per-chunk
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
    if coverage_only:
        # mapInPandas ships every input column (Catalyst cannot prune
        # through it): drop the unread payload before the Arrow boundary
        cand = cand.drop("bytes", "px")

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        features = TileFeatures(feats_bc)
        reducer = new_reducer()
        for pdf in batches:
            has_w = "wtiles" in pdf.columns
            for row in pdf.itertuples(index=False):
                px = None if coverage_only else tile_pixels(row)
                tile = Grid(row.xmin, row.ymin, row.xmax, row.ymax, row.dx, row.dy)
                layer = row.layer if by_layer else None
                for fid, geom, fxmin, fymin, fxmax, fymax in features(row):
                    c = cover_cells(tile, fid, geom, Box(fxmin, fymin, fxmax, fymax),
                                    disagg)
                    if c is None:
                        continue
                    if not c.take_values(px, default_value):
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
    disagg = (1, 1)
    if wraster is not None:
        vg, wg = values.meta.grid, wraster.meta.grid
        # grid compatibility: integer-multiple resolution + aligned origins
        # (ref grid.h:219-282, checked at exact_extract.cpp:316-317)
        if not vg.compatible_with(wg):
            raise ValueError(
                "weights grid is not compatible with the value grid "
                "(resolutions must be integer multiples, origins aligned)"
            )
        if wg.dx < vg.dx or wg.dy < vg.dy:
            # finer weights disaggregate the VALUE raster onto the finest
            # common grid (ref RasterView, raster.h:248-312); count/sum are
            # meaningless on disaggregated values (exact_extract.cpp:329-332)
            disagg = (int(round(vg.dx / wg.dx)), int(round(vg.dy / wg.dy)))
            banned = {"count", "sum"} & set(stats)
            if banned:
                raise ValueError(
                    f"stats {sorted(banned)} cannot be computed when the "
                    "value raster is disaggregated to a finer weight grid"
                )

    cand, feats_bc = build_candidates(
        values, features, broadcast_features, salt_buckets=salt_buckets
    )
    if wraster is not None:
        cand = _attach_weights(cand, values, wraster)

    kernel_kwargs = dict(
        feats_bc=feats_bc,
        disagg=disagg,
        values_meta=values.meta,
        area_weights=area_weights,
        spherical=spherical,
        coverage_area=coverage_area,
        default_value=default_value,
        default_weight=default_weight,
    )

    result: DataFrame | None = None
    fin = plan.finalize_columns()

    if plan.freq:
        # one kernel pass; everything (algebraic included) derives exactly
        # from the merged value-frequency table. The freq table is consumed
        # once per requested freq-stat piece (mode + minority + quantile +
        # frac each reference it), so materialize it — it is tiny (features ×
        # distinct values) and saves a full kernel re-scan per piece.
        # localCheckpoint: blocks are released when the result is GC'd, no
        # CacheManager entry leaked across repeated calls.
        partials = coverage_facts(cand, emit="freq", **kernel_kwargs)
        freq_df = partials.groupBy("feature_id", "v").agg(
            F.sum("sum_c").alias("sum_c"), F.sum("sum_cw").alias("sum_cw")
        ).localCheckpoint(eager=True)
        if plan.algebraic:
            agg_df = freq_df.groupBy("feature_id").agg(
                *plan.algebraic_aggs_from_freq()
            )
            result = agg_df.select(
                "feature_id", *[fin[s].alias(s) for s in plan.algebraic]
            )
        freq_result = _freq_stats(plan, freq_df)
        result = (
            freq_result
            if result is None
            else result.join(freq_result, on="feature_id", how="full")
        )
    elif plan.algebraic:
        # moments path: kernel emits ONE row per (feature, tile); the final
        # shuffle is independent of cell count (StatsRegistry merge)
        moments = coverage_facts(cand, emit="moments", **kernel_kwargs)
        agg_df = moments.groupBy("feature_id").agg(
            *plan.algebraic_aggs_from_moments()
        )
        result = agg_df.select(
            "feature_id", *[fin[s].alias(s) for s in plan.algebraic]
        )

    # features with no facts: reference returns a row with 0/NA stats
    # (test_exact_extract.R:433-485) — left join back to the feature list.
    # In broadcast mode the ids are already on the driver: a LocalRelation
    # avoids re-scanning the feature source (one fewer job per query).
    if feats_bc is not None:
        # pandas/Arrow => LocalTableScan (no python-RDD slices; see
        # build_candidates for the measured per-plan cost of the list path)
        base = features.sparkSession.createDataFrame(
            pd.DataFrame(
                {"feature_id": pd.Series(feats_bc.value.ids, dtype="int64")}
            )
        )
        # per-feature agg output is as small as the broadcast feature set:
        # hint it so the backfill is a BroadcastHashJoin, not a sort-merge
        result = base.join(F.broadcast(result), on="feature_id", how="left")
    else:
        base = features.select("feature_id")
        result = base.join(result, on="feature_id", how="left")
    fill = {}
    for s in ("count", "sum", "weighted_count", "weighted_sum", "variety"):
        if s in result.columns:
            fill[s] = 0.0 if s != "variety" else 0
    if fill:
        result = result.fillna(fill)
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
    cand, feats_bc = build_candidates(values, features, broadcast_features)
    disagg = (1, 1)
    if weights is not None:
        wg, vg = weights.meta.grid, values.meta.grid
        # same grid-compatibility contract as exact_extract (ref
        # grid.h:219-282): a misaligned/non-integer-ratio weight grid must
        # raise, not silently sample wrong cells
        if not vg.compatible_with(wg):
            raise ValueError(
                "weights grid is not compatible with the value grid "
                "(resolutions must be integer multiples, origins aligned)"
            )
        if wg.dx < vg.dx or wg.dy < vg.dy:
            disagg = (int(round(vg.dx / wg.dx)), int(round(vg.dy / wg.dy)))
        cand = _attach_weights(cand, values, weights)
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


def _freq_stats(plan: StatsPlan, freq_df: DataFrame) -> DataFrame:
    """Frequency-map stats over groupBy(fid, v): mode/minority/variety/
    median/quantile/frac/weighted_frac (ref raster_stats.h:176-230, 281-304,
    393-411)."""
    pieces: list[DataFrame] = []
    fid = F.col("feature_id")

    wanted = set(plan.freq)
    # mode/majority, minority, and variety fuse into ONE hash aggregate —
    # max_by/min_by over struct(sum_c, v) realize the reference's tie rules
    # (mode: highest count, tie -> highest value, raster_stats.h:176-186;
    # minority: lowest count, tie -> lowest value, raster_stats.h:393-403)
    # in a single exchange instead of two sort windows + a join chain.
    point_aggs: list = []
    if wanted & {"mode", "majority"}:
        mode_expr = F.max_by(
            "v", F.struct(F.col("sum_c").alias("c"), F.col("v").alias("vv"))
        )
        for s in [x for x in plan.freq if x in ("mode", "majority")]:
            point_aggs.append(mode_expr.alias(s))
    if "minority" in wanted:
        point_aggs.append(
            F.min_by(
                "v", F.struct(F.col("sum_c").alias("c"), F.col("v").alias("vv"))
            ).alias("minority")
        )
    if "variety" in wanted:
        point_aggs.append(F.count("v").cast("int").alias("variety"))
    if point_aggs:
        pieces.append(freq_df.groupBy("feature_id").agg(*point_aggs))
    qs: list[float] = []
    if "median" in wanted:
        qs.append(0.5)
    if "quantile" in wanted:
        qs.extend(plan.quantiles)
    if qs:
        qnames = (["median"] if "median" in wanted else []) + (
            [quantile_name(q) for q in plan.quantiles] if "quantile" in wanted else []
        )
        qvals = qs
        # Distributed exact weighted quantile (weighted_quantiles.cpp:20-70
        # semantics, same as core/quantiles.weighted_quantile): the
        # s-coordinate of every (feature, v) row comes from ONE window pass
        # (row_number + exclusive/total running sums, all sharing a single
        # exchange+sort by feature_id/v), and each requested q interpolates
        # between the bracketing rows via max_by/min_by in the SAME
        # feature_id aggregate — no per-feature Python group, so a
        # continuous-valued mega-polygon no longer funnels its whole
        # frequency table through one Python task. Bit-exactness: the
        # running window sums accumulate in ascending-v order (the same
        # left-to-right fold as np.cumsum), and the interpolation expression
        # mirrors the numpy operation order term for term.
        from pyspark.sql.window import Window

        wo = Window.partitionBy("feature_id").orderBy("v")
        w_prev = wo.rowsBetween(Window.unboundedPreceding, -1)
        w_all = wo.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        valid = freq_df.where(
            F.col("v").isNotNull() & ~F.isnan(F.col("v"))
        )
        kk = (F.row_number().over(wo) - F.lit(1)).cast("double")
        nn = F.count(F.lit(1)).over(w_all).cast("double")
        csum_prev = F.sum("sum_c").over(w_prev)
        tot = F.sum("sum_c").over(w_all)
        s_col = F.when(kk == 0.0, F.lit(0.0)).otherwise(
            kk * F.col("sum_c") + (nn - F.lit(1.0)) * csum_prev
        )
        staged = valid.select(
            "feature_id",
            "v",
            s_col.alias("_s"),
            (tot * (nn - F.lit(1.0))).alias("_sn"),
        )
        q_aggs: list = []
        for nm, q in zip(qnames, qvals):
            tgt = F.lit(float(q)) * F.col("_sn")
            left = F.max_by(
                F.struct(F.col("_s").alias("s"), F.col("v").alias("v")),
                F.when(F.col("_s") <= tgt, F.col("_s")),
            )
            right = F.min_by(
                F.struct(F.col("_s").alias("s"), F.col("v").alias("v")),
                F.when(F.col("_s") > tgt, F.col("_s")),
            )
            target_v = F.max(tgt)
            vmax = F.max("v")
            interp = left["v"] + (
                (target_v - left["s"]) * (right["v"] - left["v"])
            ) / (right["s"] - left["s"])
            q_aggs.append(
                F.when(right.isNull(), vmax).otherwise(interp).alias(nm)
            )
        pieces.append(staged.groupBy("feature_id").agg(*q_aggs))
    for s, num in (("frac", "sum_c"), ("weighted_frac", "sum_cw")):
        if s in wanted:
            # global distinct value set across ALL features
            # (ref exact_extract.cpp:420-434, 533-540) — two-pass like the
            # reference; the distinct set is tiny (categorical rasters).
            # limit-bounded like every other driver-side metadata job: a
            # continuous raster fails LOUDLY here instead of OOMing the
            # driver or exploding the pivot
            rows = (
                freq_df.select("v").where(F.col("v").isNotNull())
                .distinct().limit(MAX_FRAC_VALUES + 1).collect()
            )
            if len(rows) > MAX_FRAC_VALUES:
                raise ValueError(
                    f"'{s}' requires a categorical raster: more than "
                    f"{MAX_FRAC_VALUES} distinct values found (one result "
                    "column per value, ref exact_extract.cpp:420-434); use "
                    "quantile/median stats for continuous rasters"
                )
            vals = sorted(r[0] for r in rows if r[0] is not None)
            tot = freq_df.groupBy("feature_id").agg(F.sum(num).alias("_tot"))
            piv = (
                freq_df.groupBy("feature_id")
                .pivot("v", vals)
                .agg(F.first(num))
                .join(tot, on="feature_id")
            )
            sel = [fid]
            for vv in vals:
                cname = f"{vv:g}".replace("-", "m").replace(".", "_")
                sel.append(
                    (F.coalesce(F.col(f"`{vv}`"), F.lit(0.0)) / F.col("_tot")).alias(
                        f"{s}_{cname}"
                    )
                )
            pieces.append(piv.select(*sel))

    out = pieces[0]
    for p in pieces[1:]:
        out = out.join(p, on="feature_id", how="full")
    return out
