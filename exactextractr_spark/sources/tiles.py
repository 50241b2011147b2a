"""Raster tile source: image+caption table ⇄ decoded Arrow tile blocks.

Input shape per BASELINE.json input_hint: an Iceberg-style table
``(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64)``. The caption JSON carries the grid
semantics (extent, resolution, layer, nodata) — the Spark-side analog of
the reference's raster metadata (``src/exactextract/src/grid.h:40-46``).

Decode happens in ``mapInPandas`` (Arrow-batched, no per-row Python at the
plan level); each decoded tile is a row-major float64 pixel block, matching
the reference's ``NumericVectorRaster`` layout
(``src/numeric_vector_raster.h:23-40``).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, replace
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.grid import DEFAULT_COMPAT_TOL, Grid
from ..core.png import decode_tile, encode_tile, phash64

TILE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

#: caption JSON schema for JVM-side metadata extraction (F.from_json) — the
#: zonal path joins on tile keys without any Python decode stage
CAPTION_SCHEMA = T.StructType(
    [
        T.StructField("layer", T.StringType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
        T.StructField("dx", T.DoubleType()),
        T.StructField("dy", T.DoubleType()),
        T.StructField("crs", T.StringType()),
        T.StructField("nodata", T.DoubleType()),
        T.StructField("tile_row", T.IntegerType()),
        T.StructField("tile_col", T.IntegerType()),
        T.StructField("raster_width", T.IntegerType()),
        T.StructField("raster_height", T.IntegerType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("layer", T.StringType(), False),
        T.StructField("tile_row", T.IntegerType(), False),
        T.StructField("tile_col", T.IntegerType(), False),
        T.StructField("xmin", T.DoubleType(), False),
        T.StructField("ymin", T.DoubleType(), False),
        T.StructField("xmax", T.DoubleType(), False),
        T.StructField("ymax", T.DoubleType(), False),
        T.StructField("dx", T.DoubleType(), False),
        T.StructField("dy", T.DoubleType(), False),
        T.StructField("nrows", T.IntegerType(), False),
        T.StructField("ncols", T.IntegerType(), False),
        T.StructField("px", T.ArrayType(T.DoubleType()), False),
    ]
)


@dataclass(frozen=True)
class RasterMeta:
    """Driver-side raster layout: full grid + tiling scheme.

    World y decreases with pixel row (row 0 at ``ymax``), as in the
    reference grid model.
    """

    layer: str
    xmin: float
    ymax: float
    dx: float
    dy: float
    width: int  # full raster width in pixels
    height: int
    tile_w: int = 256
    tile_h: int = 256
    crs: str = "EPSG:4326"
    nodata: float | None = None

    @property
    def ymin(self) -> float:
        return self.ymax - self.height * self.dy

    @property
    def xmax(self) -> float:
        return self.xmin + self.width * self.dx

    @property
    def n_tile_rows(self) -> int:
        return math.ceil(self.height / self.tile_h)

    @property
    def n_tile_cols(self) -> int:
        return math.ceil(self.width / self.tile_w)

    @property
    def grid(self) -> Grid:
        return Grid(self.xmin, self.ymin, self.xmax, self.ymax, self.dx, self.dy)

    def same_grid(self, other: "RasterMeta") -> bool:
        """Same origin, resolution and extent, within ``DEFAULT_COMPAT_TOL``
        of a cell: the two rasters' cells, and so their row-major cell ids,
        pair one to one. Tiling is not compared; callers that share tile
        keys also compare ``(tile_w, tile_h)``."""
        tx, ty = DEFAULT_COMPAT_TOL * self.dx, DEFAULT_COMPAT_TOL * self.dy
        return (
            abs(other.dx - self.dx) <= tx
            and abs(other.dy - self.dy) <= ty
            and abs(other.xmin - self.xmin) <= tx
            and abs(other.ymax - self.ymax) <= ty
            and abs(other.xmax - self.xmax) <= tx
            and abs(other.ymin - self.ymin) <= ty
        )

    def tile_grid(self, tile_row: int, tile_col: int) -> Grid:
        r0 = tile_row * self.tile_h
        c0 = tile_col * self.tile_w
        nr = min(self.tile_h, self.height - r0)
        nc = min(self.tile_w, self.width - c0)
        return Grid(
            self.xmin + c0 * self.dx,
            self.ymax - (r0 + nr) * self.dy,
            self.xmin + (c0 + nc) * self.dx,
            self.ymax - r0 * self.dy,
            self.dx,
            self.dy,
        )

    def caption(self, tile_row: int, tile_col: int) -> str:
        g = self.tile_grid(tile_row, tile_col)
        return json.dumps(
            {
                "layer": self.layer,
                "xmin": g.xmin,
                "ymax": g.ymax,
                "dx": self.dx,
                "dy": self.dy,
                "crs": self.crs,
                "nodata": self.nodata,
                "tile_row": tile_row,
                "tile_col": tile_col,
                "raster_width": self.width,
                "raster_height": self.height,
                "tile_w": self.tile_w,
                "tile_h": self.tile_h,
                "raster_xmin": self.xmin,
                "raster_ymax": self.ymax,
            },
            sort_keys=True,
        )


def tile_rows_from_array(arr: np.ndarray, meta: RasterMeta) -> list[tuple]:
    """Deterministically slice a full-raster numpy array into image rows.

    NODATA cells should be NaN in ``arr``; they are preserved bit-exactly by
    the float-packed PNG encoding (PSNR = inf, satisfying the >= 40 dB
    invariant).
    """
    assert arr.shape == (meta.height, meta.width), (arr.shape, meta)
    rows = []
    for tr in range(meta.n_tile_rows):
        for tc in range(meta.n_tile_cols):
            r0, c0 = tr * meta.tile_h, tc * meta.tile_w
            block = np.ascontiguousarray(
                arr[r0 : r0 + meta.tile_h, c0 : c0 + meta.tile_w], dtype=np.float64
            )
            rows.append(
                (
                    f"{meta.layer}/{tr}/{tc}",
                    bytearray(encode_tile(block)),
                    block.shape[1],
                    block.shape[0],
                    "png",
                    meta.caption(tr, tc),
                    phash64(block),
                )
            )
    return rows


def tile_table_from_array(
    spark: SparkSession, arr: np.ndarray, meta: RasterMeta
) -> DataFrame:
    # pandas/Arrow conversion => a LocalTableScan; a python-list
    # createDataFrame would become a defaultParallelism-slice python RDD
    # whose every materialization round-trips a python worker per slice
    import pandas as pd

    rows = tile_rows_from_array(arr, meta)
    pdf = pd.DataFrame(
        {
            "image_id": [r[0] for r in rows],
            "bytes": [bytes(r[1]) for r in rows],
            "w": pd.Series([r[2] for r in rows], dtype="int32"),
            "h": pd.Series([r[3] for r in rows], dtype="int32"),
            "fmt": [r[4] for r in rows],
            "caption": [r[5] for r in rows],
            "phash": pd.Series([r[6] for r in rows], dtype="int64"),
        }
    )
    return spark.createDataFrame(pdf, TILE_SCHEMA)


def tile_pixels(row) -> np.ndarray:
    """The decode stage of every tile kernel: one tile row's pixels as a
    float64 ``(nrows, ncols)`` block with nodata cells as NaN.

    A decoded row (``px``, already NaN-mapped) is only reshaped. A raw row
    (``bytes`` plus an optional ``nodata`` sentinel, as from
    ``raw_tiles_with_meta``) decodes its PNG here, so the payload crosses
    the Arrow boundary compressed."""
    nr, nc = int(row.nrows), int(row.ncols)
    px = getattr(row, "px", None)
    if px is not None:
        return np.asarray(px, dtype=np.float64).reshape(nr, nc)
    px = decode_tile(bytes(row.bytes), nc, nr)
    nodata = getattr(row, "nodata", None)
    if nodata is not None and not (isinstance(nodata, float) and math.isnan(nodata)):
        px = np.where(px == nodata, np.nan, px)
    return px


def decode_tiles(tiles: DataFrame, layer: str | None = None) -> DataFrame:
    """Image table -> decoded tile blocks (``DECODED_SCHEMA``): the caption
    is parsed in the JVM by ``raw_tiles_with_meta`` (grid columns, layer
    filter, nodata), and one Arrow-batched ``mapInPandas`` adds the pixels
    (``px``, row-major, nodata as NaN) through ``tile_pixels``. Nothing is
    verified here; ``roundtrip_report`` checks the pixel roundtrip."""
    cols = [f.name for f in DECODED_SCHEMA.fields if f.name != "px"]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:  # empty object columns break Arrow
                continue
            px = [tile_pixels(row).ravel() for row in pdf.itertuples(index=False)]
            yield pdf[cols].assign(px=px)

    return raw_tiles_with_meta(tiles, layer).mapInPandas(_decode, DECODED_SCHEMA)


def roundtrip_report(tiles: DataFrame) -> DataFrame:
    """Per-tile decode verification: PSNR (inf when bit-exact) and
    phash equality — the driver's decoded-pixel invariant."""

    def _verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.png import psnr

        for pdf in batches:
            rows = []
            for data, w, h, ph, cap in zip(
                pdf["bytes"], pdf["w"], pdf["h"], pdf["phash"], pdf["caption"]
            ):
                px = decode_tile(bytes(data), int(w), int(h))
                re_encoded = decode_tile(encode_tile(px), int(w), int(h))
                rows.append(
                    {
                        "image_id": json.loads(cap).get("layer", "")
                        + f"/{json.loads(cap)['tile_row']}/{json.loads(cap)['tile_col']}",
                        "psnr_db": psnr(px, re_encoded),
                        "phash_ok": phash64(px) == int(ph),
                        "caption_ok": True,
                    }
                )
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("psnr_db", T.DoubleType()),
            T.StructField("phash_ok", T.BooleanType()),
            T.StructField("caption_ok", T.BooleanType()),
        ]
    )
    return tiles.mapInPandas(_verify, schema)


def raw_tiles_with_meta(tiles: DataFrame, layer: str | None = None) -> DataFrame:
    """Attach grid metadata columns by parsing the caption JSON **in the
    JVM** (from_json) — no Python stage. Pixel payload stays encoded
    (``bytes``); the coverage kernel decodes lazily with a per-worker cache,
    so a tile joined against many features is shipped compressed and decoded
    at most once per worker."""
    m = F.from_json("caption", CAPTION_SCHEMA).alias("_m")
    df = tiles.select("bytes", "w", "h", m)
    df = df.select(
        "bytes",
        "w",
        "h",
        F.col("_m.layer").alias("layer"),
        F.col("_m.tile_row").alias("tile_row"),
        F.col("_m.tile_col").alias("tile_col"),
        F.col("_m.dx").alias("dx"),
        F.col("_m.dy").alias("dy"),
        F.col("_m.nodata").alias("nodata"),
        F.col("_m.xmin").alias("xmin"),
        F.col("_m.ymax").alias("ymax"),
        (F.col("_m.xmin") + F.col("w") * F.col("_m.dx")).alias("xmax"),
        (F.col("_m.ymax") - F.col("h") * F.col("_m.dy")).alias("ymin"),
        F.col("w").alias("ncols"),
        F.col("h").alias("nrows"),
    )
    if layer is not None:
        df = df.filter(F.col("layer") == layer)
    return df


class Raster:
    """A distributed raster: tile DataFrame (raw and/or decoded) +
    driver-side meta. The zonal hot path uses the raw (encoded) form and
    decodes inside the kernel; operators needing pixel columns use
    ``.tiles`` (decoded via mapInPandas)."""

    def __init__(self, df: DataFrame, meta: RasterMeta, decoded: bool = False):
        self.meta = meta
        if decoded:
            self._raw = None
            self._decoded = df
        else:
            self._raw = df
            self._decoded = None

    @classmethod
    def from_tiles(cls, tiles: DataFrame, meta: RasterMeta) -> "Raster":
        return cls(tiles, meta, decoded=False)

    @classmethod
    def from_array(
        cls, spark: SparkSession, arr: np.ndarray, meta: RasterMeta
    ) -> "Raster":
        return cls(tile_table_from_array(spark, arr, meta), meta, decoded=False)

    @property
    def tiles(self) -> DataFrame:
        """Decoded tile blocks (layer, tile key, grid, px)."""
        if self._decoded is None:
            self._decoded = decode_tiles(self._raw, layer=self.meta.layer)
        return self._decoded

    @property
    def raw_meta(self) -> DataFrame | None:
        """Raw tiles with JVM-parsed grid metadata, or None if this raster
        was constructed from already-decoded blocks."""
        if self._raw is None:
            return None
        return raw_tiles_with_meta(self._raw, layer=self.meta.layer)

    @property
    def scan(self) -> DataFrame:
        """The frame tile kernels scan: the raw tiles with JVM-parsed grid
        metadata (decoded inside the kernel), else the decoded tiles."""
        raw = self.raw_meta
        return self.tiles if raw is None else raw

    def with_layer(self, layer: str) -> "Raster":
        src = self._raw if self._raw is not None else self._decoded
        r = Raster(src, replace(self.meta, layer=layer), decoded=self._raw is None)
        if self._raw is None:
            r._decoded = self._decoded.filter(F.col("layer") == layer)
        return r
