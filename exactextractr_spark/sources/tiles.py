"""Raster tile source: image+caption table ⇄ decoded Arrow tile blocks.

Input shape per BASELINE.json input_hint: an Iceberg-style table
``(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64)``. The caption JSON carries the grid
semantics (extent, resolution, layer, nodata) — the Spark-side analog of
the reference's raster metadata (``src/exactextract/src/grid.h:40-46``).

The JVM parses the captions (``raw_tiles_with_meta``) and ships tile
metadata to the Python tile kernels, which decode each tile they need
(``tile_pixels``) into a row-major float64 pixel block, matching the
reference's ``NumericVectorRaster`` layout
(``src/numeric_vector_raster.h:23-40``). The PNG payload reaches a kernel
one of two ways, chosen once per table by ``payload_located``: a local
parquet file scan ships a (file, row) locator and the kernel reads the
payload from the row's parquet row group itself (``TilePayloads``), so
the JVM never scans, joins or copies the bytes of a tile; every other
table ships the ``bytes`` inline through Arrow.
"""

from __future__ import annotations

import bisect
import json
import math
from dataclasses import dataclass, replace
from itertools import accumulate
from typing import Iterator
from urllib.parse import unquote, urlsplit

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
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


class TilePayloads:
    """The payload read of the tile kernels: a tile row's PNG bytes.

    An inline row carries them (``bytes``). A located row carries its
    parquet file URI and row index (``src_path``, ``src_row``) instead,
    and the bytes are read here: the file's footer maps the row index to
    (row group, offset), a row group's payload column is read only when one
    of its tiles is asked for, and only the last one read is held (one
    footer, one column; no file stays open between reads). A kernel makes
    one per task and sees its rows in (file, row) order
    (``in_payload_order``), so each row group is read once per task."""

    def __init__(self):
        self._path = None  # the current file: its URI, local path, footer
        self._local = None  # and row-group start rows
        self._footer = None
        self._starts = None
        self._group = None  # the held row group and its payload column
        self._col = None

    def __call__(self, row) -> bytes:
        data = row.bytes
        if data is not None:
            return bytes(data)
        return self.read(row.src_path, int(row.src_row))

    def read(self, uri: str, index: int) -> bytes:
        """The payload of row ``index`` of the parquet file at ``uri``."""
        if uri != self._path:
            self._group = self._col = None
            self._local = unquote(urlsplit(uri).path)
            self._footer = pq.read_metadata(self._local)
            self._starts = list(accumulate(
                (self._footer.row_group(g).num_rows
                 for g in range(self._footer.num_row_groups)),
                initial=0,
            ))
            self._path = uri
        g = bisect.bisect_right(self._starts, index) - 1
        if g != self._group:
            self._group = self._col = None  # drop the held column first
            with pq.ParquetFile(self._local, metadata=self._footer) as f:
                self._col = f.read_row_group(g, columns=["bytes"]).column(0)
            self._group = g
        return self._col[index - self._starts[g]].as_py()


def tile_pixels(row, payloads: TilePayloads) -> np.ndarray:
    """The decode stage of every tile kernel: one tile row's pixels as a
    float64 ``(nrows, ncols)`` block with nodata cells as NaN.

    A decoded row (``px``, already NaN-mapped) is only reshaped. A raw row
    (as from ``raw_tiles_with_meta``, with an optional ``nodata``
    sentinel) decodes its PNG here, from the bytes ``payloads`` gives."""
    nr, nc = int(row.nrows), int(row.ncols)
    px = getattr(row, "px", None)
    if px is not None:
        return np.asarray(px, dtype=np.float64).reshape(nr, nc)
    px = decode_tile(payloads(row), nc, nr)
    nodata = getattr(row, "nodata", None)
    if nodata is not None and not (isinstance(nodata, float) and math.isnan(nodata)):
        px = np.where(px == nodata, np.nan, px)
    return px


def in_payload_order(df: DataFrame) -> DataFrame:
    """``df`` as a decode stage should see it: rows that all carry a
    payload locator (``src_path`` is not nullable only then) sorted by
    (file, row) within each partition, so ``TilePayloads`` reads each row
    group once per task, even after a shuffle. Other frames are returned
    as they are: inline payloads need no order, and a sort would copy
    them."""
    if "src_path" in df.columns and not df.schema["src_path"].nullable:
        return df.sortWithinPartitions("src_path", "src_row")
    return df


def decode_tiles(tiles: DataFrame, layer: str | None = None) -> DataFrame:
    """Image table -> decoded tile blocks (``DECODED_SCHEMA``): the caption
    is parsed in the JVM by ``raw_tiles_with_meta`` (grid columns, layer
    filter, nodata, payload or locator), and one Arrow-batched
    ``mapInPandas`` adds the pixels (``px``, row-major, nodata as NaN)
    through ``tile_pixels``. Nothing is verified here;
    ``roundtrip_report`` checks the pixel roundtrip."""
    return _decode(raw_tiles_with_meta(tiles, layer))


def _decode(raw: DataFrame) -> DataFrame:
    cols = [f.name for f in DECODED_SCHEMA.fields if f.name != "px"]

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payloads = TilePayloads()
        for pdf in batches:
            if len(pdf) == 0:  # empty object columns break Arrow
                continue
            px = [tile_pixels(row, payloads).ravel() for row in pdf.itertuples(index=False)]
            yield pdf[cols].assign(px=px)

    return in_payload_order(raw).mapInPandas(_kernel, DECODED_SCHEMA)


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


_PARQUET_SCAN = (
    "org.apache.spark.sql.execution.datasources.LogicalRelation",
    "org.apache.spark.sql.execution.datasources.HadoopFsRelation",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat",
)


def payload_located(tiles: DataFrame) -> bool:
    """The payload decision of a tile table: True when the tile kernels
    can read each tile's ``bytes`` from its parquet row themselves, so the
    JVM ships a (file, row) locator instead. That holds when the analyzed
    plan's only leaf is a parquet ``HadoopFsRelation``, the frame's
    ``bytes`` is that relation's attribute (no projection rewrote it),
    every input file is a local ``file:`` URI the workers can open, and
    the frame is not streaming. Anything else (in-memory, streaming or
    DSv2 tables, unions, a derived ``bytes``, a cached table, whose
    analyzed plan reads the cache) ships the bytes inline."""
    jdf = getattr(tiles, "_jdf", None)
    if jdf is None or tiles.isStreaming or "bytes" not in tiles.columns:
        return False
    plan = jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    if leaves.size() != 1:
        return False
    leaf = leaves.apply(0)
    if leaf.getClass().getName() != _PARQUET_SCAN[0]:
        return False
    rel = leaf.relation()
    if (rel.getClass().getName(), rel.fileFormat().getClass().getName()) != _PARQUET_SCAN[1:]:
        return False

    def _bytes_id(attrs):
        ids = [attrs.apply(i).exprId().id() for i in range(attrs.size())
               if attrs.apply(i).name() == "bytes"]
        return ids[0] if len(ids) == 1 else None

    ours = _bytes_id(plan.output())
    if ours is None or ours != _bytes_id(leaf.output()):
        return False
    files = tiles.inputFiles()
    return bool(files) and all(f.startswith("file:") for f in files)


def raw_tiles_with_meta(tiles: DataFrame, layer: str | None = None) -> DataFrame:
    """The frame the tile kernels scan: grid metadata columns parsed from
    the caption JSON **in the JVM** (from_json), plus the tile's payload
    in one of two forms, with one schema for both (so located and inline
    frames union by name):

    - inline: ``bytes`` is the PNG, ``src_path``/``src_row`` are null;
    - located (when ``payload_located``): ``bytes`` is null and ``src_path``/``src_row`` are the row's parquet file URI
      and row index (``_metadata.file_path``/``row_index``); the JVM never
      reads the payload.

    Either way the kernel's ``tile_pixels`` decodes a tile only when it has
    a pair left, from the bytes its ``TilePayloads`` gives."""
    if payload_located(tiles):
        payload = [
            F.lit(None).cast(T.BinaryType()).alias("bytes"),
            F.col("_metadata.file_path").alias("src_path"),
            F.col("_metadata.row_index").alias("src_row"),
        ]
    else:
        payload = [
            F.col("bytes"),
            F.lit(None).cast(T.StringType()).alias("src_path"),
            F.lit(None).cast(T.LongType()).alias("src_row"),
        ]
    m = F.from_json("caption", CAPTION_SCHEMA).alias("_m")
    df = tiles.select(*payload, "w", "h", m)
    df = df.select(
        "bytes",
        "src_path",
        "src_row",
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
    driver-side meta. The tile kernels scan the raw form (``scan``) and
    decode inside the kernel; operators needing pixel columns use
    ``.tiles`` (decoded via mapInPandas). The scan frame, and with it the
    payload decision, is made once and kept."""

    def __init__(self, df: DataFrame, meta: RasterMeta, decoded: bool = False):
        self.meta = meta
        self._raw_meta = None
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
            self._decoded = _decode(self.raw_meta)
        return self._decoded

    @property
    def raw_meta(self) -> DataFrame | None:
        """Raw tiles with JVM-parsed grid metadata and the payload or its
        locator (``raw_tiles_with_meta``), or None if this raster was
        constructed from already-decoded blocks."""
        if self._raw is None:
            return None
        if self._raw_meta is None:
            self._raw_meta = raw_tiles_with_meta(self._raw, layer=self.meta.layer)
        return self._raw_meta

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
