"""File-backed tile tables: the payload decision (``payload_located``), the
row-group reader (``TilePayloads``) and located-vs-inline parity.

A parquet tile table ships (file, row) locators through the JVM and the
tile kernels read each needed tile's bytes from its row group; every other
tile table ships the bytes inline. The outputs must not tell the two
apart. The rasters here are integer-valued, with quarter-cell weights and
axis-aligned polygons on quarter-cell coordinates, so every coverage
fraction, product and partial sum is exact in binary and the two paths'
different partitionings (a parquet scan vs an in-memory table) cannot move
a bit through summation order."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from exactextractr_spark.operators import zonal
from exactextractr_spark.sources.features import features_from_wkt
from exactextractr_spark.sources.tiles import (
    TILE_SCHEMA,
    Raster,
    RasterMeta,
    TilePayloads,
    in_payload_order,
    payload_located,
    tile_rows_from_array,
)

_ARROW_TILES = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()),
])


def _write_tiles(arr, meta, path, files, row_group_size, seed=0):
    """The tile rows of ``arr`` in a shuffled order over ``files`` parquet
    files of ``row_group_size``-row groups; returns {image_id: bytes}."""
    rows = tile_rows_from_array(arr, meta)
    order = np.random.default_rng(seed).permutation(len(rows))
    rows = [rows[i] for i in order]
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // files)
    for f in range(files):
        part = rows[f * per:(f + 1) * per]
        cols = [[r[k] if k != 1 else bytes(r[1]) for r in part] for k in range(7)]
        table = pa.Table.from_arrays(
            [pa.array(c, t.type) for c, t in zip(cols, _ARROW_TILES)], schema=_ARROW_TILES)
        pq.write_table(table, os.path.join(path, f"part-{f}.parquet"),
                       row_group_size=row_group_size)
    return {r[0]: bytes(r[1]) for r in rows}


def _pair(spark, arr, meta, path, files=2, row_group_size=3):
    """The same raster file-backed (located) and in memory (inline)."""
    _write_tiles(arr, meta, path, files, row_group_size)
    located = Raster.from_tiles(spark.read.parquet(path), meta)
    inline = Raster.from_array(spark, arr, meta)
    assert payload_located(located._raw) and not payload_located(inline._raw)
    return located, inline


def _same(a, b, keys):
    """Bitwise equality of two frames' rows sorted by ``keys`` (floats by
    ``float.hex``, so NaN == NaN and -0.0 != 0.0; arrays element-wise)."""
    a = a.toPandas().sort_values(keys).reset_index(drop=True)
    b = b.toPandas().sort_values(keys).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) and len(a) > 0

    def bits(v):
        if isinstance(v, (list, np.ndarray)):
            return [bits(x) for x in v]
        if isinstance(v, float):
            return float(v).hex()
        return v

    for c in a.columns:
        assert [bits(v) for v in a[c]] == [bits(v) for v in b[c]], c


@pytest.fixture(scope="module")
def rasters(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("located")
    rng = np.random.default_rng(11)
    vals = rng.integers(1, 7, (16, 16)).astype(np.float64)
    vals[11:16, 0:4] = np.nan  # NaN block
    for r_, c_ in ((4, 6), (1, 10), (7, 3), (14, 12)):
        vals[r_, c_] = -9999.0  # nodata sentinel, NaN after decode
    vmeta = RasterMeta("v", xmin=0, ymax=16, dx=1, dy=1, width=16, height=16,
                       tile_w=5, tile_h=5, nodata=-9999.0)
    w_al = np.round(rng.uniform(0.5, 3.0, (16, 16)) * 4) / 4
    w_fine = np.round(rng.uniform(0.5, 3.0, (32, 32)) * 4) / 4
    wmeta = RasterMeta("w", xmin=0, ymax=16, dx=1, dy=1, width=16, height=16,
                       tile_w=5, tile_h=5)
    fmeta = RasterMeta("w", xmin=0, ymax=16, dx=0.5, dy=0.5, width=32, height=32,
                       tile_w=10, tile_h=10)
    b_vals = rng.integers(0, 5, (16, 16)).astype(np.float64)
    b_vals[0:3, 12:16] = np.nan
    return {
        "v": _pair(spark, vals, vmeta, str(root / "v"), files=2, row_group_size=3),
        "aligned": _pair(spark, w_al, wmeta, str(root / "wa"), files=2, row_group_size=4),
        "finer": _pair(spark, w_fine, fmeta, str(root / "wf"), files=3, row_group_size=2),
        "b": _pair(spark, b_vals, RasterMeta("b", xmin=0, ymax=16, dx=1, dy=1, width=16,
                                             height=16, tile_w=5, tile_h=5),
                   str(root / "b"), files=2, row_group_size=3),
    }


@pytest.fixture(scope="module")
def feats(spark):
    return features_from_wkt(spark, [
        "POLYGON ((0.5 0.5, 9.25 0.5, 9.25 8.75, 0.5 8.75, 0.5 0.5))",
        "POLYGON ((2.25 3.5, 15.75 3.5, 15.75 15.75, 2.25 15.75, 2.25 3.5))",
        "POLYGON ((0.25 0.25, 2.75 0.25, 2.75 4.75, 0.25 4.75, 0.25 0.25))",
        "POLYGON ((4 4, 12 4, 12 12, 4 12, 4 4), (5.5 5.5, 7.5 5.5, 7.5 7.5, 5.5 7.5, 5.5 5.5))",
        "POLYGON ((13.5 -2.25, 18.75 -2.25, 18.75 6.5, 13.5 6.5, 13.5 -2.25))",
        "POLYGON ((20 20, 22 20, 22 22, 20 22, 20 20))",
    ])


MOMENTS = ["count", "sum", "mean", "min", "max", "stdev"]
FREQ = ["mode", "minority", "variety", "median", "frac", "count", "sum"]


@pytest.mark.parametrize("bc", [True, False], ids=["broadcast", "cover_join"])
def test_located_and_inline_payloads_agree(spark, rasters, feats, bc, monkeypatch):
    """Every tile kernel gives bitwise the same rows whether the tile table
    is file-backed (payload read from parquet row groups in the kernel) or
    in memory (payload inline), under both candidate strategies."""
    from exactextractr_spark.operators.coverage_op import coverage_fraction_raster
    from exactextractr_spark.operators.resample import exact_resample
    from exactextractr_spark.operators.stack import exact_extract_stack

    loc, inl = rasters["v"]
    for stats in (MOMENTS, FREQ):
        _same(zonal.exact_extract(loc, feats, stats, broadcast_features=bc),
              zonal.exact_extract(inl, feats, stats, broadcast_features=bc),
              ["feature_id"])
    _same(zonal.exact_extract_pixels(loc, feats, include_cell=True, include_xy=True,
                                     broadcast_features=bc),
          zonal.exact_extract_pixels(inl, feats, include_cell=True, include_xy=True,
                                     broadcast_features=bc),
          ["feature_id", "cell"])
    for grid, stats in (("aligned", ["weighted_mean", "weighted_sum", "sum", "mean"]),
                        ("finer", ["weighted_mean", "weighted_sum", "mean"])):
        wl, wi = rasters[grid]
        _same(zonal.exact_extract(loc, feats, stats, weights=wl, broadcast_features=bc),
              zonal.exact_extract(inl, feats, stats, weights=wi, broadcast_features=bc),
              ["feature_id"])
    _same(zonal.exact_extract_pixels(loc, feats, weights=rasters["finer"][0],
                                     include_cell=True, broadcast_features=bc),
          zonal.exact_extract_pixels(inl, feats, weights=rasters["finer"][1],
                                     include_cell=True, broadcast_features=bc),
          ["feature_id", "cell"])
    # the stack's single pass unions a located and an inline tile frame
    if not bc:
        monkeypatch.setattr(zonal, "BROADCAST_FEATURE_LIMIT", 0)
    for stats in (MOMENTS, FREQ):
        _same(exact_extract_stack([loc, rasters["b"][1]], feats, stats),
              exact_extract_stack([inl, rasters["b"][1]], feats, stats),
              ["feature_id"])
    for crop in (True, False):
        _same(coverage_fraction_raster(loc, feats, crop=crop),
              coverage_fraction_raster(inl, feats, crop=crop),
              ["feature_id", "tile_row", "tile_col"])
    dst = RasterMeta("d", xmin=0, ymax=16, dx=2.5, dy=2.5, width=7, height=7)
    for stat in ("mean", "median"):
        _same(exact_resample(loc, dst, stat), exact_resample(inl, dst, stat),
              ["dst_row", "dst_col"])


def test_payload_decision(spark, rasters, tmp_path):
    """A parquet file scan, bare or filtered, ships locators and its JVM
    scan does not read ``bytes``; a rewritten ``bytes``, a union, an
    in-memory table and a stream ship the bytes inline."""
    path = str(tmp_path / "t")
    arr = np.arange(1.0, 37.0).reshape(6, 6)
    meta = RasterMeta("v", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                      tile_w=3, tile_h=3)
    _write_tiles(arr, meta, path, files=2, row_group_size=1)
    df = spark.read.parquet(path)
    assert payload_located(df)
    assert payload_located(df.filter(F.col("w") > 0))
    assert not payload_located(df.withColumn("bytes", F.col("bytes")))
    assert not payload_located(df.unionByName(df))
    assert not payload_located(rasters["v"][1]._raw)
    stream = spark.readStream.schema(TILE_SCHEMA).parquet(path)
    assert not payload_located(stream)

    raster = Raster.from_tiles(df.filter(F.col("w") > 0), meta)
    scan = raster.raw_meta
    assert raster.raw_meta is scan  # made once per raster
    plan = scan._jdf.queryExecution().executedPlan().toString()
    read_schema = plan[plan.index("ReadSchema"):].split("\n")[0]
    assert "bytes" not in read_schema and "caption" in read_schema
    assert scan.schema["bytes"].dataType == rasters["v"][1].raw_meta.schema["bytes"].dataType
    got = raster.tiles.select("tile_row", "tile_col", "px").toPandas()
    for r in got.itertuples(index=False):
        block = arr[3 * r.tile_row:3 * r.tile_row + 3, 3 * r.tile_col:3 * r.tile_col + 3]
        assert np.array_equal(np.asarray(r.px), block.ravel())


def test_reader_reads_each_row_group_once_per_task(spark, tmp_path, monkeypatch):
    """Rows of 2 files x 3 row groups, interleaved the way a sort-merge
    join delivers them, reach a task in (file, row) order; its reader then
    reads each row group once, drops the held column before reading the
    next, and returns every tile's exact bytes."""
    path = str(tmp_path / "t")
    meta = RasterMeta("v", xmin=0, ymax=12, dx=1, dy=1, width=12, height=12,
                      tile_w=3, tile_h=4)  # 3 x 4 = 12 tiles
    arr = np.arange(144.0).reshape(12, 12)
    payload = _write_tiles(arr, meta, path, files=2, row_group_size=2)
    assert all(pq.ParquetFile(os.path.join(path, f)).num_row_groups == 3
               for f in os.listdir(path))
    raw = Raster.from_tiles(spark.read.parquet(path), meta).raw_meta
    shuffled = raw.repartition(3, "tile_row").sortWithinPartitions("tile_row", "tile_col")

    def tasks(df):
        pdf = df.select(
            F.spark_partition_id().alias("_p"), F.monotonically_increasing_id().alias("_o"),
            "bytes", "src_path", "src_row", "tile_row", "tile_col",
        ).toPandas().sort_values("_o")
        return [list(g.itertuples(index=False)) for _, g in pdf.groupby("_p")]

    reads = []
    held = []
    real = pq.ParquetFile.read_row_group

    def counting(self, i, *args, **kwargs):
        held.append(payloads._col is not None)
        reads.append(i)
        return real(self, i, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting)

    def run(task):
        before = len(reads)
        groups = set()
        for row in task:
            assert payloads(row) == payload[f"v/{row.tile_row}/{row.tile_col}"]
            groups.add((row.src_path, row.src_row // 2))
        return len(reads) - before, len(groups)

    unsorted = []
    for task in tasks(shuffled):
        payloads = TilePayloads()
        unsorted.append(run(task))
    # the join order interleaves files and row groups: unsorted, a task
    # re-reads row groups
    assert sum(n for n, _ in unsorted) > sum(g for _, g in unsorted)
    reads.clear()
    held.clear()
    for task in tasks(in_payload_order(shuffled)):
        payloads = TilePayloads()
        n, groups = run(task)
        assert n == groups
    assert reads and not any(held)
