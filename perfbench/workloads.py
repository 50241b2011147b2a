"""The benchmark's workloads: input registration, one pass, its check, and a
traced pass that times the engine's layers from outside.

A pass is one closed-loop request: the benchmark submits it, collects the
result, and only then submits the next.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Zonal:
    """``exact_extract`` over a tile table and a polygon table."""

    def __init__(self, spark, data: str, man: dict, *, layer: str, stats: list[str],
                 broadcast: bool, check):
        from exactextractr_spark.sources.tiles import Raster

        self.data = data
        self.meta = gen.raster_meta(layer, man["info"]["n"])
        self.raster = Raster.from_tiles(spark.read.parquet(os.path.join(data, "tiles")), self.meta)
        self.feats = spark.read.parquet(os.path.join(data, "features"))
        self.stats, self.broadcast, self._check = stats, broadcast, check
        self.items = man["info"]["tiles"]
        self.emit = "freq" if {"mode", "median", "frac", "variety"} & set(stats) else "moments"
        self.expect = {k: np.load(os.path.join(data, f"{k}.npy"))
                       for k in ("areas", "single_class") if os.path.exists(os.path.join(data, f"{k}.npy"))}

    def _query(self):
        from exactextractr_spark.operators.zonal import exact_extract

        return exact_extract(self.raster, self.feats, self.stats, broadcast_features=self.broadcast)

    def run_pass(self):
        return self._query().toPandas()

    def check(self, res, first) -> list[str]:
        return self._check(res, self.expect, first)

    def trace_pass(self, tr):
        """Prefixes of the pipeline, each into a sink, then the full pass:
        scan -> candidates -> kernel (candidates + coverage_facts) -> full.
        Also returns the engine's (tile_row, tile_col, feature_id) candidate
        pairs."""
        from exactextractr_spark.operators.zonal import build_candidates, coverage_facts

        with tr.span("scan"):
            _noop(self.raster.raw_meta)
        with tr.span("candidates"):
            with tr.span("candidates.build"):
                cand, fbc = build_candidates(self.raster, self.feats, self.broadcast)
            with tr.span("candidates.count"):
                pairs, kept = self._engine_pairs(cand, fbc)
        with tr.span("kernel"):
            with tr.span("kernel.build"):
                cand, fbc = build_candidates(self.raster, self.feats, self.broadcast)
            _noop(coverage_facts(cand, values_meta=self.meta, emit=self.emit, feats_bc=fbc))
        with tr.span("full"):
            res = self.run_pass()
        return res, {"tiles_kept": kept, "pairs": pairs}

    def _engine_pairs(self, cand, fbc) -> tuple[list, int]:
        """The (tile_row, tile_col, feature_id) pairs the kernel is handed,
        and the number of tiles kept: from the cover join's per-tile
        feature lists, or, on the broadcast path, from the engine's own bbox
        test (``FeatureBroadcast.overlapping``) on the tiles it kept."""
        from pyspark.sql import functions as F

        if fbc is None:
            rows = cand.select("tile_row", "tile_col", F.col("feats.feature_id").alias("ids")).collect()
            return [(r.tile_row, r.tile_col, int(f)) for r in rows for f in r.ids], len(rows)
        fb = fbc.value
        rows = cand.select("tile_row", "tile_col").collect()
        pairs = []
        for r in rows:
            g = self.meta.tile_grid(r.tile_row, r.tile_col)
            pairs.extend((r.tile_row, r.tile_col, int(fb.ids[j]))
                         for j in fb.overlapping(g.xmin, g.ymin, g.xmax, g.ymax))
        return pairs, len(rows)

    # -- single-process layer timings on the workload's own inputs ----------

    def layer_sample(self, seed: int, pairs: list, max_pairs: int = 400, max_tiles: int = 24) -> dict:
        """Time ``core.png.decode_tile`` and ``core.coverage.coverage_fraction``
        single-process on a seeded sample of this workload's tiles and of
        the engine's (tile, feature) candidate ``pairs``."""
        import pyarrow.parquet as pq

        from exactextractr_spark.core import geom as G
        from exactextractr_spark.core.coverage import coverage_fraction
        from exactextractr_spark.core.grid import Box
        from exactextractr_spark.core.png import decode_tile

        rng = np.random.default_rng([seed, 99])
        tiles = pq.read_table(os.path.join(self.data, "tiles"), columns=["bytes", "w", "h"])
        pick = np.sort(rng.choice(tiles.num_rows, min(max_tiles, tiles.num_rows), replace=False))
        blobs = [(tiles.column("bytes")[int(i)].as_py(), tiles.column("w")[int(i)].as_py(),
                  tiles.column("h")[int(i)].as_py()) for i in pick]
        t0 = time.perf_counter()
        out_bytes = sum(decode_tile(b, w, h).nbytes for b, w, h in blobs)
        dec = time.perf_counter() - t0

        feats = pq.read_table(os.path.join(self.data, "features")).to_pandas().set_index("feature_id")
        sample = [pairs[int(i)] for i in np.sort(rng.choice(len(pairs), min(max_pairs, len(pairs)), replace=False))]
        geoms = {}
        cells = nonzero = useful = interior = 0
        total = interior_t = 0.0
        for tr_, tc, fid in sample:
            f = feats.loc[fid]
            g = geoms.get(fid)
            if g is None:
                g = geoms[fid] = G.from_wkb(bytes(f.geom))
            grid = self.meta.tile_grid(tr_, tc).crop(Box(f.fxmin, f.fymin, f.fxmax, f.fymax))
            t0 = time.perf_counter()
            cov = coverage_fraction(grid, g)
            dt = time.perf_counter() - t0
            total += dt
            cells += cov.size
            nz = int((cov > 0).sum())
            nonzero += nz
            useful += nz > 0
            if cov.size == gen.TILE * gen.TILE and (cov == 1).all():
                interior += 1
                interior_t += dt
        k = max(1, len(sample))
        return {
            "png.decode_ms_per_tile": 1e3 * dec / len(blobs),
            "png.decoded_mb_per_s": out_bytes / (1 << 20) / dec,
            "coverage.ms_per_pair": 1e3 * total / k,
            "coverage.cells_per_pair": cells / k,
            "coverage.nonzero_cell_ratio": nonzero / max(1, cells),
            "coverage.interior_pair_share": interior / k,
            "coverage.interior_ms_share": interior_t / total if total else 0.0,
            "candidates.useful_ratio": useful / k,
        }


class NearDupDedup:
    """Three near-duplicate operators over one (image_id, phash, caption)
    table, each run and timed separately within a pass."""

    OPS = ("phash", "simhash", "minhash")

    def __init__(self, spark, data: str, man: dict):
        from pyspark.sql import functions as F

        self.rows = spark.read.parquet(os.path.join(data, "rows"))
        self.docs = self.rows.select("doc_id", F.col("caption").alias("text"))
        self.items = man["info"]["rows"]
        self.expect = {k: np.load(os.path.join(data, f"{k}.npy")) for k in
                       ("phash_keep", "simhash_keep", "planted_copies", "minhash_must_keep")}

    def _op(self, op: str):
        from exactextractr_spark.operators import dedup as D

        if op == "phash":
            return D.image_phash_dedup(self.rows.select("image_id", "phash"), max_hamming=gen.HAMMING_D)
        if op == "simhash":
            return D.hamming_dedup(D.simhash64(self.docs), max_hamming=gen.HAMMING_D)
        p = gen.MINHASH
        return D.minhash_dedup(self.docs, num_hashes=p["num_hashes"], bands=p["bands"],
                               threshold=p["threshold"])

    def _signature(self, op: str):
        from exactextractr_spark.operators import dedup as D

        if op == "phash":
            return self.rows.select("image_id", "phash")
        if op == "simhash":
            return D.simhash64(self.docs)
        return D.minhash_signatures(self.docs, num_hashes=gen.MINHASH["num_hashes"])

    def _collect(self, op: str) -> np.ndarray:
        col = "image_id" if op == "phash" else "doc_id"
        return self._op(op).select(col).toPandas()[col].to_numpy()

    def run_pass(self):
        return {op: self._collect(op) for op in self.OPS}

    def check(self, res, first) -> list[str]:
        return checks.check_dedup(res, self.expect)

    def _pairs(self, op: str):
        """The engine's near-duplicate pairs (after the exact filter) of one
        operator."""
        from exactextractr_spark.operators import dedup as D

        if op == "phash":
            return D.hamming_pairs(self._signature(op), id_col="image_id", hash_col="phash",
                                   max_hamming=gen.HAMMING_D)
        if op == "simhash":
            return D.hamming_pairs(self._signature(op), max_hamming=gen.HAMMING_D)
        p = gen.MINHASH
        return D.minhash_lsh_pairs(self._signature(op), bands=p["bands"], threshold=p["threshold"],
                                   num_hashes=p["num_hashes"])

    def trace_pass(self, tr):
        res, pairs = {}, {}
        for op in self.OPS:
            with tr.span(op):
                with tr.span(f"{op}.signature"):
                    _noop(self._signature(op))
                with tr.span(f"{op}.pairs"):
                    pairs[op] = self._pairs(op).count()
                with tr.span(f"{op}.dedup"):
                    res[op] = self._collect(op)
        return res, {"pairs": pairs}


def make(name: str, spark, data: str, man: dict):
    if name == "zonal_headline":
        return Zonal(spark, data, man, layer="headline", broadcast=True,
                     stats=["count", "sum", "mean", "min", "max", "stdev"],
                     check=checks.check_headline)
    if name == "zonal_categorical":
        return Zonal(spark, data, man, layer="classes", broadcast=False,
                     stats=["count", "mode", "variety", "median", "frac"],
                     check=checks.check_categorical)
    return NearDupDedup(spark, data, man)
