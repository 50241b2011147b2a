"""Checkpoint/resume for long zonal jobs: mergeable partial accumulators.

North-rule requirement: "checkpoints per-partition tile assignments and
zonal accumulators ... with lineage columns for resume". Spark has no native
mid-job aggregation checkpoint, but the algebraic moments ARE mergeable
state — exactly the reference's StatsRegistry merge semantics
(``stats_registry.h:25-84``) lifted to the storage layer:

- candidate (feature × tile) pairs are assigned a deterministic bucket
  (hash of the tile key);
- each bucket's facts are aggregated to per-feature partial moments and
  written to ``<dir>/bucket=K/`` with lineage columns (bucket id, pair
  count, written-at snapshot id);
- on resume, completed buckets (manifest-committed) are skipped;
- the final answer merges all partials with one more groupBy — merging
  partial sums is associative, so any subset union is consistent.

Storage is parquet-per-bucket with a JSON manifest (atomic rename commit) —
the same snapshot/lineage mechanics an Iceberg table would provide; swap
``write.parquet`` for ``writeTo(...).append()`` on a real cluster with an
Iceberg catalog.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.zonal import build_candidates, coverage_facts
from .plans.stats import StatsPlan, with_all_features
from .sources.tiles import Raster


class ZonalCheckpointer:
    def __init__(self, ckpt_dir: str, n_buckets: int = 16):
        self.dir = ckpt_dir
        self.n_buckets = n_buckets
        os.makedirs(ckpt_dir, exist_ok=True)

    # --- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "manifest.json")

    def load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"buckets": {}, "n_buckets": self.n_buckets}

    def commit_bucket(self, bucket: int, lineage: dict) -> None:
        man = self.load_manifest()
        man["buckets"][str(bucket)] = lineage
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path)  # atomic commit

    # --- run ----------------------------------------------------------------
    def run(
        self,
        values: Raster,
        features: DataFrame,
        stats: list[str],
        *,
        progress: bool = False,
    ) -> DataFrame:
        """Compute algebraic zonal stats with per-bucket checkpointing.
        Re-invoking after a crash resumes from the manifest."""
        plan = StatsPlan(stats)
        if plan.freq:
            raise ValueError("checkpointed path supports algebraic stats only")
        if plan.needs_weights:
            raise ValueError(f"stats {sorted(set(stats))} require weights, "
                             "which the checkpointed path does not take")
        man = self.load_manifest()
        done = set(int(b) for b in man["buckets"])
        spark = features.sparkSession

        cand, feats_bc = build_candidates(values, features)
        cand = cand.withColumn(
            "_bucket",
            F.pmod(F.xxhash64("tile_row", "tile_col"), F.lit(self.n_buckets)),
        )
        for b in range(self.n_buckets):
            if b in done:
                continue
            t0 = time.time()
            moments = coverage_facts(
                cand.filter(F.col("_bucket") == b),
                feats_bc=feats_bc,
                values_meta=values.meta,
                emit="moments",
            )
            partial = plan.merge_moments(moments)
            path = os.path.join(self.dir, f"bucket={b}")
            partial.write.mode("overwrite").parquet(path)
            n = spark.read.parquet(path).count()
            self.commit_bucket(
                b,
                {
                    "rows": n,
                    "snapshot": uuid.uuid4().hex,
                    "wall_sec": round(time.time() - t0, 3),
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                },
            )
            if progress:
                print(f"bucket {b}: {n} partial rows in {time.time()-t0:.1f}s")

        # merge all committed partials (StatsRegistry::merge at rest): a
        # bucket row holds merged moments (_sum_*, min, max), which merge
        # again as partials under their partial names (_p_sum_*, _p_min, ...)
        merged = spark.read.parquet(os.path.join(self.dir, "bucket=*"))
        partials = merged.select("feature_id", *[
            F.col(c).alias("_p_" + c.lstrip("_"))
            for c in merged.columns if c != "feature_id"
        ])
        # features with no facts keep their row (0/NA stats), same as
        # exact_extract (ref test_exact_extract.R:433-485)
        result = with_all_features(plan.from_moments(partials), features, feats_bc)
        return result.orderBy("feature_id")
