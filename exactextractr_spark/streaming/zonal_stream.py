"""Structured Streaming zonal statistics: incremental tile arrival →
continuously-updated per-feature stats.

The reference is single-pass batch; this is the Spark-native extension for
the 10^12-image table growing in place: ``readStream`` over the image-table
directory → the SAME exact coverage kernel as batch (emit="moments", one
row per feature×tile) → a stateful ``groupBy(feature_id)`` aggregation.
The moments are pure sums plus min/max, so Spark's streaming state store
merges each micro-batch in O(|features|) state with no re-scan of earlier
tiles — the streaming answer after N tiles is bit-identical to the batch
answer over those N tiles (test-asserted).

Algebraic stats (count/sum/mean/min/max/variance/stdev/CV and weighted
variants) stream as O(|features|) moment state. Frequency stats
(mode/median/quantile/frac/variety/minority) stream too, as a
``groupBy(feature_id, value)`` aggregate in complete mode: state is
bounded by |features| x |distinct values| — the CATEGORICAL-raster
assumption the batch ``frac`` path already documents (a continuous-valued
raster would grow state per distinct float; ``max_state_rows`` guards
that loudly). Each trigger's snapshot runs the SAME ``_freq_stats``
machinery as batch over the complete freq table, so the streaming answer
after N tiles is bit-identical to the batch answer over those N tiles
(test-asserted for both stat families).

Weighted stats stream too: the weight raster is STATIC, so its tiles are
pre-grouped per value-tile key on the batch side
(``zonal.static_weight_lists``) and attached to the streaming tiles with a
stateless broadcast stream-static join — the moments schema already
carries the weighted sums, so the stateful aggregate is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.stats import StatsPlan
from ..sources.tiles import TILE_SCHEMA, RasterMeta, raw_tiles_with_meta


def stream_zonal_stats(
    spark: SparkSession,
    source_dir: str,
    features: DataFrame,
    stats: "list[str] | str",
    *,
    meta: RasterMeta,
    checkpoint_dir: str,
    weights=None,
    sink_dir: str | None = None,
    query_name: str = "zonal_stream",
    max_files_per_trigger: int = 16,
    available_now: bool = True,
    quantiles: "list[float] | None" = None,
    max_state_rows: int = 1_000_000,
):
    """Start the streaming zonal query; returns the StreamingQuery.

    Without ``sink_dir`` results land in an in-memory table named
    ``query_name`` (complete mode — read it with
    ``spark.table(query_name)``). With ``sink_dir`` each trigger snapshots
    the full current result to parquet via foreachBatch (overwrite), which
    is the resumable-pipeline shape: the newest snapshot is always a
    consistent answer over every tile ingested so far.
    """
    from ..operators._exec import bounded_collect
    from ..operators.zonal import (
        BROADCAST_FEATURE_LIMIT,
        FEATURE_COLUMNS,
        FeatureBroadcast,
        coverage_facts,
        static_weight_lists,
    )

    if isinstance(stats, str):
        stats = [stats]
    plan = StatsPlan(stats, quantiles or [])
    if plan.needs_weights and weights is None:
        raise ValueError(f"stats {sorted(set(stats))} require weights")
    if weights is not None:
        vg, wg = meta.grid, weights.meta.grid
        if not vg.compatible_with(wg):
            raise ValueError(
                "weights grid is not compatible with the value grid "
                "(resolutions must be integer multiples, origins aligned)"
            )
        if wg.dx < vg.dx or wg.dy < vg.dy:
            raise ValueError(
                "finer-than-value weight grids disaggregate the value "
                "raster — batch-only; resample the weights first"
            )

    # the batch path's collect policy, but a refusal instead of a fallback:
    # the streaming path has no cover join, so features must broadcast
    table = bounded_collect(
        features.select(*FEATURE_COLUMNS), BROADCAST_FEATURE_LIMIT
    )
    if table is None:
        raise ValueError(
            f"streaming zonal requires a broadcastable feature table "
            f"(> {BROADCAST_FEATURE_LIMIT} rows found); the streaming path "
            "has no raster-sequential cover-join fallback — partition the "
            "feature set or use the batch operator"
        )
    feats_bc = spark.sparkContext.broadcast(FeatureBroadcast(table))

    raw = (
        spark.readStream.schema(TILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    tiles = raw_tiles_with_meta(raw, layer=meta.layer)
    if weights is not None:
        from pyspark.sql import functions as F

        from ..operators.zonal import (
            WEIGHT_BROADCAST_MAX_BYTES,
            _weight_payload_bytes,
        )

        wlists = static_weight_lists(meta, weights)
        # size-gate the broadcast hint exactly like the batch path: a large
        # weight raster's pre-grouped lists join as a plain stream-static
        # equi-join (still stateless) instead of an OOM-prone broadcast
        if _weight_payload_bytes(weights.meta) <= WEIGHT_BROADCAST_MAX_BYTES:
            wlists = F.broadcast(wlists)
        tiles = tiles.join(wlists, on=["tile_row", "tile_col"], how="left")
    fin = plan.finalize_columns()
    if plan.freq:
        # freq path: stateful groupBy(feature_id, v) in complete mode —
        # state bounded by |features| x |distinct values| (categorical
        # rasters; max_state_rows guards the continuous case loudly).
        # Every trigger's snapshot derives ALL stats (algebraic included)
        # from the complete freq table with the SAME machinery as batch,
        # so parity is by construction.
        from pyspark.sql import functions as F

        from ..operators.zonal import _freq_stats

        partials = coverage_facts(
            tiles, emit="freq", feats_bc=feats_bc, values_meta=meta
        )
        freq = partials.groupBy("feature_id", "v").agg(
            F.sum("sum_c").alias("sum_c"), F.sum("sum_cw").alias("sum_cw")
        )
        feat_ids = table.column("feature_id").to_pylist()

        def _freq_snapshot(batch_df: DataFrame, batch_id: int) -> None:
            import pandas as pd

            bspark = batch_df.sparkSession
            fdf = batch_df.localCheckpoint(eager=True)
            # limit-bounded guard job (the repo-wide pattern): we only need
            # "more than max_state_rows?", never the exact count
            if fdf.limit(max_state_rows + 1).count() > max_state_rows:
                raise ValueError(
                    "streaming freq state exceeds "
                    f"max_state_rows={max_state_rows} (feature, value) "
                    "rows: the value raster is not categorical enough to "
                    "stream frequency stats — run them in batch, or raise "
                    "max_state_rows"
                )
            result = None
            if plan.algebraic:
                agg_df = fdf.groupBy("feature_id").agg(
                    *plan.algebraic_aggs_from_freq()
                )
                result = agg_df.select(
                    "feature_id", *[fin[s].alias(s) for s in plan.algebraic]
                )
            fr = _freq_stats(plan, fdf)
            result = (
                fr if result is None
                else result.join(fr, on="feature_id", how="full")
            )
            base = bspark.createDataFrame(
                pd.DataFrame(
                    {"feature_id": pd.Series(feat_ids, dtype="int64")}
                )
            )
            result = base.join(
                F.broadcast(result), on="feature_id", how="left"
            )
            fill = {
                s: (0.0 if s != "variety" else 0)
                for s in ("count", "sum", "weighted_count", "weighted_sum",
                          "variety")
                if s in result.columns
            }
            if fill:
                result = result.fillna(fill)
            result = result.orderBy("feature_id")
            if sink_dir is not None:
                result.write.mode("overwrite").parquet(sink_dir)
            else:
                # register the snapshot on the CALLER's session (row-based
                # createDataFrame preserves nulls exactly; the view is
                # per-feature tiny)
                snap = spark.createDataFrame(
                    result.collect(), schema=result.schema
                )
                snap.createOrReplaceTempView(query_name)

        writer = (
            freq.writeStream.option("checkpointLocation", checkpoint_dir)
            .foreachBatch(_freq_snapshot)
            .outputMode("complete")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    moments = coverage_facts(
        tiles, emit="moments", feats_bc=feats_bc, values_meta=meta
    )
    agg = moments.groupBy("feature_id").agg(*plan.algebraic_aggs_from_moments())
    out = agg.select(
        "feature_id", *[fin[s].alias(s) for s in plan.algebraic]
    )

    writer = out.writeStream.option("checkpointLocation", checkpoint_dir)
    if sink_dir is not None:

        def _snapshot(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(sink_dir)

        writer = writer.foreachBatch(_snapshot).outputMode("complete")
    else:
        writer = writer.format("memory").queryName(query_name).outputMode(
            "complete"
        )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
