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
that loudly). The stateful aggregate is ``StatsPlan.merge_moments`` or
``merge_freq``; one ``foreachBatch`` snapshot runs the SAME finish and
back-fill as batch (``StatsPlan.finish``/``from_freq``,
``with_all_features``) over the complete state, so the streaming answer
after N tiles is bit-identical to the batch answer over those N tiles,
features with no facts included (test-asserted for both stat families).

Candidates come through the batch door, ``zonal.build_candidates``: the
same CRS audit (features in another CRS are auto-transformed or refused),
then the feature broadcast with its tile pruning or, above the broadcast
limit, the cover join. Both are stateless stream-static joins of the
arriving tiles with static feature-side frames, so the stateful aggregate
does not change with the strategy.

Weighted stats stream through the batch weight attach,
``zonal.attach_weights``: the weight raster is STATIC, and its per-value-tile
weight lists (``zonal.weight_lists``, size-gated for broadcast) are built
from the weight side alone, so they join the streaming tiles as a stateless
stream-static join — the moments schema already carries the weighted sums,
so the stateful aggregate is unchanged. Coarser, aligned and finer weight
grids all stream; a finer grid disaggregates the values as in batch and
refuses ``count``/``sum`` the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.stats import StatsPlan, with_all_features
from ..sources.tiles import TILE_SCHEMA, Raster, RasterMeta


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

    Each trigger snapshots the full current result, one row per feature
    (features with no facts read 0/NULL, as in batch). Without
    ``sink_dir`` the snapshot is registered as a temp view named
    ``query_name`` on the caller's session (read it with
    ``spark.table(query_name)``). With ``sink_dir`` it overwrites parquet
    there, which is the resumable-pipeline shape: the newest snapshot is
    always a consistent answer over every tile ingested so far.
    """
    from ..operators.zonal import (
        attach_weights, build_candidates, coverage_facts, weight_disagg,
    )

    if isinstance(stats, str):
        stats = [stats]
    plan = StatsPlan(stats, quantiles or [])
    if plan.needs_weights and weights is None:
        raise ValueError(f"stats {sorted(set(stats))} require weights")
    disagg = weight_disagg(meta, weights, stats)

    raw = (
        spark.readStream.schema(TILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    # the batch door: CRS audit, then the feature broadcast (tiles pruned
    # by a stream-static join) or the cover join (a stream-static join
    # with the static per-tile feature lists)
    cand, feats_bc = build_candidates(Raster.from_tiles(raw, meta), features)
    # the batch weight attach: static per-value-tile weight lists joined
    # stream-static (stateless; broadcast only under the size gate)
    cand = attach_weights(cand, meta, weights)
    # the stateful aggregate merges the kernel's partials (complete mode);
    # freq state is bounded by |features| x |distinct values| (categorical
    # rasters; max_state_rows guards the continuous case loudly)
    emit = "freq" if plan.freq else "moments"
    partials = coverage_facts(cand, emit=emit, feats_bc=feats_bc, values_meta=meta,
                              disagg=disagg)
    merged = plan.merge_freq(partials) if plan.freq else plan.merge_moments(partials)

    def _snapshot(batch_df: DataFrame, batch_id: int) -> None:
        if plan.freq:
            state = batch_df.localCheckpoint(eager=True)
            # limit-bounded guard job (the repo-wide pattern): we only need
            # "more than max_state_rows?", never the exact count
            if state.limit(max_state_rows + 1).count() > max_state_rows:
                raise ValueError(
                    "streaming freq state exceeds "
                    f"max_state_rows={max_state_rows} (feature, value) "
                    "rows: the value raster is not categorical enough to "
                    "stream frequency stats — run them in batch, or raise "
                    "max_state_rows"
                )
            result = plan.from_freq(state)
        else:
            result = plan.finish(batch_df)
        result = with_all_features(result, features, feats_bc).orderBy("feature_id")
        if sink_dir is not None:
            result.write.mode("overwrite").parquet(sink_dir)
        else:
            # register the snapshot on the CALLER's session (row-based
            # createDataFrame preserves nulls exactly; the view is
            # per-feature tiny)
            snap = spark.createDataFrame(result.collect(), schema=result.schema)
            snap.createOrReplaceTempView(query_name)

    writer = (
        merged.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_snapshot)
        .outputMode("complete")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
