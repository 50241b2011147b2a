"""Multi-layer (raster stack) support: stack_apply semantics + the
reference's column-naming rules.

Reference: layer loops and value/weight recycling in
``R/exact_extract.R:585-721`` + ``R/exact_extract_helpers.R:28-152``:
- one value layer, one stat → column named ``{stat}``;
- multiple layers → ``{stat}.{layer}`` (full_colnames adds the weight
  layer: ``{stat}.{value_layer}.{weight_layer}``);
- value/weight layer lists are recycled against each other (lengths must
  match or either be 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tiles import Raster
from .zonal import exact_extract, exact_extract_pixels


def _recycle(values: list, weights: list | None) -> list[tuple]:
    if not weights:
        return [(v, None) for v in values]
    if len(values) == len(weights):
        return list(zip(values, weights))
    if len(values) == 1:
        return [(values[0], w) for w in weights]
    if len(weights) == 1:
        return [(v, weights[0]) for v in values]
    raise ValueError(
        f"value layers ({len(values)}) and weight layers ({len(weights)}) "
        "cannot be recycled"  # ref exact_extract_helpers.R:133-152
    )


def exact_extract_stack(
    values: "list[Raster]",
    features: DataFrame,
    stats: "list[str] | str",
    *,
    weights: "list[Raster] | None" = None,
    full_colnames: bool = False,
    colname_fun=None,
    single_pass: bool = True,
    **kwargs,
) -> DataFrame:
    """Run stats layer-by-layer (stack_apply) and join results on
    feature_id, naming columns by the reference's rules.

    ``colname_fun`` (ref R/exact_extract.R:288, exact_extract_helpers.R:
    96-118): callable ``(fun_name, values, weights, fun_value, nvalues,
    nweights) -> str`` overriding the default naming entirely.
    ``single_pass=False`` forces the per-layer loop (equivalence oracle
    for the fast path's tests)."""
    if isinstance(stats, str):
        stats = [stats]
    single = (
        _stack_single_pass(
            values, features, stats, weights=weights,
            full_colnames=full_colnames, colname_fun=colname_fun, **kwargs,
        )
        if single_pass
        else None
    )
    if single is not None:
        return single
    pairs = _recycle(values, weights)
    multi = len(pairs) > 1
    out: DataFrame | None = None
    for v_raster, w_raster in pairs:
        df = exact_extract(v_raster, features, stats, weights=w_raster, **kwargs)
        renames = {}
        for c in df.columns:
            if c == "feature_id":
                continue
            if colname_fun is not None:
                renames[c] = colname_fun(
                    fun_name=c,
                    values=v_raster.meta.layer,
                    weights=w_raster.meta.layer if w_raster is not None else None,
                    fun_value=c,
                    nvalues=len(pairs),
                    nweights=len(weights) if weights else 0,
                )
            elif multi or full_colnames:
                name = f"{c}.{v_raster.meta.layer}"
                if full_colnames and w_raster is not None:
                    name += f".{w_raster.meta.layer}"
                renames[c] = name
        for old, new in renames.items():
            df = df.withColumnRenamed(old, new)
        out = df if out is None else out.join(df, on="feature_id", how="full")
    return out.orderBy("feature_id")


def _stack_single_pass(
    values: "list[Raster]",
    features: DataFrame,
    stats: "list[str]",
    *,
    weights=None,
    full_colnames: bool = False,
    colname_fun=None,
    **kwargs,
) -> "DataFrame | None":
    """Single-scan fast path for the layer loop: when all value layers live
    in the SAME raw tile table on one grid (the Iceberg multi-layer shape),
    run the coverage kernel ONCE over all layers' tiles (each row tagged
    with its layer) and pivot/join — N layers cost one table scan instead
    of N. Freq stats (mode/median/quantile/frac/...) ride the same single
    scan: one ``emit="freq"`` pass tagged by layer, aggregated once and
    persisted (features × layers × distinct values — tiny), then each
    layer's slice routes through the same ``_freq_stats`` the per-layer
    loop uses (mixed algebraic stats derive from the freq table exactly as
    ``exact_extract`` does, so results match the fallback). Returns None
    when preconditions don't hold (weights, heterogenous sources/grids,
    non-default strategy kwargs) and the caller falls back to the loop."""
    import pandas as pd

    from ..plans.stats import StatsPlan
    from ..sources.tiles import raw_tiles_with_meta
    from ._exec import bounded_collect
    from .zonal import BROADCAST_FEATURE_LIMIT, FEATURE_COLUMNS, FeatureBroadcast
    from .zonal import _freq_stats, coverage_facts

    quantiles = kwargs.pop("quantiles", None) or []
    if weights is not None or kwargs or len(values) < 2:
        return None
    v0 = values[0]
    if any(r._raw is None for r in values):
        return None
    shared_raw = all(r._raw is v0._raw for r in values[1:])
    if not shared_raw and len(set(r.meta.layer for r in values)) != len(values):
        # distinct tables need distinct layer tags: a duplicated layer name
        # would double-count tiles in the unioned pass — fall back
        return None
    # identical-grid gate: resolution, origin AND extent (width/height) must
    # match, compared with the same relative tolerance Grid.compatible_with
    # uses — exact float equality would reject harmless rounding, and
    # ignoring extent would let different-sized layers share one pass
    g0 = v0.meta.grid
    for r in values[1:]:
        g = r.meta.grid
        tol_x, tol_y = 1e-3 * g0.dx, 1e-3 * g0.dy
        if (
            abs(g.dx - g0.dx) > tol_x
            or abs(g.dy - g0.dy) > tol_y
            or abs(g.xmin - g0.xmin) > tol_x
            or abs(g.ymax - g0.ymax) > tol_y
            or abs(g.xmax - g0.xmax) > tol_x
            or abs(g.ymin - g0.ymin) > tol_y
        ):
            return None
    plan = StatsPlan(stats, quantiles)
    if plan.needs_weights:
        return None

    layers = [r.meta.layer for r in values]
    if shared_raw:
        tiles = raw_tiles_with_meta(v0._raw).filter(F.col("layer").isin(layers))
    else:
        # layers in DIFFERENT tile tables but on one grid: union the tagged
        # per-layer tile frames — still ONE kernel pass + ONE aggregate
        # (each source is scanned once either way; what the union saves is
        # the per-layer kernel/agg jobs and the N-way result join)
        from functools import reduce

        tiles = reduce(
            DataFrame.unionByName,
            [raw_tiles_with_meta(r._raw, layer=r.meta.layer) for r in values],
        )
    # too big to broadcast: fall back to the per-layer loop, whose
    # build_candidates takes the cover join
    table = bounded_collect(
        features.select(*FEATURE_COLUMNS), BROADCAST_FEATURE_LIMIT
    )
    if table is None:
        return None
    spark = features.sparkSession
    fb = FeatureBroadcast(table)
    feats_bc = spark.sparkContext.broadcast(fb)
    fin = plan.finalize_columns()
    fill: dict[str, float | int] = {}

    def _final_name(col: str, lay: str) -> str:
        if colname_fun is not None:
            return colname_fun(
                fun_name=col, values=lay, weights=None, fun_value=col,
                nvalues=len(values), nweights=0,
            )
        return f"{col}.{lay}"

    if plan.freq:
        partials = coverage_facts(
            tiles, emit="freq", feats_bc=feats_bc, values_meta=v0.meta,
            by_layer=True,
        )
        # localCheckpoint, not persist: computes the kernel scan once and
        # truncates lineage (the per-layer loop re-reads blocks, never
        # re-scans), but unlike a CacheManager entry the blocks are released
        # when this DataFrame is GC'd — no cache leak across repeated calls
        # in a long-lived session. (On a real cluster prefer a reliable
        # checkpoint dir if executors use dynamic allocation.)
        freq_all = (
            partials.groupBy("feature_id", "layer", "v")
            .agg(F.sum("sum_c").alias("sum_c"), F.sum("sum_cw").alias("sum_cw"))
            .localCheckpoint(eager=True)
        )
        piv = None
        for lay in layers:
            freq_df = freq_all.filter(F.col("layer") == F.lit(lay)).drop("layer")
            res = None
            if plan.algebraic:
                agg_df = freq_df.groupBy("feature_id").agg(
                    *plan.algebraic_aggs_from_freq()
                )
                res = agg_df.select(
                    "feature_id", *[fin[s].alias(s) for s in plan.algebraic]
                )
            fr = _freq_stats(plan, freq_df)
            res = fr if res is None else res.join(fr, on="feature_id", how="full")
            for c in list(res.columns):
                if c == "feature_id":
                    continue
                name = _final_name(c, lay)
                if c in ("count", "sum", "weighted_count", "weighted_sum"):
                    fill[name] = 0.0
                elif c == "variety":
                    fill[name] = 0
                res = res.withColumnRenamed(c, name)
            piv = res if piv is None else piv.join(res, on="feature_id", how="full")
    else:
        moments = coverage_facts(
            tiles, emit="moments", feats_bc=feats_bc, values_meta=v0.meta,
            by_layer=True,
        )
        agg = moments.groupBy("feature_id", "layer").agg(
            *plan.algebraic_aggs_from_moments()
        )
        per_layer = agg.select(
            "feature_id", "layer", *[fin[s].alias(s) for s in plan.algebraic]
        )
        piv = per_layer.groupBy("feature_id").pivot("layer", layers).agg(
            *[F.first(s).alias(s) for s in stats]
        )
        # pivot names columns "{layer}_{stat}"; apply the reference's naming.
        # Track the zero-fill targets BY FINAL NAME while renaming, so custom
        # colname_fun names fill identically to the per-layer fallback path.
        renames = {}
        for lay, r in zip(layers, values):
            for s in stats:
                src = f"{lay}_{s}" if len(stats) > 1 else lay
                name = _final_name(s, lay)
                renames[src] = name
                if s in ("count", "sum", "weighted_count", "weighted_sum"):
                    fill[name] = 0.0
                elif s == "variety":
                    fill[name] = 0
        for old, new in renames.items():
            piv = piv.withColumnRenamed(old, new)
    base = spark.createDataFrame(
        pd.DataFrame({"feature_id": pd.Series(fb.ids, dtype="int64")})
    )
    out = base.join(F.broadcast(piv), on="feature_id", how="left")
    if fill:
        # fillna can't address dotted column names; coalesce with backticks
        out = out.select(
            *[
                F.coalesce(F.col(f"`{c}`"), F.lit(fill[c])).alias(c)
                if c in fill
                else F.col(f"`{c}`")
                for c in out.columns
            ]
        )
    return out.orderBy("feature_id")


def summarize_df_pixels(
    values: "list[Raster]",
    features: DataFrame,
    *,
    weights: "list[Raster] | None" = None,
    include_xy: bool = False,
    include_cell: bool = False,
    include_area: bool = False,
    **kwargs,
) -> DataFrame:
    """The ``stack_apply=FALSE`` / ``summarize_df`` pixel frame
    (R/exact_extract.R:585-721): ONE long table per feature with a value
    column PER LAYER (named by layer), a single shared coverage_fraction,
    and optional weight columns — all layers must share the value grid, so
    cells align 1:1 and the combine is an equi-join on (feature_id, cell).
    """
    base_grid = values[0].meta.grid
    for r in values[1:]:
        if not (
            r.meta.grid.dx == base_grid.dx
            and r.meta.grid.dy == base_grid.dy
            and r.meta.grid.xmin == base_grid.xmin
            and r.meta.grid.ymax == base_grid.ymax
        ):
            raise ValueError(
                "stack_apply=FALSE requires all value layers on one grid"
            )
    w0 = weights[0] if weights else None
    out = exact_extract_pixels(
        values[0], features, weights=w0, include_cell=True,
        include_xy=include_xy, include_area=include_area, **kwargs,
    ).withColumnRenamed("value", values[0].meta.layer)
    if w0 is not None:
        out = out.withColumnRenamed(
            "weight", f"weight_{w0.meta.layer}" if len(weights or []) > 1 else "weight"
        )
    for i, r in enumerate(values[1:], start=1):
        wi = weights[i] if weights and len(weights) > i else None
        px = exact_extract_pixels(
            r, features, weights=wi, include_cell=True, **kwargs
        ).select(
            "feature_id",
            "cell",
            F.col("value").alias(r.meta.layer),
            F.col("coverage_fraction").alias("_cov_i"),
            *(
                [F.col("weight").alias(f"weight_{wi.meta.layer}")]
                if wi is not None
                else []
            ),
        )
        # FULL outer: a cell that is nodata in one layer must keep the
        # other layers' valid values with NA for the missing one (the
        # reference's combined frame semantics); coverage is geometry-only
        # and identical across layers, so coalesce whichever side has it
        out = (
            out.join(px, on=["feature_id", "cell"], how="full")
            .withColumn(
                "coverage_fraction",
                F.coalesce("coverage_fraction", "_cov_i"),
            )
            .drop("_cov_i")
        )
    if not include_cell:
        out = out.drop("cell")
    return out


def summarize_df(
    values: "list[Raster]",
    features: DataFrame,
    fn,
    schema,
    *,
    weights: "list[Raster] | None" = None,
    **pixel_kwargs,
) -> DataFrame:
    """UD(A)F over the combined multi-layer frame — the reference's
    ``summarize_df``/``stack_apply=FALSE`` R-function path
    (R/exact_extract.R:585-721): ``fn(pdf) -> pdf`` receives ONE pandas
    frame per feature with a column per layer plus coverage_fraction."""
    px = summarize_df_pixels(values, features, weights=weights, **pixel_kwargs)
    return px.groupBy("feature_id").applyInPandas(fn, schema)
