"""Stat algebra: named summary operations → Spark aggregates, and the one
named-stat finish every operator shares.

Definitions from the reference accumulator (``/root/reference/src/
exactextract/src/raster_stats.h:113-139`` and the formula table in
``src/exactextract/README.md:151-181``): c = coverage fraction, x = value,
w = weight.

The finish is the reference's StatsRegistry merge (stats_registry.h:25-84)
as Spark's partial/final aggregation, keyed by ``feature_id`` (zonal, stack,
lines, streaming, checkpoint) or by ``(dst_row, dst_col)`` (resample):

- ``merge_moments`` / ``merge_freq`` merge the kernel's per-(key, tile)
  partials — the moments (``MOMENTS_SCHEMA``) or the value-frequency rows
  (``FREQ_SCHEMA``);
- ``finish`` turns merged raw moments into the algebraic stats;
  ``from_moments``, ``from_facts`` and ``from_freq`` run merge and finish
  from each of the three sources of the one raw-moment table (``_MOMENTS``);
  ``from_freq`` also computes the frequency stats;
- ``with_all_features`` back-fills the features that got no facts.

NULL and NaN:

- NA values never reach a stat: every stat path, areal and linear, drops
  NaN cells in the kernel (facts are sparse over defined, covered cells).
  Only the line pixel table (``line_cell_lengths_df``) keeps nodata cells,
  with v = NaN, so that it lists a line's whole path.
- NA weights poison the weighted stats (raster_stats.h:104-107). The
  kernel's weighted sums are NaN then, but NaN crosses the Arrow boundary
  of ``mapInPandas`` as NULL and ``F.sum`` skips NULL, so when the plan
  needs weights the merge reads a NULL weighted partial as NaN.
- A key with no facts reads 0 for count, sum, weighted_count, weighted_sum
  and variety, and NULL for every other stat (test_exact_extract.R:433-485).
  The back-fill fills NULL only: a poisoned NaN stays NaN.
- Quantiles drop frequency rows whose value is NULL or NaN before the
  window, so a key whose rows are all NaN gets a NULL quantile, not NaN.
  The kernel never emits such rows.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: stats computable in one groupBy(fid).agg(...) pass
ALGEBRAIC_STATS = frozenset(
    {
        "count",
        "sum",
        "mean",
        "min",
        "max",
        "weighted_sum",
        "weighted_mean",
        "weighted_count",
        "weighted_fraction",
        "variance",
        "stdev",
        "coefficient_of_variation",
        "weighted_variance",
        "weighted_stdev",
    }
)

#: stats needing the value-frequency map groupBy(fid, value)
FREQ_STATS = frozenset(
    {"mode", "majority", "minority", "variety", "median", "quantile", "frac", "weighted_frac"}
)

WEIGHTED_STATS = frozenset(
    {
        "weighted_sum",
        "weighted_mean",
        "weighted_count",
        "weighted_fraction",
        "weighted_variance",
        "weighted_stdev",
        "weighted_frac",
    }
)

ALL_STATS = ALGEBRAIC_STATS | FREQ_STATS

#: frac/weighted_frac produce one result column per GLOBAL distinct value;
#: beyond this the raster is not categorical and the request fails loudly
#: (matches Spark's own spark.sql.pivotMaxValues default)
MAX_FRAC_VALUES = 10_000

#: what a key with no facts reads (every other stat reads NULL)
ZERO_FILL = {"count": 0.0, "sum": 0.0, "weighted_count": 0.0, "weighted_sum": 0.0,
             "variety": 0}

FEATURE_KEYS = ("feature_id",)

_VAR = {"variance", "stdev", "coefficient_of_variation"}
_WVAR = {"weighted_variance", "weighted_stdev"}

#: the raw moments: (column, the stats that read it, its term over
#: (x, c, cw)). A ``_sum_*w`` moment is weighted. ``min``/``max`` ride along.
_MOMENTS = (
    ("_sum_c", {"count", "mean"} | _VAR, lambda x, c, cw: c),
    ("_sum_xc", {"sum", "mean", "weighted_fraction"} | _VAR, lambda x, c, cw: x * c),
    ("_sum_xxc", _VAR, lambda x, c, cw: x * x * c),
    ("_sum_cw", {"weighted_count", "weighted_mean"} | _WVAR, lambda x, c, cw: cw),
    ("_sum_xcw", {"weighted_sum", "weighted_mean", "weighted_fraction"} | _WVAR,
     lambda x, c, cw: x * cw),
    ("_sum_xxcw", _WVAR, lambda x, c, cw: x * x * cw),
)


def quantile_name(q: float) -> str:
    """Column name for a quantile — reference naming 'q{100q}'
    (R/exact_extract_helpers.R:46-50)."""
    v = 100 * q
    return f"q{v:g}".replace(".", "_")


def _poisoned(col: Column) -> Column:
    """A NULL weighted partial read as the NaN it was in the kernel."""
    return F.coalesce(col, F.lit(math.nan))


@dataclass
class StatsPlan:
    stats: list[str]
    quantiles: list[float] = field(default_factory=list)

    def __post_init__(self):
        unknown = [s for s in self.stats if s not in ALL_STATS]
        if unknown:
            raise ValueError(f"unknown stats: {unknown}")
        if "quantile" in self.stats and not self.quantiles:
            raise ValueError("quantiles= must be given for stat 'quantile'")
        if any(not 0.0 <= q <= 1.0 for q in self.quantiles):
            raise ValueError("Quantile must be between 0 and 1.")

    @property
    def needs_weights(self) -> bool:
        return bool(set(self.stats) & WEIGHTED_STATS)

    @property
    def algebraic(self) -> list[str]:
        return [s for s in self.stats if s in ALGEBRAIC_STATS]

    @property
    def freq(self) -> list[str]:
        return [s for s in self.stats if s in FREQ_STATS]

    # -- the raw-moment table ------------------------------------------------
    def _moment_aggs(self, term, lo: Column, hi: Column) -> list[Column]:
        """One ``F.sum`` per raw moment the plan reads, of the summand
        ``term(name, fn)`` (``fn`` is the moment's term over (x, c, cw)),
        plus min/max over ``lo``/``hi``."""
        need = set(self.algebraic)
        aggs = []
        for name, users, fn in _MOMENTS:
            if need & users:
                t = term(name, fn)
                aggs.append(F.sum(_poisoned(t) if name.endswith("w") else t).alias(name))
        if "min" in need:
            aggs.append(F.min(lo).alias("min"))
        if "max" in need:
            aggs.append(F.max(hi).alias("max"))
        return aggs

    def _from_terms(self, df: DataFrame, keys, x: Column, c: Column, cw: Column) -> DataFrame:
        return df.groupBy(*keys).agg(
            *self._moment_aggs(lambda name, fn: fn(x, c, cw), x, x))

    def merge_moments(self, partials: DataFrame, keys=FEATURE_KEYS) -> DataFrame:
        """Merge per-(key, tile) partial moments (``MOMENTS_SCHEMA``:
        ``_p_sum_*``, ``_p_min``, ``_p_max``) into the raw moments
        (``_sum_*``, ``min``, ``max``) as plain sums."""
        return partials.groupBy(*keys).agg(*self._moment_aggs(
            lambda name, fn: F.col("_p" + name), F.col("_p_min"), F.col("_p_max")))

    def finish(self, moments: DataFrame, keys=FEATURE_KEYS) -> DataFrame:
        """The algebraic stats, in plan order, from merged raw moments."""
        s_c = F.col("_sum_c")
        s_xc = F.col("_sum_xc")
        s_xxc = F.col("_sum_xxc")
        s_cw = F.col("_sum_cw")
        s_xcw = F.col("_sum_xcw")
        s_xxcw = F.col("_sum_xxcw")
        out = []
        for s in self.algebraic:
            if s == "count":
                col = F.coalesce(s_c, F.lit(0.0))
            elif s == "sum":
                col = F.coalesce(s_xc, F.lit(0.0))
            elif s == "mean":
                col = s_xc / s_c
            elif s in ("min", "max"):
                col = F.col(s)
            elif s == "weighted_count":
                col = F.coalesce(s_cw, F.lit(0.0))
            elif s == "weighted_sum":
                col = F.coalesce(s_xcw, F.lit(0.0))
            elif s == "weighted_mean":
                col = s_xcw / s_cw
            elif s == "weighted_fraction":
                col = s_xcw / s_xc
            elif s in _VAR:
                var = F.greatest(s_xxc / s_c - (s_xc / s_c) * (s_xc / s_c), F.lit(0.0))
                if s == "variance":
                    col = var
                elif s == "stdev":
                    col = F.sqrt(var)
                else:
                    col = F.sqrt(var) / (s_xc / s_c)
            else:
                wvar = F.greatest(
                    s_xxcw / s_cw - (s_xcw / s_cw) * (s_xcw / s_cw), F.lit(0.0)
                )
                col = wvar if s == "weighted_variance" else F.sqrt(wvar)
            out.append(col.alias(s))
        return moments.select(*keys, *out)

    def from_moments(self, partials: DataFrame, keys=FEATURE_KEYS) -> DataFrame:
        """Algebraic stats from the kernel's partial moments."""
        return self.finish(self.merge_moments(partials, keys), keys)

    def from_facts(self, facts: DataFrame, keys=FEATURE_KEYS) -> DataFrame:
        """Unweighted algebraic stats from facts (keys, v, cov)."""
        no_w = F.lit(None).cast("double")
        return self.finish(
            self._from_terms(facts, keys, F.col("v"), F.col("cov"), no_w), keys)

    # -- the value-frequency table -------------------------------------------
    def merge_freq(self, partials: DataFrame, keys=FEATURE_KEYS) -> DataFrame:
        """Merge per-(key, tile, value) partial sums (keys, v, sum_c[,
        sum_cw]) into the frequency table; ``sum_cw`` only when the plan
        needs weights."""
        aggs = [F.sum("sum_c").alias("sum_c")]
        if self.needs_weights:
            aggs.append(F.sum(_poisoned(F.col("sum_cw"))).alias("sum_cw"))
        return partials.groupBy(*keys, "v").agg(*aggs)

    def from_freq(self, freq: DataFrame, keys=FEATURE_KEYS) -> DataFrame:
        """Every requested stat from a merged frequency table: the algebraic
        ones from the same raw moments (exact, because the frequency map
        partitions the facts by value), then the frequency stats."""
        keys = list(keys)
        out = None
        for p in self._freq_pieces(freq, keys) if self.freq else []:
            out = p if out is None else out.join(p, on=keys, how="full")
        if self.algebraic:
            cw = F.col("sum_cw") if self.needs_weights else F.lit(None).cast("double")
            alg = self.finish(
                self._from_terms(freq, keys, F.col("v"), F.col("sum_c"), cw), keys)
            out = alg if out is None else alg.join(out, on=keys, how="full")
        return out

    def _freq_pieces(self, freq_df: DataFrame, keys: list) -> list[DataFrame]:
        """Frequency-map stats over groupBy(keys, v): mode/minority/variety/
        median/quantile/frac/weighted_frac (ref raster_stats.h:176-230,
        281-304, 393-411)."""
        pieces: list[DataFrame] = []
        wanted = set(self.freq)
        # mode/majority, minority, and variety fuse into ONE hash aggregate —
        # max_by/min_by over struct(sum_c, v) realize the reference's tie rules
        # (mode: highest count, tie -> highest value, raster_stats.h:176-186;
        # minority: lowest count, tie -> lowest value, raster_stats.h:393-403)
        # in a single exchange instead of two sort windows + a join chain.
        by_count = F.struct(F.col("sum_c").alias("c"), F.col("v").alias("vv"))
        point_aggs: list = []
        for s in self.freq:
            if s in ("mode", "majority"):
                point_aggs.append(F.max_by("v", by_count).alias(s))
        if "minority" in wanted:
            point_aggs.append(F.min_by("v", by_count).alias("minority"))
        if "variety" in wanted:
            point_aggs.append(F.count("v").cast("int").alias("variety"))
        if point_aggs:
            pieces.append(freq_df.groupBy(*keys).agg(*point_aggs))
        qs: list[tuple[str, float]] = []
        if "median" in wanted:
            qs.append(("median", 0.5))
        if "quantile" in wanted:
            qs.extend((quantile_name(q), q) for q in self.quantiles)
        if qs:
            pieces.append(_quantiles(freq_df, keys, qs))
        for s, num in (("frac", "sum_c"), ("weighted_frac", "sum_cw")):
            if s in wanted:
                pieces.append(_fractions(freq_df, keys, s, num))
        return pieces


def _quantiles(freq_df: DataFrame, keys: list, qs: "list[tuple[str, float]]") -> DataFrame:
    """Distributed exact weighted quantiles (weighted_quantiles.cpp:20-70
    semantics, same as core/quantiles.weighted_quantile): the s-coordinate
    of every (key, v) row comes from ONE window pass (row_number +
    exclusive/total running sums, all sharing a single exchange+sort by
    keys/v), and each requested q interpolates between the bracketing rows
    via max_by/min_by in the SAME aggregate — no per-key Python group, so a
    continuous-valued mega-polygon does not funnel its whole frequency table
    through one Python task. Bit-exactness: the running window sums
    accumulate in ascending-v order (the same left-to-right fold as
    np.cumsum), and the interpolation expression mirrors the numpy operation
    order term for term.

    NULL and NaN values are dropped before the window: a key whose rows are
    all NaN has no row here and reads NULL after the outer join."""
    from pyspark.sql.window import Window

    wo = Window.partitionBy(*keys).orderBy("v")
    w_prev = wo.rowsBetween(Window.unboundedPreceding, -1)
    w_all = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    valid = freq_df.where(F.col("v").isNotNull() & ~F.isnan(F.col("v")))
    kk = (F.row_number().over(wo) - F.lit(1)).cast("double")
    nn = F.count(F.lit(1)).over(w_all).cast("double")
    csum_prev = F.sum("sum_c").over(w_prev)
    tot = F.sum("sum_c").over(w_all)
    s_col = F.when(kk == 0.0, F.lit(0.0)).otherwise(
        kk * F.col("sum_c") + (nn - F.lit(1.0)) * csum_prev
    )
    staged = valid.select(
        *keys, "v", s_col.alias("_s"), (tot * (nn - F.lit(1.0))).alias("_sn")
    )
    q_aggs: list = []
    for nm, q in qs:
        tgt = F.lit(float(q)) * F.col("_sn")
        sv = F.struct(F.col("_s").alias("s"), F.col("v").alias("v"))
        left = F.max_by(sv, F.when(F.col("_s") <= tgt, F.col("_s")))
        right = F.min_by(sv, F.when(F.col("_s") > tgt, F.col("_s")))
        interp = left["v"] + (
            (F.max(tgt) - left["s"]) * (right["v"] - left["v"])
        ) / (right["s"] - left["s"])
        q_aggs.append(F.when(right.isNull(), F.max("v")).otherwise(interp).alias(nm))
    return staged.groupBy(*keys).agg(*q_aggs)


def _fractions(freq_df: DataFrame, keys: list, s: str, num: str) -> DataFrame:
    """``frac``/``weighted_frac``: one column per value of the GLOBAL
    distinct value set across all keys (ref exact_extract.cpp:420-434,
    533-540) — two-pass like the reference; the distinct set is tiny
    (categorical rasters). Limit-bounded like every other driver-side
    metadata job: a continuous raster fails LOUDLY here instead of OOMing
    the driver or exploding the pivot."""
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
    tot = freq_df.groupBy(*keys).agg(F.sum(num).alias("_tot"))
    piv = freq_df.groupBy(*keys).pivot("v", vals).agg(F.first(num)).join(tot, on=keys)
    sel = [F.col(k) for k in keys]
    for vv in vals:
        cname = f"{vv:g}".replace("-", "m").replace(".", "_")
        sel.append(
            (F.coalesce(F.col(f"`{vv}`"), F.lit(0.0)) / F.col("_tot")).alias(f"{s}_{cname}")
        )
    return piv.select(*sel)


def with_all_features(result: DataFrame, features: DataFrame, feats_bc=None,
                      stat_of: "dict[str, str] | None" = None) -> DataFrame:
    """One row per feature: features with no facts join back with 0 for the
    ``ZERO_FILL`` stats and NULL elsewhere (test_exact_extract.R:433-485).
    ``stat_of`` maps renamed result columns to their stat (stack names);
    by default a column is its stat.

    With a feature broadcast (``feats_bc``) the ids are already on the
    driver: they join as a LocalRelation (no re-scan of the feature source)
    and the per-feature result, as small as the broadcast feature set, is
    hinted so the join is a BroadcastHashJoin. Otherwise the ids come from
    ``features`` and no hint is given. Only NULL is filled, by a
    backtick-quoted ``coalesce`` that also addresses dotted names."""
    if feats_bc is not None:
        # pandas/Arrow => LocalTableScan: a python-list createDataFrame
        # becomes a python RDD whose slices each cost a worker round-trip
        base = result.sparkSession.createDataFrame(
            pd.DataFrame({"feature_id": pd.Series(feats_bc.value.ids, dtype="int64")})
        )
        out = base.join(F.broadcast(result), on="feature_id", how="left")
    else:
        out = features.select("feature_id").join(result, on="feature_id", how="left")
    stat_of = stat_of or {}
    fill = {c: ZERO_FILL[stat_of.get(c, c)] for c in out.columns
            if stat_of.get(c, c) in ZERO_FILL}
    if not fill:
        return out
    return out.select(*[
        F.coalesce(F.col(f"`{c}`"), F.lit(fill[c])).alias(c) if c in fill
        else F.col(f"`{c}`")
        for c in out.columns
    ])
