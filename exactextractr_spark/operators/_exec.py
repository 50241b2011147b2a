"""Execution helpers: one helper, with one policy, per cross-cutting concern.

``size_estimate(df)``: the optimizer's ``sizeInBytes`` (column-pruned,
compressed, after filters) or None; the only reader of that statistic.

``bounded_collect(df, limit, count=None)``: the rows as a ``pyarrow.Table``,
or None above ``limit`` rows. A known ``count`` decides alone; otherwise
one fused ``limit(limit+1)`` collect runs when 4 x the estimate is within
``_FUSED_COLLECT_MAX_BYTES``, and a bounded count runs first (moving no
payload) when it is not or there is no estimate.

``spread(df)``: a round-robin repartition to the default parallelism when
the input has fewer partitions (a one-file corpus would map on one core)
and an estimate of at least ``_MIN_SPREAD_BYTES`` (below it the extra
stage costs more than a single-core map).

``rechunk(batches, min_rows)``: the input as ``min_rows``-row pandas
frames in order. Empty batches are skipped, the session's 16-row batches
(sized for tile payloads) coalesced and large ones split, which keeps
per-chunk memory budgets. It is pandas-based, so ``embedding_dedup``'s
kernel stays on ``mapInPandas``.

``flat_matrix(arr)``: the one way vectors cross the Arrow boundary, a list
column's flat value buffer as an (n, d) float64 matrix with no per-row
ndarray; None unless every row is non-null, all rows share one positive
length and no element is null.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

_FUSED_COLLECT_MAX_BYTES = 256 << 20
_MIN_SPREAD_BYTES = 1 << 20


def size_estimate(df: DataFrame) -> "int | None":
    """The optimizer's ``sizeInBytes`` for ``df``, or None."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:
        return None  # Spark Connect (no _jdf) or a plan without stats


def bounded_collect(
    df: DataFrame, limit: int, *, count: "int | None" = None
) -> "pa.Table | None":
    """All rows of ``df`` as an Arrow table, or None above ``limit`` rows."""
    if count is None:
        est = size_estimate(df)
        if est is not None and est * 4 <= _FUSED_COLLECT_MAX_BYTES:
            table = df.limit(limit + 1).toArrow()
            return table if table.num_rows <= limit else None
        count = df.limit(limit + 1).count()
    return df.toArrow() if count <= limit else None


def spread(df: DataFrame) -> DataFrame:
    """``df``, widened to the default parallelism unless tiny or wide."""
    est = size_estimate(df)
    if est is not None and est < _MIN_SPREAD_BYTES:
        return df
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        pass  # Spark Connect: no sparkContext/rdd — keep the plan as-is
    return df


def rechunk(
    batches: "Iterator[pd.DataFrame]", min_rows: int = 2048
) -> "Iterator[pd.DataFrame]":
    """The rows of ``batches``, in order, as ``min_rows``-row frames."""
    buf: list[pd.DataFrame] = []
    rows = 0
    for pdf in batches:
        if not len(pdf):
            continue
        buf.append(pdf)
        rows += len(pdf)
        if rows >= min_rows:
            big = (
                pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            )
            n_full = (len(big) // min_rows) * min_rows
            for lo in range(0, n_full, min_rows):
                yield big.iloc[lo: lo + min_rows]
            rem = big.iloc[n_full:]
            buf, rows = ([rem], len(rem)) if len(rem) else ([], 0)
    if buf:
        big = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
        for lo in range(0, len(big), min_rows):
            yield big.iloc[lo: lo + min_rows]


def flat_matrix(arr: "pa.Array | pa.ChunkedArray") -> "np.ndarray | None":
    """The (n, d) float64 matrix of a list column, or None. The result may
    be a read-only view of the Arrow buffer."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0 or arr.null_count:
        return None
    lens = arr.value_lengths().to_numpy(zero_copy_only=False)
    if lens[0] <= 0 or not (lens == lens[0]).all():
        return None
    vals = arr.flatten()
    if vals.null_count:
        return None
    return np.asarray(vals, dtype=np.float64).reshape(n, -1)
