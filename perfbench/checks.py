"""Per-pass correctness checks. Each returns a list of failure messages;
an empty list means the pass is correct. Expected values come from the
input generator (``gen.py``), never from the engine."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gen import MINHASH_RECALL_FLOOR, N_CLASSES, VALUE_RANGE

#: relative tolerance for float stats: the engine's shuffle-side sums are
#: reduced in arrival order, so passes agree to rounding, not bit for bit
RTOL = 1e-9


def _same_as_first(res: pd.DataFrame, first: pd.DataFrame | None) -> list[str]:
    if first is None:
        return []
    if list(res.columns) != list(first.columns) or len(res) != len(first):
        return ["result shape differs from the first pass"]
    a = res.to_numpy(dtype=np.float64)
    b = first.to_numpy(dtype=np.float64)
    if not np.allclose(a, b, rtol=RTOL, atol=0.0, equal_nan=True):
        return ["result differs from the first pass"]
    return []


def _ids_and_count(res: pd.DataFrame, areas: np.ndarray) -> list[str]:
    errs = []
    if not np.array_equal(res["feature_id"].to_numpy(), np.arange(1, areas.size + 1)):
        return [f"expected feature ids 1..{areas.size}, got {len(res)} rows"]
    bad = ~np.isclose(res["count"].to_numpy(dtype=np.float64), areas, rtol=RTOL, atol=0.0)
    if bad.any():
        errs.append(f"count != ring area for {int(bad.sum())} features")
    return errs


def check_headline(res: pd.DataFrame, expect: dict, first: pd.DataFrame | None) -> list[str]:
    errs = _ids_and_count(res, expect["areas"])
    lo, hi = VALUE_RANGE
    if not ((res["min"] >= lo) & (res["max"] < hi) & (res["min"] <= res["max"])).all():
        errs.append("min/max outside the generated value range")
    mean = res["sum"].to_numpy(dtype=np.float64) / res["count"].to_numpy(dtype=np.float64)
    if not np.allclose(res["mean"].to_numpy(dtype=np.float64), mean, rtol=RTOL, atol=0.0):
        errs.append("mean != sum / count")
    return errs + _same_as_first(res, first)


def check_categorical(res: pd.DataFrame, expect: dict, first: pd.DataFrame | None) -> list[str]:
    errs = _ids_and_count(res, expect["areas"])
    frac = res[[c for c in res.columns if c.startswith("frac_")]].to_numpy(dtype=np.float64)
    if frac.shape[1] == 0 or not np.allclose(frac.sum(axis=1), 1.0, rtol=0.0, atol=1e-9):
        errs.append("frac does not sum to 1 for every feature")
    variety = res["variety"].to_numpy()
    if ((variety < 1) | (variety > N_CLASSES)).any():
        errs.append(f"variety outside 1..{N_CLASSES}")
    single = expect["single_class"]
    one = single > 0
    ok = (res["mode"].to_numpy()[one] == single[one]) & (res["median"].to_numpy()[one] == single[one])
    if not ok.all():
        errs.append(f"mode/median != class for {int((~ok).sum())} single-class parcels")
    return errs + _same_as_first(res, first)


def check_dedup(res: dict, expect: dict, first=None) -> list[str]:
    """``res`` maps op -> sorted survivor ids (phash: image_id strings,
    simhash and minhash: doc ids)."""
    errs = []
    ph = np.array([int(s.rsplit("/", 1)[1]) for s in res["phash"]], dtype=np.int64)
    for op, got in (("phash", ph), ("simhash", np.asarray(res["simhash"], dtype=np.int64))):
        want = expect[f"{op}_keep"]
        if got.size != want.size or not np.array_equal(np.sort(got), want):
            extra = np.setdiff1d(got, want).size
            missing = np.setdiff1d(want, got).size
            errs.append(f"{op} survivors differ: {extra} extra, {missing} missing")
    kept = np.asarray(res["minhash"], dtype=np.int64)
    copies = expect["planted_copies"]
    recall = 1.0 - np.isin(copies, kept).mean() if copies.size else 1.0
    if recall < MINHASH_RECALL_FLOOR:
        errs.append(f"minhash recall {recall:.3f} < {MINHASH_RECALL_FLOOR}")
    lost = np.setdiff1d(expect["minhash_must_keep"], kept).size
    if lost:
        errs.append(f"minhash dropped {lost} rows with no similar smaller-id row")
    return errs
