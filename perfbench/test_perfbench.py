"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload at the tiny input scale, untraced and
traced, in a subprocess, and take a few minutes.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture(scope="module")
def tiny_inputs():
    return {w: gen.inputs(w, 7, "tiny") for w in run.WORKLOADS}


def _load(d, *names):
    return {k: np.load(os.path.join(d, f"{k}.npy")) for k in names}


def test_spec_matches_runner():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


def test_inputs_are_a_function_of_the_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "DATA", str(tmp_path))
    d, first = gen.inputs("near_dup_dedup", 3, "tiny")
    keep = np.load(os.path.join(d, "simhash_keep.npy"))
    shutil.rmtree(d)
    d, again = gen.inputs("near_dup_dedup", 3, "tiny")
    assert again == first
    assert np.array_equal(np.load(os.path.join(d, "simhash_keep.npy")), keep)
    _, other = gen.inputs("near_dup_dedup", 4, "tiny")
    assert other["info"] != first["info"]


def test_cache_entry_with_a_changed_file_is_regenerated(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "DATA", str(tmp_path))
    d, man = gen.inputs("zonal_categorical", 5, "tiny")
    with open(os.path.join(d, "areas.npy"), "ab") as f:
        f.write(b"x")
    d2, man2 = gen.inputs("zonal_categorical", 5, "tiny")
    assert man2["files"] == man["files"]
    assert os.path.getsize(os.path.join(d2, "areas.npy")) == man["files"]["areas.npy"]


def test_headline_keeps_the_full_shape_per_tile():
    assert gen.headline_polys(gen.HEADLINE_SHAPE[0]) == gen.HEADLINE_SHAPE[1]
    n = gen.SCALES["full"].headline_n
    rings = gen.headline_rings(1, n)
    assert len(rings) == gen.headline_polys(n) + 1 == round(127 * (n / 16384) ** 2) + 1
    assert all(r.min() > 0 and r.max() < n for r in rings)
    assert 0.22 < gen.shoelace(rings[-1]) / n ** 2 < 0.28  # the mega-polygon


def test_hamming_oracle_matches_brute_force():
    rng = np.random.default_rng(0)
    h = rng.integers(0, 1 << 12, 300).astype(np.int64) * 1315423911  # clustered bits
    pairs = gen.hamming_pairs_ref(h, 3)
    brute = {(i, j) for i, j in itertools.combinations(range(h.size), 2)
             if bin((int(h[i]) ^ int(h[j])) & (2 ** 64 - 1)).count("1") <= 3}
    assert {tuple(p) for p in pairs.tolist()} == brute
    ids = rng.permutation(h.size)
    keep = gen.greedy_survivors(ids, pairs)
    want = [ids[i] for i in range(h.size)
            if not any(ids[j] < ids[i] and ((min(i, j), max(i, j)) in brute) for j in range(h.size))]
    assert keep.tolist() == sorted(want)


def test_minhash_oracle_matches_brute_force():
    rng = np.random.default_rng(1)
    tokens = [rng.integers(0, 12, rng.integers(4, 9)) for _ in range(60)]
    ids = rng.permutation(60)
    keep, n_pairs = gen.minhash_oracle(ids, tokens, 0.3, 0.5, 3)

    def sh(t):
        return {tuple(t[i:i + 3]) for i in range(len(t) - 2)}

    jac = {}
    for i, j in itertools.combinations(range(60), 2):
        a, b = sh(tokens[i]), sh(tokens[j])
        jac[i, j] = len(a & b) / len(a | b) if a | b else 0.0
    want = [ids[i] for i in range(60)
            if all(jac[min(i, j), max(i, j)] < 0.3 for j in range(60) if ids[j] < ids[i])]
    assert keep.tolist() == sorted(want)
    assert n_pairs == sum(v >= 0.5 for v in jac.values())


def test_simhash_oracle_matches_bitwise_definition():
    words = ["alpha", "beta", "gamma", "delta"]
    tokens = [np.array([0, 1, 2]), np.array([3, 3, 1, 0])]
    got = gen.simhash64_ref(words, tokens).view(np.uint64)
    for t, g in zip(tokens, got):
        hs = [gen.fnv1a64(words[i]) for i in t]
        want = sum(1 << b for b in range(64)
                   if sum(1 if h >> b & 1 else -1 for h in hs) > 0)
        assert int(g) == want


def test_rss_sampler_records_one_peak_per_pass():
    import spans

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        rss = spans.RssSampler(interval=0.001)
        for _ in range(50):
            with rss.active():
                sum(range(2000))
        rss.close()
    finally:
        sys.setswitchinterval(old)
    assert not rss._thread.is_alive()
    assert len(rss.peaks) == 50 and min(rss.peaks) > 0


def _headline_result(areas):
    n = areas.size
    return pd.DataFrame({
        "feature_id": np.arange(1, n + 1), "count": areas, "sum": areas * 500.0,
        "mean": np.full(n, 500.0), "min": np.full(n, 1.0), "max": np.full(n, 999.0),
        "stdev": np.full(n, 280.0),
    })


def test_perturbed_stat_is_counted_as_failed(tiny_inputs):
    d, _ = tiny_inputs["zonal_headline"]
    expect = _load(d, "areas")
    good = _headline_result(expect["areas"])
    passes = run.Passes(lambda r, f: checks.check_headline(r, expect, f))
    passes.run(lambda: good)
    bad = good.copy()
    bad.loc[1, "count"] *= 1 + 1e-6
    passes.run(lambda: bad)
    assert (passes.attempted, passes.failed) == (2, 1)
    drift = good.copy()
    drift.loc[0, "stdev"] *= 1.01
    assert checks.check_headline(drift, expect, good) == ["result differs from the first pass"]


def test_categorical_checks(tiny_inputs):
    d, _ = tiny_inputs["zonal_categorical"]
    expect = _load(d, "areas", "single_class")
    n = expect["areas"].size
    cls = np.where(expect["single_class"] > 0, expect["single_class"], 3)
    frac = np.zeros((n, gen.N_CLASSES))
    frac[np.arange(n), cls - 1] = 1.0
    good = pd.DataFrame({"feature_id": np.arange(1, n + 1), "count": expect["areas"],
                         "mode": cls.astype(float), "variety": np.ones(n, int),
                         "median": cls.astype(float),
                         **{f"frac_{k + 1}": frac[:, k] for k in range(gen.N_CLASSES)}})
    assert checks.check_categorical(good, expect, None) == []
    bad = good.copy()
    one = int(np.flatnonzero(expect["single_class"] > 0)[0])
    bad.loc[one, "median"] += 1
    assert checks.check_categorical(bad, expect, None)
    bad = good.copy()
    bad.loc[0, "frac_1"] += 0.5
    assert checks.check_categorical(bad, expect, None)


def test_extra_survivor_is_counted_as_failed(tiny_inputs):
    d, _ = tiny_inputs["near_dup_dedup"]
    expect = _load(d, "phash_keep", "simhash_keep", "planted_copies", "minhash_must_keep")
    good = {"phash": np.array([f"img/{i:07d}" for i in expect["phash_keep"]], dtype=object),
            "simhash": expect["simhash_keep"], "minhash": expect["minhash_must_keep"]}
    assert checks.check_dedup(good, expect) == []
    for op in ("phash", "simhash"):
        keep = expect[f"{op}_keep"]
        extra = int(np.setdiff1d(np.arange(keep.max()), keep)[0])  # a dropped row
        bad = dict(good)
        bad[op] = np.append(good[op], f"img/{extra:07d}" if op == "phash" else extra)
        passes = run.Passes(lambda r, f: checks.check_dedup(r, expect))
        passes.run(lambda: bad)
        assert (passes.attempted, passes.failed) == (1, 1), op
    lost = dict(good)
    lost["minhash"] = good["minhash"][1:]
    assert checks.check_dedup(lost, expect)


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    p = _run(["--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", str(trace), "--scale", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(np.isfinite(v["value"]) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = _run(["--workload", "zonal_headline", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=tmp_path, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
