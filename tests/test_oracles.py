"""Oracle gate for all 41 leaves of ``__spark_entry__.queries()``: the
zonal, stack, line, resample, coverage, candidate, rasterize, pixel and
UDF queries, the dedup, similarity, text and image queries must match
their DuckDB oracles (``oracle_sql()``) at sf0.01, as
``tools/check_oracles.py`` checks them.

The sf0.01 tables are read from ``$SPARK_GRAFT_ORACLE_SF_DIR`` when that is
set, and the test fails if the directory is missing; otherwise from
``testdata/sf0.01`` next to the checkout, and the test skips without it."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SF_DIR_ENV = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
SF_DIR = Path(SF_DIR_ENV) if SF_DIR_ENV else REPO.parent / "testdata" / "sf0.01"
LEAVES = [
    "zonal_mean_sum_count",
    "zonal_min_max_var",
    "zonal_weighted",
    "zonal_mode_minority_variety",
    "zonal_quantiles",
    "zonal_frac_long",
    "zonal_area_weighted",
    "zonal_stack",
    "zonal_stack_shared",
    "zonal_stack_freq",
    "line_stats",
    "resample_sum",
    "resample_misaligned",
    "resample_mode",
    "coverage_sparse",
    "candidate_tiles",
    "rasterize_argmax",
    "pixels_xy",
    "weighted_frac_long",
    "udf_apply",
    "line_lengths",
    "simhash_dedup",
    "image_phash_dedup",
    "lsh_cosine",
    "cosine_topk",
    "ivf_cosine",
    "knn_ring",
    "embedding_dedup",
    "dedup_exact",
    "text_quality",
    "gopher_quality",
    "doc_repetition",
    "minhash_dedup",
    "minhash_sigs",
    "simhash",
    "lang_id",
    "ngram_jaccard",
    "fingerprint64",
    "image_resize_px",
    "image_augment_px",
    "image_features_png",
]


@pytest.mark.skipif(not SF_DIR_ENV and not SF_DIR.is_dir(),
                    reason="sf0.01 test data not present")
def test_named_stat_leaves_match_oracles():
    assert SF_DIR.is_dir(), f"SPARK_GRAFT_ORACLE_SF_DIR={SF_DIR_ENV}: no such directory"
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "check_oracles.py"), str(SF_DIR),
         ",".join(LEAVES)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=1800,
    )
    out = proc.stdout + proc.stderr[-4000:]
    assert proc.returncode == 0, out
    passed = {line.split()[1].rstrip(":") for line in proc.stdout.splitlines()
              if line.startswith(("[ok]", "[WARN]"))}
    assert passed == set(LEAVES), out
