"""Training-data-pipeline operators: kNN, similarity, dedup, text stats,
multimodal plumbing, checkpoint/resume, streaming ingest."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from exactextractr_spark.core.cellindex import CellIndex


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
        (4, "completely different text about spark and rasters here"),
        (5, "der schnelle braune fuchs und die faulen hunde sind da"),
        (6, "le renard brun rapide est dans la foret pour un moment"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    from exactextractr_spark.operators.dedup import exact_dedup

    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5, 6]


def test_minhash_dedup(spark, docs):
    from exactextractr_spark.operators.dedup import minhash_dedup, minhash_lsh_pairs, minhash_signatures

    sigs = minhash_signatures(docs, num_hashes=64, shingle_k=2)
    pairs = minhash_lsh_pairs(sigs, bands=16, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # identical docs always pair
    kept = sorted(
        r["doc_id"]
        for r in minhash_dedup(docs, num_hashes=64, bands=16, threshold=0.5).collect()
    )
    assert 1 in kept and 2 not in kept
    assert 4 in kept and 5 in kept and 6 in kept


def test_simhash_near_dup_distance(spark, docs):
    from exactextractr_spark.operators.dedup import simhash64

    h = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert h[1] == h[2]  # identical text -> identical simhash

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(h[1], h[3]) < ham(h[1], h[4])


def test_ngram_jaccard(spark, docs):
    from exactextractr_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, n=2, threshold=0.3).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0


def test_ngram_jaccard_max_df_cap(spark):
    """A ubiquitous stop-gram must not blow up the self-join; with the cap
    the result is the exact Jaccard over the df-filtered gram universe."""
    from exactextractr_spark.operators.dedup import ngram_jaccard_pairs

    # every doc shares the stop-gram "lorem ipsum"; only 1&2 share real grams
    rows = [
        (1, "lorem ipsum alpha beta gamma delta"),
        (2, "lorem ipsum alpha beta gamma zeta"),
        (3, "lorem ipsum totally unrelated words here"),
        (4, "lorem ipsum other unrelated material there"),
        (5, "lorem ipsum more filler nothing shared"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in ngram_jaccard_pairs(docs, n=2, threshold=0.3, max_df=2).collect()}
    # "lorem ipsum" (df=5) is dropped from the universe; "ipsum alpha"
    # (df=2) survives; docs 1,2 then share 3 of their 4 remaining grams
    assert (1, 2) in capped
    assert capped[(1, 2)] == pytest.approx(3 / 5)
    assert all(p == (1, 2) for p in capped)
    # closed-form check that the capped universe is what we claim:
    # uncapped 1-2 jaccard differs (shares lorem/ipsum grams too)
    uncapped = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(docs, n=2, threshold=0.3).collect()}
    assert uncapped[(1, 2)] == pytest.approx(4 / 6)


@pytest.mark.parametrize("max_df", [None, 2])
def test_ngram_jaccard_leaves_no_cache_entries(spark, docs, max_df):
    """ngram_jaccard_pairs materializes its gram tables with
    localCheckpoint, so a long-lived session's CacheManager stays empty."""
    from exactextractr_spark.operators.dedup import ngram_jaccard_pairs

    spark.catalog.clearCache()
    ngram_jaccard_pairs(docs, n=2, threshold=0.3, max_df=max_df).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_simhash_edge_docs(spark):
    """Empty and single-token docs flow through the vectorized kernels."""
    from exactextractr_spark.operators.dedup import minhash_signatures, simhash64

    rows = [(1, ""), (2, "solo"), (3, None), (4, "two tokens")]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    sigs = {r["doc_id"]: r["sig"] for r in
            minhash_signatures(docs, num_hashes=16, shingle_k=3).collect()}
    assert all(len(s) == 16 for s in sigs.values())
    assert sigs[1] == sigs[3]  # empty and null hash identically
    h = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert h[1] == 0 and h[3] == 0


def test_minhash_simhash_known_answers(spark):
    """Independent scalar re-derivation of the hash kernels: plain-python
    FNV-1a + shingle rolling + multiply-shift mins (no numpy
    vectorization, no shared kernel code) must reproduce the engine\'s
    signatures and simhashes bit-exactly. Any change to the token hash,
    the shingle rolling, the multiply-shift family, or the bit-matrix
    sign sums shows up here. (The driver\'s DuckDB oracle is a third,
    SQL-based derivation of the same pipeline.)"""
    import re
    from functools import reduce

    import pandas as pd

    from exactextractr_spark.operators.dedup import (
        _minhash_params,
        minhash_signatures,
        simhash64,
    )

    M = (1 << 64) - 1
    P = 0x9E3779B97F4A7C15

    def fnv(b: bytes) -> int:
        h = 0xCBF29CE484222325
        for c in b:
            h = ((h ^ c) * 0x100000001B3) & M
        return h

    def toks(t: str) -> "list[bytes]":
        return re.findall(rb"[a-z0-9_]+", t.lower().encode())

    def grams(hs: "list[int]", k: int = 3) -> "set[int]":
        if not hs:
            return {0xCBF29CE484222325}
        k = min(k, len(hs))
        return {
            reduce(lambda g, h: ((g * P) + h) & M, hs[i : i + k])
            for i in range(len(hs) - k + 1)
        }

    def to_i64(v: int) -> int:
        return v - (1 << 64) if v >= (1 << 63) else v

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumped over the lazy dog",
        3: "pack my box with five dozen liquor jugs",
        4: "sphinx of black quartz judge my vow",
        5: "the quick brown fox jumps over the lazy dog",
    }
    a, b = _minhash_params(8, 42)
    golden_sig, golden_sim = {}, {}
    for did, t in texts.items():
        hs = [fnv(tok) for tok in toks(t)]
        gs = grams(hs)
        golden_sig[did] = [
            to_i64(min(((int(a[i]) * g + int(b[i])) & M) for g in gs))
            for i in range(8)
        ]
        acc = [0] * 64
        for h in hs:
            for j in range(64):
                acc[j] += 1 if (h >> j) & 1 else -1
        golden_sim[did] = to_i64(
            sum((1 << j) for j in range(64) if acc[j] > 0)
        )

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(texts), "text": list(texts.values()),
    }))
    sigs = {r["doc_id"]: list(r["sig"]) for r in
            minhash_signatures(docs, num_hashes=8, shingle_k=3, seed=42).collect()}
    assert sigs == golden_sig
    assert sigs[1] == sigs[5]  # identical text -> identical signature
    # near-dup docs 1/2 share several minhash entries (true Jaccard ~0.66
    # over 3-shingles; binomial over 8 hashes)
    agree = sum(x == y for x, y in zip(golden_sig[1], golden_sig[2]))
    assert agree >= 3
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert sh == golden_sim


def test_embedding_dedup(spark):
    """Greedy-by-id cosine dedup: exact mode vs a numpy oracle; LSH mode
    drops a subset of what exact drops (candidates ⊆ all pairs) and
    reaches full agreement on a planted-near-dup corpus."""
    import pandas as pd

    from exactextractr_spark.operators.dedup import embedding_dedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 16))
    # plant near-dups: vectors 20..29 are tiny perturbations of 0..9
    base[20:30] = base[0:10] + rng.normal(scale=0.01, size=(10, 16))
    ids = np.arange(1, 31)
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": ids, "embedding": [r.astype(np.float64) for r in base]
    }))
    got = {r["vec_id"]: r["near_dups"]
           for r in embedding_dedup(df, 0.99).collect()}
    # numpy oracle
    M = base / np.linalg.norm(base, axis=1, keepdims=True)
    S = M @ M.T
    pairs = {(ids[i], ids[j]) for i in range(30) for j in range(i + 1, 30)
             if S[i, j] >= 0.99}
    dropped = {b for _, b in pairs}
    want = {int(i): sum(1 for a, _ in pairs if a == i)
            for i in ids if i not in dropped}
    assert got == want
    assert set(got) == set(range(1, 21))  # the 10 planted dups dropped
    # LSH mode: many bands on 16 planes -> near-identical vectors always
    # collide; same keep set here, and never drops more than exact
    lsh = {r["vec_id"]: r["near_dups"]
           for r in embedding_dedup(df, 0.99, mode="lsh", dim=16,
                                    bits=16, bands=16).collect()}
    assert set(lsh) >= set(got)
    assert set(lsh) - set(got) == set()  # full recall on planted dups


def test_text_stats(spark, docs):
    from exactextractr_spark.operators.textstats import (
        fingerprint,
        language_id,
        quality_scores,
        token_counts,
    )

    df = token_counts(quality_scores(language_id(fingerprint(docs))))
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["ws_tokens"] == 9
    assert rows[1]["lang_pred"] == "en"
    assert rows[5]["lang_pred"] == "de"
    assert rows[6]["lang_pred"] == "fr"
    assert rows[1]["fp64"] == rows[2]["fp64"]
    assert rows[1]["punct_ratio"] == 0.0


def test_hamming_pairs_exact_vs_bruteforce(spark):
    """The band-mask join is pigeonhole-EXACT: it must produce exactly the
    brute-force pair set, including hashes that straddle the sign bit."""
    from exactextractr_spark.operators.dedup import hamming_pairs

    rng = np.random.default_rng(3)
    hashes = rng.integers(-(2**63), 2**63, size=60, dtype=np.int64)
    # plant near-dup clusters: copies of hash 0 with 0..5 flipped bits
    for i, nflips in enumerate([0, 1, 3, 4, 5]):
        h = int(hashes[0])
        for b in rng.choice(64, size=nflips, replace=False):
            h ^= 1 << int(b)
        if h >= 2**63:
            h -= 2**64
        hashes[10 + i] = h
    df = spark.createDataFrame(
        [(i, int(h)) for i, h in enumerate(hashes)], ["doc_id", "simhash"]
    )
    # d in (0, 2, 3, 6, 7) takes the two-level masks incl. uneven sub-band
    # widths (d=6 -> 7 bands of 9-10 bits, 54-55 complement bits split 7
    # ways) and the 64-mask boundary (d=7); d=8 takes the 9 one-level masks
    for d in (0, 2, 3, 6, 7, 8):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs(df, max_hamming=d).collect()
        }
        want = set()
        for i in range(len(hashes)):
            for j in range(i + 1, len(hashes)):
                ham = bin((int(hashes[i]) ^ int(hashes[j])) & (2**64 - 1)).count("1")
                if ham <= d:
                    want.add((i, j, ham))
        assert got == want, (d, got ^ want)


def test_image_phash_dedup_finds_duplicate_tiles(spark):
    """The weight raster (r+2c)%13 tiles repeat whenever tr+2*tc collides
    mod 13; on a 3x3 tile grid tr+2*tc spans 0..6 with collisions
    (2,0)=(0,1), (2,1)=(0,2) surviving as exact dups."""
    from exactextractr_spark.operators.dedup import image_phash_dedup
    from exactextractr_spark.sources.tiles import RasterMeta, tile_table_from_array

    n, t = 48, 16
    r, c = np.divmod(np.arange(n * n).reshape(n, n), n)
    arr = ((r + 2 * c) % 13).astype(np.float64)
    meta = RasterMeta("w", xmin=0, ymax=n, dx=1, dy=1, width=n, height=n,
                      tile_w=t, tile_h=t)
    tiles = tile_table_from_array(spark, arr, meta)
    out = {r["image_id"]: r["near_dups"]
           for r in image_phash_dedup(tiles, max_hamming=0).collect()}
    # exact-dup pairs: (tr,tc) with equal (tr+2tc) mod 13: (0,1)~(2,0),
    # (0,2)~(2,1); lexicographically smaller image_id survives
    assert "w/2/0" not in out and "w/2/1" not in out  # dropped (larger id)
    assert out["w/0/1"] >= 1 and out["w/0/2"] >= 1    # keepers count their dups
    assert out["w/0/0"] == 0
    # survivors + dropped == 9 tiles
    assert len(out) == 7

    # phash column absent -> computed via decode path, same result
    no_hash = tiles.drop("phash")
    out2 = {r["image_id"]: r["near_dups"]
            for r in image_phash_dedup(no_hash, max_hamming=0).collect()}
    assert out2 == out


def test_gopher_quality_rules(spark):
    """Hand-computed goldens for each Gopher rule (Rae et al. 2021 A1.1)."""
    from exactextractr_spark.operators.textstats import gopher_quality

    good = "the quick brown fox and the lazy dog run to the old barn in town"
    docs = spark.createDataFrame(
        [
            (1, good),                             # passes with min_words=5
            (2, "- one\n- two\n- three"),          # all bullet lines
            (3, "now... wait... more..."),         # ellipsis lines + symbols
            (4, "#tag #tag #tag"),                 # symbol-heavy, no stops
            (5, "1 2 3 4 5 6 7 8 9 10"),           # no alphabetic words
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in gopher_quality(docs, min_words=5).collect()
    }
    r1 = rows[1]
    assert r1["n_words"] == 15
    assert r1["gopher_pass"] is True
    assert r1["stopword_hits"] >= 2
    assert abs(r1["frac_alpha_words"] - 1.0) < 1e-12

    r2 = rows[2]
    assert abs(r2["bullet_line_frac"] - 1.0) < 1e-12
    assert r2["gopher_pass"] is False

    r3 = rows[3]
    assert abs(r3["ellipsis_line_frac"] - 1.0) < 1e-12
    # 3 ellipses over 3 words -> symbol ratio 1.0
    assert abs(r3["symbol_word_ratio"] - 1.0) < 1e-12
    assert r3["gopher_pass"] is False

    r4 = rows[4]
    assert abs(r4["symbol_word_ratio"] - 1.0) < 1e-12
    assert r4["stopword_hits"] == 0
    assert r4["gopher_pass"] is False

    r5 = rows[5]
    assert abs(r5["frac_alpha_words"]) < 1e-12
    assert r5["gopher_pass"] is False


def test_repetition_stats_goldens(spark):
    from exactextractr_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            # 4 lines, 'aa bb' repeated twice (10 of 17 chars incl \n)
            (1, "aa bb\ncc\naa bb\ndd"),
            # no repetition at all
            (2, "one two three"),
            # 'x y' appears 3 times as a 2-gram: 'x y x y x y' grams are
            # [x y, y x, x y, y x, x y] -> top = 'x y' (count 3)
            (3, "x y x y x y"),
            (4, ""),                                # empty doc
            (5, "single"),                          # no grams, one line
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = rows[1]
    assert r1["n_lines"] == 4
    assert abs(r1["dup_line_frac"] - 1.0 / 4.0) < 1e-12
    # duplicate occurrences beyond first: one 'aa bb' (5 chars) of 14 line chars
    assert abs(r1["dup_line_char_frac"] - 5.0 / 14.0) < 1e-12

    r2 = rows[2]
    assert r2["dup_line_frac"] == 0.0
    assert r2["top_2gram_count"] == 1  # 'one two' and 'two three' tie -> smallest
    assert r2["top_2gram"] == "one two"

    r3 = rows[3]
    assert r3["top_2gram"] == "x y"
    assert r3["top_2gram_count"] == 3
    # 3 * len('x y') / len('x y x y x y') = 9/11
    assert abs(r3["top_2gram_char_frac"] - 9.0 / 11.0) < 1e-12

    r4 = rows[4]
    assert r4["n_lines"] == 0
    assert r4["dup_line_frac"] == 0.0
    assert r4["top_2gram_char_frac"] == 0.0
    assert r4["top_2gram"] is None

    r5 = rows[5]
    assert r5["top_2gram_count"] == 0
    assert r5["top_2gram"] is None


def test_knn_matches_bruteforce(spark):
    from exactextractr_spark.operators.knn import knn_points

    rng = np.random.default_rng(42)
    pts = [(int(i), float(x), float(y))
           for i, (x, y) in enumerate(rng.uniform(0, 64, (300, 2)))]
    points = spark.createDataFrame(pts, ["pid", "px", "py"])
    qs = [(int(i), float(x), float(y))
          for i, (x, y) in enumerate(rng.uniform(0, 64, (7, 2)))]
    queries = spark.createDataFrame(qs, ["qid", "qx", "qy"])
    idx = CellIndex(0, 0, 64, 64)
    got = knn_points(queries, points, 5, index=idx, res=4).collect()
    # brute force oracle
    P = np.array([(p[1], p[2]) for p in pts])
    for qid, qx, qy in qs:
        d = np.hypot(P[:, 0] - qx, P[:, 1] - qy)
        order = np.lexsort((np.arange(len(d)), d))[:5]
        want = [int(i) for i in order]
        mine = [r["pid"] for r in sorted(
            (r for r in got if r["qid"] == qid), key=lambda r: r["rank"])]
        assert mine == want, (qid, mine, want)


def test_cosine_topk_vs_numpy(spark):
    from exactextractr_spark.operators.similarity import cosine_topk

    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    items = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    queries = items.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = cosine_topk(items, queries, 3).collect()
    V = vecs.astype(np.float64)
    sims = (V @ V.T) / (np.linalg.norm(V, axis=1)[:, None] * np.linalg.norm(V, axis=1)[None, :])
    for q in range(2):
        want = list(np.argsort(-sims[q], kind="stable")[:3])
        mine = [r["item_id"] for r in sorted(
            (r for r in got if r["qid"] == q), key=lambda r: r["rank"])]
        assert mine == [int(w) for w in want]


def test_lsh_cosine_recall(spark):
    from exactextractr_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    rng = np.random.default_rng(2)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    items = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    queries = items.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = cosine_topk(items, queries, 5).collect()
    approx = lsh_cosine_topk(items, queries, 5, dim=16, bits=16, bands=8).collect()
    # rank-1 (self) must always be found; overall recall should be decent
    exact_set = {(r["qid"], r["item_id"]) for r in exact}
    approx_set = {(r["qid"], r["item_id"]) for r in approx}
    assert all((q, q) in approx_set for q in range(3))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, recall


def test_fnv_rademacher_planes_spec():
    """Plane entries are ±1 signs of FNV-1a('hp{seed}:{b}:{d}') parity —
    pinned so the DuckDB oracle in __spark_entry__ stays in lockstep."""
    from exactextractr_spark.operators.dedup import _fnv1a_batch
    from exactextractr_spark.operators.similarity import fnv_rademacher_planes

    def _fnv1a64(data: bytes) -> int:
        return int(_fnv1a_batch([data])[0])

    # FNV-1a known answer: empty input is the offset basis
    assert _fnv1a64(b"") == 0xCBF29CE484222325
    # public FNV-1a test vector: 'a' -> 0xaf63dc4c8601ec8c
    assert _fnv1a64(b"a") == 0xAF63DC4C8601EC8C

    P = fnv_rademacher_planes(dim=8, bits=4, seed=42)
    assert P.shape == (4, 8)
    assert set(np.unique(P)) <= {-1.0, 1.0}
    for b in (0, 3):
        for d in (0, 7):
            h = _fnv1a64(f"hp42:{b}:{d}".encode())
            assert P[b, d] == (1.0 if h & 1 else -1.0)
    # both signs present (a constant family would hash everything together)
    assert (P == 1.0).any() and (P == -1.0).any()


def test_lsh_cosine_rademacher_family(spark):
    """The SQL-verifiable ±1 hyperplane family behaves like the Gaussian
    one: self always found, decent recall vs brute force, and an unknown
    family name raises."""
    import pytest as _pytest

    from exactextractr_spark.operators.similarity import (
        band_key_udf,
        cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    items = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    queries = items.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = cosine_topk(items, queries, 5).collect()
    approx = lsh_cosine_topk(
        items, queries, 5, dim=16, bits=16, bands=8, family="rademacher_fnv"
    ).collect()
    exact_set = {(r["qid"], r["item_id"]) for r in exact}
    approx_set = {(r["qid"], r["item_id"]) for r in approx}
    assert all((q, q) in approx_set for q in range(3))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, recall
    with _pytest.raises(ValueError, match="family"):
        band_key_udf(16, 16, 8, family="nope")


def test_image_features(spark):
    from exactextractr_spark.operators.multimodal import image_features
    from exactextractr_spark.sources.tiles import RasterMeta, tile_table_from_array

    arr = np.arange(256, dtype=np.float64).reshape(16, 16)
    meta = RasterMeta("img", xmin=0, ymax=16, dx=1, dy=1, width=16, height=16,
                      tile_w=16, tile_h=16)
    tiles = tile_table_from_array(spark, arr, meta)
    feats = image_features(tiles).collect()
    assert len(feats) == 1
    f = feats[0]
    assert f["mean_px"] == pytest.approx(arr.mean())
    assert f["std_px"] == pytest.approx(arr.std())
    assert len(f["thumb8"]) == 64


def test_image_features_unknown_format(spark):
    from exactextractr_spark.operators.multimodal import image_features

    # lossless webp now decodes for real — malformed bytes fail as a bad
    # container, not as a missing decoder; video remains the declared stub
    rows = [("x", bytearray(b"notanimage"), 4, 4, "webp")]
    df = spark.createDataFrame(rows, ["image_id", "bytes", "w", "h", "fmt"])
    with pytest.raises(Exception, match="not a WebP container"):
        image_features(df).collect()
    rows = [("x", bytearray(b"notanimage"), 4, 4, "mp4")]
    df = spark.createDataFrame(rows, ["image_id", "bytes", "w", "h", "fmt"])
    with pytest.raises(Exception, match="decoder for 'mp4'"):
        image_features(df).collect()
    # jpeg now decodes for real — malformed bytes fail as a bad JPEG, not
    # as a missing decoder
    rows = [("x", bytearray(b"notanimage"), 4, 4, "jpeg")]
    df = spark.createDataFrame(rows, ["image_id", "bytes", "w", "h", "fmt"])
    with pytest.raises(Exception, match="not a JPEG payload"):
        image_features(df).collect()


def test_checkpoint_resume(spark, tmp_path):
    from exactextractr_spark.checkpoint import ZonalCheckpointer
    from exactextractr_spark.sources.features import features_from_wkt
    from exactextractr_spark.sources.tiles import Raster, RasterMeta

    arr = np.arange(1, 101, dtype=np.float64).reshape(10, 10)
    meta = RasterMeta("v", xmin=0, ymax=10, dx=1, dy=1, width=10, height=10,
                      tile_w=4, tile_h=4)
    r = Raster.from_array(spark, arr, meta)
    feats = features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 8.5 0.5, 8.5 8.5, 0.5 8.5, 0.5 0.5))"]
    )
    ck = ZonalCheckpointer(str(tmp_path / "ck"), n_buckets=4)
    out1 = {r_["feature_id"]: r_.asDict() for r_ in
            ck.run(r, feats, ["count", "sum", "mean", "min", "max"]).collect()}
    man = ck.load_manifest()
    assert len(man["buckets"]) == 4
    assert all("snapshot" in v for v in man["buckets"].values())
    # resume: nothing recomputed (manifest unchanged), same answer
    out2 = {r_["feature_id"]: r_.asDict() for r_ in
            ck.run(r, feats, ["count", "sum", "mean", "min", "max"]).collect()}
    assert out1 == out2
    assert ck.load_manifest() == man
    # simulate a crash after 2 buckets: drop 2 from the manifest and rerun
    man["buckets"] = {k: v for k, v in list(man["buckets"].items())[:2]}
    import json

    with open(ck._manifest_path, "w") as f:
        json.dump(man, f)
    out3 = {r_["feature_id"]: r_.asDict() for r_ in
            ck.run(r, feats, ["count", "sum", "mean", "min", "max"]).collect()}
    assert out3 == out1
    assert out1[1]["count"] == pytest.approx(64.0)


def test_streaming_ingest(spark, tmp_path):
    from exactextractr_spark.sources.tiles import (
        RasterMeta,
        tile_table_from_array,
    )
    from exactextractr_spark.streaming.ingest import stream_decode_tiles

    arr = np.arange(1, 37, dtype=np.float64).reshape(6, 6)
    meta = RasterMeta("s", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                      tile_w=3, tile_h=3)
    src = str(tmp_path / "src")
    tile_table_from_array(spark, arr, meta).write.parquet(src)
    q = stream_decode_tiles(
        spark, src, str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sink"))
    assert out.count() == 4
    total = out.select(F.explode("px").alias("p")).agg(F.sum("p")).collect()[0][0]
    assert total == pytest.approx(arr.sum())


def test_streaming_zonal_matches_batch(spark, tmp_path):
    """Incremental tiles through stream_zonal_stats == batch exact_extract
    over the same tiles (moments are mergeable; state merge is exact)."""
    from exactextractr_spark.operators.zonal import exact_extract
    from exactextractr_spark.sources.features import features_from_wkt
    from exactextractr_spark.sources.tiles import (
        Raster,
        RasterMeta,
        tile_table_from_array,
    )
    from exactextractr_spark.streaming.zonal_stream import stream_zonal_stats

    arr = np.arange(1.0, 145.0).reshape(12, 12)
    meta = RasterMeta("v", xmin=0, ymax=12, dx=1, dy=1, width=12, height=12,
                      tile_w=4, tile_h=4)
    tiles = tile_table_from_array(spark, arr, meta)
    src = str(tmp_path / "src")
    # two file chunks -> at least two micro-batches with maxFilesPerTrigger=1
    tr = F.get_json_object("caption", "$.tile_row").cast("int")
    tiles.filter(tr < 2).coalesce(1).write.mode("append").parquet(src)
    tiles.filter(tr >= 2).coalesce(1).write.mode("append").parquet(src)
    feats = features_from_wkt(
        spark,
        ["POLYGON ((0.5 0.5, 8.5 0.5, 8.5 8.5, 0.5 8.5, 0.5 0.5))",
         "POLYGON ((6 6, 11 6, 11 11, 6 11, 6 6))",
         # outside the raster: no facts, still one row (0/NULL), as in batch
         "POLYGON ((20 20, 21 20, 21 21, 20 21, 20 20))"],
    )
    stats = ["count", "sum", "mean", "min", "max", "stdev"]
    q = stream_zonal_stats(
        spark, src, feats, stats, meta=meta,
        checkpoint_dir=str(tmp_path / "ck"), query_name="zs_test",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = {r["feature_id"]: r.asDict()
           for r in spark.table("zs_test").collect()}
    want = {r["feature_id"]: r.asDict()
            for r in exact_extract(Raster.from_tiles(tiles, meta), feats,
                                   stats).collect()}
    assert set(got) == set(want)
    for fid in want:
        for s in stats:
            assert got[fid][s] == pytest.approx(want[fid][s], rel=1e-12), (fid, s)

    # freq stats stream in complete mode (groupBy(feature, value) state,
    # categorical-cardinality assumption): snapshot == batch bit-for-bit
    fstats = ["count", "mean", "mode", "median", "variety"]
    qf = stream_zonal_stats(
        spark, src, feats, fstats, meta=meta,
        checkpoint_dir=str(tmp_path / "ck2"), query_name="zs_test_f",
        max_files_per_trigger=1,
    )
    qf.awaitTermination(180)
    got_f = {r["feature_id"]: r.asDict()
             for r in spark.table("zs_test_f").collect()}
    want_f = {r["feature_id"]: r.asDict()
              for r in exact_extract(Raster.from_tiles(tiles, meta), feats,
                                     fstats).collect()}
    assert set(got_f) == set(want_f)
    for fid in want_f:
        for s in fstats:
            assert got_f[fid][s] == pytest.approx(want_f[fid][s], rel=1e-12), (fid, s)

    # a value distribution too wide for the state bound fails LOUDLY
    from pyspark.sql.streaming import StreamingQueryException

    qbad = stream_zonal_stats(
        spark, src, feats, ["mode"], meta=meta,
        checkpoint_dir=str(tmp_path / "ckbad"), query_name="zs_bad",
        max_files_per_trigger=16, max_state_rows=5,
    )
    with pytest.raises(StreamingQueryException, match="max_state_rows"):
        qbad.awaitTermination(180)

    # weighted stats stream: static weight raster attached per micro-batch
    # (coarser 2x2-cell weight grid exercises the coordinate lookup)
    warr = ((np.arange(36).reshape(6, 6) % 7) + 1).astype(np.float64)
    wmeta = RasterMeta("w", xmin=0, ymax=12, dx=2, dy=2, width=6, height=6,
                       tile_w=3, tile_h=3)
    wraster = Raster.from_array(spark, warr, wmeta)
    wstats = ["weighted_mean", "weighted_sum", "weighted_count"]
    qw = stream_zonal_stats(
        spark, src, feats, wstats, meta=meta, weights=wraster,
        checkpoint_dir=str(tmp_path / "ckw"), query_name="zs_test_w",
        max_files_per_trigger=1,
    )
    qw.awaitTermination(180)
    got_w = {r["feature_id"]: r.asDict()
             for r in spark.table("zs_test_w").collect()}
    want_w = {r["feature_id"]: r.asDict()
              for r in exact_extract(Raster.from_tiles(tiles, meta), feats,
                                     wstats, weights=wraster).collect()}
    assert set(got_w) == set(want_w)
    for fid in want_w:
        for s in wstats:
            assert got_w[fid][s] == pytest.approx(want_w[fid][s], rel=1e-12), (fid, s)
    # a finer (half-cell) weight grid, on its own tiling, streams too: the
    # values disaggregate as in batch, and count/sum refuse as in batch
    farr = ((np.arange(576).reshape(24, 24) % 5) + 1).astype(np.float64)
    fmeta = RasterMeta("w", xmin=0, ymax=12, dx=0.5, dy=0.5, width=24,
                       height=24, tile_w=5, tile_h=5)
    fraster = Raster.from_array(spark, farr, fmeta)
    qfw = stream_zonal_stats(
        spark, src, feats, wstats, meta=meta, weights=fraster,
        checkpoint_dir=str(tmp_path / "ckfw"), query_name="zs_test_fw",
        max_files_per_trigger=1,
    )
    qfw.awaitTermination(180)
    got_fw = {r["feature_id"]: r.asDict()
              for r in spark.table("zs_test_fw").collect()}
    want_fw = {r["feature_id"]: r.asDict()
               for r in exact_extract(Raster.from_tiles(tiles, meta), feats,
                                      wstats, weights=fraster).collect()}
    assert set(got_fw) == set(want_fw)
    assert want_fw != want_w  # the finer grid is really sampled
    for fid in want_fw:
        for s in wstats:
            assert got_fw[fid][s] == pytest.approx(want_fw[fid][s], rel=1e-12), (fid, s)
    with pytest.raises(ValueError, match="disaggregated"):
        stream_zonal_stats(spark, src, feats, ["count", "weighted_mean"],
                           meta=meta, weights=fraster,
                           checkpoint_dir=str(tmp_path / "ck4"))
    # weighted stats without a weight raster still refuse
    with pytest.raises(ValueError, match="require weights"):
        stream_zonal_stats(spark, src, feats, ["weighted_mean"], meta=meta,
                           checkpoint_dir=str(tmp_path / "ck3"))

    # over-threshold weight raster: the stream-static join must run WITHOUT
    # the broadcast hint and still match batch bit-for-bit
    import exactextractr_spark.operators.zonal as zmod

    old_gate = zmod.WEIGHT_BROADCAST_MAX_BYTES
    zmod.WEIGHT_BROADCAST_MAX_BYTES = 0
    try:
        qg = stream_zonal_stats(
            spark, src, feats, wstats, meta=meta, weights=wraster,
            checkpoint_dir=str(tmp_path / "ckg"), query_name="zs_test_g",
            max_files_per_trigger=1,
        )
        qg.awaitTermination(180)
        got_g = {r["feature_id"]: r.asDict()
                 for r in spark.table("zs_test_g").collect()}
    finally:
        zmod.WEIGHT_BROADCAST_MAX_BYTES = old_gate
    assert set(got_g) == set(want_w)
    for fid in want_w:
        for s in wstats:
            assert got_g[fid][s] == pytest.approx(want_w[fid][s], rel=1e-12)


def _wav_bytes(samples: np.ndarray, sr: int, channels: int = 1) -> bytes:
    """Minimal PCM16 RIFF/WAVE writer for tests."""
    import struct

    pcm = np.clip(samples * 32767.0, -32768, 32767).astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16,
        1, channels, sr, sr * channels * 2, channels * 2, 16,
        b"data", len(pcm),
    )
    return hdr + pcm


def test_audio_features_wav(spark):
    """Real WAV-PCM decode (pure numpy RIFF parser): sine-wave goldens."""
    from exactextractr_spark.operators.multimodal import audio_features

    sr = 8000
    t = np.arange(sr // 2) / sr  # 0.5 s
    amp = 0.5
    sine = amp * np.sin(2 * np.pi * 100 * t)  # 100 Hz
    stereo = np.stack([sine, sine], axis=1).ravel()
    rows = [
        ("mono", _wav_bytes(sine, sr), "wav"),
        ("stereo", _wav_bytes(stereo, sr, channels=2), "wav"),
    ]
    df = spark.createDataFrame(rows, "image_id: string, bytes: binary, fmt: string")
    got = {r["audio_id"]: r.asDict() for r in audio_features(df).collect()}
    for key in ("mono", "stereo"):
        r = got[key]
        assert r["sample_rate"] == sr
        assert r["duration_s"] == pytest.approx(0.5)
        assert r["rms"] == pytest.approx(amp / np.sqrt(2), rel=1e-3)
        assert r["peak"] == pytest.approx(amp, rel=1e-3)
        # 100 Hz sine crosses zero 2*100 times/sec
        assert r["zcr"] == pytest.approx(200 / sr, rel=0.05)

    bad = spark.createDataFrame(
        [("x", b"\x00" * 64, "mp3")], "image_id: string, bytes: binary, fmt: string"
    )
    with pytest.raises(Exception, match="audio decoder"):
        audio_features(bad).collect()


def test_image_resize_bilinear_exact_on_linear_field(spark):
    """Bilinear resampling reproduces a linear field exactly (closed form),
    and output re-encodes as valid float-packed PNG."""
    from exactextractr_spark.core.png import decode_tile
    from exactextractr_spark.operators.multimodal import image_resize
    from exactextractr_spark.sources.tiles import RasterMeta, tile_table_from_array

    i, j = np.mgrid[0:16, 0:16]
    arr = (i + 2.0 * j).astype(np.float64)
    meta = RasterMeta("img", xmin=0, ymax=16, dx=1, dy=1, width=16, height=16,
                      tile_w=16, tile_h=16)
    tiles = tile_table_from_array(spark, arr, meta)
    out = image_resize(tiles, 8, 8).collect()
    assert len(out) == 1 and out[0]["w"] == 8 and out[0]["h"] == 8
    px = decode_tile(bytes(out[0]["bytes"]), 8, 8)
    ii, jj = np.mgrid[0:8, 0:8]
    want = (2 * ii + 0.5) + 2.0 * (2 * jj + 0.5)
    assert np.allclose(px, want), (px[0, :3], want[0, :3])


def test_ivf_cosine_recall(spark):
    from exactextractr_spark.operators.similarity import cosine_topk, ivf_cosine_topk

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    items = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    queries = items.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = cosine_topk(items, queries, 5).collect()
    approx = ivf_cosine_topk(items, queries, 5, n_centroids=8, nprobe=3).collect()
    exact_set = {(r["qid"], r["item_id"]) for r in exact}
    approx_set = {(r["qid"], r["item_id"]) for r in approx}
    assert all((q, q) in approx_set for q in range(3))  # self always found
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, recall
    # nprobe == n_centroids degrades to exact brute force
    full = ivf_cosine_topk(items, queries, 5, n_centroids=8, nprobe=8).collect()
    assert {(r["qid"], r["item_id"]) for r in full} == exact_set


def test_ivf_cosine_first_init_untrained(spark):
    """init='first', train_iters=0: the SQL-expressible quantizer (centroids
    = lowest-id vectors, no Lloyd). Still a valid IVF: self found, nprobe ==
    n_centroids degrades to exact, and the centroid matrix is exactly the
    first-k normalized sample rows."""
    from exactextractr_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((120, 16)).astype(np.float32)
    items = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    C = train_ivf_centroids(items, 8, iters=0, init="first")
    X = vecs[:8].astype(np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    assert np.allclose(C, X)

    queries = items.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = cosine_topk(items, queries, 5).collect()
    exact_set = {(r["qid"], r["item_id"]) for r in exact}
    full = ivf_cosine_topk(
        items, queries, 5, n_centroids=8, nprobe=8, train_iters=0, init="first"
    ).collect()
    assert {(r["qid"], r["item_id"]) for r in full} == exact_set
    import pytest as _pytest

    with _pytest.raises(ValueError, match="init"):
        train_ivf_centroids(items, 8, init="bogus")


def test_streaming_exact_dedup(spark, tmp_path):
    """Cross-micro-batch duplicates are dropped by the state store; the
    surviving content-key set matches batch exact_dedup on the same data."""
    from exactextractr_spark.operators.dedup import exact_dedup
    from exactextractr_spark.streaming.dedup_stream import stream_exact_dedup

    file_a = [
        (1, "alpha text one"),
        (2, "beta text two"),
        (3, "gamma text three"),
        (4, "delta text four"),
        (5, "echo   text five"),
        (6, "ECHO text FIVE"),  # within-batch dup of 5 (after normalize)
    ]
    file_b = [
        (7, "alpha text one"),   # cross-batch dup of 1
        (8, "zeta text six"),
        (9, "eta text seven"),
        (10, "Beta  text TWO"),  # cross-batch dup of 2 (after normalize)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(file_a, ["doc_id", "text"]).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(file_b, ["doc_id", "text"]).coalesce(1) \
        .write.mode("append").parquet(src)

    sink = str(tmp_path / "kept")
    q = stream_exact_dedup(
        spark, src, sink, str(tmp_path / "ck"), max_files_per_trigger=1
    )
    q.awaitTermination(180)
    kept = spark.read.parquet(sink)
    ids = sorted(r["doc_id"] for r in kept.collect())

    # 7 distinct normalized texts; cross-batch dups 7 and 10 are dropped,
    # their first-arrived twins 1 and 2 survive; exactly one of {5, 6}.
    assert len(ids) == 7
    assert 1 in ids and 2 in ids
    assert 7 not in ids and 10 not in ids
    assert (5 in ids) != (6 in ids)

    # surviving content-key set == batch exact_dedup's (id choice differs
    # only on the within-batch pair, where streaming is arrival-order)
    all_docs = spark.read.parquet(src)
    batch_keys = {
        r["h"]
        for r in exact_dedup(all_docs)
        .select(F.sha2(F.lower(F.regexp_replace("text", r"\s+", " ")), 256)
                .alias("h")).collect()
    }
    stream_keys = {
        r["h"]
        for r in kept
        .select(F.sha2(F.lower(F.regexp_replace("text", r"\s+", " ")), 256)
                .alias("h")).collect()
    }
    assert stream_keys == batch_keys


def test_streaming_exact_dedup_watermarked(spark, tmp_path):
    """TTL mode: dropDuplicatesWithinWatermark bounds state by the event-time
    window; dups inside the window are still dropped exactly."""
    import datetime as dt

    from exactextractr_spark.streaming.dedup_stream import stream_exact_dedup

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    file_a = [(1, "alpha text", t0), (2, "beta text", t0)]
    file_b = [(3, "alpha text", t0 + dt.timedelta(minutes=1)),
              (4, "gamma text", t0 + dt.timedelta(minutes=1))]
    src = str(tmp_path / "docs")
    spark.createDataFrame(file_a, ["doc_id", "text", "ts"]).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(file_b, ["doc_id", "text", "ts"]).coalesce(1) \
        .write.mode("append").parquet(src)

    sink = str(tmp_path / "kept")
    q = stream_exact_dedup(
        spark, src, sink, str(tmp_path / "ck"),
        ts_col="ts", watermark_delay="10 minutes", max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    ids = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert ids == [1, 2, 4]  # 3 is an in-window dup of 1


def test_image_augment_bit_exact_permutations(spark):
    """Every augmentation op is a pure index permutation: decoded outputs
    match the numpy reference bit-for-bit; quarter-turns swap w/h; the
    fan-out emits one row per (image x op) with suffixed ids."""
    from exactextractr_spark.core.png import decode_tile
    from exactextractr_spark.operators.multimodal import _AUG_OPS, image_augment
    from exactextractr_spark.sources.tiles import RasterMeta, tile_table_from_array

    rng = np.random.default_rng(11)
    arr = rng.standard_normal((8, 12)).astype(np.float64)  # non-square
    meta = RasterMeta("img", xmin=0, ymax=8, dx=1, dy=1, width=12, height=8,
                      tile_w=12, tile_h=8)
    tiles = tile_table_from_array(spark, arr, meta)
    rows = {r["image_id"]: r for r in image_augment(tiles, list(_AUG_OPS)).collect()}
    assert set(rows) == {f"img/0/0#{op}" for op in _AUG_OPS}

    want = {
        "hflip": arr[:, ::-1],
        "vflip": arr[::-1],
        "rot90": np.rot90(arr, 1),
        "rot180": np.rot90(arr, 2),
        "rot270": np.rot90(arr, 3),
        "transpose": arr.T,
    }
    for op, ref in want.items():
        r = rows[f"img/0/0#{op}"]
        assert (r["h"], r["w"]) == ref.shape, op
        px = decode_tile(bytes(r["bytes"]), r["w"], r["h"])
        assert np.array_equal(px, ref), op

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown augment"):
        image_augment(tiles, ["hflip", "zoom"])
    with _pytest.raises(ValueError, match="at least one"):
        image_augment(tiles, [])


def test_streaming_cosine_topk_matches_batch(spark, tmp_path):
    """Running top-k state merged across micro-batches == batch cosine_topk
    over the same items (ties broken identically on lowest id)."""
    from exactextractr_spark.operators.similarity import cosine_topk
    from exactextractr_spark.streaming.similarity_stream import stream_cosine_topk

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((60, 12)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    items = spark.createDataFrame(rows, ["vec_id", "embedding"])
    src = str(tmp_path / "items")
    # three file chunks -> three micro-batches with maxFilesPerTrigger=1
    for lo, hi in ((0, 20), (20, 40), (40, 60)):
        spark.createDataFrame(rows[lo:hi], ["vec_id", "embedding"]) \
            .coalesce(1).write.mode("append").parquet(src)

    queries = items.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    q = stream_cosine_topk(
        spark, src, queries, 5, str(tmp_path / "ck"),
        query_name="topk_t", max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    snap = spark.table("topk_t").collect()
    maxes = {}
    for r in snap:
        maxes[r["qid"]] = max(maxes.get(r["qid"], 0), r["n_seen"])
    latest = [r for r in snap if r["n_seen"] == maxes[r["qid"]]]
    got = {(r["qid"], r["rank"]): (r["item_id"], r["cos_sim"])
           for r in latest}
    want = {(r["qid"], r["rank"]): (r["item_id"], r["cos_sim"])
            for r in cosine_topk(items, queries, 5).collect()}
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], key
        assert got[key][1] == pytest.approx(want[key][1], rel=1e-12), key
    # every query saw all 60 items
    assert set(maxes.values()) == {60}


def test_streaming_dedup_param_pairing_guard(spark, tmp_path):
    """ts_col without watermark_delay (or vice versa) is a loud error, not
    a silent fall-through to unbounded state."""
    from exactextractr_spark.streaming.dedup_stream import stream_exact_dedup

    src = str(tmp_path / "docs")
    spark.createDataFrame([(1, "a")], ["doc_id", "text"]).write.parquet(src)
    with pytest.raises(ValueError, match="together"):
        stream_exact_dedup(spark, src, str(tmp_path / "o"),
                           str(tmp_path / "c"), ts_col="ts")
    with pytest.raises(ValueError, match="together"):
        stream_exact_dedup(spark, src, str(tmp_path / "o"),
                           str(tmp_path / "c"), watermark_delay="5 minutes")


def test_streaming_image_features_matches_batch(spark, tmp_path):
    """Streaming featurization == batch image_features over the same tiles
    (stateless kernel, so per-image bit parity including the pHash)."""
    from exactextractr_spark.operators.multimodal import image_features
    from exactextractr_spark.sources.tiles import (
        RasterMeta,
        tile_table_from_array,
    )
    from exactextractr_spark.streaming.ingest import stream_image_features

    arr = np.arange(1.0, 145.0).reshape(12, 12)
    meta = RasterMeta("f", xmin=0, ymax=12, dx=1, dy=1, width=12, height=12,
                      tile_w=4, tile_h=4)
    tiles = tile_table_from_array(spark, arr, meta)
    src = str(tmp_path / "src")
    tr = F.get_json_object("caption", "$.tile_row").cast("int")
    tiles.filter(tr < 2).coalesce(1).write.mode("append").parquet(src)
    tiles.filter(tr >= 2).coalesce(1).write.mode("append").parquet(src)

    q = stream_image_features(
        spark, src, str(tmp_path / "sink"), str(tmp_path / "ck"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = {r["image_id"]: r.asDict()
           for r in spark.read.parquet(str(tmp_path / "sink")).collect()}
    want = {r["image_id"]: r.asDict()
            for r in image_features(tiles).collect()}
    assert set(got) == set(want) and len(got) == 9
    for iid in want:
        for c in ("h", "w", "mean_px", "std_px", "phash"):
            assert got[iid][c] == want[iid][c], (iid, c)


@pytest.mark.parametrize("site", ["build_candidates", "stack", "stream"])
def test_feature_collect_sites_share_policy(spark, tmp_path, monkeypatch, site):
    """Every zonal entry point takes its feature strategy from
    build_candidates: above BROADCAST_FEATURE_LIMIT, with a size estimate
    too large to fuse the collect, the cover join runs — for exact_extract,
    the stack single pass and streaming zonal alike — without collecting a
    single geometry to the driver, and each answer equals its reference."""
    from exactextractr_spark.operators import _exec, stack, zonal
    from exactextractr_spark.sources.features import features_from_wkt
    from exactextractr_spark.sources.tiles import (
        Raster,
        RasterMeta,
        tile_table_from_array,
    )
    from exactextractr_spark.streaming.zonal_stream import stream_zonal_stats

    meta = RasterMeta("v", xmin=0, ymax=4, dx=1, dy=1, width=4, height=4,
                      tile_w=2, tile_h=2)
    feats = features_from_wkt(
        spark,
        ["POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
         "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
         "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))",
         # outside the raster: no facts, still one row
         "POLYGON ((9 9, 10 9, 10 10, 9 10, 9 9))"],
    )
    est = _exec.size_estimate(feats)
    assert est is not None and est > 0
    arr = np.arange(1.0, 17.0).reshape(4, 4)
    stats = ["count", "mean", "mode"]
    # references, computed on the broadcast strategy before the limit drops
    if site == "stack":
        layers = [Raster.from_array(spark, arr * k, RasterMeta(
            lay, xmin=0, ymax=4, dx=1, dy=1, width=4, height=4,
            tile_w=2, tile_h=2)) for k, lay in ((1.0, "a"), (3.0, "b"))]
        want = [r.asDict() for r in stack._stack_loop(layers, feats, stats).collect()]
    elif site == "stream":
        tiles = tile_table_from_array(spark, arr, meta)
        src = str(tmp_path / "src")
        tiles.coalesce(1).write.parquet(src)
        want = [r.asDict() for r in
                zonal.exact_extract(Raster.from_tiles(tiles, meta), feats, stats).collect()]
    monkeypatch.setattr(zonal, "BROADCAST_FEATURE_LIMIT", 2)
    monkeypatch.setattr(_exec, "_FUSED_COLLECT_MAX_BYTES", 4 * est - 1)
    # the concrete DataFrame class: PySpark 4 defines the collects there
    SparkDF = type(feats)
    geom_collects = []
    for name in ("toArrow", "collect"):
        def recording(self, *a, _name=name, _real=getattr(SparkDF, name), **k):
            if "geom" in self.columns:
                geom_collects.append(_name)
            return _real(self, *a, **k)

        monkeypatch.setattr(SparkDF, name, recording)
    if site == "build_candidates":
        _, fb = zonal.build_candidates(Raster.from_array(spark, arr, meta), feats)
        assert fb is None  # cover-join strategy chosen
    elif site == "stack":
        single = stack._stack_single_pass(layers, feats, stats)
        assert single is not None  # the single pass runs on the cover join
        assert [r.asDict() for r in single.collect()] == want
    else:
        q = stream_zonal_stats(
            spark, src, feats, stats, meta=meta,
            checkpoint_dir=str(tmp_path / "ck_cover"), query_name="zs_cover",
        )
        q.awaitTermination(180)
        got = [r.asDict() for r in spark.table("zs_cover").orderBy("feature_id").collect()]
        assert got == want
    assert geom_collects == []


def test_zonal_entry_points_share_crs_audit(spark, tmp_path, monkeypatch):
    """Features stamped with another CRS are audited the same way by every
    zonal entry point: the 3x3 square's Web-Mercator image, stamped
    EPSG:3857, is auto-transformed onto the EPSG:4326 rasters and gives
    the square's answer on both strategies."""
    import warnings

    from exactextractr_spark.operators import stack, zonal
    from exactextractr_spark.operators.coverage_op import coverage_fraction_raster
    from exactextractr_spark.sources.features import (
        features_from_wkt,
        transform_features,
    )
    from exactextractr_spark.sources.tiles import (
        Raster,
        RasterMeta,
        tile_table_from_array,
    )
    from exactextractr_spark.streaming.zonal_stream import stream_zonal_stats

    sq = "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"

    def meta(layer):
        return RasterMeta(layer, xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                          tile_w=3, tile_h=3, crs="EPSG:4326")

    arr = np.arange(1.0, 10.0).reshape(3, 3)
    ta = tile_table_from_array(spark, arr, meta("a"))
    a = Raster.from_tiles(ta, meta("a"))
    b = Raster.from_array(spark, 2 * arr, meta("b"))
    plain = features_from_wkt(spark, [sq])
    merc = transform_features(
        features_from_wkt(spark, [sq], crs="EPSG:4326"), "EPSG:4326", "EPSG:3857"
    )
    assert merc.first()["fxmin"] > 1000  # metres, far off the raster
    src = str(tmp_path / "src")
    ta.coalesce(1).write.parquet(src)
    dense_want = {
        crop: {(r["feature_id"], r["tile_row"], r["tile_col"]): r["cov_px"]
               for r in coverage_fraction_raster(a, plain, crop=crop).collect()}
        for crop in (True, False)
    }
    for limit in (zonal.BROADCAST_FEATURE_LIMIT, 0):  # broadcast, cover join
        monkeypatch.setattr(zonal, "BROADCAST_FEATURE_LIMIT", limit)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            got = zonal.exact_extract(a, merc, ["mean"]).collect()[0]["mean"]
            assert got == pytest.approx(5.0, rel=1e-9)
            single = stack._stack_single_pass([a, b], merc, ["mean"])
            assert single is not None
            loop = stack._stack_loop([a, b], merc, ["mean"])
            for df in (single, loop):
                row = df.collect()[0]
                assert row["mean.a"] == pytest.approx(5.0, rel=1e-9)
                assert row["mean.b"] == pytest.approx(10.0, rel=1e-9)
            q = stream_zonal_stats(
                spark, src, merc, ["mean"], meta=meta("a"),
                checkpoint_dir=str(tmp_path / f"ck{limit}"),
                query_name=f"zs_crs{limit}",
            )
            q.awaitTermination(180)
            got = spark.table(f"zs_crs{limit}").collect()[0]["mean"]
            assert got == pytest.approx(5.0, rel=1e-9)
            for crop in (True, False):
                dense = {(r["feature_id"], r["tile_row"], r["tile_col"]): r["cov_px"]
                         for r in coverage_fraction_raster(a, merc, crop=crop).collect()}
                assert set(dense) == set(dense_want[crop])
                for k, cov in dense.items():
                    np.testing.assert_allclose(cov, dense_want[crop][k], atol=1e-9)


def test_hamming_pairs_rejects_out_of_range_max_hamming(spark):
    """A 64-bit hash has no band masks for max_hamming outside 0..63: a
    loud ValueError, not a silently lossy join."""
    from exactextractr_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame([(1, 7), (2, 4)], "doc_id long, simhash long")
    for d in (-1, 64):
        with pytest.raises(ValueError, match="max_hamming"):
            hamming_pairs(df, max_hamming=d)


def test_band_masks_pigeonhole():
    """(d+1)**2 two-level masks while that is at most 64, else the d+1
    bands; and for any set of at most d differing bit positions some mask
    is disjoint from it, so a true pair always shares a key."""
    from exactextractr_spark.operators.dedup import _band_masks

    rng = np.random.default_rng(12)
    for d in range(13):
        masks = _band_masks(d)
        n = d + 1
        assert len(masks) == (n * n if n * n <= 64 else n), d
        assert all(0 < m < 1 << 64 for m in masks), d
        for _ in range(2000):
            flipped = rng.choice(64, size=rng.integers(0, d + 1), replace=False)
            diff = sum(1 << int(p) for p in flipped)
            assert any(m & diff == 0 for m in masks), (d, sorted(flipped))


def test_with_cos_null_zero_norm_semantics(spark):
    """The Arrow cosine scorer must reproduce the JVM fold's non-ANSI
    division semantics on every path and independently of batch
    composition: zero-norm rows -> NULL (x / 0.0), NULL/ragged vector
    rows and vectors with a NULL element -> NULL, normal rows -> finite
    cosine — and a batch mixing all of them must not crash the worker."""
    from exactextractr_spark.operators.similarity import _with_cos

    rows = [
        (1, [1.0, 0.0], [1.0, 0.0]),   # cos 1.0
        (2, [0.0, 0.0], [1.0, 0.0]),   # zero norm -> NULL
        (3, None, [1.0, 0.0]),         # NULL vec -> NULL
        (4, [1.0], [1.0, 0.0]),        # ragged -> NULL
        (5, [3.0, 4.0], [4.0, 3.0]),   # cos 24/25
        (6, [1.0, None], [1.0, 0.0]),  # NULL element -> NULL
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    ).coalesce(1)  # one partition: all rows share Arrow batches
    got = {r["id"]: r["cos_sim"]
           for r in _with_cos(df, "a", "b", ["id"]).collect()}
    assert got[1] == 1.0
    assert got[2] is None
    assert got[3] is None
    assert got[4] is None
    assert got[5] == 24.0 / 25.0
    assert got[6] is None
    # flat path (no null/ragged rows in the batch): zero norm still NULL,
    # and a NULL element sends the batch to the per-row fold (NULL, not NaN)
    df2 = spark.createDataFrame(
        [rows[0], rows[1], rows[4], rows[5]],
        "id long, a array<double>, b array<double>",
    ).coalesce(1)
    got2 = {r["id"]: r["cos_sim"]
            for r in _with_cos(df2, "a", "b", ["id"]).collect()}
    assert got2 == {1: 1.0, 2: None, 5: 24.0 / 25.0, 6: None}


def _walk_plan(node):
    """Every node of a physical plan under ``node`` (itself included),
    AQE wrappers and query stages unwrapped."""
    stack = [node]
    while stack:
        n = stack.pop()
        if n.nodeName() == "AdaptiveSparkPlan":
            stack.append(n.executedPlan())
            continue
        if n.nodeName().endswith("QueryStage"):
            stack.append(n.plan())
            continue
        yield n
        kids = n.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def _pair_dedups(df):
    """The aggregates of ``df``'s plan that group by exactly (id_a, id_b)."""
    def grouping(n):
        g = n.groupingExpressions()
        return {g.apply(i).name() for i in range(g.size())}
    return [n for n in _walk_plan(df._jdf.queryExecution().executedPlan())
            if n.nodeName().endswith("Aggregate") and grouping(n) == {"id_a", "id_b"}]


def _hot_minhash_sigs(spark, n_docs=160, bands=8, rows=4, seed=21):
    """Signatures built band by band from 4 templates: each band keeps its
    template's values with probability 1/2, so every template band bucket
    holds about n_docs/8 ids (hot) and est_jaccard spreads around 0.5."""
    rng = np.random.default_rng(seed)
    tmpl = rng.integers(-(2**63), 2**63, size=(4, bands * rows), dtype=np.int64)
    sigs = []
    for i in range(n_docs):
        s = tmpl[i % 4].copy()
        for b in np.nonzero(rng.random(bands) < 0.5)[0]:
            s[b * rows:(b + 1) * rows] = rng.integers(-(2**63), 2**63, size=rows, dtype=np.int64)
        sigs.append((i, [int(v) for v in s]))
    return spark.createDataFrame(sigs, "doc_id long, sig array<long>")


def test_minhash_lsh_pairs_match_crossjoin_rule(spark):
    """minhash_lsh_pairs is exactly every pair with an equal band
    ``hash(slice)`` in some band and ``est_jaccard >= t``, on hot buckets;
    and its band join keys on the two columns (band, bucket)."""
    from exactextractr_spark.operators.dedup import minhash_lsh_pairs

    bands, rows, t = 8, 4, 0.5
    sigs = _hot_minhash_sigs(spark, bands=bands, rows=rows)
    out = minhash_lsh_pairs(sigs, bands=bands, threshold=t)
    got = {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in out.collect()}
    same_band = F.expr(
        f"exists(sequence(0, {bands - 1}), x -> hash(slice(sa, x*{rows}+1, {rows})) "
        f"= hash(slice(sb, x*{rows}+1, {rows})))"
    )
    cand = (
        sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
        .crossJoin(sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb")))
        .filter((F.col("id_a") < F.col("id_b")) & same_band)
        .collect()
    )
    want = set()
    for r in cand:
        est = sum(x == y for x, y in zip(r["sa"], r["sb"])) / float(bands * rows)
        if est >= t:
            want.add((r["id_a"], r["id_b"], est))
    assert len(cand) > len(want) > 400  # hot buckets, and the filter bites
    assert got == want
    joins = [n for n in _walk_plan(out._jdf.queryExecution().executedPlan())
             if n.nodeName() in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")]
    assert sorted(n.leftKeys().size() for n in joins) == [1, 1, 2]  # 2 sig rejoins


def test_embedding_lsh_dedup_matches_band_rule(spark):
    """embedding_dedup(mode='lsh') is greedy-keep over exactly the pairs
    whose band keys overlap and whose cosine is >= t, on clustered vectors
    whose 4-bit bands make hot buckets."""
    from exactextractr_spark.operators.dedup import embedding_dedup
    from exactextractr_spark.operators.similarity import _scalar_cos_fold, band_key_udf

    dim, bits, bands, t = 8, 16, 4, 0.9
    rng = np.random.default_rng(5)
    cent = rng.normal(size=(10, dim))
    V = np.repeat(cent, 30, axis=0) + 0.35 * rng.normal(size=(300, dim))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(V)], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["near_dups"]
           for r in embedding_dedup(df, t, mode="lsh", dim=dim, bits=bits,
                                    bands=bands).collect()}
    keys = {r["vec_id"]: set(r["k"]) for r in df.select(
        "vec_id", band_key_udf(dim, bits, bands)(F.col("embedding")).alias("k")).collect()}
    pairs = [(i, j) for i in range(300) for j in range(i + 1, 300)
             if keys[i] & keys[j] and _scalar_cos_fold(V[i], V[j]) >= t]
    dropped = {b for _, b in pairs}
    want = {i: sum(a == i for a, _ in pairs) for i in range(300) if i not in dropped}
    assert max(np.unique([k for ks in keys.values() for k in ks],
                         return_counts=True)[1]) >= 30  # hot buckets
    assert 0 < len(dropped) < 290
    assert got == want


def test_embedding_lsh_ships_no_vector_below_pair_dedup(spark):
    """Embedding LSH dedups its candidate pairs on slim (id, key) rows: no
    exchange below the (id_a, id_b) aggregate carries an array column."""
    from exactextractr_spark.operators.dedup import embedding_dedup

    rng = np.random.default_rng(9)
    df = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = embedding_dedup(df, 0.9, mode="lsh", dim=8, bits=16, bands=4)
    exchanges = [n for agg in _pair_dedups(out) for n in _walk_plan(agg)
                 if n.nodeName().endswith("Exchange")]
    assert exchanges
    for n in exchanges:
        attrs = n.output()
        arrays = [attrs.apply(i).name() for i in range(attrs.size())
                  if attrs.apply(i).dataType().typeName() == "array"]
        assert not arrays, (n.nodeName(), arrays)


def test_hamming_prune_sits_below_pair_dedup(spark):
    """hamming_pairs' exact bit_count filter runs in the join's stage (a
    Filter or the join's own condition), below its (id_a, id_b) aggregate,
    so hot-bucket candidates die before the dedup shuffle."""
    from exactextractr_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame([(i, i * 7919) for i in range(20)], "doc_id long, simhash long")
    out = hamming_pairs(df, max_hamming=3)
    plan = out._jdf.queryExecution().executedPlan()

    def prunes(node):
        return {n.id() for n in _walk_plan(node)
                if (n.nodeName() == "Filter" or n.nodeName().endswith("Join"))
                and "bit_count" in n.condition().toString()}

    dedups = _pair_dedups(out)
    assert dedups and prunes(plan)
    assert prunes(plan) <= set().union(*(prunes(a) for a in dedups))
