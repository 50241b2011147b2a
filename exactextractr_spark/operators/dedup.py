"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline operators over the ``documents`` table. Exact dedup
is a pure hash-groupBy (one shuffle, JVM-side). Near-dup pipelines follow
the standard shingle → signature → band-bucket → bucket-join → verify shape,
with deterministic hash families so runs are reproducible.

Kernel design (100-TB shape): all per-document work is vectorized numpy —
token hashing is FNV-1a over the token bytes, folded column-wise across
the whole batch's token matrix (one vectorized pass per token-length
position, so cost is O(max_token_len) numpy ops per batch, not per token);
shingles are combined from token hashes with wraparound uint64 polynomial
rolling (no gram strings are ever materialized), and MinHash/SimHash
reduce the whole Arrow batch at once via ``np.minimum.reduceat`` /
``np.add.reduceat``. The only per-row Python is the bytes.translate
tokenizer.

FNV-1a (public domain, Fowler–Noll–Vo) was chosen over pandas'
SipHash-based ``hash_array`` deliberately: it is expressible in plain
64-bit SQL (DuckDB ``list_reduce`` + HUGEINT modular multiply), which
makes the whole MinHash/SimHash pipeline verifiable bit-exactly by an
independent SQL oracle — the driver's correctness gate — instead of a
rows-only check.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._exec import bounded_collect, rechunk, spread

# C-speed tokenizer: utf-8 encode, one bytes.translate pass lowercases AND
# maps every non-[a-z0-9_] ASCII byte to space, then split. ~2.5x faster
# than re.findall(r"\w+", text.lower()) and token-equivalent for ASCII text
# (utf-8 continuation bytes pass through as token characters). Tokens stay
# as bytes — FNV-1a hashes their raw bytes.
_BTRANS = bytes(
    (ord(" ") if not (chr(c).isalnum() or chr(c) == "_") else
     (c + 32 if 65 <= c <= 90 else c)) if c < 128 else c
    for c in range(256)
)


def _tokenize(text: str) -> "list[bytes]":
    return text.encode("utf-8", "ignore").translate(_BTRANS).split()


# Wraparound-uint64 polynomial base for combining token hashes into shingle
# hashes (odd constant => bijective multiply mod 2^64).
_POLY_P = np.uint64(0x9E3779B97F4A7C15)

# FNV-1a 64-bit constants (Fowler–Noll–Vo, public domain)
_FNV_OFFSET = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)


def _fnv1a_batch(tokens: "list[bytes]") -> np.ndarray:
    """FNV-1a of every byte token, vectorized: fold column j of the ragged
    token matrix for all tokens at least j+1 bytes long in one numpy op.
    Cost is O(max_token_len) vector passes per batch. Empty bytes hash to
    the offset basis, matching the scalar definition."""
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    total = int(lens.sum())
    if total == 0:
        return h
    flat = np.frombuffer(b"".join(tokens), dtype=np.uint8).astype(np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    for j in range(int(lens.max())):
        m = lens > j
        h[m] = (h[m] ^ flat[starts[m] + j]) * _FNV_PRIME
    return h


def exact_dedup(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Keep the lowest id per distinct (normalized) text. Entirely
    JVM-side: sha2 hash + min groupBy — one shuffle, map-side combined."""
    keyed = docs.withColumn("_h", content_key(F.col(text_col), normalize))
    keep = keyed.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return docs.join(keep, on=id_col, how="inner").drop("_h")


def content_key(txt, normalize: bool = True):
    """The shared exact-dedup content key (sha-256 of the
    whitespace-collapsed lowercased text): ONE definition used by batch
    ``exact_dedup`` and ``streaming.dedup_stream`` so the two surfaces can
    never silently diverge."""
    if normalize:
        txt = F.lower(F.regexp_replace(txt, r"\s+", " "))
    return F.sha2(txt, 256)


def _minhash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Multiply-shift family over uint64 with natural wraparound:
    h_i(x) = a_i * x + b_i  (mod 2^64), a_i odd."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 1 << 63, num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 1 << 63, num_hashes, dtype=np.uint64)
    return a, b


def _batch_token_hashes(texts: "pd.Series") -> tuple[np.ndarray, np.ndarray]:
    """Tokenize every doc in the batch, hash ALL tokens with one vectorized
    C call. Returns (hashes: uint64[total_tokens], offsets: int64[docs+1])."""
    tok_lists = [_tokenize(t or "") for t in texts]
    counts = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    offsets = np.zeros(len(tok_lists) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    flat = [tok for toks in tok_lists for tok in toks]
    return _fnv1a_batch(flat), offsets


def _doc_shingle_hashes(h: np.ndarray, k: int) -> np.ndarray:
    """Unique k-shingle hashes for one doc's token-hash vector, via
    wraparound polynomial rolling — no gram strings built."""
    n = h.shape[0]
    if n == 0:
        # tokenless doc: single sentinel gram = FNV-1a of the empty string
        return np.array([_FNV_OFFSET], dtype=np.uint64)
    if n < k:
        k = n
    g = h[: n - k + 1].copy()
    for j in range(1, k):
        g *= _POLY_P
        g += h[j : n - k + 1 + j]
    return np.unique(g)


def _batch_shingle_hashes(
    tok_h: np.ndarray, offs: np.ndarray, k: int
) -> "tuple[np.ndarray, np.ndarray]":
    """Per-doc unique k-shingle hashes for a whole batch at once.

    Returns ``(g_all, starts)``: the concatenation of every doc's
    sorted-unique shingle set in doc order, plus each doc's start offset —
    the shape ``np.minimum.reduceat`` wants. Fast path (every doc has
    >= k tokens): one flat polynomial roll over the batch's token-hash
    vector with boundary-crossing positions masked out, then ONE
    lexsort-dedup across the batch instead of a per-doc ``np.unique``
    loop. Docs shorter than k tokens (reduced k / empty-doc sentinel)
    fall back to the per-doc path for the whole batch — identical sets
    either way (verified bit-exact by the MinHash oracles)."""
    n_docs = offs.shape[0] - 1
    counts = offs[1:] - offs[:-1]
    if n_docs == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    if not (counts >= k).all():
        per_doc = [
            _doc_shingle_hashes(tok_h[offs[i]: offs[i + 1]], k)
            for i in range(n_docs)
        ]
        gram_counts = np.fromiter(
            (g.shape[0] for g in per_doc), dtype=np.int64, count=n_docs
        )
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(gram_counts[:-1], out=starts[1:])
        return np.concatenate(per_doc), starts
    T = tok_h.shape[0]
    r = tok_h[: T - k + 1].copy()
    for j in range(1, k):
        r *= _POLY_P
        r += tok_h[j: T - k + 1 + j]
    # position p is a valid gram start iff p + k - 1 stays inside p's doc
    valid = np.ones(T - k + 1, dtype=bool)
    for e in offs[1:-1]:
        valid[max(0, e - k + 1): e] = False
    g = r[valid]
    ddx = np.repeat(np.arange(n_docs, dtype=np.int64), counts - k + 1)
    order = np.lexsort((g, ddx))
    gs, ds = g[order], ddx[order]
    keep = np.ones(gs.shape[0], dtype=bool)
    keep[1:] = (gs[1:] != gs[:-1]) | (ds[1:] != ds[:-1])
    gu, du = gs[keep], ds[keep]
    gram_counts = np.bincount(du, minlength=n_docs)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(gram_counts[:-1], out=starts[1:])
    return gu, starts


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig:array<long>) MinHash signatures.

    Vectorized per Arrow batch: FNV-1a column-folding hashes every token
    in the batch; shingle hashes are polynomial-rolled from token
    hashes; the (num_hashes × total_shingles) multiply-shift matrix is
    reduced per-doc with ``np.minimum.reduceat``. Signatures are the raw
    64-bit values reinterpreted as int64 (bit-preserving ``view``), since
    downstream only compares positional equality.
    """
    a, b = _minhash_params(num_hashes, seed)

    # bound the (num_hashes x grams) work matrix regardless of the session's
    # Arrow batch size (a user session with the default 10k-row batches and
    # long docs would otherwise allocate multi-GB per task)
    max_cells = 8_000_000

    def _sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in rechunk(batches, 256):
            tok_h, offs = _batch_token_hashes(pdf[text_col])
            g_all, starts = _batch_shingle_hashes(tok_h, offs, shingle_k)
            n_docs = len(pdf)
            ends = np.append(starts[1:], g_all.shape[0])
            sigs: list[np.ndarray] = []
            lo = 0
            while lo < n_docs:
                hi = lo
                while hi < n_docs and (
                    hi == lo
                    or (ends[hi] - starts[lo]) * num_hashes <= max_cells
                ):
                    hi += 1
                gseg = g_all[starts[lo]: ends[hi - 1]]
                seg_starts = starts[lo:hi] - starts[lo]
                # (H, G) wraparound multiply-shift, then min per doc segment
                # (every doc has >= 1 gram — empty docs carry the sentinel —
                # so the reduceat segment starts are strictly increasing)
                m = a[:, None] * gseg[None, :] + b[:, None]
                mins = np.minimum.reduceat(m, seg_starts, axis=1)
                sigs.extend(mins.T.copy().view(np.int64))
                lo = hi
            yield pd.DataFrame({id_col: pdf[id_col], "sig": sigs})

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    return spread(docs.select(id_col, text_col)).mapInPandas(_sig, schema)


def minhash_lsh_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 16,
    threshold: float = 0.7,
    num_hashes: int | None = None,
) -> DataFrame:
    """Band signatures into buckets; ids sharing any band-bucket become
    candidate pairs; estimated Jaccard (signature agreement) filters.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    The band-bucket self-join shuffles only (id, band, bucket) — signatures
    are projected off both sides and re-attached after the candidate pairs
    are deduplicated, so shuffle width is independent of num_hashes.
    ``sigs`` is referenced three times (two band sides + re-attach); callers
    that compute signatures lazily should persist it first (``minhash_dedup``
    does).
    """
    if num_hashes is None:
        num_hashes = sigs.select(F.size("sig").alias("n")).first()["n"]
    rows_per_band = num_hashes // bands
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b as band, hash(slice(sig, b*{rows_per_band}+1, {rows_per_band})) as bucket))"
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band"), F.col("bb.bucket"))
    left = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with(
                    "sig_a", "sig_b", lambda x, y: F.when(x == y, 1.0).otherwise(0.0)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.lit(float(num_hashes)),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return pairs


def minhash_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Drop near-duplicates: any doc with a smaller near-dup partner id is
    removed (single propagation step — the standard large-scale
    approximation of per-cluster canonical selection)."""
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, seed=seed
    ).localCheckpoint(eager=True)  # referenced 4x downstream (band sides +
    # sig re-attach); localCheckpoint computes once and its blocks are
    # released on GC — no CacheManager entry leaked across repeated jobs
    pairs = minhash_lsh_pairs(
        sigs, id_col=id_col, bands=bands, threshold=threshold, num_hashes=num_hashes
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, on=id_col, how="left_anti")


def simhash64(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document (token hashes, sign-summed, multiplicity
    counted). Vectorized: one hash call per batch, bit-unpack as a
    (total_tokens × 64) matrix, per-doc sign sums via ``np.add.reduceat``."""
    bit_idx = np.arange(64, dtype=np.uint64)

    def _sim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # NOT re-chunked: the kernel's (tokens x 64) bit matrices stay
        # cache-resident at the session's small Arrow batches, which
        # measured FASTER than 2048-row chunks (0.9s vs 1.2s at sf1.0)
        for pdf in batches:
            tok_h, offs = _batch_token_hashes(pdf[text_col])
            n_docs = len(pdf)
            if tok_h.shape[0]:
                bits = ((tok_h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
                signed = 2 * bits - 1  # (T, 64)
                # reduceat needs strictly valid starts; empty docs contribute
                # zero rows — handle by summing cumulative prefixes instead.
                csum = np.zeros((tok_h.shape[0] + 1, 64), dtype=np.int64)
                np.cumsum(signed, axis=0, out=csum[1:])
                acc = csum[offs[1:]] - csum[offs[:-1]]  # (docs, 64)
            else:
                acc = np.zeros((n_docs, 64), dtype=np.int64)
            vals = ((acc > 0).astype(np.uint64) << bit_idx[None, :]).sum(
                axis=1, dtype=np.uint64
            ).view(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": vals})

    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("simhash", T.LongType())]
    )
    return spread(docs.select(id_col, text_col)).mapInPandas(_sim, schema)


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join, entirely JVM-side: explode
    token n-grams, self-join on gram, count intersections, derive
    |A∪B| = |A|+|B|−|A∩B|.

    ``max_df`` (document-frequency cap) is the scale contract: grams
    appearing in more than ``max_df`` documents are removed from the
    similarity universe — from BOTH the intersection counts and the per-doc
    set sizes — bounding the pair fan-out at ``max_df²`` rows per gram.
    This is the standard stop-gram/prefix-filter move: the result is the
    exact Jaccard over the df-filtered gram sets (a documented semantic,
    not an approximation of the uncapped join). ``max_df=None`` disables
    the cap (classic exact Jaccard).

    Plan shape (capped path): the hashed (id, gram) table is built once and
    checkpointed; a codegen ``groupBy(gram).count`` (map-side partial, never a
    list build over hot keys) finds the rare grams, which join back to keep
    only the df-capped rows — typically a tiny fraction of the corpus.
    Candidate pairs are then generated JVM-side from each rare gram's
    (sorted) id list with a higher-order pair expansion — no gram
    self-join, and no ``collect_list`` ever sees a stop-gram's unbounded
    id list (ObjectHashAggregate falls back to sort-based aggregation
    past 128 keys, which measured 6-9 s on the hot-key gram table where
    the count aggregate takes well under 1 s). Grams ride as xxhash64
    keys of the token-slice ARRAY, so no gram strings are materialized
    and the shuffle moves 8-byte longs (Jaccard counts only need gram
    identity; a 64-bit collision among ~2^21 distinct grams has
    probability ~1e-7 — the same accepted trade as the banded MinHash
    bucket hash)."""
    # the tokenize + gram-build + explode map phase must not inherit a
    # single-file scan's 1-partition layout (a 30 MB corpus file is one
    # split at the session's 32 MB maxPartitionBytes): one cheap shuffle of
    # the slim (id, text) projection buys full-core gram building
    docs = spread(docs.select(id_col, text_col))
    toks = F.split(F.lower(F.regexp_replace(F.col(text_col), r"[^\w\s]", "")), r"\s+")
    gram_strs = F.expr(
        f"filter(array_distinct(transform(sequence(0, greatest(size(_toks) - {n}, 0)), "
        f"i -> concat_ws(' ', slice(_toks, i+1, {n})))), g -> length(g) > 0)"
    )
    if max_df is None:
        # uncapped classic exact Jaccard: a hot gram's id list is unbounded,
        # so pair expansion must stream through a self-join rather than
        # materialize per-gram pair arrays
        grams = (
            docs.withColumn("_toks", toks)
            .select(F.col(id_col).alias("id"), F.explode(gram_strs).alias("gram"))
        )
        grams = grams.localCheckpoint(eager=True)
        sizes = grams.groupBy("id").agg(F.count("*").alias("sz"))
        inter = (
            grams.alias("a")
            .join(grams.alias("b"), on="gram")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
        return (
            inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # gram identity = identity of the token slice (tokens are \s+-split so
    # they contain no spaces, making ' '-join injective): hash the slice
    # array directly — no gram strings are ever built. The empty-gram
    # filter mirrors length(concat_ws(' ', g)) > 0.
    gram_arr = F.expr(
        f"transform(filter(transform(sequence(0, greatest(size(_toks) - {n}, 0)), "
        f"i -> slice(_toks, i+1, {n})), "
        "g -> size(g) > 1 or g[0] <> ''), g -> xxhash64(g))"
    )
    grams = (
        docs.withColumn("_toks", toks)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(gram_arr)).alias("g"),
        )
    )
    # built once, consumed by the df count and the rare-gram join; the
    # checkpoint's blocks are released on GC (no CacheManager entry)
    grams = grams.localCheckpoint(eager=True)
    rare = (
        grams.groupBy("g")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("g")
    )
    kept = grams.join(rare, on="g", how="inner")
    bygram = (
        kept.groupBy("g")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .select("ids")
    ).localCheckpoint(eager=True)
    sizes = (
        bygram.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("sz"))
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x as id_a, y as id_b))))"
    )
    inter = (
        bygram.filter(F.size("ids") > 1)
        .select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def hamming_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    bands: "int | None" = None,
) -> DataFrame:
    """All pairs of rows whose 64-bit ``hash_col`` values differ in at most
    ``max_hamming`` bits, via a banded equi-join: the hash is split into
    ``bands`` contiguous bit bands and candidates are pairs sharing at least
    one exact band. With ``bands > max_hamming`` (the default, d+1) this is
    EXACT by pigeonhole — d differing bits can corrupt at most d bands — so
    unlike MinHash-LSH there is no recall loss. The join shuffles only
    (id, band_idx, band_val) triples, never hash payload pairs; the exact
    ``bit_count(xor)`` filter is JVM-side. Returns (id_a, id_b, hamming)
    with id_a < id_b.

    When ``bands`` is left at the default, candidates come from TWO-LEVEL
    banding: for each primary band, the 64-w complementary bits are split
    into another d+1 sub-bands, and the bucket key is (band, band_val,
    sub_band, sub_val). Still exact by a double pigeonhole — some primary
    band has 0 of the ≤d differing bits, and the complement (which then
    holds all ≤d of them) has some sub-band with 0 — while hot primary
    buckets of near-miss hashes split ~2^12 ways: measured 49.4M → 10.4M
    candidate join rows on the sf1.0 simhash table for (d+1)² keys per
    row instead of d+1. The quadratic key fan-out caps itself: past
    (d+1)² > 64 keys per row (d > 7) the explode cost outgrows the
    bucket-splitting win and the default reverts to one-level. An
    explicit ``bands`` always keeps the classic one-level scheme (callers
    pinning band structure get exactly that)."""
    two_level = bands is None and (max_hamming + 1) ** 2 <= 64
    if bands is None:
        bands = max_hamming + 1
    if bands < 1 or bands > 64:
        raise ValueError("bands must be in 1..64")
    if bands <= max_hamming:
        # d differing bits can corrupt up to d bands: with bands <= d a
        # true pair can miss every band bucket, silently breaking the
        # pigeonhole-exactness (recall 1.0) this function advertises
        raise ValueError(
            f"bands={bands} <= max_hamming={max_hamming} breaks the "
            "pigeonhole guarantee; use bands >= max_hamming + 1"
        )
    h = F.col(hash_col).cast("long")
    keys = []
    for b in range(bands):
        s = 64 * b // bands
        w = 64 * (b + 1) // bands - s
        # arithmetic-vs-logical shift agree on the masked low w bits;
        # w == 64 (bands == 1) is the whole hash — no mask fits a long
        if w == 64:
            val = h
        else:
            val = F.shiftrightunsigned(h, s).bitwiseAND(F.lit((1 << w) - 1))
        cw = 64 - w  # complementary bits outside [s, s+w)
        if not two_level or cw == 0:
            keys.append(
                F.struct(
                    F.lit(b).alias("bi"), val.alias("bv"),
                    F.lit(0).alias("sbi"), F.lit(0).cast("long").alias("sbv"),
                )
            )
            continue
        # complement value: bits below s, then bits above s+w. Java shift
        # counts are taken mod 64, so the s+w == 64 (last band) case must
        # not emit shiftrightunsigned(h, 64) — that would mix the band's
        # own bits into the complement and silently break recall.
        low = h.bitwiseAND(F.lit((1 << s) - 1)) if s else F.lit(0).cast("long")
        if s + w >= 64:
            comp = low
        else:
            comp = low.bitwiseOR(
                F.shiftleft(F.shiftrightunsigned(h, s + w), s)
            )
        for sb in range(bands):
            ss = cw * sb // bands
            sw = cw * (sb + 1) // bands - ss
            sv = F.shiftrightunsigned(comp, ss).bitwiseAND(
                F.lit((1 << sw) - 1)
            )
            keys.append(
                F.struct(
                    F.lit(b).alias("bi"), val.alias("bv"),
                    F.lit(sb).alias("sbi"), sv.alias("sbv"),
                )
            )
    ex = df.select(
        F.col(id_col).alias("_id"), h.alias("_h"), F.explode(F.array(*keys)).alias("k")
    )
    a = ex.select(F.col("_id").alias("id_a"), F.col("_h").alias("_ha"), "k")
    b2 = ex.select(F.col("_id").alias("id_b"), F.col("_h").alias("_hb"), "k")
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    # the exact hamming filter runs BEFORE dropDuplicates: it is a cheap
    # codegen predicate in the join's own stage, so the hot-bucket candidate
    # fan-out (measured 49M join rows -> 27k true pairs at sf1.0) dies in
    # place instead of being shuffled into the distinct
    return (
        a.join(b2, on="k")
        .filter((F.col("id_a") < F.col("id_b")) & (ham <= max_hamming))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
    )


def hamming_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    bands: "int | None" = None,
) -> DataFrame:
    """Greedy-by-id near-duplicate dedup on a 64-bit hash column (SimHash
    for documents, perceptual hash for images): a row is dropped when any
    smaller-id row is within ``max_hamming`` bits; survivors carry
    ``near_dups`` = their count of dropped larger-id neighbors. Same keep
    rule as :func:`embedding_dedup`, and — because the banded candidate
    join is pigeonhole-exact — fully deterministic and SQL-expressible."""
    # the hash frame feeds both the candidate join and the survivor
    # anti-join; when it ends in a Python signature stage (simhash64),
    # checkpointing computes that stage ONCE instead of per consumer.
    # Bounded: 16 bytes/row regardless of document size.
    df = df.select(id_col, hash_col).localCheckpoint(eager=True)
    pairs = hamming_pairs(
        df, id_col=id_col, hash_col=hash_col, max_hamming=max_hamming, bands=bands
    )
    return _greedy_keep(df, pairs, id_col)


def _greedy_keep(items: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Greedy-by-id survivor selection from an (id_a < id_b) near-dup pair
    stream: a row is dropped iff it ever appears as ``id_b``; survivors
    carry ``near_dups`` = their count of ``id_a`` appearances.

    Drop set and neighbor counts come from ONE aggregation over the pair
    stream (``min(as_a)==0`` ⇔ ever an id_b), so ``pairs`` is consumed
    exactly once — no checkpoint or second shuffle of the pair set, which
    at corpus scale means the expensive candidate join materializes once."""
    agg = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias(id_col), F.lit(1).alias("as_a")),
                    F.struct(F.col("id_b").alias(id_col), F.lit(0).alias("as_a")),
                )
            ).alias("r")
        )
        .select("r.*")
        .groupBy(id_col)
        .agg(F.sum("as_a").alias("_na"), F.min("as_a").alias("_survives"))
    )
    return (
        items.select(id_col)
        .join(agg, on=id_col, how="left")
        .filter(F.coalesce(F.col("_survives"), F.lit(1)) == 1)
        .select(
            id_col,
            F.coalesce(F.col("_na"), F.lit(0)).cast("long").alias("near_dups"),
        )
    )


def image_phash_dedup(
    images: DataFrame,
    *,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    bands: "int | None" = None,
) -> DataFrame:
    """Perceptual-hash image dedup: reuse the table's ``phash`` column when
    present (the tile table carries one, sources/tiles.py), otherwise
    decode + hash via :func:`multimodal.image_features`; then the exact
    banded hamming dedup. The decode (when needed) is the only Python
    stage; the dedup itself never leaves the JVM."""
    if phash_col not in images.columns:
        from .multimodal import image_features

        images = image_features(images).select(id_col, F.col("phash").alias(phash_col))
    return hamming_dedup(
        images.select(id_col, phash_col),
        id_col=id_col,
        hash_col=phash_col,
        max_hamming=max_hamming,
        bands=bands,
    )


def embedding_dedup(
    items: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "exact",
    dim: int | None = None,
    bits: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup (greedy-by-id): an item is
    DROPPED when any smaller-id item has cosine similarity >= ``threshold``
    with it; kept items carry ``near_dups`` = their count of larger-id
    neighbors above the threshold. The rule is order-free and exactly
    SQL-expressible, so the exact mode is DuckDB-oracle-checkable.

    ``mode='exact'`` broadcasts the (bounded) normalized vector matrix and
    scores each Arrow batch against it with ONE numpy matmul — O(N²/P)
    FLOPs distributed over executors, no pair rows ever shuffled; it
    refuses above 200k vectors (all-pairs is the correctness baseline,
    not the scale path — a 2M-pair JVM fold costs ~60s where the matmul
    costs milliseconds). ``mode='lsh'`` is the 100-TB path: candidate
    pairs come from the shared random-hyperplane band buckets
    (``similarity.band_key_udf``), then the exact JVM cosine filter + keep
    rule run on the candidates only — the join is an equi-join on the band
    key, never all-pairs; recall < 1 by construction (raise ``bands``).
    """
    from .similarity import _vectors, _with_cos, band_key_udf

    if mode == "exact":
        # no sort: nothing downstream depends on driver-side row order
        tbl = bounded_collect(items.select(id_col, vec_col), 200_000)
        if tbl is None:
            raise ValueError(
                "embedding_dedup(mode='exact') is the bounded all-pairs "
                "baseline; use mode='lsh' above 200k vectors"
            )
        ids_all = tbl.column(id_col).to_numpy().astype(np.int64)
        M = _vectors(tbl.column(vec_col), vec_col)
        nrm = np.linalg.norm(M, axis=1)
        M = M / np.where(nrm == 0.0, 1.0, nrm)[:, None]
        bc = items.sparkSession.sparkContext.broadcast((ids_all, M))
        pair_schema = T.StructType(
            [
                T.StructField("id_a", T.LongType()),
                T.StructField("id_b", T.LongType()),
            ]
        )

        def _pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids_b, Mb = bc.value
            # chunk so the (rows x N) score matrix stays ~32 MB per task
            # regardless of corpus size (at the 200k bound a 2048-row
            # chunk would be a 3.2 GB allocation)
            rows_per = max(16, 4_000_000 // max(1, len(ids_b)))
            for pdf in rechunk(batches, rows_per):
                B = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                n = np.linalg.norm(B, axis=1)
                B /= np.where(n == 0.0, 1.0, n)[:, None]
                bid = pdf[id_col].to_numpy().astype(np.int64)
                S = B @ Mb.T
                ii, jj = np.nonzero(S >= threshold)
                keep = bid[ii] < ids_b[jj]
                yield pd.DataFrame(
                    {"id_a": bid[ii][keep], "id_b": ids_b[jj][keep]}
                )

        # the matmul stage must not inherit a single-file scan's
        # 1-partition layout (the whole O(N^2/P) work would run on 1 core)
        pairs = spread(items.select(id_col, vec_col)).mapInPandas(
            _pairs, pair_schema
        )
    elif mode == "lsh":
        if dim is None:
            raise ValueError("mode='lsh' requires dim=")
        a = items.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        b = items.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        band_keys = band_key_udf(dim, bits, bands, seed)
        ak = a.withColumn("bkey", F.explode(band_keys(F.col("_va"))))
        bk = b.withColumn("bkey", F.explode(band_keys(F.col("_vb"))))
        cand = (
            ak.join(bk, on="bkey")
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = _with_cos(
            cand.select("id_a", "id_b", "_va", "_vb"), "_va", "_vb",
            ["id_a", "id_b"],
        ).filter(F.col("cos_sim") >= F.lit(threshold)).select("id_a", "id_b")
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return _greedy_keep(items, pairs, id_col)
