"""Seeded input generators for the benchmark workloads.

``--seed`` is the only source of randomness: every generator draws from
``numpy.random.default_rng([seed, stream])``. Inputs are written as parquet
with pyarrow (no Spark session is involved, so generation never overlaps a
timed or set-up region) into ``<checkout>/.perfbench/data/<key>/``, one
directory per (workload, seed, scale). A ``manifest.json`` written last lists
every file with its byte size; an entry whose files do not match its manifest
is regenerated.

Each generator also writes the expected values the per-pass checks compare
against (ring areas, class sets, planted near-duplicate clusters and the
exact survivor sets). These come from the generated data alone, never from
the engine.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import struct
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from exactextractr_spark.core.png import encode_tile, phash64
from exactextractr_spark.sources.tiles import RasterMeta

GEN_VERSION = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(WORK, "data")
#: cached entries kept per workload; older ones are deleted
KEEP_PER_WORKLOAD = 2


@dataclass(frozen=True)
class Sizes:
    headline_n: int  # square raster side, cells
    cat_n: int
    cat_parcels: int
    dedup_rows: int  # rows before planted copies are added
    files: int  # parquet files per table


SCALES = {
    "full": Sizes(8192, 2048, 1500, 5000, 8),
    "tiny": Sizes(1024, 1024, 300, 3000, 4),
}

TILE = 256
VALUE_RANGE = (0.0, 1000.0)
N_CLASSES = 16
CLASS_BLOCK = 32  # categorical raster: one class per 32x32-cell block
HAMMING_D = 3
MINHASH = dict(num_hashes=64, bands=16, threshold=0.6, shingle_k=3)
#: rows whose best smaller-id partner has exact Jaccard below
#: ``threshold - MINHASH_MARGIN`` must survive MinHash dedup
MINHASH_MARGIN = 0.15
#: fraction of planted MinHash copies that must be dropped
MINHASH_RECALL_FLOOR = 0.97
#: caption slot vocabulary; with the template words every word id fits in
#: 13 bits, which the shingle keys rely on
VOCAB = 6000


# ---------------------------------------------------------------------------
# input contract (the engine's own PNG tile encoding and captions; WKB rings)
# ---------------------------------------------------------------------------

def raster_meta(layer: str, n: int) -> RasterMeta:
    """Layout of an n x n raster of unit cells with its origin at (0, n)."""
    return RasterMeta(layer, xmin=0.0, ymax=float(n), dx=1.0, dy=1.0, width=n, height=n,
                      tile_w=TILE, tile_h=TILE)


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian WKB of a single-ring polygon (ring closed here)."""
    ring = np.vstack([ring, ring[:1]]).astype("<f8")
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.tobytes()


def shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


# ---------------------------------------------------------------------------
# tile tables
# ---------------------------------------------------------------------------

def _headline_tile(args) -> tuple:
    seed, n, tr, tc = args
    px = np.random.default_rng([seed, 1, tr, tc]).uniform(*VALUE_RANGE, (TILE, TILE))
    return _tile_row("headline", n, tr, tc, px)


def categorical_classes(seed: int, n: int) -> np.ndarray:
    """Class of each CLASS_BLOCK² block: spatial patches of 1..N_CLASSES,
    made by upsampling a coarse random field 4x so neighbouring blocks
    mostly share a class."""
    rng = np.random.default_rng([seed, 2])
    nb = n // CLASS_BLOCK
    coarse = rng.integers(1, N_CLASSES + 1, (nb // 4 + 1, nb // 4 + 1))
    cls = np.repeat(np.repeat(coarse, 4, 0), 4, 1)[:nb, :nb]
    flip = rng.random((nb, nb)) < 0.2
    cls[flip] = rng.integers(1, N_CLASSES + 1, int(flip.sum()))
    return cls


def _categorical_tile(args) -> tuple:
    seed, n, tr, tc = args
    cls = categorical_classes(seed, n)
    k = TILE // CLASS_BLOCK
    blk = cls[tr * k:(tr + 1) * k, tc * k:(tc + 1) * k].astype(np.float64)
    px = np.repeat(np.repeat(blk, CLASS_BLOCK, 0), CLASS_BLOCK, 1)
    return _tile_row("classes", n, tr, tc, px)


def _tile_row(layer: str, n: int, tr: int, tc: int, px: np.ndarray) -> tuple:
    return (
        f"{layer}/{tr}/{tc}", encode_tile(px), TILE, TILE, "png",
        raster_meta(layer, n).caption(tr, tc), phash64(px),
    )


TILE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("image_id", pa.string(), False),
        pa.field("bytes", pa.binary(), False),
        pa.field("w", pa.int32(), False),
        pa.field("h", pa.int32(), False),
        pa.field("fmt", pa.string(), False),
        pa.field("caption", pa.string(), False),
        pa.field("phash", pa.int64(), False),
    ]
)

FEATURE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("feature_id", pa.int64(), False),
        pa.field("geom", pa.binary(), False),
        pa.field("fxmin", pa.float64()),
        pa.field("fymin", pa.float64()),
        pa.field("fxmax", pa.float64()),
        pa.field("fymax", pa.float64()),
    ]
)


def _write_tiles(out: str, fn, seed: int, n: int, files: int) -> None:
    """Encode every tile of an n x n raster with ``fn`` and write them, in
    tile order, over ``files`` parquet files. Threads suffice: zlib, the
    parquet writer and most numpy work release the GIL."""
    nt = n // TILE
    jobs = [(seed, n, tr, tc) for tr in range(nt) for tc in range(nt)]
    os.makedirs(os.path.join(out, "tiles"))

    def write(f: int) -> None:
        cols = list(zip(*rows[f * per:(f + 1) * per]))
        pq.write_table(
            pa.Table.from_arrays([pa.array(c, t.type) for c, t in zip(cols, TILE_ARROW_SCHEMA)],
                                 schema=TILE_ARROW_SCHEMA),
            os.path.join(out, "tiles", f"part-{f:03d}.parquet"),
        )

    with ThreadPoolExecutor(max(1, min(4, os.cpu_count() or 1))) as pool:
        rows = list(pool.map(fn, jobs))
        per = math.ceil(len(rows) / files)
        list(pool.map(write, range(files)))


def _write_features(out: str, rings: list[np.ndarray]) -> None:
    wkb = [polygon_wkb(r) for r in rings]
    lo = np.array([r.min(axis=0) for r in rings])
    hi = np.array([r.max(axis=0) for r in rings])
    os.makedirs(os.path.join(out, "features"))
    pq.write_table(
        pa.table(
            {
                "feature_id": pa.array(np.arange(1, len(rings) + 1), pa.int64()),
                "geom": pa.array(wkb, pa.binary()),
                "fxmin": lo[:, 0], "fymin": lo[:, 1],
                "fxmax": hi[:, 0], "fymax": hi[:, 1],
            },
            schema=FEATURE_ARROW_SCHEMA,
        ),
        os.path.join(out, "features", "part-000.parquet"),
    )


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

#: the headline shape the zonal_headline inputs are scaled from: a 16384²
#: raster (4,096 tiles) with 127 small polygons
HEADLINE_SHAPE = (16384, 127)


def headline_polys(n: int) -> int:
    """Small polygons on an n x n raster: the headline shape's count per
    tile. Their radii stay in cells, so each touches as many 256² tiles as
    in the full shape, and the mega-polygon scales with the raster."""
    full_n, full_polys = HEADLINE_SHAPE
    return max(2, round(full_polys * (n / full_n) ** 2))


def headline_rings(seed: int, n: int) -> list[np.ndarray]:
    """Jittered 65-vertex polygons of radius 20-140 cells, then one
    mega-polygon over ~25% of the raster, all inside the raster."""
    rng = np.random.default_rng([seed, 0])
    k = headline_polys(n)
    rings = []
    theta = np.linspace(0, 2 * math.pi, 65)[:-1]
    # radii stratified over [20, 140) so every seed carries about the same
    # polygon area; only positions and jitter differ
    radii = 20 + 120 * (rng.permutation(k) + rng.uniform(0, 1, k)) / k
    for i, r in enumerate(radii):
        cx, cy = rng.uniform(170, n - 170, 2)
        rr = r * (1 + 0.15 * np.sin(5 * theta + i)) * rng.uniform(0.95, 1.05, theta.size)
        rings.append(np.column_stack([cx + rr * np.cos(theta), cy + rr * np.sin(theta)]))
    t2 = np.linspace(0, 2 * math.pi, 513)[:-1]
    rr = n / 2 * 0.56 * (1 + 0.08 * np.sin(9 * t2 + rng.uniform(0, 2 * math.pi)))
    rings.append(np.column_stack([n / 2 + rr * np.cos(t2), n / 2 + rr * np.sin(t2)]))
    return rings


def gen_zonal_headline(out: str, seed: int, sz: Sizes) -> dict:
    """The headline shape, scaled to ``sz.headline_n``: uniform float
    raster, :func:`headline_rings`. Every ring lies inside the raster, so
    each feature's ``count`` is its ring area."""
    n = sz.headline_n
    rings = headline_rings(seed, n)
    _write_tiles(out, _headline_tile, seed, n, sz.files)
    _write_features(out, rings)
    np.save(os.path.join(out, "areas.npy"), np.array([shoelace(r) for r in rings]))
    return {"n": n, "tiles": (n // TILE) ** 2, "features": len(rings)}


def gen_zonal_categorical(out: str, seed: int, sz: Sizes) -> dict:
    """Patchy 16-class raster and many small star-shaped parcels (8-20
    vertices, 4-24 cells across) scattered so that many cross tile edges.
    Records each parcel's area and, for parcels inside one class block, that
    class."""
    n = sz.cat_n
    rng = np.random.default_rng([seed, 3])
    cls = categorical_classes(seed, n)
    rings, single = [], []
    for _ in range(sz.cat_parcels):
        k = int(rng.integers(8, 21))
        # jittered even spacing keeps every angular gap below pi, so the
        # ring is star-shaped around its centre and simple
        theta = (np.arange(k) + rng.uniform(0, 0.8, k)) * (2 * math.pi / k) + rng.uniform(0, 2 * math.pi)
        r = rng.uniform(2, 12)
        rr = r * rng.uniform(0.6, 1.0, k)
        cx, cy = rng.uniform(14, n - 14, 2)
        ring = np.column_stack([cx + rr * np.cos(theta), cy + rr * np.sin(theta)])
        rings.append(ring)
        # class blocks touched by the bbox (rows count down from y = n)
        c0, c1 = (np.floor(ring[:, 0].min() / CLASS_BLOCK), np.floor(ring[:, 0].max() / CLASS_BLOCK))
        r0, r1 = (np.floor((n - ring[:, 1].max()) / CLASS_BLOCK), np.floor((n - ring[:, 1].min()) / CLASS_BLOCK))
        touched = cls[int(r0):int(r1) + 1, int(c0):int(c1) + 1]
        single.append(int(touched.flat[0]) if (touched == touched.flat[0]).all() else 0)
    _write_tiles(out, _categorical_tile, seed, n, sz.files)
    _write_features(out, rings)
    np.save(os.path.join(out, "areas.npy"), np.array([shoelace(r) for r in rings]))
    np.save(os.path.join(out, "single_class.npy"), np.array(single, dtype=np.int64))
    return {"n": n, "tiles": (n // TILE) ** 2, "features": len(rings)}


# caption vocabulary: template words are fixed, slot words come from a
# large random vocabulary, so two unrelated captions share almost no
# 3-shingle while their SimHash values lean on the shared template words
_TEMPLATES = [
    "photo of {} {} with {} {} near {} {} {} at {} {} {} in {} {} by {} {} {} and {} {} {} for {} {}",
    "aerial {} {} view and {} {} over {} {} {} during {} {} {} past {} {} {} with {} {} or {} {} {}",
    "a {} {} beside {} {} the {} {} {} under {} {} {} sky {} {} {} near {} {} {} of {} {}",
    "satellite tile {} {} showing {} {} from {} {} {} on {} {} {} map {} {} {} to {} {} {} at {} {}",
]


def _words(rng: np.random.Generator, size: int) -> tuple[list[str], list[np.ndarray]]:
    """Word list (template words first, then ``size`` random slot words)
    and, per template, its token positions as word ids (-1 = slot)."""
    fixed = sorted({w for t in _TEMPLATES for w in t.split() if w != "{}"})
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = set()
    while len(vocab) < size:
        w = "".join(rng.choice(letters, int(rng.integers(4, 10))))
        if w not in fixed:
            vocab.add(w)
    words = fixed + sorted(vocab)
    pos = {w: i for i, w in enumerate(fixed)}
    layouts = [np.array([pos.get(w, -1) for w in t.split()]) for t in _TEMPLATES]
    return words, layouts


def gen_near_dup_dedup(out: str, seed: int, sz: Sizes) -> dict:
    """(image_id, phash, caption) rows with planted near-duplicate clusters.

    A cluster is an original row plus 1-3 copies; a copy's phash differs in
    1-3 bits and its caption has one slot word replaced. Within a cluster
    the original holds the smallest id, so greedy-by-id dedup keeps exactly
    the originals. Also records the exact greedy survivors for phash and for
    the captions' 64-bit SimHash, and for MinHash the planted copies and the
    rows no smaller-id row resembles."""
    rng = np.random.default_rng([seed, 4])
    base = sz.dedup_rows
    n_clusters = base // 20
    words, layouts = _words(rng, VOCAB)
    n_fixed = len(words) - VOCAB
    tmpl = rng.integers(0, len(_TEMPLATES), base)
    origin = rng.choice(base, n_clusters, replace=False)
    n_copies = rng.integers(1, 4, n_clusters)
    src = np.repeat(origin, n_copies)
    total = base + src.size
    # token word ids per row, one matrix per template
    tokens: list = [None] * total
    for t, lay in enumerate(layouts):
        rows = np.flatnonzero(tmpl == t)
        m = np.tile(lay, (rows.size, 1))
        slot = lay < 0
        m[:, slot] = rng.integers(n_fixed, len(words), (rows.size, int(slot.sum())))
        for r, toks in zip(rows, m):
            tokens[r] = toks
    phash = rng.integers(-(1 << 63), (1 << 63) - 1, total, dtype=np.int64, endpoint=True)
    for i, s in enumerate(src):
        toks = tokens[s].copy()
        slot_pos = np.flatnonzero(layouts[tmpl[s]] < 0)
        j = int(rng.choice(slot_pos))
        toks[j] = n_fixed + (toks[j] - n_fixed + 1 + int(rng.integers(0, VOCAB - 1))) % VOCAB
        tokens[base + i] = toks
        flip = rng.choice(64, int(rng.integers(1, HAMMING_D + 1)), replace=False)
        mask = int(sum(1 << int(b) for b in flip))
        phash[base + i] = phash[s] ^ np.int64(mask - (1 << 64) if mask >= 1 << 63 else mask)
    # ids: a random permutation, then each cluster's smallest id moved to
    # its original so the original is the greedy keeper
    ids = rng.permutation(total).astype(np.int64)
    cstart = np.concatenate([[0], np.cumsum(n_copies)])
    for c, o in enumerate(origin):
        m = np.concatenate([[o], base + np.arange(cstart[c], cstart[c + 1])])
        lo = m[np.argmin(ids[m])]
        ids[o], ids[lo] = ids[lo], ids[o]
    order = np.argsort(ids)
    ids, phash = ids[order], phash[order]
    tokens = [tokens[i] for i in order]
    wa = np.array(words, dtype=object)
    captions = [" ".join(wa[t]) for t in tokens]
    table = pa.table(
        {
            "image_id": pa.array([f"img/{i:07d}" for i in ids], pa.string()),
            "phash": pa.array(phash, pa.int64()),
            "caption": pa.array(captions, pa.string()),
            "doc_id": pa.array(ids, pa.int64()),
        }
    )
    os.makedirs(os.path.join(out, "rows"))
    per = math.ceil(total / sz.files)
    for f in range(sz.files):
        pq.write_table(table.slice(f * per, per), os.path.join(out, "rows", f"part-{f:03d}.parquet"))
    sim = simhash64_ref(words, tokens)
    pairs = {}
    for op, h in (("phash", phash), ("simhash", sim)):
        pp = hamming_pairs_ref(h, HAMMING_D)
        pairs[op] = len(pp)
        np.save(os.path.join(out, f"{op}_keep.npy"), greedy_survivors(ids, pp))
    np.save(os.path.join(out, "planted_copies.npy"), ids[order >= base])
    must_keep, pairs["minhash"] = minhash_oracle(
        ids, tokens, MINHASH["threshold"] - MINHASH_MARGIN, MINHASH["threshold"], MINHASH["shingle_k"])
    np.save(os.path.join(out, "minhash_must_keep.npy"), must_keep)
    return {"rows": total, "clusters": n_clusters, "copies": int(src.size), "pairs": pairs}


# ---------------------------------------------------------------------------
# independent oracles
# ---------------------------------------------------------------------------

def fnv1a64(word: str) -> int:
    h = 0xCBF29CE484222325
    for b in word.encode():
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash64_ref(words: list[str], tokens: list[np.ndarray]) -> np.ndarray:
    """64-bit SimHash of each token sequence: bit b is set when more of its
    tokens' FNV-1a hashes have bit b set than clear (with multiplicity)."""
    wh = np.array([fnv1a64(w) for w in words], dtype=np.uint64)
    signs = (((wh[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int16) * 2 - 1)
    out = np.empty(len(tokens), dtype=np.uint64)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    by_len: dict = {}
    for i, t in enumerate(tokens):
        by_len.setdefault(t.size, []).append(i)
    for rows in by_len.values():
        rows = np.array(rows)
        for lo in range(0, rows.size, 8192):
            r = rows[lo:lo + 8192]
            acc = signs[np.stack([tokens[i] for i in r])].sum(axis=1, dtype=np.int32)
            out[r] = ((acc > 0).astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return out.view(np.int64)


def _group_pairs(keys: np.ndarray, chunk: int = 1 << 22):
    """Yield index pairs (i, j), as two arrays, of all unordered pairs of
    rows with equal ``keys``, about ``chunk`` pairs at a time."""
    order = np.argsort(keys, kind="stable")
    ks = keys[order]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    sizes = np.diff(np.r_[starts, ks.size])
    for s in np.unique(sizes[sizes > 1]):
        a, b = np.triu_indices(s, 1)
        gs = starts[sizes == s]
        step = max(1, chunk // a.size)
        for lo in range(0, gs.size, step):
            grp = order[gs[lo:lo + step, None] + np.arange(s)]
            yield grp[:, a].ravel(), grp[:, b].ravel()


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def hamming_pairs_ref(h: np.ndarray, d: int) -> np.ndarray:
    """All index pairs (i < j) of 64-bit values within ``d`` bits, found by
    pigeonhole on d+1 bit bands and verified exactly. Returns (k, 2)."""
    hu = h.view(np.uint64)
    out = [np.empty((0, 2), np.int64)]
    for b in range(d + 1):
        s, e = 64 * b // (d + 1), 64 * (b + 1) // (d + 1)
        for i, j in _group_pairs((hu >> np.uint64(s)) & np.uint64((1 << (e - s)) - 1)):
            x = (hu[i] ^ hu[j]).view(np.uint8).reshape(-1, 8)
            ok = _POP8[x].sum(axis=1) <= d
            out.append(np.column_stack([np.minimum(i, j)[ok], np.maximum(i, j)[ok]]))
    return np.unique(np.vstack(out), axis=0)


def greedy_survivors(ids: np.ndarray, pairs: np.ndarray) -> np.ndarray:
    """Sorted ids of rows that are not the larger-id side of any pair."""
    drop = np.zeros(ids.size, bool)
    if len(pairs):
        a, b = ids[pairs[:, 0]], ids[pairs[:, 1]]
        drop[np.where(a > b, pairs[:, 0], pairs[:, 1])] = True
    return np.sort(ids[~drop])


def minhash_oracle(ids: np.ndarray, tokens: list[np.ndarray], jmin: float, thr: float,
                   k: int) -> tuple[np.ndarray, int]:
    """Sorted ids of rows whose exact k-shingle Jaccard with every
    smaller-id row is below ``jmin`` (MinHash dedup must not drop them),
    and the number of row pairs with Jaccard >= ``thr``. Only rows sharing
    a shingle can have a non-zero Jaccard, so partners come from grouping
    rows by shingle."""
    row, key = [], []
    for r, t in enumerate(tokens):
        m = t.size - k + 1
        g = np.unique(sum(t[j:j + m].astype(np.int64) << (13 * (k - 1 - j)) for j in range(k)))
        row.append(np.full(g.size, r))
        key.append(g)
    row, key = np.concatenate(row), np.concatenate(key)
    size = np.bincount(row, minlength=len(tokens))
    n = len(tokens)
    pk = [np.minimum(row[i], row[j]) * n + np.maximum(row[i], row[j]) for i, j in _group_pairs(key)]
    pair, inter = np.unique(np.concatenate(pk + [np.empty(0, np.int64)]), return_counts=True)
    a, b = pair // n, pair % n
    jac = inter / (size[a] + size[b] - inter)
    close = jac >= jmin
    later = np.where(ids[a] > ids[b], a, b)[close]
    keep = np.ones(n, bool)
    keep[later] = False
    return np.sort(ids[keep]), int((jac >= thr).sum())


GENERATORS = {
    "zonal_headline": gen_zonal_headline,
    "zonal_categorical": gen_zonal_categorical,
    "near_dup_dedup": gen_near_dup_dedup,
}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def _listing(d: str) -> dict:
    files = {}
    for base, _, names in os.walk(d):
        for nm in names:
            if nm != "manifest.json":
                p = os.path.join(base, nm)
                files[os.path.relpath(p, d)] = os.path.getsize(p)
    return files


def inputs(workload: str, seed: int, scale: str = "full") -> tuple[str, dict]:
    """Directory and manifest of the workload's inputs for ``seed``,
    generating them unless a matching cached entry exists."""
    key = f"{workload}-s{seed}-{scale}-v{GEN_VERSION}"
    out = os.path.join(DATA, key)
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if man.get("files") == _listing(out):
            os.utime(man_path)
            return out, man
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    info = GENERATORS[workload](out, seed, SCALES[scale])
    man = {"workload": workload, "seed": seed, "scale": scale,
           "version": GEN_VERSION, "info": info, "files": _listing(out)}
    with open(man_path, "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    _evict(workload, keep=out)
    return out, man


def _evict(workload: str, keep: str) -> None:
    entries = []
    for nm in os.listdir(DATA):
        p = os.path.join(DATA, nm)
        if nm.startswith(workload + "-s") and p != keep:
            m = os.path.join(p, "manifest.json")
            entries.append((os.path.getmtime(m) if os.path.exists(m) else 0.0, p))
    for _, p in sorted(entries)[: max(0, len(entries) - (KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(p, ignore_errors=True)
