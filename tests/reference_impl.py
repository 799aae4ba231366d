"""Reference implementations the tests pin the engine's native paths to.

Scalar Python and numpy twins of the multimedia hashes, the text language
ID and fingerprint, the token and word-n-gram build, the segment-crossing
predicate, the cell hierarchy and lon/lat encode, the brute-force kNN, the S2 grid upscale and Hilbert
encodes, and the page-text extraction; the per-plane embedding bucket
fold, the stop-shingle prune and the k-means fit entry point. The engine
never calls them, so they live with the tests; each reads the engine's
constants, so a changed constant shows up as a test failure.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.cells import morton_decode_np, morton_np
from tree_sitter_codeviews_spark.operators import multimodal, textstats
from tree_sitter_codeviews_spark.operators.cluster import _fit
from tree_sitter_codeviews_spark.operators.dedup import EMB_PLANES, _plane_coeff, quantized_df
from tree_sitter_codeviews_spark.operators.knn import _dist_sq
from tree_sitter_codeviews_spark.s2 import _FULL, _M


def frame_hash_py(win: bytes) -> int:
    """Reference scalar hash of one window (tests + oracle parity)."""
    h = 0
    for v in win:
        h = (h * 131 + v) % multimodal._FRAME_MOD
    return h


def ahash_py(b: bytes) -> tuple[int, int]:
    """Reference scalar average-hash: 64 byte-blocks, bit j set iff block
    mean > global mean, compared via exact integer cross-multiplication
    (block_sum * n > total_sum * block_len — no float division anywhere).
    Returned as (hi32, lo32) halves so neither engine touches the int64
    sign bit. Empty blocks (n < 64) contribute 0 bits."""
    n = len(b)
    if n == 0:
        return 0, 0
    total = sum(b)
    hi = lo = 0
    for j in range(64):
        s = (j * n) // 64
        e = ((j + 1) * n) // 64
        if e > s:
            blk = sum(b[s:e])
            if blk * n > total * (e - s):
                if j < 32:
                    lo |= 1 << j
                else:
                    hi |= 1 << (j - 32)
    return hi, lo


def langid_py(t: str) -> str:
    """Reference scalar implementation (tests pin the vectorized UDF to it)."""
    if t is None or not t:
        return "und"
    if any("一" <= ch <= "鿿" for ch in t[:200]):
        return "zh"
    scores = {
        lang: sum(t.count(g) for g in grams)
        for lang, grams in textstats._PROFILES.items()
        if grams
    }
    best = max(scores, key=lambda k: (scores[k], k))
    return best if scores[best] > 0 else "und"


def fingerprint_py(text: str) -> int:
    """Reference scalar implementation (tests pin the native column to it)."""
    import hashlib

    fp = 0
    for tok in text.split(" "):
        th = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:7], 16)
        fp = (fp * textstats._FP_BASE + th) % textstats._FP_MOD
    return fp


def tokens_py(text: str | None, n: int = 1) -> list[tuple[int, str, str | None]]:
    """Reference for ``dedup.tokens_df``: (pos, tok, shingle) per token of
    ``text.split(" ")``; ``shingle`` joins the ``n`` tokens starting at
    ``pos`` with one space, or is None when fewer than ``n`` remain. A
    None text has no tokens."""
    if text is None:
        return []
    w = text.split(" ")
    return [
        (i, t, " ".join(w[i:i + n]) if i + n <= len(w) else None)
        for i, t in enumerate(w)
    ]


def segments_intersect_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized numpy twin of seg_intersect_pred_sql for property tests:
    a, b are (N, 4) int64 arrays of (x0, y0, x1, y1) row pairs."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = cross(b[:, 0], b[:, 1], b[:, 2], b[:, 3], a[:, 0], a[:, 1])
    d2 = cross(b[:, 0], b[:, 1], b[:, 2], b[:, 3], a[:, 2], a[:, 3])
    d3 = cross(a[:, 0], a[:, 1], a[:, 2], a[:, 3], b[:, 0], b[:, 1])
    d4 = cross(a[:, 0], a[:, 1], a[:, 2], a[:, 3], b[:, 2], b[:, 3])
    gen = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    def onseg(s, px, py):
        return (
            (np.minimum(s[:, 0], s[:, 2]) <= px) & (px <= np.maximum(s[:, 0], s[:, 2]))
            & (np.minimum(s[:, 1], s[:, 3]) <= py) & (py <= np.maximum(s[:, 1], s[:, 3]))
        )

    touch = (
        ((d1 == 0) & onseg(b, a[:, 0], a[:, 1]))
        | ((d2 == 0) & onseg(b, a[:, 2], a[:, 3]))
        | ((d3 == 0) & onseg(a, b[:, 0], b[:, 1]))
        | ((d4 == 0) & onseg(a, b[:, 2], b[:, 3]))
    )
    return gen | touch


def parent_np(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Parent cell ``steps`` resolutions coarser — pure truncation."""
    return cell >> (2 * steps)


def children_np(cell: int, res_from: int, res_to: int) -> np.ndarray:
    """All descendant cells of ``cell`` (at res_from) at finer res_to."""
    k = 2 * (res_to - res_from)
    base = np.int64(cell) << k
    return base + np.arange(1 << k, dtype=np.int64)


def cell_center_lonlat(cell: np.ndarray, res: int):
    x, y = morton_decode_np(np.asarray(cell, dtype=np.int64), res)
    n = 1 << res
    lon = -180.0 + 360.0 * (x + 0.5) / n
    lat = -90.0 + 180.0 * (y + 0.5) / n
    return lon, lat


def ring_cells_np(x: np.ndarray, y: np.ndarray, res: int, t: int) -> np.ndarray:
    """For each (x,y): Morton ids of the ring at Chebyshev distance exactly t.

    Returns shape (len(x), 8t) for t>0, (len(x), 1) for t==0. Cells off the
    grid edge are returned as -1 (callers filter).
    ``kRing(t)`` (H3 vocabulary) = union of rings 0..t.
    """
    n = 1 << res
    if t == 0:
        offs = [(0, 0)]
    else:
        offs = []
        for dx in range(-t, t + 1):
            for dy in (-t, t):
                offs.append((dx, dy))
        for dy in range(-t + 1, t):
            for dx in (-t, t):
                offs.append((dx, dy))
    out = np.empty((len(x), len(offs)), dtype=np.int64)
    for j, (dx, dy) in enumerate(offs):
        xx = x + dx
        yy = y + dy
        ok = (xx >= 0) & (xx < n) & (yy >= 0) & (yy < n)
        m = morton_np(np.clip(xx, 0, n - 1), np.clip(yy, 0, n - 1), res)
        out[:, j] = np.where(ok, m, -1)
    return out


def compact_cells_np(cells: np.ndarray, res: int) -> list[tuple[int, int]]:
    """H3-`compact`-style: replace any 4 complete siblings by their parent,
    recursively. Input: unique res-r cells. Output: list of (res, cell)."""
    out: list[tuple[int, int]] = []
    cur = np.unique(np.asarray(cells, dtype=np.int64))
    r = res
    while r > 0 and len(cur):
        parents, counts = np.unique(cur >> 2, return_counts=True)
        full = parents[counts == 4]
        if len(full) == 0:
            out.extend((r, int(c)) for c in cur)
            break
        full_set = set(full.tolist())
        keep = cur[~np.isin(cur >> 2, full)]
        out.extend((r, int(c)) for c in keep)
        cur = np.fromiter(full_set, dtype=np.int64, count=len(full_set))
        cur.sort()
        r -= 1
    else:
        out.extend((r, int(c)) for c in cur)
    return out


def knn_brute(points: DataFrame, k: int = 5, id_col: str = "doc_id") -> DataFrame:
    """O(n^2) reference implementation (tests / tiny scales only)."""
    a = points.select(
        F.col(id_col).alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    )
    b = points.select(
        F.col(id_col).alias("nid"), F.col("lon").alias("nlon"), F.col("lat").alias("nlat")
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist_sq").asc(), F.col("nid").asc())
    return (
        a.crossJoin(b)
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid", "nid",
            _dist_sq(F.col("qlon"), F.col("qlat"), F.col("nlon"), F.col("nlat")).alias("dist_sq"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col), F.col("nid").alias("neighbor_id"), "rank", "dist_sq"
        )
    )


def upscale_grid_np(g: np.ndarray, from_res: int, to_res: int) -> np.ndarray:
    k = to_res - from_res
    g = np.asarray(g, dtype=np.int64)
    return (g << k) + (1 << (k - 1)) if k > 0 else g


def xy_from_lonlat(lon: np.ndarray, lat: np.ndarray, res: int):
    """Integer grid coords at resolution ``res``. Clamped to the grid."""
    n = 1 << res
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


def cell_from_lonlat_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    x, y = xy_from_lonlat(np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64), res)
    return morton_np(x, y, res)


def hilbert_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Hilbert curve index of grid cells (x, y) on the 2^res x 2^res grid."""
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    n = np.int64(1) << res
    d = np.zeros_like(x)
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant so the sub-curve is oriented canonically
        flip = (ry == 0) & (rx == 1)
        xf = np.where(flip, n - 1 - x, x)
        yf = np.where(flip, n - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, yf, xf), np.where(swap, xf, yf)
        s >>= 1
    return d


def hilbert_fast_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Branchless Hilbert xy->d: O(log res) bit-parallel rounds, no loop over
    resolutions. Port of the public-domain ``HilbertXYToIndex`` from
    github.com/rawrunprotected/hilbert_curves (prefix-scan formulation).
    Bit-identical to ``hilbert_np`` (tested exhaustively at res<=8 and
    randomly at 16) — and, unlike it, expressible as a bounded chain of
    int64 column expressions, which is what makes the JVM-side encode
    (``s2.with_hilbert_col``) possible."""
    x = (np.asarray(x, dtype=np.int64) << (_M - res)) & _FULL
    y = (np.asarray(y, dtype=np.int64) << (_M - res)) & _FULL

    a = x ^ y
    b = _FULL ^ a
    c = _FULL ^ (x | y)
    d = x & (y ^ _FULL)
    A = a | (b >> 1)
    B = (a >> 1) ^ a
    C = ((c >> 1) ^ (b & (d >> 1))) ^ c
    D = ((a & (c >> 1)) ^ (d >> 1)) ^ d

    for sh in (2, 4):
        a, b, c, d = A, B, C, D
        A = (a & (a >> sh)) ^ (b & (b >> sh))
        B = (a & (b >> sh)) ^ (b & ((a ^ b) >> sh))
        C = c ^ ((a & (c >> sh)) ^ (b & (d >> sh)))
        D = d ^ ((b & (c >> sh)) ^ ((a ^ b) & (d >> sh)))
    a, b, c, d = A, B, C, D
    C = c ^ ((a & (c >> 8)) ^ (b & (d >> 8)))
    D = d ^ ((b & (c >> 8)) ^ ((a ^ b) & (d >> 8)))

    a = C ^ (C >> 1)
    b = D ^ (D >> 1)
    i0 = x ^ y
    i1 = b | (_FULL ^ (i0 | a))

    def spread(v):
        v = (v | (v << 8)) & 0x00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F
        v = (v | (v << 2)) & 0x33333333
        v = (v | (v << 1)) & 0x55555555
        return v

    idx = (spread(i1) << 1) | spread(i0)
    return idx >> (2 * (_M - res))


# the extraction contract (``extract._P_JAVA``/``_TAG_JAVA``) in Python ``re``
_P_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")


def extract_text_py(b: bytes) -> str | None:
    """Reference scalar extraction (tests pin the native expression to it)."""
    if b is None:
        return None
    m = _P_RE.search(b)
    if m is not None:
        return m.group(1).decode("utf-8")
    # fallback: strip all tags (still deterministic)
    return _TAG_RE.sub("", b.decode("utf-8"))


def embedding_bucket_col(q: F.Column, dim: int, n_planes: int = EMB_PLANES) -> F.Column:
    """array<long> quantized embedding -> int64 hyperplane sign bucket."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(_plane_coeff(p, d, dim)) for d in range(dim)])
        dot = F.aggregate(
            F.zip_with(q, plane, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return bucket


def prune_stop_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The load-bearing cut at web scale: a stop-shingle present in f docs
    contributes O(f^2) rows to the inverted-index self-join while carrying
    ~zero similarity signal. Pruning BEFORE the join bounds the pair space
    by max_df^2 per shingle. Jaccard is then computed over the informative
    shingle sets (both intersection and per-doc counts exclude pruned
    shingles — the standard stop-shingle-removal semantic)."""
    df_cnt = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    keep = df_cnt.filter(F.col("_df") <= max_df).select("shingle")
    return sh.join(keep, "shingle", "left_semi")


def kmeans_fit(embs: DataFrame, k: int = 8, iters: int = 2) -> np.ndarray:
    """Train k centroids with ``iters`` Lloyd updates; returns the k×d int64
    centroid matrix. Init = quantized vectors of the k smallest vec_ids
    (deterministic, oracle-reproducible)."""
    return _fit(quantized_df(embs).localCheckpoint(), k, iters)
