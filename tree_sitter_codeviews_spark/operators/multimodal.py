"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with struct metadata; decode /
feature-extract / frame-sample are ``mapInPandas`` stages. The decode step is
STUBBED (no codec libraries ship with the engine — FIXTURES/driver
contract): the pipeline uses a deterministic fake decode, ``decode_meta``.
The Spark-side plumbing — schema, batch iteration, partition shape — is
real and tested.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def payloads_df(docs: DataFrame) -> DataFrame:
    """Stand-in payload table: utf-8 bytes of text as the opaque binary.
    At production this is the real media bytes column of the Iceberg table."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )


META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("magic", T.IntegerType()),
    T.StructField("fake_width", T.IntegerType()),
    T.StructField("fake_height", T.IntegerType()),
])


def decode_meta(payloads: DataFrame) -> DataFrame:
    """Deterministic fake decode: metadata derived purely from the bytes.
    Arrow-batched; the batch shape is exactly what a real decoder would use."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pl = pdf["payload"]
            n_bytes = pl.map(len).astype("int32")
            magic = pl.map(lambda b: b[0] if len(b) else 0).astype("int32")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": n_bytes,
                "magic": magic,
                "fake_width": (n_bytes % 640).astype("int32"),
                "fake_height": (magic % 480).astype("int32"),
            })

    return payloads.select("doc_id", "payload").mapInPandas(run, META_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_hash", T.LongType()),
])


_FRAME_MOD = (1 << 31) - 1  # 131 * 2^31 + 255 < 2^39: int64-safe vectorization


def _hash_windows_np(wins: list[bytes]) -> np.ndarray:
    """Vectorized Horner fold over up-to-64-byte windows: one numpy op per
    byte *position* (64 total), masked past each window's length — no
    per-byte Python (the round-1 per-byte loop was a text-scale hot path)."""
    if not wins:
        return np.zeros(0, dtype=np.int64)
    width = 64
    lens = np.fromiter((len(w) for w in wins), dtype=np.int64, count=len(wins))
    flat = b"".join(w.ljust(width, b"\0") for w in wins)
    arr = np.frombuffer(flat, dtype=np.uint8).reshape(len(wins), width).astype(np.int64)
    h = np.zeros(len(wins), dtype=np.int64)
    for j in range(width):
        h = np.where(j < lens, (h * 131 + arr[:, j]) % _FRAME_MOD, h)
    return h


def frame_sample(payloads: DataFrame) -> DataFrame:
    """Fake frame sampler: 4 evenly spaced 64-byte windows per payload,
    each hashed deterministically (numpy-vectorized Horner; the real thing
    swaps the hash for a codec call — the explode/partition/batch shape is
    identical). Oracle-checked: ``oracle.multimodal_frames_sql``."""
    n_frames = 4

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads_b = [bytes(p) for p in pdf["payload"]]
            steps = [max(1, len(b) // n_frames) for b in payloads_b]
            wins = [
                b[i * s: i * s + 64]
                for b, s in zip(payloads_b, steps)
                for i in range(n_frames)
            ]
            yield pd.DataFrame({
                "doc_id": pd.Series(
                    np.repeat(pdf["doc_id"].to_numpy(), n_frames), dtype="int64"
                ),
                "frame_idx": pd.Series(
                    np.tile(np.arange(n_frames), len(pdf)), dtype="int32"
                ),
                "frame_hash": pd.Series(_hash_windows_np(wins), dtype="int64"),
            })

    return payloads.select("doc_id", "payload").mapInPandas(run, FRAME_SCHEMA)


FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("bin", T.IntegerType()),
    T.StructField("n", T.LongType()),
])


def feature_extract(payloads: DataFrame) -> DataFrame:
    """Fake feature extraction: per-payload byte histogram (byte % 64),
    emitted as (doc_id, bin, n) rows — the plumbing a real embedding
    extractor uses (mapInPandas over binary, one numpy pass per batch; the
    real thing swaps the histogram for a model forward). Fully vectorized:
    one concatenated frombuffer + bincount per Arrow batch."""
    bins = 64

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bs = [bytes(p) for p in pdf["payload"]]
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=len(bs))
            if lens.sum() == 0:
                yield pd.DataFrame({"doc_id": [], "bin": [], "n": []})
                continue
            owner = np.repeat(np.arange(len(bs), dtype=np.int64), lens)
            vals = np.frombuffer(b"".join(bs), dtype=np.uint8).astype(np.int64) % bins
            counts = np.bincount(owner * bins + vals, minlength=len(bs) * bins)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame({
                "doc_id": ids[nz // bins],
                "bin": (nz % bins).astype("int32"),
                "n": counts[nz].astype("int64"),
            })

    return payloads.select("doc_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


RESAMPLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("pos", T.IntegerType()),
    T.StructField("byte", T.IntegerType()),
])


def resample(payloads: DataFrame, out_len: int = 128) -> DataFrame:
    """Fake resize: nearest-neighbor resample of each payload to a fixed
    ``out_len`` byte sequence (the image-resize analogue for opaque media),
    emitted as (doc_id, pos, byte) rows. src index = floor(pos * len /
    out_len) — exact integer arithmetic, mirrored by the SQL oracle."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = np.arange(out_len, dtype=np.int64)
        for pdf in batches:
            bs = [bytes(p) for p in pdf["payload"] if len(p) > 0]
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)[
                [i for i, p in enumerate(pdf["payload"]) if len(p) > 0]
            ]
            if not bs:
                yield pd.DataFrame({"doc_id": [], "pos": [], "byte": []})
                continue
            # one global gather per batch: concatenate all payloads, compute
            # every (payload, pos) source index as offsets + pos*len//out_len
            lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=len(bs))
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            flat = np.frombuffer(b"".join(bs), dtype=np.uint8)
            idx = starts[:, None] + (pos[None, :] * lens[:, None]) // out_len
            out = flat[idx]
            yield pd.DataFrame({
                "doc_id": np.repeat(ids, out_len),
                "pos": np.tile(pos, len(bs)).astype("int32"),
                "byte": out.ravel().astype("int32"),
            })

    return payloads.select("doc_id", "payload").mapInPandas(run, RESAMPLE_SCHEMA)


AHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("ahash_hi", T.LongType()),
    T.StructField("ahash_lo", T.LongType()),
])


def ahash(payloads: DataFrame) -> DataFrame:
    """Perceptual average-hash over the opaque media payload (aHash — the
    cheap member of the pHash family; at production the input is the
    decoded, downsampled 8x8 luma grid; here the deterministic stand-in
    payload bytes ARE the pixels, so the gate value-checks the Arrow
    binary plumbing byte-for-byte against a SQL oracle that recomputes
    the hash from the characters).

    ``mapInPandas`` with numpy prefix-sum block sums per row — one
    Arrow batch pass, no Python-per-byte work. Emits the 64-bit hash as
    two 32-bit halves (keeps both engines off the int64 sign bit); near-
    dup pairing over these hashes reuses the simhash pigeonhole blocking
    (dedup.py) unchanged."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_bytes": [], "ahash_hi": [], "ahash_lo": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                hi = lo = 0
                if n:
                    arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                    total = int(arr.sum())
                    bounds = [(j * n) // 64 for j in range(65)]
                    # prefix sums (not reduceat: duplicate boundaries on
                    # short payloads collapse blocks there)
                    pref = np.concatenate(([0], np.cumsum(arr)))
                    for j in range(64):
                        s, e = bounds[j], bounds[j + 1]
                        if e > s:
                            blk = int(pref[e] - pref[s])
                            if blk * n > total * (e - s):
                                if j < 32:
                                    lo |= 1 << j
                                else:
                                    hi |= 1 << (j - 32)
                out["doc_id"].append(int(doc_id))
                out["n_bytes"].append(n)
                out["ahash_hi"].append(hi)
                out["ahash_lo"].append(lo)
            yield pd.DataFrame(out)

    return payloads.select("doc_id", "payload").mapInPandas(run, AHASH_SCHEMA)
