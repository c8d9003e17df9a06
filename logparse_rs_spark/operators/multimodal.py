"""Multimodal column handling: image/audio/video as opaque binary columns
with typed metadata, plus decode / feature-extract / resize / frame-sample
operators whose Spark-side plumbing (schema, partitioning, Arrow batch shape,
UDF signatures) is real and tested while the codec step itself is stubbed —
the sandbox image has no image/audio libraries (see DECODE_BACKEND).

Pattern at 100 TB: binaries ride in their own column so Catalyst's column
pruning keeps them out of every query that doesn't touch them; decode runs in
mapInPandas with a SMALL maxRecordsPerBatch (binary rows are fat — batch
size is bytes-bound, not row-bound); outputs are fixed-size feature vectors
so downstream shuffles never move the raw bytes again.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # self-upgrading codec backend: real decode the moment PIL exists
    from PIL import Image as _PIL_Image  # type: ignore
except ImportError:  # this container has no image libraries
    _PIL_Image = None

# "pillow" when available; the deterministic fake keeps the pipeline
# testable in this container.
DECODE_BACKEND = "pillow" if _PIL_Image is not None else "deterministic-fake"

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType()),     # image|audio|video
    T.StructField("n_bytes", T.LongType()),
    T.StructField("format_tag", T.StringType()),     # sniffed magic bytes
    T.StructField("digest", T.StringType()),         # sha256 (lineage key)
])

_MAGIC = [
    (b"\x89PNG", "png"), (b"\xff\xd8\xff", "jpeg"), (b"GIF8", "gif"),
    (b"RIFF", "riff"), (b"OggS", "ogg"), (b"\x1aE\xdf\xa3", "matroska"),
]


def _sniff(b: bytes) -> str:
    for magic, tag in _MAGIC:
        if b.startswith(magic):
            return tag
    return "unknown"


def media_metadata(df: DataFrame, binary_col: str = "html") -> DataFrame:
    """Typed metadata struct for an opaque binary column. sha256 digest is
    the content-addressed lineage key (dedup before decode: identical bytes
    decode once)."""

    @F.pandas_udf(MEDIA_META_SCHEMA)
    def meta(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for b in blobs:
            b = b or b""
            rows.append({
                "media_type": "image",
                "n_bytes": len(b),
                "format_tag": _sniff(b),
                "digest": hashlib.sha256(b).hexdigest(),
            })
        return pd.DataFrame(rows)

    return df.withColumn("media_meta", meta(F.col(binary_col)))


def _fake_decode(blob: bytes, h: int, w: int) -> np.ndarray:
    """Deterministic stand-in for a real image decode: bytes -> (h, w) float
    grid derived from a seeded rng keyed on the content digest."""
    seed = int.from_bytes(hashlib.sha256(blob or b"").digest()[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.random((h, w), dtype=np.float64)


def _pil_decode(blob: bytes, h: int, w: int) -> np.ndarray:
    """Real decode when pillow is present: open -> grayscale -> resize ->
    [0, 1] float grid. Same output shape/contract as _fake_decode."""
    import io

    img = _PIL_Image.open(io.BytesIO(blob)).convert("L").resize((w, h))
    return np.asarray(img, dtype=np.float64) / 255.0


def decode_and_featurize(df: DataFrame, binary_col: str = "html",
                         resize_to: int = 8,
                         strict: bool = False,
                         backend: str = "auto") -> DataFrame:
    """image decode -> resize(resize_to x resize_to) -> flatten features.

    backend: "auto" uses pillow when importable and the deterministic fake
    otherwise (DECODE_BACKEND); "pillow"/"fake" force one. Undecodable or
    empty blobs produce null features (a corrupt image must not kill a
    10^9-row decode job). strict=True raises NotImplementedError when the
    resolved backend is the fake — the honest no-codec contract."""
    out_schema = T.StructType(
        df.schema.fields + [
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )
    n = resize_to
    use = DECODE_BACKEND if backend == "auto" else backend
    if use == "pillow" and _PIL_Image is None:
        raise NotImplementedError("backend='pillow' but PIL is not importable")
    if strict and use != "pillow":
        raise NotImplementedError(
            "real image decode requires a codec library "
            f"(resolved backend={use}); install pillow — the operator "
            "upgrades itself at import")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _pil_decode if use == "pillow" else _fake_decode
        for pdf in batches:
            feats = []
            for b in pdf[binary_col]:
                if b is None or len(b) == 0:
                    feats.append(None)
                    continue
                try:
                    feats.append(decode(bytes(b), n, n).reshape(-1).tolist())
                except Exception:
                    feats.append(None)   # undecodable bytes -> null features
            yield pdf.assign(features=feats)

    return df.mapInPandas(run, schema=out_schema)


def frame_sample(df: DataFrame, binary_col: str = "html") -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame index
    (every 10th fake frame, at most 4) with a frame digest (fake: slices of
    the content digest). The explode
    shape — row per (url, frame_idx) — is what a real ffmpeg-backed sampler
    produces."""
    frames_schema = T.ArrayType(T.StructType([
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_digest", T.StringType()),
    ]))

    @F.pandas_udf(frames_schema)
    def sample(blobs: pd.Series) -> pd.Series:
        out = []
        for b in blobs:
            b = bytes(b or b"")
            n_fake_frames = max(len(b) // 10, 1)
            idxs = list(range(0, n_fake_frames, 10))[:4]
            d = hashlib.sha256(b).hexdigest()
            out.append([
                {"frame_idx": i, "frame_digest": d[i % 32: i % 32 + 16]}
                for i in idxs
            ])
        return pd.Series(out, index=blobs.index)

    return (
        df.withColumn("frames", sample(F.col(binary_col)))
        .withColumn("frame", F.explode("frames"))
        .drop("frames")
        .select("*", F.col("frame.frame_idx").alias("frame_idx"),
                F.col("frame.frame_digest").alias("frame_digest"))
        .drop("frame")
    )


# ---- perceptual average-hash (aHash) near-dup ------------------------------

RAW8_MAGIC = b"RAW8"


def raw8_encode(arr: np.ndarray) -> bytes:
    """Trivial codec-free grayscale container: b'RAW8' + height + width
    (big-endian uint16) + row-major uint8 pixels. The oracle-checked image
    queries use it so the decode step needs NO codec library while staying
    a real bytes->pixels decode; a production deployment swaps in the
    pillow backend (same downstream contract)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = a.shape
    return (RAW8_MAGIC + h.to_bytes(2, "big") + w.to_bytes(2, "big")
            + a.tobytes())


def _raw8_decode(blob: bytes, h: int, w: int) -> np.ndarray:
    """RAW8 bytes -> (h, w) float grid in [0, 1] via nearest-neighbor
    sampling (deterministic, dependency-free)."""
    src_h = int.from_bytes(blob[4:6], "big")
    src_w = int.from_bytes(blob[6:8], "big")
    px = np.frombuffer(blob[8:8 + src_h * src_w], dtype=np.uint8)
    grid = px.reshape(src_h, src_w)
    ri = (np.arange(h) * src_h) // h
    ci = (np.arange(w) * src_w) // w
    return grid[np.ix_(ri, ci)].astype(np.float64) / 255.0


def ahash_batch(blobs: pd.Series) -> np.ndarray:
    """Pure-numpy average-hash batch — shared by the Spark pandas UDF and
    the oracle fixture generator (one kernel, zero drift): decode ->
    8 x 8 grid -> bit j set iff pixel j > grid mean (row-major),
    packed into an int64 (two's complement, same packing as simhash)."""
    out = np.zeros(len(blobs), dtype=np.int64)
    for i, b in enumerate(blobs):
        b = bytes(b or b"")
        if not b:
            continue
        try:
            if b.startswith(RAW8_MAGIC):
                g = _raw8_decode(b, 8, 8)
            elif _PIL_Image is not None:
                g = _pil_decode(b, 8, 8)
            else:
                g = _fake_decode(b, 8, 8)
        except Exception:
            continue                     # undecodable -> hash 0
        bits = (g > g.mean()).reshape(-1)
        v = np.uint64(0)
        for j in range(64):
            if bits[j]:
                v |= np.uint64(1) << np.uint64(j)
        out[i] = np.int64(v.view(np.int64))
    return out


def image_ahash(df: DataFrame) -> DataFrame:
    """(doc_id, ahash BIGINT) of the ``img`` column — the perceptual
    near-dup key for image dedup
    (dedup-before-decode's fuzzy sibling: byte-identical images collapse
    on the sha256 digest, re-encoded/lightly-edited ones land within a
    small Hamming distance of each other). Feed the output to
    dedup.simhash_candidates (rename ahash -> simhash) for the banded
    candidate join — the Manku pigeonhole guarantee and the bucket-cap
    economics carry over unchanged since both are 64-bit keys.

    Scale shape: one Arrow-batched pass over the (fat) binary column
    emits 8-byte hashes; every downstream join/shuffle moves hashes,
    never pixels."""

    @F.pandas_udf(T.LongType())
    def _ahash(blobs: pd.Series) -> pd.Series:
        return pd.Series(ahash_batch(blobs), index=blobs.index)

    return df.select(F.col("doc_id"), _ahash(F.col("img")).alias("ahash"))
