"""Refimpl-computed aux parquet for the data-operator oracles.

The log-pipeline oracles compare Spark against a pure-Python canonical
implementation materialized as an expected parquet (fixtures.py). This module
extends that technique to the LLM-data operators: minhash signatures, simhash
values, FNV fingerprints, hyperplane-LSH bands and IVF cell assignments are
computed here with the SAME numpy batch kernels the Spark pandas UDFs call
(operators/dedup.py, operators/similarity.py) over the driver's testdata
parquet, written once under .fixtures/, and the oracle SQL reproduces the
banding joins / reranks in DuckDB over those columns. The Spark query path
never reads these files — independence is one-directional by construction.

Engine-hash note: the Spark-side minhash banding shuffles on
xxhash64(band slice) for key compactness; the oracle joins on the exact
band slice instead. The pair sets are identical absent an xxhash64 collision
between docs sharing a band index (probability ~n_pairs / 2^64).
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from typing import Dict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any refimpl kernel or parameter below changes semantics
_AUX_VERSION = 4

# SFs whose aux fixtures feed DuckDB oracle comparisons (driver correctness
# gate + local check_oracle.py). The bucket-cap assertion is enforced only
# for these — see _assert_oracle_caps call site.
ORACLE_GATE_SFS = {"sf0.001", "sf0.01", "sf0.1"}

# image near-dup fixture (img_neardup_candidates): RAW8 grayscale images
# synthesized per doc — docs in the same cluster share a base pattern with
# a few per-member pixel perturbations (near-dups, small aHash Hamming
# distance); clusters are mutually random (far apart)
IMG_SIDE = 32            # source images are 32x32 RAW8
IMG_CLUSTER_SIZE = 12    # ~docs per near-dup cluster at any sf
IMG_NOISE_PIXELS = 3     # perturbed pixels per member

# fuzzy-incremental batch synthesis (doc_fuzzy_incremental): the SAME rule
# is spelled three times — Spark column exprs in __spark_entry__, oracle
# SQL, and here — and the gate's value-hash compare is what pins them
# together (a drift in any copy changes the signatures or the jaccard side
# and the query goes red)
FUZZY_RECRAWL_OFFSET = 1_000_000   # doc_id % 10 == 0 -> exact recrawl copy
FUZZY_VARIANT_OFFSET = 2_000_000   # doc_id % 10 == 3 -> text + suffix
FUZZY_FRESH_OFFSET = 3_000_000     # doc_id % 10 == 6 -> brand-new text
FUZZY_VARIANT_SUFFIX = " updated edition appendix"
FUZZY_FRESH_PREFIX = "fresh standalone page number "

# values the queries choose and the aux build must match: the queries
# import them from here (the sketch constants live in the operators)
IVF_N_CELLS = 8
IVF_N_PROBE = 4
N_QUERIES = 3   # the top-k queries are vec_id < N_QUERIES
DSIR_N_BUCKETS = 256
# the bucket cap of the capped near-dup queries (doc_simhash_candidates,
# doc_near_dup_dedup, doc_text_neardup_verified, img_neardup_candidates)
ENTRY_MAX_BUCKET = 1000

# Java \s (ASCII-only), matching Spark's regexp_replace(col, r"\s+", " ")
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def normalized_text_py(t: str) -> str:
    """Python replica of operators.dedup.normalized_text (JVM expressions:
    lower -> collapse \\s+ -> trim)."""
    if t is None:
        return None
    return _JAVA_WS.sub(" ", t.lower()).strip(" ")


def derived_dir(fixture_root: str, prefix: str, *sources: str) -> str:
    """The staging dir, under ``fixture_root``, of a fixture derived from
    the ``sources`` files of one sf dir: ``{prefix}_{sf}_{key}``, ``sf``
    the sf dir's name and ``key`` a digest of each source's (st_size,
    st_mtime_ns). A rewritten source, or another sf dir of the same name,
    gets its own dir, and the dirs it supersedes are removed."""
    stats = [(os.stat(s).st_size, os.stat(s).st_mtime_ns) for s in sources]
    key = hashlib.sha1(repr(stats).encode()).hexdigest()[:12]
    sf = os.path.basename(os.path.dirname(os.path.abspath(sources[0])))
    base = f"{prefix}_{sf}"
    name = f"{base}_{key}"
    superseded = re.compile(re.escape(base) + "_[0-9a-f]{12}")
    if os.path.isdir(fixture_root):
        for old in os.listdir(fixture_root):
            if old != name and superseded.fullmatch(old):
                shutil.rmtree(os.path.join(fixture_root, old),
                              ignore_errors=True)
    return os.path.join(fixture_root, name)


def _aux_dir(fixture_root: str, sf_dir: str) -> str:
    return derived_dir(fixture_root, f"dataaux_v{_AUX_VERSION}",
                       os.path.join(sf_dir, "documents.parquet"),
                       os.path.join(sf_dir, "embeddings.parquet"))


def _image_blobs(doc_ids) -> list:
    """Deterministic RAW8 image synthesis (identical bytes regardless of
    caller): cluster base patterns drawn once per cluster id, per-member
    pixel noise from a per-doc rng."""
    from .operators.multimodal import raw8_encode
    n_clusters = max(1, len(doc_ids) // IMG_CLUSTER_SIZE)
    blobs = []
    base_cache: dict = {}   # cluster -> base pattern (drawn once, not per member)
    for i in doc_ids:
        c = i % n_clusters
        base = base_cache.get(c)
        if base is None:
            base = np.random.default_rng(10_000 + c).integers(
                0, 256, (IMG_SIDE, IMG_SIDE), dtype=np.uint8)
            base_cache[c] = base
        img = base.copy()
        mem_rng = np.random.default_rng(20_000 + i)
        for _ in range(IMG_NOISE_PIXELS):
            r, c2 = mem_rng.integers(0, IMG_SIDE, 2)
            img[r, c2] = np.uint8((int(img[r, c2]) + 40) % 256)
        blobs.append(raw8_encode(img))
    return blobs


def ensure_images_fixture(fixture_root: str, sf_dir: str) -> str:
    """Materialize (idempotently) ONLY the RAW8 image fixture for sf_dir —
    the single aux file the Spark-side img_neardup_candidates query reads.
    The full ensure_dataops_aux build (oracle-side: minhash signatures over
    every doc text, LSH bands, aHash table, ...) is an order of magnitude
    heavier and is only needed where the DuckDB oracle SQL actually runs
    (oracle_sql() ensures it itself); keeping the bench query path off it
    keeps a cold first img_neardup_candidates run at driver bench scale to
    the image synthesis alone."""
    out_dir = _aux_dir(fixture_root, sf_dir)
    path = os.path.join(out_dir, "images.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    doc_ids = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                            columns=["doc_id"]).column("doc_id").to_pylist()
    _atomic_write(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "img": pa.array(_image_blobs(doc_ids), pa.binary()),
    }), path)
    return path


def ensure_dataops_aux(fixture_root: str, sf_dir: str) -> Dict[str, str]:
    """Materialize (idempotently) the aux parquet files for `sf_dir` and
    return {name: path}. Names: doc_aux, emb_bands, emb_cells, emb_probes,
    tok_buckets."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = _aux_dir(fixture_root, sf_dir)
    paths = {
        "doc_aux": os.path.join(out_dir, "doc_aux.parquet"),
        "emb_bands": os.path.join(out_dir, "emb_bands.parquet"),
        "emb_cells": os.path.join(out_dir, "emb_cells.parquet"),
        "emb_probes": os.path.join(out_dir, "emb_probes.parquet"),
        "tok_buckets": os.path.join(out_dir, "tok_buckets.parquet"),
        "batch_aux": os.path.join(out_dir, "batch_aux.parquet"),
        "images": os.path.join(out_dir, "images.parquet"),
        "img_aux": os.path.join(out_dir, "img_aux.parquet"),
    }
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    os.makedirs(out_dir, exist_ok=True)

    from .kernels import fnv1a_series
    from .operators.dedup import minhash_sig_batch, simhash_batch
    from .operators.similarity import (IVF_SAMPLE_ROWS, LSH_N_PLANES,
                                       TOPK_BANDS, assign_cells_np,
                                       hyperplane_planes, hyperplane_sig_np,
                                       kmeans_cells, probe_cells_np)

    # ---- documents: minhash sig / simhash / fnv fingerprint ---------------
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text"])
    doc_ids = docs.column("doc_id").to_pylist()
    texts = pd.Series(docs.column("text").to_pylist())

    sigs = minhash_sig_batch(texts)
    sims = simhash_batch(texts)
    if tag in ORACLE_GATE_SFS:
        # Only the gate SFs are ever compared against the uncapped DuckDB
        # oracles, so only there is a cap-overflowing bucket an
        # oracle-integrity error. At bench-only scales (e.g. a driver
        # generated sf1.0) the capped Spark-side plan is the intended
        # scale behavior and the aux build must not refuse to materialize
        # the image fixture over a DOC-side bucket census (that refusal
        # is what made img_neardup_candidates error in the r5 sf1.0
        # bench run).
        _assert_oracle_caps(sigs, sims)
    norm = texts.map(normalized_text_py)
    fnv = fnv1a_series(norm).view("int64")

    doc_tbl = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "sig": pa.array([s.tolist() for s in sigs],
                        pa.list_(pa.int64())),
        "simhash": pa.array(sims.tolist(), pa.int64()),
        "fingerprint": pa.array(fnv.tolist(), pa.int64()),
    })
    _atomic_write(doc_tbl, paths["doc_aux"])

    # ---- fuzzy-incremental batch: minhash sigs of the synthesized batch ----
    batch_ids, batch_texts = [], []
    for i, t in zip(doc_ids, texts):
        m = i % 10
        if m == 0:
            batch_ids.append(i + FUZZY_RECRAWL_OFFSET)
            batch_texts.append(t)
        elif m == 3:
            batch_ids.append(i + FUZZY_VARIANT_OFFSET)
            batch_texts.append(t + FUZZY_VARIANT_SUFFIX)
        elif m == 6:
            batch_ids.append(i + FUZZY_FRESH_OFFSET)
            batch_texts.append(FUZZY_FRESH_PREFIX + str(i))
    batch_sigs = minhash_sig_batch(pd.Series(batch_texts))
    _atomic_write(pa.table({
        "doc_id": pa.array(batch_ids, pa.int64()),
        "sig": pa.array([s.tolist() for s in batch_sigs],
                        pa.list_(pa.int64())),
    }), paths["batch_aux"])

    # ---- images: RAW8 near-dup clusters + aHash (same kernel as Spark) ----
    from .operators.multimodal import ahash_batch
    blobs = _image_blobs(doc_ids)
    _atomic_write(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "img": pa.array(blobs, pa.binary()),
    }), paths["images"])
    _atomic_write(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "ahash": pa.array(ahash_batch(pd.Series(blobs)).tolist(),
                          pa.int64()),
    }), paths["img_aux"])

    # ---- corpus vocabulary -> DSIR hash buckets ---------------------------
    # the Spark operator buckets tokens with fnv1a_col(token) % B on the
    # fly; the oracle cannot compute FNV in SQL, so the vocabulary (small
    # by construction — distinct whitespace tokens) is bucketed here with
    # the same kernel and joined in the oracle
    from .operators.dedup import WORD_SPLIT_CLASS
    _split = re.compile(WORD_SPLIT_CLASS)
    vocab = sorted({t for txt in texts if txt
                    for t in _split.split(txt.lower()) if t})
    tok_fnv = fnv1a_series(pd.Series(vocab)).view("int64")
    _atomic_write(pa.table({
        "token": pa.array(vocab, pa.string()),
        "bucket": pa.array((tok_fnv % DSIR_N_BUCKETS).astype("int32"),
                           pa.int32()),
    }), paths["tok_buckets"])

    # ---- embeddings: LSH bands + IVF cells/probes --------------------------
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"])
    vec_ids = np.asarray(emb.column("vec_id").to_pylist(), dtype=np.int64)
    vm = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    dim = vm.shape[1]

    sig = hyperplane_sig_np(vm, hyperplane_planes(dim)).view(np.uint64)
    width = LSH_N_PLANES // TOPK_BANDS
    mask = np.uint64((1 << width) - 1)
    band_rows = {"vec_id": [], "band": [], "bucket": []}
    for b in range(TOPK_BANDS):
        bucket = ((sig >> np.uint64(b * width)) & mask).view(np.int64)
        band_rows["vec_id"].extend(vec_ids.tolist())
        band_rows["band"].extend([b] * len(vec_ids))
        band_rows["bucket"].extend(bucket.tolist())
    _atomic_write(pa.table({
        "vec_id": pa.array(band_rows["vec_id"], pa.int64()),
        "band": pa.array(band_rows["band"], pa.int32()),
        "bucket": pa.array(band_rows["bucket"], pa.int64()),
    }), paths["emb_bands"])

    # IVF: replicate train_ivf_centroids (the first IVF_SAMPLE_ROWS by id)
    order = np.argsort(vec_ids, kind="stable")
    sample = vm[order][:IVF_SAMPLE_ROWS]
    x = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    cents = kmeans_cells(x, IVF_N_CELLS)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)

    cells = assign_cells_np(vm, cn)
    _atomic_write(pa.table({
        "vec_id": pa.array(vec_ids.tolist(), pa.int64()),
        "ivf_cell": pa.array(cells.tolist(), pa.int32()),
    }), paths["emb_cells"])

    qmask = vec_ids < N_QUERIES
    probes = probe_cells_np(vm[qmask], cn, IVF_N_PROBE)
    qids = vec_ids[qmask]
    _atomic_write(pa.table({
        "query_id": pa.array(np.repeat(qids, IVF_N_PROBE).tolist(),
                             pa.int64()),
        "ivf_cell": pa.array(probes.reshape(-1).tolist(), pa.int32()),
    }), paths["emb_probes"])
    return paths


def _assert_oracle_caps(sigs, sims) -> None:
    """The entry queries run the CAPPED (scale-safe) operator forms while the
    DuckDB oracles band uncapped; they agree iff no oracle-scale bucket
    exceeds the cap. Assert that at fixture-build time so a future testdata
    change can't silently turn a cap-drop into an oracle mismatch."""
    from collections import Counter

    from .operators.dedup import BANDS, NUM_PERM, SIMHASH_CHUNKS

    width = 64 // SIMHASH_CHUNKS
    svals = np.asarray(sims, dtype=np.int64).view(np.uint64)
    for i in range(SIMHASH_CHUNKS):
        chunk = (svals >> np.uint64(i * width)) & np.uint64((1 << width) - 1)
        top = int(np.unique(chunk, return_counts=True)[1].max())
        if top > ENTRY_MAX_BUCKET:
            raise RuntimeError(
                f"simhash chunk {i}: largest bucket {top} exceeds the entry "
                f"cap {ENTRY_MAX_BUCKET}; capped Spark query and uncapped "
                f"oracle would diverge")
    sig_mat = np.stack(sigs)
    rows_per_band = NUM_PERM // BANDS
    for band in range(BANDS):
        sl = sig_mat[:, band * rows_per_band:(band + 1) * rows_per_band]
        top = max(Counter(r.tobytes() for r in sl).values())
        if top > ENTRY_MAX_BUCKET:
            raise RuntimeError(
                f"minhash band {band}: largest bucket {top} exceeds the "
                f"entry cap {ENTRY_MAX_BUCKET}")


def _atomic_write(tbl: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    # bounded row groups: a single-row-group file caps any Spark scan of
    # the fixture at ONE task regardless of split config (content is
    # unchanged; this is layout only)
    pq.write_table(tbl, tmp, row_group_size=8192)
    os.replace(tmp, path)
