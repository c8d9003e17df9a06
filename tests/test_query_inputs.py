"""The per-sf inputs the query families share: parquet footer reads follow
a file rewritten at the same path, and each sf dir stages its events into
its own streaming source dir."""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from logparse_rs_spark.queries import common, events  # noqa: E402


def _write_embeddings(path, dim, n=60):
    rng = np.random.default_rng(dim)
    vecs = rng.standard_normal((n, dim)).astype("float32")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array([0] * n, pa.int32())}), path)


def test_emb_lsh_topk_follows_a_rewritten_embeddings_file(spark, tmp_path):
    path = str(tmp_path / "embeddings.parquet")
    lsh = entrymod.queries()["emb_lsh_topk"]
    for dim in (8, 16):
        _write_embeddings(path, dim)
        rows = lsh(spark, str(tmp_path)).collect()
        # every query vector is its own nearest neighbour
        top = {r["query_id"]: (r["vec_id"], r["cos_sim"])
               for r in rows if r["rank"] == 1}
        assert top == {q: (q, 1.0) for q in range(3)}, dim
        assert common._emb_dim(str(tmp_path)) == dim


def test_scan_meta_follows_a_rewritten_file(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(10))}), path)
    assert common._scan_meta(path) == (10, 1)
    pq.write_table(pa.table({"x": list(range(25))}), path)
    assert common._scan_meta(path) == (25, 1)


@pytest.fixture
def isolated_fixture_root(tmp_path, monkeypatch):
    monkeypatch.setenv("LPS_FIXTURE_ROOT", str(tmp_path / "fixtures"))
    common.fixture_root.cache_clear()
    yield
    monkeypatch.undo()
    common.fixture_root.cache_clear()


def test_each_sf_dir_stages_its_own_events(tmp_path, isolated_fixture_root):
    # two sf basenames outside SF_PAGES: both used to map onto the
    # oracle sf's one staging dir and re-stage over each other
    origins = {}
    for name, n in (("sfA", 5), ("sfB", 9)):
        sf_dir = tmp_path / name
        sf_dir.mkdir()
        origins[name] = str(sf_dir / "events.parquet")
        pq.write_table(pa.table({"event_id": list(range(n))}),
                       origins[name])
    staged = {name: events._staged_events_dir(os.path.dirname(p))
              for name, p in origins.items()}
    assert staged["sfA"] != staged["sfB"]
    for name, origin in origins.items():
        copy = os.path.join(staged[name], "events.parquet")
        assert pq.read_table(copy).equals(pq.read_table(origin)), name
