"""Similarity search: brute-force exactness and the artifact cache."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erigon_extract_spark.operators.similarity import brute_force_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def probes(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )


@pytest.fixture(scope="module")
def exact(emb, probes):
    out = brute_force_topk(emb, probes, k=10)
    return {
        pid: [r["vec_id"] for r in rows]
        for pid, rows in _group(out.collect(), "probe_id")
    }


def _group(rows, key):
    from collections import defaultdict

    d = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r[key], -r["cosine"], r["vec_id"])):
        d[r[key]].append(r)
    return d.items()


def test_bruteforce_self_is_top1(exact):
    for pid, ids in exact.items():
        assert ids[0] == pid  # a vector's nearest neighbor is itself


def test_cached_artifact_cleans_tmp_on_build_failure(tmp_path, monkeypatch):
    """r5 advice: a build() that raises must not leak its partial
    .build.<pid> directory into the uid cache (one per retry, forever)."""
    import os
    import tempfile

    from erigon_extract_spark.queries import _cached_artifact

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sf_dir = os.path.dirname(os.path.abspath(__file__ + "/../fake"))
    # point at any real file the fingerprint can stat
    src_dir = str(tmp_path)
    with open(os.path.join(src_dir, "embeddings.parquet"), "wb") as f:
        f.write(b"x")

    def failing_build(tmp_dir):
        os.makedirs(tmp_dir)
        with open(os.path.join(tmp_dir, "partial"), "w") as f:
            f.write("partial")
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        _cached_artifact(src_dir, "embeddings", "fam", "p=1", failing_build)
    cache_root = os.path.join(str(tmp_path), f"spark_graft_cache_{os.getuid()}")
    leftovers = [d for d in os.listdir(cache_root) if ".build." in d]
    assert leftovers == [], leftovers

    # and a SUCCEEDING retry still lands the artifact
    def ok_build(tmp_dir):
        os.makedirs(tmp_dir)
        with open(os.path.join(tmp_dir, "ok"), "w") as f:
            f.write("ok")

    final = _cached_artifact(src_dir, "embeddings", "fam", "p=1", ok_build)
    assert os.path.isfile(os.path.join(final, "ok"))
