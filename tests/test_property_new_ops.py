"""Seeded-random differential tests for the round-3 operators: an
independent pure-python re-implementation must agree exactly (the
rangejoin test pattern — randomized inputs, deterministic seeds)."""

from __future__ import annotations

import hashlib
import random


def _python_cms_bucket(i: int, k: str, width: int) -> int:
    return int(hashlib.md5(f"{i}_{k}".encode()).hexdigest()[:8], 16) % width


def test_cms_estimates_match_python_reference_random(spark):
    from erigon_extract_spark.operators.sketch import cms_heavy_hitters

    depth, width = 3, 16
    for seed in (3, 11):
        rng = random.Random(seed)
        keys = [rng.randint(0, 40) for _ in range(600)]
        df = spark.createDataFrame([(k,) for k in keys], "user_id long")
        got = {r.user_id: (r.est_count, r.true_count) for r in
               cms_heavy_hitters(df, "user_id", depth=depth, width=width,
                                 top_k=100).collect()}
        # python reference sketch
        cells: dict[tuple[int, int], int] = {}
        from collections import Counter

        true = Counter(keys)
        for k, c in true.items():
            for i in range(depth):
                b = _python_cms_bucket(i, str(k), width)
                cells[(i, b)] = cells.get((i, b), 0) + c
        for k, (est, tc) in got.items():
            ref = min(cells[(i, _python_cms_bucket(i, str(k), width))]
                      for i in range(depth))
            assert (est, tc) == (ref, true[k]), (seed, k)
        assert set(got) == set(true)


def test_bloom_no_false_negatives_random(spark):
    """Property over random key sets: every inserted key reports
    maybe=True, for several (m, k) shapes and seeds."""
    from pyspark.sql import functions as F

    from erigon_extract_spark.operators.sketch import (
        bloom_build,
        bloom_maybe_contains,
    )

    for seed, m_bits, k in ((3, 1 << 10, 3), (9, 1 << 14, 6)):
        rng = random.Random(seed)
        keys = list({rng.randint(0, 10**9) for _ in range(400)})
        df = spark.createDataFrame([(x,) for x in keys], "key long")
        out = bloom_maybe_contains(
            bloom_build(df, "key", m_bits=m_bits, k=k),
            df, "key", m_bits=m_bits, k=k,
        ).collect()
        assert len(out) == len(keys)
        assert all(r.maybe for r in out)


def test_hll_merge_equals_union_random(spark):
    """Sketch(A) merge Sketch(B) == Sketch(A ∪ B) register-for-register,
    for random disjoint and overlapping splits."""
    from pyspark.sql import functions as F

    from erigon_extract_spark.operators.sketch import hll_build, hll_merge

    rng = random.Random(5)
    a_keys = [rng.randint(0, 10**6) for _ in range(500)]
    b_keys = [rng.randint(0, 10**6) for _ in range(500)] + a_keys[:100]
    a = spark.createDataFrame([(x,) for x in a_keys], "k long")
    b = spark.createDataFrame([(x,) for x in b_keys], "k long")
    both = a.union(b)
    merged = {
        (r.bucket, r.r)
        for r in hll_merge(
            hll_build(a, "k", m=128), hll_build(b, "k", m=128)
        ).collect()
    }
    direct = {
        (r.bucket, r.r) for r in hll_build(both, "k", m=128).collect()
    }
    assert merged == direct


def test_length_bucket_batches_total_and_bounds_random(spark):
    """Every doc lands in exactly one batch; capacity and band bounds
    hold on random corpora."""
    from erigon_extract_spark.operators.packing import length_bucket_batches

    rng = random.Random(21)
    docs = spark.createDataFrame(
        [(i, "w " * rng.randint(1, 600)) for i in range(300)],
        "doc_id long, text string",
    )
    out = length_bucket_batches(docs, batch_tokens=512, n_shards=4).collect()
    assert len(out) == 300
    assert len({r.doc_id for r in out}) == 300
    for r in out:
        assert (1 << r.band) <= r.n_tokens < (1 << (r.band + 1))
        assert r.batch_size <= max(1, 512 >> (r.band + 1))
