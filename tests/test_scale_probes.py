"""The synthetic throughput probes' `scale` parameter must actually
multiply the work — regression for the r5 bug where curation_scale
accepted scale but didn't apply it (bench's scale10 section then
reported a meaningless ~1.0 ratio)."""

from __future__ import annotations


def test_scale_parameter_multiplies_work(spark, sf_dir):
    from erigon_extract_spark import queries as q

    # probes synthesize their own data; sf_dir only satisfies the
    # (spark, sf_dir) query signature — use the suite's fixture so the
    # SPARK_GRAFT_TEST_SF_DIR override applies here like everywhere else
    sf = sf_dir

    r1 = q.QUERIES["curation_scale"](spark, sf).collect()[0]
    r2 = q.QUERIES["curation_scale"](spark, sf, scale=2).collect()[0]
    assert r1.n_scored == 200_000 and r2.n_scored == 400_000

    t2 = q.QUERIES["erigon_transpose_scale"](spark, sf, scale=2).collect()[0]
    # 2x accounts (4M) + 2x storage (2M), minus the genesis filter (P7):
    # block-0 carries one row per account address (50k) and one per
    # storage address (20k), so 6M - 70k survive the pipeline
    assert t2.n_rows == 5_930_000
