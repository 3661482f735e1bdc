"""Plan-quality assertions: the optimizations the engine is designed around
must actually appear in the physical plan. These tests read `.explain`
output — they catch regressions where a refactor silently drops pushdown,
broadcast, or partitioning reuse (the difference between minutes and hours
at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from erigon_extract_spark import queries as q


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_range_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    df = q.QUERIES["s2_range_scan"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200], plan
    # projection pruning: the scan schema must not include unused columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dimensions(spark, sf_dir):
    df = q.QUERIES["q5_local_supplier_volume"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # the two fact tables must NOT be broadcast
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or plan.count(
        "BroadcastHashJoin"
    ) >= 4


def test_code_hash_recovery_is_broadcast(spark):
    from erigon_extract_spark.plans.extract import recover_code_hashes

    acct = spark.createDataFrame(
        [], "address binary, incarnation long, code_hash binary, nonce long"
    )
    pch = spark.createDataFrame(
        [], "address binary, incarnation long, code_hash binary"
    )
    plan = _plan(recover_code_hashes(acct, pch))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_transpose_single_shuffle_window_reuses_partitioning(spark):
    """The re-key window must not add a second exchange after the range
    repartition: one RangePartitioning exchange, no extra hash exchange
    for the window."""
    from erigon_extract_spark.plans.transpose import build_state_history

    acct = spark.createDataFrame(
        [(b"a" * 20, 5, 1, 0, b"b" * 32, b"\x00" * 32)],
        "address binary, block long, incarnation long, nonce long, "
        "balance binary, code_hash binary",
    )
    stor = spark.createDataFrame(
        [],
        "address binary, block long, incarnation long, slot binary, value binary",
    )
    sh = build_state_history(acct, stor, num_partitions=4)
    plan = _plan(sh)
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_asof_state_uses_partial_aggregation(spark, sf_dir):
    df = q.QUERIES["asof_state_at"](spark, sf_dir)
    plan = _plan(df)
    # max_by-based as-of compiles to a two-phase hash aggregate
    # (partial_max before the exchange), not a window sort
    assert "partial_max" in plan
    assert "Window" not in plan


def test_point_lookup_prunes_with_filter_pushdown(spark, sf_dir):
    from erigon_extract_spark.plans.state import account_state_at
    from erigon_extract_spark.schemas import STATE_HISTORY

    sh = spark.createDataFrame([], STATE_HISTORY)
    df = account_state_at(sh, block=100, address=b"\x01" * 20)
    opt = _optimized(df)
    assert "isnotnull" in opt or "address" in opt  # filter survives into plan


def test_grouping_sets_single_expand_single_shuffle(spark, sf_dir):
    """GROUPING SETS must plan one Expand + one aggregation pass over one
    scan — not one scan per grouping list."""
    df = q.QUERIES["grouping_sets_stats"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Expand") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_windowed_aggs_single_shuffle(spark, sf_dir):
    """Tumbling and hopping event-time rollups are one hash-agg shuffle;
    hopping's per-event window assignment happens map-side (Expand/explode
    before the exchange), never by re-scanning."""
    for name in ("window_tumbling_agg", "window_hopping_agg"):
        plan = _plan(q.QUERIES[name](spark, sf_dir))
        assert plan.count("Exchange") == 1, (name, plan)
        assert plan.count("FileScan") == 1, (name, plan)


def test_stable_split_filter_reaches_scan(spark, sf_dir):
    """A stable-sample filter is a deterministic expression over one
    column — selecting 'test' docs must not shuffle before filtering."""
    from erigon_extract_spark.operators.sampling import stable_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    test_docs = stable_split(docs, "doc_id").filter(F.col("split") == "test")
    plan = _plan(test_docs)
    assert "Exchange" not in plan, plan


def test_band_join_is_shuffle_equi_join(spark, sf_dir):
    """The banded range join must stay an equi-join at the bench scale
    factor too (not just the unit fixture)."""
    plan = _plan(q.QUERIES["range_interval_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_linear_merge_single_shuffle(spark):
    """as_of_join must compile to the union+window merge: ONE hash exchange
    on the keys, no monotonically_increasing_id, no join node at all — the
    shape whose cost is |L|+|R| rather than per-key |L_k|x|R_k|."""
    from erigon_extract_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(1, 10, "l")], "k int, t int, lv string")
    right = spark.createDataFrame([(1, 8, "r")], "k int, rt int, rv string")
    df = as_of_join(left, right, ["k"], "t", "rt")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_session_window_single_shuffle(spark, sf_dir):
    df = q.QUERIES["session_window_agg"](spark, sf_dir)
    plan = _plan(df)
    # session-window merge: one hash exchange on the grouping key; no join
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan and "Join" not in plan, plan


def test_tx_bodies_no_cartesian(spark, sf_dir):
    df = q.QUERIES["erigon_tx_bodies"](spark, sf_dir)
    plan = _plan(df)
    # the 1:N tx-range join must be an equi-join on the generated tx_id,
    # never a nested-loop/cartesian theta join
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ref_dialect_decode_parallel_tasks(spark):
    from erigon_extract_spark import fixture_store
    from erigon_extract_spark.codec.refstream import read_ref_file_df

    d = str(fixture_store.ensure())
    df = read_ref_file_df(spark, f"{d}/full-history.dat", strategy=0,
                          pages_per_task=1)
    # page-split ingest: multiple independent decode tasks, not one stream
    assert df.rdd.getNumPartitions() > 1


def test_no_unexpected_quadratic_plans_across_all_queries(spark, sf_dir):
    """Blanket audit: EVERY registered query's physical plan is checked for
    the three scale-killers — CartesianProduct, BroadcastNestedLoopJoin,
    and monotonically_increasing_id-keyed processing. Queries that are
    quadratic BY DESIGN (brute-force oracle baselines over a bounded side)
    are allowlisted explicitly so a new accidental cartesian can't hide."""
    bnlj_by_design = {
        # exact-cosine topk baseline: bounded broadcast side, the
        # quadratic scan IS the documented algorithm (oracle baselines)
        "sim_bruteforce_topk",
        # scalar-subquery shapes: BNLJ against a ONE-ROW global aggregate
        # (avg threshold / scalar combine) — linear by construction
        "erigon_txbodies_stats",
        "p6_prune_filter",
        # percentile-band filter: BNLJ against the ONE-ROW broadcast
        # cutoff aggregate — a scalar crossJoin, linear by construction
        "curation_length_band",
        # mixture planner: BNLJ against the ONE-ROW broadcast total-weight
        # aggregate; both join sides are planning-scale (one row per source)
        "corpus_mixture_plan",
        # stopword cutoff: BNLJ against the ONE-ROW broadcast corpus
        # doc-count — the same scalar-crossJoin shape
        "text_top_terms",
        # bigram LM: BNLJ against the ONE-ROW broadcast vocabulary-size
        # aggregate — the same scalar-crossJoin shape
        "text_lm_logprob",
        # TF-IDF: BNLJ against the ONE-ROW broadcast corpus doc-count
        "text_tfidf_cosine",
    }
    # iterative/checkpointing queries EXECUTE work at plan-build time;
    # their component plans are covered by their own tests
    skip_build = {
        "erigon_incremental_update",
        # localCheckpoints its synthetic corpus at build time (perf probe)
        "curation_scale",
        # trains merges (iterative jobs) at build time
        "text_bpe_tokenize",
        "pack_by_bpe_budget",
    }
    offenders = {}
    for name, fn in q.QUERIES.items():
        if name in skip_build:
            continue
        plan = _plan(fn(spark, sf_dir))
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_by_design:
            bad.append("BroadcastNestedLoopJoin")
        if "monotonically_increasing_id" in plan:
            bad.append("monotonically_increasing_id")
        if bad:
            offenders[name] = bad
    assert offenders == {}, offenders


def test_length_buckets_single_exchange(spark, sf_dir):
    """Both the row_number window and the batch-stat windows must reuse
    the one (band, shard) hash exchange — a second exchange means the
    batch stats re-shuffled."""
    from erigon_extract_spark.operators.packing import length_bucket_batches

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        length_bucket_batches(docs, batch_tokens=512, n_shards=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_hll_register_agg_is_partial(spark, sf_dir):
    """The register max-aggregate must map-side combine (partial_max
    before the exchange) — the property that bounds the shuffle payload
    at <= m rows per partition."""
    from erigon_extract_spark.operators.sketch import hll_build

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        hll_build(docs, "text", m=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_max" in plan, plan


def test_top_terms_reuses_corpus_tokenize_exchange(spark, sf_dir):
    """text_top_terms' tf and df branches must share ONE corpus
    tokenize+explode+partial-agg exchange: the df branch consumes tf's
    value (via ttf), so both branches canonicalize to the same
    (doc_id, term) exchange and AQE's exchange reuse collapses them.
    Reuse is an AQE runtime decision — it appears in the FINAL plan
    after execution, not in the compile-time plan (the r4 bench-drift
    investigation's confound), so execute first and then assert."""
    df = q.QUERIES["text_top_terms"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan[:500]
    assert "ReusedExchange" in plan, plan


def test_prefix_sum_global_window_is_totals_only(spark, sf_dir):
    """corpus_pps_sample's ONLY single-partition exchange must feed the
    bucket-TOTALS window (sum over __tot), never the row stream — the
    property that makes the two-phase scan scale. One hash exchange
    carries the rows."""
    from erigon_extract_spark import queries as q

    plan = _plan(q.QUERIES["corpus_pps_sample"](spark, sf_dir))
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "__tot" in plan, plan
    # the row-side window partitions by the bucket id: a hash exchange
    assert "hashpartitioning(__b" in plan, plan
