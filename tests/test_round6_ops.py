"""Unit tests for the round-6 operators: integer PageRank and bigram-LM
scoring.

Each pins the operator against an independently computed expectation
(closed form or plain-python recompute), not against the engine's own
output — the registered-query oracles already cover engine-vs-engine.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from erigon_extract_spark.operators.graph import pagerank
from erigon_extract_spark.operators.text import bigram_lm_logprob

SCALE = 1_000_000_000


# ---------------------------------------------------------------- pagerank


def test_pagerank_cycle_is_exact_fixpoint(spark):
    # On a directed cycle every node has outdeg 1 and one in-edge, so
    # r' = 0.15 + 0.85 * r keeps the uniform vector exactly at scale
    # (in integer units: 150e6 + (85 * 1e9) div 100 = 1e9, no flooring
    # loss). Any iteration count must return exactly `scale` per node.
    edges = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src long, dst long"
    )
    ranks = {r.node: r.rank_fp for r in pagerank(edges, n_iter=7).collect()}
    assert ranks == {i: SCALE for i in range(5)}


def test_pagerank_star_matches_hand_recurrence(spark):
    # Star 1..4 -> 0 plus 0 -> 1 (so node 0 is not dangling).  Replay
    # the exact integer recurrence in plain python and require
    # bit-identical ranks after 3 iterations.
    edge_list = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    outdeg = {u: sum(1 for a, _ in edge_list if a == u) for u in range(5)}
    r = {v: SCALE for v in range(5)}
    base = 15 * SCALE // 100
    for _ in range(3):
        contrib: dict[int, int] = {}
        for u, v in edge_list:
            contrib[v] = contrib.get(v, 0) + (85 * r[u]) // (100 * outdeg[u])
        r = {v: base + contrib.get(v, 0) for v in range(5)}
    got = {
        row.node: row.rank_fp
        for row in pagerank(edges, n_iter=3).collect()
    }
    assert got == r


def test_pagerank_zero_iters_is_uniform_and_negative_raises(spark):
    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    got = {r.node: r.rank_fp for r in pagerank(edges, n_iter=0).collect()}
    assert got == {0: SCALE, 1: SCALE}
    with pytest.raises(ValueError):
        pagerank(edges, n_iter=-1)


# ---------------------------------------------------- bigram_lm_logprob


def test_bigram_lm_matches_plain_python_model(spark):
    corpus = [
        (1, "the cat sat"),
        (2, "the cat ran"),
        (3, "the dog sat"),
        (4, "solo"),  # 1 token -> no bigrams -> (0, 0)
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")

    toks = {d: t.split() for d, t in corpus}
    vocab = {w for ws in toks.values() for w in ws}
    bigrams = [
        (ws[i], ws[i + 1]) for ws in toks.values() for i in range(len(ws) - 1)
    ]
    cb: dict[tuple[str, str], int] = {}
    for b in bigrams:
        cb[b] = cb.get(b, 0) + 1
    cu: dict[str, int] = {}
    for (w1, _), c in cb.items():
        cu[w1] = cu.get(w1, 0) + c
    unats = {
        b: round(math.log((c + 1) / (cu[b[0]] + len(vocab))) * 1e6)
        for b, c in cb.items()
    }
    expect = {}
    for d, ws in toks.items():
        bs = [(ws[i], ws[i + 1]) for i in range(len(ws) - 1)]
        expect[d] = (len(bs), sum(unats[b] for b in bs))

    got = {
        r.doc_id: (r.n_bigrams, r.logprob_unats)
        for r in bigram_lm_logprob(docs).collect()
    }
    assert got == expect
    assert got[4] == (0, 0)


def test_bigram_lm_probabilities_sum_below_one(spark):
    # Sanity on the model itself: every per-bigram log-prob must be
    # negative (P < 1 always, with add-one smoothing and V >= 2).
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a")], "doc_id long, text string"
    )
    rows = bigram_lm_logprob(docs).collect()
    for r in rows:
        if r.n_bigrams:
            assert r.logprob_unats < 0


# ------------------------------------------------- gopher_quality_rules


def test_gopher_rules_flags(spark):
    from erigon_extract_spark.operators.curation import gopher_quality_rules

    good = (
        "the quick brown fox and the lazy dog have spent many days "
        "running with friends over wide green fields of grass that "
        "stretch far beyond the distant hills where rivers bend and "
        "turn toward the sea while birds circle slowly watching the "
        "world move beneath their wings in the warm light of morning"
    )  # > 50 words, mean len in [3,10], no symbols, alpha, stops
    short = "too short"  # fails word count + stop rule
    symbols = " ".join(["###"] * 60)  # fails symbol + alpha rules
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_rules(docs).collect()}
    assert got[1].keep
    assert got[1].n_words >= 50 and got[1].f_mean_wlen and got[1].f_stop
    assert not got[2].keep and not got[2].f_word_count
    assert not got[3].keep and not got[3].f_alpha and not got[3].f_symbol
    assert got[4].n_words == 0 and got[4].sum_wlen == 0 and not got[4].keep


def test_gopher_integer_ratios_exact(spark):
    # mean word length boundary: 10 words of exactly 3 chars -> mean
    # exactly 3.0 must PASS (<= is inclusive); 10 words of 2 chars must
    # fail. Cross-multiplication keeps this exact.
    from erigon_extract_spark.operators.curation import gopher_quality_rules

    docs = spark.createDataFrame(
        [(1, " ".join(["abc"] * 10)), (2, " ".join(["ab"] * 10))],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_rules(docs).collect()}
    assert got[1].f_mean_wlen and got[1].sum_wlen == 30
    assert not got[2].f_mean_wlen and got[2].sum_wlen == 20


# ------------------------------------------------------ tfidf_cosine_pairs


def test_tfidf_cosine_matches_python_recompute(spark):
    from erigon_extract_spark.operators.text import tfidf_cosine_pairs

    corpus = [
        (1, "apple banana cherry date"),
        (2, "apple banana cherry fig"),  # high overlap with 1
        (3, "apple banana cherry date"),  # identical to 1 -> cosine 1.0
        (4, "xylophone quartz vortex jumble"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r.doc_id_a, r.doc_id_b): (r.n_shared_terms, r.cosine)
        for r in tfidf_cosine_pairs(
            docs, max_df=10, threshold=0.5
        ).collect()
    }

    n_docs = len(corpus)
    tf: dict[int, dict[str, int]] = {}
    for d, t in corpus:
        tf[d] = {}
        for w in t.split():
            tf[d][w] = tf[d].get(w, 0) + 1
    df: dict[str, int] = {}
    for d in tf:
        for w in tf[d]:
            df[w] = df.get(w, 0) + 1
    wgt = {
        d: {
            w: c * round(math.log(n_docs / df[w]) * 1000)
            for w, c in ws.items()
            if df[w] <= 10
        }
        for d, ws in tf.items()
    }
    expect = {}
    for a in tf:
        for b in tf:
            if a >= b:
                continue
            shared = set(wgt[a]) & set(wgt[b])
            if not shared:
                continue
            dot = sum(wgt[a][w] * wgt[b][w] for w in shared)
            na2 = sum(v * v for v in wgt[a].values())
            nb2 = sum(v * v for v in wgt[b].values())
            cos = dot / (math.sqrt(na2) * math.sqrt(nb2))
            if cos >= 0.5:
                expect[(a, b)] = (len(shared), round(cos, 6))
    assert got == expect
    assert got[(1, 3)][1] == 1.0  # identical docs


def test_tfidf_max_df_prunes_term_from_measure(spark):
    # A term in EVERY doc must not contribute: with max_df=1 the shared
    # word 'common' is pruned and docs 1/2 share nothing.
    from erigon_extract_spark.operators.text import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [(1, "common alpha"), (2, "common beta")],
        "doc_id long, text string",
    )
    assert tfidf_cosine_pairs(docs, max_df=1, threshold=0.01).count() == 0


# ------------------------------------------------ partitioned sink pruning


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 2 else "de") for i in range(20)],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "bylang")
    docs.write.partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the lang filter must be a planning-time PartitionFilter on the
    # scan (directory pruning), not a post-scan Filter
    assert "PartitionFilters" in plan and "lang" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert back.count() == 10
    assert {r.lang for r in back.collect()} == {"en"}


def test_tfidf_shingle_terms_mode(spark):
    # shingle_n=3: identical docs -> cosine 1.0; <3-word docs drop out
    from erigon_extract_spark.operators.text import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(
        docs, max_df=10, threshold=0.5, shingle_n=3
    ).collect()
    assert [(r.doc_id_a, r.doc_id_b, r.n_shared_terms, r.cosine)
            for r in rows] == [(1, 2, 2, 1.0)]


# ------------------------------------------------------- unicode fold


def test_unicode_fold_collapses_equivalent_forms(spark):
    from erigon_extract_spark.operators.text import unicode_fold

    rows = [
        (1, "café"),            # precomposed
        (2, "café"),           # decomposed
        (3, "CAFÉ"),            # precomposed upper
        (4, "Crème BRÛlée"),  # mixed marks + case
        (5, None),
        (6, "日本語 ok"),  # non-Latin survives untouched
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r.id: r.f
        for r in df.select("id", unicode_fold(F.col("t")).alias("f")).collect()
    }
    assert got[1] == got[2] == got[3] == "cafe"
    assert got[4] == "creme brulee"
    assert got[5] is None
    assert got[6] == "日本語 ok"


def test_unicode_fold_dedup_groups(spark):
    from erigon_extract_spark.operators.text import unicode_fold_dedup

    df = spark.createDataFrame(
        [(1, "Résumé"), (2, "Resumé"), (3, "resume"),
         (4, "other")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.rep_id, r.group_size)
           for r in unicode_fold_dedup(df).collect()}
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 4: (4, 1)}


# ---------------------------------------------- global scan / PPS sample


def test_global_prefix_sum_matches_serial(spark):
    # two-phase distributed scan == plain serial cumsum, across bucket
    # boundaries (span 10 on 100 rows -> 10 buckets) and repartitionings
    from erigon_extract_spark.operators.windows import global_prefix_sum

    rows = [(i, (i * 7) % 13) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, w long").repartition(9)
    got = {
        r.id: r.cum_incl
        for r in global_prefix_sum(df, "id", "w", bucket_span=10).collect()
    }
    acc, expect = 0, {}
    for i, w in rows:
        acc += w
        expect[i] = acc
    assert got == expect


def test_pps_systematic_selection_properties(spark):
    # hand-check: stride 10, weights laid end to end. Grid points at
    # 0, 10, 20, ... Every row heavier than the stride MUST be selected;
    # zero-weight rows never; total picks == number of grid points laid.
    from erigon_extract_spark.operators.windows import pps_systematic_sample

    rows = [(0, 3), (1, 0), (2, 12), (3, 4), (4, 1), (5, 25), (6, 2)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = {
        r.doc_id: r.cum_excl
        for r in pps_systematic_sample(
            df, order_col="doc_id", weight_col="n_chars", stride=10
        ).collect()
    }
    # intervals: 0:[0,3) 1:[3,3) 2:[3,15) 3:[15,19) 4:[19,20) 5:[20,45) 6:[45,47)
    # grid 0,10,20,30,40 -> rows 0 (0), 2 (10), 4 (19..20? [19,20) no 20!)
    # careful: [19,20) contains no multiple of 10; 20 lands in [20,45) row 5
    assert out == {0: 0, 2: 3, 5: 20}
    total = sum(w for _, w in rows)  # 47 -> grid points 0,10,20,30,40 = 5
    # row 5 covers 20,30,40 (3 points) but is emitted once; selected rows
    # = rows owning >= 1 point = 3 here, and every w > stride row is in
    assert 5 in out and 1 not in out and 4 not in out


# --------------------------------------------------------- cms join size


def test_cms_join_size_exact_when_collision_free(spark):
    # width >> keys: no collisions, so the inner product IS the exact
    # join size: sum over keys of count_a * count_b.
    from erigon_extract_spark.operators.sketch import cms_build, cms_join_size

    a = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3]], "k long"
    )
    b = spark.createDataFrame(
        [(k,) for k in [1, 2, 2, 2, 4]], "k long"
    )
    sa = cms_build(a, "k", depth=4, width=4096)
    sb = cms_build(b, "k", depth=4, width=4096)
    est = cms_join_size(sa, sb, depth=4).collect()[0].est_join_size
    # exact: key1 3*1 + key2 2*3 + key3 0 + key4 0 = 9
    assert est == 9


def test_cms_join_size_overestimates_under_collisions(spark):
    # width 2 forces collisions: estimate must stay >= the exact size.
    from erigon_extract_spark.operators.sketch import cms_build, cms_join_size

    a = spark.createDataFrame([(k,) for k in range(20)], "k long")
    b = spark.createDataFrame([(k,) for k in range(0, 40, 2)], "k long")
    sa = cms_build(a, "k", depth=4, width=2)
    sb = cms_build(b, "k", depth=4, width=2)
    est = cms_join_size(sa, sb, depth=4).collect()[0].est_join_size
    exact = a.join(b, "k").count()  # keys 0,2,...,18 -> 10
    assert exact == 10 and est >= exact


def test_cms_join_size_disjoint_is_zero(spark):
    # disjoint key sets CAN share no cells at all (tiny keys, wide
    # sketch): the estimator must return 0, not skip the empty rows
    from erigon_extract_spark.operators.sketch import cms_build, cms_join_size

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(900001,), (900002,)], "k long")
    sa = cms_build(a, "k", depth=4, width=65536)
    sb = cms_build(b, "k", depth=4, width=65536)
    est = cms_join_size(sa, sb, depth=4).collect()[0].est_join_size
    assert est == 0


def test_global_prefix_sum_rejects_null_order(spark):
    # a NULL order value must fail loudly, not silently vanish in the
    # offsets equi-join (which would also shift every later cumsum)
    from erigon_extract_spark.operators.windows import global_prefix_sum

    df = spark.createDataFrame([(1, 5), (None, 3)], "id long, w long")
    with pytest.raises(Exception, match="must be non-null"):
        global_prefix_sum(df, "id", "w").collect()
