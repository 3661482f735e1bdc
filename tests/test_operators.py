"""Operator-level tests over small synthetic frames (one shared session)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erigon_extract_spark.operators.asof import as_of_join, state_at
from erigon_extract_spark.operators.asserts import (
    AssertionViolation,
    assert_contiguous,
    assert_empty,
    assert_unique_keys,
)
from erigon_extract_spark.operators.dedup import exact_dedup
from erigon_extract_spark.operators.windows import delta_encode, delta_decode


def test_exact_dedup_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # same after normalization
            (3, "HELLO WORLD "),
            (4, "something else"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [1, 4]


def test_as_of_join_backward_and_left_preserving(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 15, "b"), (1, 25, "c"), (3, 1, "z")],
        "k int, rt int, v string",
    )
    out = {
        (r.k, r.t): (r.rt, r.v)
        for r in as_of_join(left, right, ["k"], "t", "rt").collect()
    }
    assert out[(1, 10)] == (8, "a")
    assert out[(1, 20)] == (15, "b")
    assert out[(2, 5)] == (None, None)  # left row with no match survives


def test_state_at_ties_and_filter(spark):
    df = spark.createDataFrame(
        [(1, 5, "x"), (1, 9, "y"), (1, 12, "z"), (2, 20, "w")],
        "k int, ver int, v string",
    )
    out = {r.k: (r.ver, r.v) for r in state_at(df, ["k"], "ver", 10).collect()}
    assert out == {1: (9, "y")}


def test_delta_encode_decode_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 17), (1, 3, 17), (2, 1, 5), (2, 2, 3)],
        "k int, seq int, v long",
    )
    enc = delta_encode(df, ["k"], ["seq"], "v", out_col="d")
    dec = delta_decode(enc, ["k"], ["seq"], "d", out_col="v2")
    bad = dec.filter(F.col("v") != F.col("v2")).count()
    assert bad == 0


def test_asserts(spark):
    df = spark.createDataFrame([(1, 1), (1, 2), (2, 1)], "k int, s int")
    assert_unique_keys(df, ["k", "s"])
    with pytest.raises(AssertionViolation):
        assert_unique_keys(df, ["k"])
    assert_contiguous(df, "s", ["k"])
    gap = spark.createDataFrame([(1, 1), (1, 3)], "k int, s int")
    with pytest.raises(AssertionViolation):
        assert_contiguous(gap, "s", ["k"])
    assert_empty(df.filter(F.col("k") > 99))


def test_connected_components_chain_and_islands(spark):
    from erigon_extract_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter 3), island pair 10-11
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "doc_id_a int, doc_id_b int"
    )
    comp = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_star_matches_minlabel_in_fewer_rounds(spark):
    """VERDICT r5 #8: the large-star/small-star option must (a) produce
    the identical labeling on every topology minlabel handles, and (b)
    converge in strictly fewer rounds on a long path — the general-graph
    regime (diameter >> log n) the option exists for."""
    from erigon_extract_spark.operators.graph import (
        _cc_minlabel,
        _cc_star,
        connected_components,
    )

    # path 0-1-...-14 (diameter 14) + an island pair + a triangle
    # + a self-loop-only node (both methods must emit its singleton row)
    edges = [(i, i + 1) for i in range(14)] + [(100, 101), (50, 51),
                                               (51, 52), (50, 52),
                                               (200, 200)]
    pairs = spark.createDataFrame(edges, "doc_id_a int, doc_id_b int")

    ml, ml_rounds = _cc_minlabel(pairs, "doc_id_a", "doc_id_b", 40)
    st, st_rounds = _cc_star(pairs, "doc_id_a", "doc_id_b", 40)
    want = {r.node: r.component for r in ml.collect()}
    got = {r.node: r.component for r in st.collect()}
    assert got == want
    assert want[14] == 0 and want[101] == 100 and want[52] == 50
    assert want[200] == 200 and got[200] == 200
    assert st_rounds < ml_rounds, (st_rounds, ml_rounds)

    # the public surface routes by method and rejects unknowns
    via_api = {
        r.node: r.component
        for r in connected_components(pairs, method="star").collect()
    }
    assert via_api == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown method"):
        connected_components(pairs, method="bogus")


def test_hashed_linear_quality_order_independent(spark):
    """Integer weight sums ⇒ the score is bit-identical regardless of
    partitioning/accumulation order (the claim the operator is built on)."""
    from erigon_extract_spark.operators.text import hashed_linear_quality

    docs = spark.createDataFrame(
        [(i, f"token{j} common word filler text number {i * j % 7}")
         for i in range(1, 21) for j in (i,)],
        "doc_id long, text string",
    )
    a = {r.doc_id: r for r in hashed_linear_quality(docs).collect()}
    b = {
        r.doc_id: r
        for r in hashed_linear_quality(docs.repartition(13)).collect()
    }
    assert set(a) == set(b) and len(a) == 20
    for k in a:
        assert a[k].weight_sum == b[k].weight_sum
        assert a[k].quality_score == b[k].quality_score
        assert 0.0 <= a[k].quality_score <= 1.0
        assert a[k].keep == (a[k].quality_score >= 0.5)


def test_cms_one_sided_error_and_exact_when_wide(spark):
    """CMS guarantees est >= true for every key; with width >> keys the
    probability of any collision is tiny, making estimates exact."""
    from erigon_extract_spark.operators.sketch import cms_heavy_hitters

    rows = [(k,) for k in range(30) for _ in range(k + 1)]
    df = spark.createDataFrame(rows, "user_id long")
    # tight sketch: collisions guaranteed (30 keys into 8 buckets)
    tight = cms_heavy_hitters(df, "user_id", depth=2, width=8, top_k=30).collect()
    assert len(tight) == 30
    assert all(r.overestimate >= 0 for r in tight)
    assert any(r.overestimate > 0 for r in tight)  # collisions happened
    assert all(r.est_count == r.true_count + r.overestimate for r in tight)
    # wide sketch: no collisions in practice -> exact
    wide = cms_heavy_hitters(df, "user_id", depth=4, width=4096, top_k=30).collect()
    assert all(r.overestimate == 0 for r in wide)
    got = {r.user_id: r.true_count for r in wide}
    assert got == {k: k + 1 for k in range(30)}


def test_strip_boilerplate_removes_frequent_keeps_order(spark):
    from erigon_extract_spark.operators.text import strip_boilerplate

    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha. {boiler}. unique beta"),
            (2, f"{boiler}. middle text two. closing two"),
            (3, f"opening three. {boiler}. done three"),
            (4, "no template here. just content. nothing shared"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_boilerplate(docs, min_docs=3).collect()}
    assert out[1].kept_text == "unique alpha. unique beta"
    assert out[2].kept_text == "middle text two. closing two"
    assert out[3].kept_text == "opening three. done three"
    assert out[4].kept_text == "no template here. just content. nothing shared"
    assert out[1].n_sentences == 3 and out[1].n_removed == 1
    assert out[4].n_removed == 0
    # all-boilerplate doc -> empty string, not a dropped row
    docs2 = docs.union(
        spark.createDataFrame([(5, boiler)], "doc_id long, text string")
    )
    out2 = {r.doc_id: r for r in strip_boilerplate(docs2, min_docs=3).collect()}
    assert out2[5].kept_text == "" and out2[5].n_removed == 1


def test_cms_merge_is_exact_union(spark):
    """Sketch linearity: merging per-shard sketches equals sketching the
    union — cell-for-cell, not approximately."""
    from erigon_extract_spark.operators.sketch import cms_build, cms_merge

    a = spark.createDataFrame([(k % 7,) for k in range(100)], "user_id long")
    b = spark.createDataFrame([(k % 11,) for k in range(80)], "user_id long")
    merged = {
        (r.i, r.b): r.cnt
        for r in cms_merge(
            cms_build(a, "user_id", depth=3, width=16),
            cms_build(b, "user_id", depth=3, width=16),
        ).collect()
    }
    whole = {
        (r.i, r.b): r.cnt
        for r in cms_build(a.union(b), "user_id", depth=3, width=16).collect()
    }
    assert merged == whole


def test_shuffle_order_is_deterministic_permutation(spark):
    from erigon_extract_spark.operators.sampling import shuffle_order

    docs = spark.createDataFrame([(i, "x") for i in range(500)],
                                 "doc_id long, text string")
    a = {(r.shard, r.shard_pos): r.doc_id
         for r in shuffle_order(docs, "doc_id").collect()}
    b = {(r.shard, r.shard_pos): r.doc_id
         for r in shuffle_order(docs.repartition(17), "doc_id").collect()}
    assert a == b  # partitioning-independent
    assert len(a) == 500  # (shard, pos) is a bijection onto the corpus
    assert sorted(a.values()) == list(range(500))
    # every shard non-degenerate and positions contiguous from 1
    from collections import Counter

    per_shard = Counter(s for s, _ in a)
    assert set(per_shard) == set(range(8))
    for s, n in per_shard.items():
        assert {p for sh, p in a if sh == s} == set(range(1, n + 1))
    # a different seed produces a different permutation
    c = {(r.shard, r.shard_pos): r.doc_id
         for r in shuffle_order(docs, "doc_id", seed="shuf2").collect()}
    assert c != a


def test_bigram_familiarity_hand_check(spark):
    from erigon_extract_spark.operators.text import bigram_familiarity

    docs = spark.createDataFrame(
        [
            (1, "a b c"),       # bigrams: "a b", "b c"
            (2, "a b"),         # bigram:  "a b"
            (3, "z"),           # too short -> no row
            (4, "q r q r"),     # "q r" x2, "r q" x1
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_familiarity(docs).collect()}
    assert 3 not in out
    # model: "a b"->2, "b c"->1, "q r"->2, "r q"->1
    assert (out[1].n_bigrams, out[1].familiarity_sum) == (2, 3)
    assert out[1].familiarity == 1.5
    assert (out[2].n_bigrams, out[2].familiarity_sum) == (1, 2)
    assert (out[4].n_bigrams, out[4].familiarity_sum) == (3, 5)
    assert out[4].familiarity == round(5 / 3, 6)


def test_profile_table_nulls_distincts_ranges(spark):
    from erigon_extract_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, "b", 7.5), (4, None, 7.5)],
        "id long, s string, v double",
    )
    prof = {r.col_name: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "s", "v"}
    assert all(r.n_rows == 4 for r in prof.values())
    assert (prof["id"].n_nulls, prof["id"].n_distinct) == (0, 4)
    assert (prof["s"].n_nulls, prof["s"].n_distinct) == (1, 2)
    assert (prof["v"].n_nulls, prof["v"].n_distinct) == (1, 2)
    assert prof["id"].min_s == "1" and prof["id"].max_s == "4"
    assert prof["s"].min_s == "a" and prof["s"].max_s == "b"
    # approx mode: same shape, cardinalities within HLL tolerance
    approx = {r.col_name: r for r in profile_table(df, exact=False).collect()}
    for c in prof:
        assert abs(approx[c].n_distinct - prof[c].n_distinct) <= 1


def test_snapshot_diff_statuses(spark):
    from erigon_extract_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "CHANGED", None), (4, "d", None), (5, "e", 50)],
        "k long, s string, v long",
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "changed",       # value change
        4: "changed",       # non-null -> null (sentinel distinguishes)
        5: "added",
    }
    # restricting compare columns ignores the v difference for key 4
    got2 = {r.k: r.status
            for r in snapshot_diff(old, new, ["k"], ["s"]).collect()}
    assert got2[4] == "unchanged" and got2[3] == "changed"


def test_balanced_sample_caps_and_append_stability(spark):
    from erigon_extract_spark.operators.sampling import balanced_sample

    rows = [(i, "en" if i % 4 else "de", f"s{i % 2}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    out = balanced_sample(df, ["lang", "source"], "doc_id", 15).collect()
    from collections import Counter

    per = Counter((r.lang, r.source) for r in out)
    assert all(n <= 15 for n in per.values())
    assert per[("de", "s0")] == 15 and per[("en", "s1")] == 15
    # append stability: grow the corpus; a group NOT at its cap keeps all
    # prior picks, and every still-selected old row was selected before
    bigger = df.union(spark.createDataFrame(
        [(i, "fr", "s9") for i in range(1000, 1010)],
        "doc_id long, lang string, source string",
    ))
    out2 = {r.doc_id for r in balanced_sample(
        bigger, ["lang", "source"], "doc_id", 15
    ).collect()}
    first = {r.doc_id for r in out}
    assert first <= out2  # old picks survive (no old group grew)
    assert all(1000 <= d < 1010 for d in out2 - first)


def test_cms_estimate_unseen_key_is_zero(spark):
    from pyspark.sql import functions as F

    from erigon_extract_spark.operators.sketch import cms_build, cms_estimate

    data = spark.createDataFrame([(k % 5,) for k in range(50)], "user_id long")
    sketch = cms_build(data, "user_id", depth=3, width=64)
    probes = spark.createDataFrame(
        [(0,), (999,), (12345,)], "user_id long"
    )
    est = {r.user_id: r.est_count
           for r in cms_estimate(sketch, probes, "user_id",
                                 depth=3, width=64).collect()}
    assert set(est) == {0, 999, 12345}  # unseen keys are NOT dropped
    assert est[0] >= 10  # true count of key 0
    # wide sketch, tiny key set: unseen keys' cells are empty -> exactly 0
    assert est[999] == 0 and est[12345] == 0


def test_chunk_documents_overlap_and_coverage(spark):
    from erigon_extract_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(150)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "short doc"), (3, "   ")],
        "doc_id long, text string",
    )
    out = [r for r in chunk_documents(
        docs, chunk_tokens=64, stride=48
    ).collect()]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc  # whitespace-only doc yields nothing
    # doc 2: one partial chunk covering both tokens
    (c2,) = by_doc[2]
    assert (c2.chunk_idx, c2.chunk_start_token, c2.n_chunk_tokens) == (0, 1, 2)
    assert c2.chunk_text == "short doc"
    # doc 1: the stride grid is 1, 49, 97, 145 — but the 145-start window
    # (6 tokens, 145-150) is fully inside the 97-start window's 97-150
    # coverage, so it is dropped (n_chunk_tokens <= chunk - stride adds
    # no new tokens, only duplicate embedding input). Coverage stays full.
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_start_token for r in c1] == [1, 49, 97]
    assert [r.n_chunk_tokens for r in c1] == [64, 64, 54]
    covered = set()
    for r in c1:
        covered.update(range(r.chunk_start_token,
                             r.chunk_start_token + r.n_chunk_tokens))
    assert covered == set(range(1, 151))  # every token in >= 1 chunk
    assert c1[0].chunk_text.split() == words[:64]
    assert c1[1].chunk_text.split() == words[48:112]


def test_top_terms_tfidf_ranking(spark):
    from erigon_extract_spark.operators.text import top_terms

    # "the" appears in all 4 docs -> dropped by the majority-df cutoff.
    # Per doc, ranking is (tf DESC, df ASC, term ASC).
    docs = spark.createDataFrame(
        [
            (1, "the cat cat cat dog zebra"),
            (2, "the dog dog zebra"),
            (3, "the bird"),
            (4, "the fish fish bird"),
        ],
        "doc_id long, text string",
    )
    out = top_terms(docs, k=2)
    rows = {(r.doc_id, r.term_rank): r for r in out.collect()}
    # doc 1: cat tf=3 beats dog/zebra tf=1; zebra (df=2) vs dog (df=2)
    # ties on df -> term ASC puts dog second
    assert rows[(1, 1)].term == "cat" and rows[(1, 1)].tf == 3
    assert rows[(1, 2)].term == "dog"
    # doc 2: dog tf=2 first, zebra second
    assert rows[(2, 1)].term == "dog" and rows[(2, 2)].term == "zebra"
    # doc 3: only "bird" survives -> a single row, no rank-2 padding
    assert rows[(3, 1)].term == "bird" and (3, 2) not in rows
    # "the" (df=4, 2*4 > 4) never appears anywhere
    assert all(r.term != "the" for r in rows.values())
    # df column reports corpus document frequency, not in-doc count
    assert rows[(4, 1)].term == "fish" and rows[(4, 1)].df == 1
    assert rows[(3, 1)].df == 2  # bird is in docs 3 and 4
    # ttf is corpus-wide term frequency: dog = 1 (doc 1) + 2 (doc 2)
    assert rows[(2, 1)].ttf == 3 and rows[(3, 1)].ttf == 2


def test_bloom_no_false_negatives_and_deterministic_fps(spark):
    from erigon_extract_spark.operators.sketch import (
        bloom_build,
        bloom_maybe_contains,
    )

    members = spark.range(0, 500).select(F.col("id").alias("key"))
    bloom = bloom_build(members, "key", m_bits=1 << 12, k=4)
    # word table bounded by m/32 regardless of input size
    assert bloom.count() <= (1 << 12) // 32
    probes = spark.range(0, 2000).select(F.col("id").alias("key"))
    out = {r.key: r.maybe for r in bloom_maybe_contains(
        bloom, probes, "key", m_bits=1 << 12, k=4
    ).collect()}
    # every member reports maybe=True — the Bloom guarantee
    assert all(out[i] for i in range(500))
    # small m forced some false positives; they are md5-deterministic, so
    # two independent evaluations agree on WHICH keys false-positive
    fps = {i for i in range(500, 2000) if out[i]}
    assert fps, "with m=4096/n=500 the fp rate cannot be zero"
    out2 = {r.key: r.maybe for r in bloom_maybe_contains(
        bloom, probes, "key", m_bits=1 << 12, k=4
    ).collect()}
    assert out == out2
    # NULL keys: excluded from the build (no junk word row), and a NULL
    # probe verdicts False (a set has no NULL member), never NULL
    with_null = spark.createDataFrame(
        [(1,), (None,)], "key long"
    )
    bn = bloom_build(with_null, "key", m_bits=1 << 12, k=4)
    assert all(r.word is not None and r.bits is not None
               for r in bn.collect())
    verdicts = {r.key: r.maybe for r in bloom_maybe_contains(
        bn, with_null, "key", m_bits=1 << 12, k=4
    ).collect()}
    assert verdicts[1] is True and verdicts[None] is False


def test_bloom_prune_join_equals_semi_join(spark):
    from erigon_extract_spark.operators.sketch import bloom_prune_join

    big = spark.range(0, 5000).select(
        F.col("id").alias("key"), (F.col("id") * 7 % 100).alias("payload")
    )
    small = spark.createDataFrame(
        [(i * 13,) for i in range(200)], "key long"
    )
    got = bloom_prune_join(big, small, "key", m_bits=1 << 12, k=4)
    want = big.join(small, "key", "left_semi")
    assert sorted((r.key, r.payload) for r in got.collect()) == sorted(
        (r.key, r.payload) for r in want.collect()
    )


def test_bloom_probe_side_never_shuffles(spark):
    from erigon_extract_spark.operators.sketch import (
        bloom_build,
        bloom_maybe_contains,
    )

    members = spark.range(0, 100).select(F.col("id").alias("key"))
    probes = spark.range(0, 1000).select(F.col("id").alias("key"))
    out = bloom_maybe_contains(
        bloom_build(members, "key", m_bits=1 << 12, k=4),
        probes, "key", m_bits=1 << 12, k=4,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the k word-table joins must all be broadcast joins; any
    # SortMergeJoin / ShuffledHashJoin means the probe side got exchanged
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 4


def test_hll_accuracy_merge_and_register_bound(spark):
    from erigon_extract_spark.operators.sketch import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    n = 20_000
    keys = spark.range(n).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    sk = hll_build(keys, "k", m=256)
    assert sk.count() <= 256
    (row,) = hll_estimate(sk, m=256).collect()
    # standard error ~ 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert abs(row.est - n) / n < 0.20
    # duplicates don't move the sketch: distinct-count, not row-count
    dup = keys.union(keys)
    (row_dup,) = hll_estimate(hll_build(dup, "k", m=256), m=256).collect()
    assert row_dup.est == row.est
    # merge = sketch of the union, register for register
    a = keys.filter(F.col("k") < "k5")
    b = keys.filter(F.col("k") >= "k5")
    merged = hll_merge(hll_build(a, "k", m=256), hll_build(b, "k", m=256))
    assert sorted((r.bucket, r.r) for r in merged.collect()) == sorted(
        (r.bucket, r.r) for r in sk.collect()
    )


def test_triangle_count_reference_and_star_graph(spark):
    import itertools
    import random

    from erigon_extract_spark.operators.graph import triangle_count

    rng = random.Random(11)
    n = 40
    edges = {(a, b) for a in range(n) for b in range(n)
             if a < b and rng.random() < 0.15}
    # python reference
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expect = sum(
        1 for a, b, c in itertools.combinations(range(n), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "src long, dst long"
    )
    (row,) = triangle_count(df).collect()
    assert row.n_triangles == expect
    # star graph: hub of degree 50, zero triangles (orientation keeps the
    # hub's wedge set empty rather than deg^2)
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 51)], "src long, dst long"
    )
    (srow,) = triangle_count(star).collect()
    assert srow.n_triangles == 0
