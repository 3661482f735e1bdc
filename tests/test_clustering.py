"""CDC chunking (operators/dedup.cdc_chunks).

The oracle gates cover cross-engine value equality; these tests pin the
ALGORITHMIC invariants the gates can't see: CDC's
boundary-resynchronization property (the reason CDC exists), lossless
chunk coverage and the clamped walk's bounds.
"""
import pytest
from pyspark.sql import functions as F

from erigon_extract_spark.operators.dedup import cdc_chunks, cdc_savings


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_cdc_chunks_cover_document_losslessly(spark, docs):
    """Concatenating a doc's chunks in order must reproduce the text:
    starts/lens tile [1..len] with no gaps or overlaps."""
    got = (
        cdc_chunks(docs.filter(F.col("doc_id") < 50))
        .groupBy("doc_id")
        .agg(
            F.sum("len").alias("total"),
            F.min("start").alias("first"),
            F.max(F.col("start") + F.col("len")).alias("end1"),
            F.count("*").alias("n"),
            F.max("chunk_idx").alias("maxidx"),
        )
        .collect()
    )
    lens = {
        r[0]: r[1]
        for r in docs.filter(F.col("doc_id") < 50)
        .select("doc_id", F.length("text"))
        .collect()
    }
    assert len(got) == len(lens)
    for r in got:
        assert r["total"] == lens[r["doc_id"]]
        assert r["first"] == 1
        assert r["end1"] == lens[r["doc_id"]] + 1
        assert r["maxidx"] == r["n"] - 1


def test_cdc_boundaries_resync_after_prefix_insert(spark):
    """THE content-defined property: prepend one character and all but
    the first chunk-or-two keep their md5s, because boundaries depend on
    content windows, not offsets. Fixed-size blocking would share ~0."""
    import hashlib
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the rain taps the glass "
        "in a slow steady rhythm all afternoon long without any pause"
    ) * 3
    df = spark.createDataFrame(
        [(1, base), (2, "X" + base)], "doc_id long, text string"
    )
    rows = cdc_chunks(df).collect()
    h1 = {r["chunk_md5"] for r in rows if r["doc_id"] == 1}
    h2 = {r["chunk_md5"] for r in rows if r["doc_id"] == 2}
    shared = h1 & h2
    # all chunks after the first boundary resync are identical
    assert len(shared) >= max(len(h1), len(h2)) - 2
    # sanity: the chunking is real (more than one chunk per doc)
    assert len(h1) >= 3
    # and chunk text is what the md5 says: recompute one doc end-to-end
    doc1 = sorted(
        (r for r in rows if r["doc_id"] == 1), key=lambda r: r["chunk_idx"]
    )
    rebuilt = []
    for r in doc1:
        seg = base[r["start"] - 1 : r["start"] - 1 + r["len"]]
        assert hashlib.md5(seg.encode()).hexdigest() == r["chunk_md5"]
        rebuilt.append(seg)
    assert "".join(rebuilt) == base


def test_cdc_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, None), (4, "exactly8")],
        "doc_id long, text string",
    )
    rows = cdc_chunks(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 2 not in by_doc and 3 not in by_doc  # empty/null: no chunks
    assert len(by_doc[1]) == 1 and by_doc[1][0]["len"] == 3
    assert sum(r["len"] for r in by_doc[4]) == 8


def test_cdc_savings_accounting(spark):
    """Planted duplicate chunks: two docs sharing identical long content
    must drive uniq_chars below total_chars; disjoint docs must not."""
    blob = "shared boilerplate header that is long enough to chunk " * 8
    df = spark.createDataFrame(
        [
            (1, blob + "unique tail one", "a"),
            (2, blob + "a different unique tail", "a"),
            (3, "completely unrelated text with no twin anywhere here", "b"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in cdc_savings(df).collect()}
    a, b = rows["a"], rows["b"]
    assert a["uniq_chars"] < a["total_chars"]  # dedup found the shared blob
    assert a["dedup_ratio"] < 1.0
    assert b["uniq_chars"] == b["total_chars"]
    assert b["dedup_ratio"] == 1.0
    # volume conservation: total_chars == sum of doc lengths per source
    assert a["total_chars"] == 2 * len(blob) + len("unique tail one") + len(
        "a different unique tail"
    )


def test_cdc_kernel_differential_vs_naive_reference():
    """Hypothesis fuzz of the pure CDC kernel: the strided int64 matmul
    must agree with a naive per-position Python rolling hash (the spec)
    on arbitrary unicode, including astral-plane codepoints, and the
    spans must always tile [1..len] exactly."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erigon_extract_spark.operators.dedup import cdc_chunk_spans

    W, B, M = 8, 131, 64

    def naive(t):
        L = len(t)
        if L == 0:
            return []
        ends = []
        for i in range(L - W + 1):
            h = 0
            for k in range(W):
                h += (ord(t[i + k]) % 251) * B ** (W - 1 - k)
            if h % M == 0:
                ends.append(i + W)
        if not ends or ends[-1] != L:
            ends.append(L)
        spans, prev = [], 0
        for e in ends:
            spans.append(
                (prev + 1, e - prev,
                 hashlib.md5(t[prev:e].encode("utf-8")).hexdigest())
            )
            prev = e
        return spans

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                codec="utf-32-le", exclude_categories=("Cs",)
            ),
            max_size=200,
        )
    )
    def check(t):
        got = cdc_chunk_spans(t)
        assert got == naive(t)
        # tiling invariant regardless of content
        pos = 1
        for start, ln, _ in got:
            assert start == pos and ln >= 1
            pos += ln
        assert pos == len(t) + 1 or (len(t) == 0 and got == [])

    check()


def test_cdc_window_overflow_guard():
    """window/base are public parameters; at (window=9, base=131) the
    worst-case rolling hash exceeds 2^63 and int64 would silently wrap —
    the kernel must refuse instead."""
    from erigon_extract_spark.operators.dedup import cdc_chunk_spans

    with pytest.raises(ValueError, match="overflows int64"):
        cdc_chunk_spans("x" * 32, window=9, base=131)
    # the boundary case that still fits must keep working
    assert cdc_chunk_spans("x" * 32, window=8, base=131)


def test_cdc_chunks_non_identifier_column_names(spark):
    """Column names that are not valid Python identifiers (spaces,
    keyword collisions) must survive the Arrow batch loop — pandas
    itertuples silently renames such columns in namedtuple mode."""
    df = spark.createDataFrame(
        [(1, "some text long enough to chunk " * 4, "keepme")],
        "doc_id long, text string, `src tag` string",
    )
    rows = cdc_chunks(df, passthrough=("src tag",)).collect()
    assert rows and all(r["src tag"] == "keepme" for r in rows)
    assert sum(r["len"] for r in rows) == len(
        "some text long enough to chunk " * 4
    )


def test_cdc_clamped_bounds_adversarial_input():
    """The reason clamps exist: 'D' has codepoint 68, 68 % 4 == 0, so at
    the defaults EVERY 8-char window of 'DDDD…' hashes to a boundary
    (the weight sum is ≡ 16 mod 64) and the unclamped chunker degrades
    to per-character chunks. The clamped walk must cut exactly every
    min_size chars instead, bounding the chunk count by ceil(L/min)."""
    from erigon_extract_spark.operators.dedup import cdc_chunk_spans

    t = "D" * 400
    unclamped = cdc_chunk_spans(t)
    assert len(unclamped) == 400 - 8 + 1  # the pathological case is real
    clamped = cdc_chunk_spans(t, min_size=32, max_size=128)
    assert len(clamped) == -(-400 // 32)  # == 13: every cut at pos+32
    assert [ln for _, ln, _ in clamped] == [32] * 12 + [16]


def test_cdc_clamped_invariants_and_resync(spark):
    """On ordinary text: chunks tile [1..L]; every chunk <= max_size;
    every chunk >= min_size except possibly the last; and the
    content-defined property survives the clamps — a prefix insertion
    still resynchronizes to shared chunk md5s."""
    from erigon_extract_spark.operators.dedup import cdc_chunk_spans

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the rain taps the glass "
        "in a slow steady rhythm all afternoon long without any pause"
    ) * 4
    for t in (base, "X" + base):
        spans = cdc_chunk_spans(t, min_size=32, max_size=128)
        pos = 1
        for start, ln, _ in spans:
            assert start == pos and 1 <= ln <= 128
            pos += ln
        assert pos == len(t) + 1
        for _, ln, _ in spans[:-1]:
            assert ln >= 32
    h1 = {h for _, _, h in cdc_chunk_spans(base, min_size=32, max_size=128)}
    h2 = {h for _, _, h in cdc_chunk_spans(
        "X" + base, min_size=32, max_size=128)}
    assert len(h1 & h2) >= len(h1) - 2  # boundaries resync after insert


def test_cdc_clamp_parameter_validation():
    from erigon_extract_spark.operators.dedup import cdc_chunk_spans

    with pytest.raises(ValueError, match="min_size <= max_size"):
        cdc_chunk_spans("abc" * 40, min_size=64, max_size=32)
    with pytest.raises(ValueError, match="min_size <= max_size"):
        cdc_chunk_spans("abc" * 40, min_size=0, max_size=32)
    # single-sided clamps are legal: min-only and max-only
    assert cdc_chunk_spans("abc" * 40, min_size=16)
    assert cdc_chunk_spans("abc" * 40, max_size=64)
    # min-only on a document SHORTER than min_size is also legal: the
    # whole document is one final chunk (the final chunk is the one
    # exempt from the min bound). Validation must judge the raw
    # parameters, not the L-substituted max — this raised before r11.
    spans = cdc_chunk_spans("short doc", min_size=16)
    assert [(s, ln) for s, ln, _ in spans] == [(1, 9)]
    assert cdc_chunk_spans("x", min_size=5) == cdc_chunk_spans("x")


def test_cdc_clamped_kernel_differential_vs_naive_reference():
    """Hypothesis fuzz of the CLAMPED walk: the cursor-based linear walk
    in _cdc_clamp_walk must agree with a naive quadratic re-scan of the
    candidate set (the spec: first boundary e with min <= e-pos <=
    max... else forced cut), and spans must tile [1..len] with every
    non-final chunk in [min_size, max_size]."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erigon_extract_spark.operators.dedup import cdc_chunk_spans

    def naive_walk(cand, L, minsz, maxsz):
        cuts, pos = [], 0
        while pos < L:
            eligible = [e for e in cand
                        if e - pos >= minsz and e <= pos + maxsz]
            if eligible:
                nxt = min(eligible)
            elif pos + maxsz < L:
                nxt = pos + maxsz
            else:
                nxt = L
            cuts.append(nxt)
            pos = nxt
        return cuts

    W, B, M = 8, 131, 64

    def cand_ends(t):
        L = len(t)
        out = []
        for i in range(L - W + 1):
            h = sum((ord(t[i + k]) % 251) * B ** (W - 1 - k)
                    for k in range(W))
            if h % M == 0:
                out.append(i + W)
        return out

    @settings(max_examples=150, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=300,
        ),
        st.integers(1, 40),
        st.integers(0, 80),
    )
    def check(t, minsz, extra):
        maxsz = minsz + extra
        got = cdc_chunk_spans(t, min_size=minsz, max_size=maxsz)
        L = len(t)
        want = naive_walk(cand_ends(t), L, minsz, maxsz)
        assert [s + ln - 1 for s, ln, _ in got] == want
        pos = 1
        for i, (start, ln, _) in enumerate(got):
            assert start == pos and 1 <= ln <= maxsz
            if i < len(got) - 1:
                assert ln >= minsz
            pos += ln
        assert pos == L + 1 or (L == 0 and got == [])

    check()
