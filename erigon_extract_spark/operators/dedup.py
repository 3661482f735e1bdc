"""Document deduplication operators for large-scale training-data pipelines.

All four families work over a ``documents(doc_id, text, ...)`` table:

- exact:       hash-groupBy on a content fingerprint (one shuffle).
- minhash_lsh: shingle → minhash signature → band buckets → candidate pairs
               (self-join only WITHIN buckets — the classic LSH trick that
               makes near-dup detection sub-quadratic at 100 TB).
- simhash:     64-bit weighted fingerprint; near-dups = small Hamming
               distance; banded by 16-bit chunks for sub-quadratic joins.
- ngram_jaccard: exact Jaccard over shingle sets for candidate pairs
               (verification stage after LSH, or standalone on small data).

Determinism: all hashing uses xxhash-free arithmetic on Spark's built-in
``hash``/``crc32``/``md5`` so results are reproducible across runs and
partitionings.
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from erigon_extract_spark.operators.text import normalize_text  # noqa: E402

def widen_if_narrow(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than the
    cluster has slots.

    A single small parquet file arrives as ONE partition, serializing every
    downstream narrow stage (shingling a 5k-doc file on one of 32 cores was
    the whole minhash cost at sf0.1). At 100 TB the scan already yields
    thousands of splits and this is a no-op — the guard keeps the extra
    shuffle out of the big-data path.

    The narrowness probe is ``df.inputFiles()`` (a driver-side listing),
    NOT ``df.rdd.getNumPartitions()`` — the latter forces a full
    DataFrame→RDD plan conversion on the driver per call. File count
    under-estimates splits for large splittable files, which only makes
    the guard conservative (it widens when it didn't strictly need to);
    apply it to scans, not post-shuffle frames."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        n_source_files = len(df.inputFiles())
    except Exception:  # non-file source (in-memory relation, stream)
        n_source_files = 0
    if n_source_files >= target:
        return df
    return df.repartition(target)


def _pairs_of_sorted(ids_col: str) -> F.Column:
    """All (a, b) pairs with a < b from a SORTED array attribute.

    ``ids_col`` must name a projected attribute, not a composed expression:
    referencing an expression inside a higher-order-function lambda
    re-evaluates it per element (measured 15-180x slowdowns elsewhere)."""
    return F.flatten(
        F.transform(
            F.col(ids_col),
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + F.lit(2), F.size(F.col(ids_col))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one doc per exact (normalized) content hash — the winner is the
    smallest id (deterministic). Single shuffle on the 128-bit fingerprint;
    at 100 TB this is a straight hash-aggregate, no sort."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        docs.withColumn("__fp", fp)
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__fp").orderBy(F.col(id_col))),
        )
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def shingles(col, n: int = 5) -> F.Column:
    """Word n-gram shingle array (distinct) from raw text.

    PERF: only apply this to an ATTRIBUTE (a projected words array or a
    plain column) — see exploded_shingles. Embedding the split expression
    inside the transform lambda re-evaluates the full text split PER
    SHINGLE INDEX (measured 15-180x slower at sf0.1)."""
    words = F.split(normalize_text(col), " ")
    return _shingles_of_words(words, n)


def _shingles_of_words(words, n: int) -> F.Column:
    # slide an n-window over words; drop short tails
    return F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            ),
            lambda s: F.length(s) > 0,
        )
    )


def exploded_shingles(
    docs: DataFrame, text_col: str, n: int, id_col: str
) -> DataFrame:
    """(id_col, sh) — one row per distinct shingle, with the words array
    materialized as an attribute FIRST so the shingle lambda reads a
    per-row array instead of re-splitting the text per index."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    pre = docs.select(F.col(id_col), words.alias("__words"))
    return pre.select(
        id_col, F.explode(_shingles_of_words(F.col("__words"), n)).alias("sh")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_n: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, signature: array<int>) minhash signatures.

    Shape matters: explode shingles once, then ONE flat aggregate with
    n_hashes simple ``min(hash(sh, seed_i))`` columns. A per-row
    array-of-lambdas formulation codegens n_hashes × shingle-loop closures
    (minutes of Janino compile); this plan keeps codegen linear and gets
    map-side partial mins for free — at 100 TB the shuffle carries one
    n_hashes-wide row per (doc, partition), not the shingle set.
    """
    sh = exploded_shingles(docs, text_col, shingle_n, id_col)
    # One murmur3 evaluation of the shingle string PER SEED. A cheaper
    # hash-once-then-affine-permute family was measured (round 2): zero
    # wall-clock win (the explode+shuffle dominates, not hashing) and a
    # 2.7x candidate false-positive blowup from the weaker mixing — so the
    # independent-hashes formulation stays.
    aggs = [
        F.min(
            F.hash(F.col("sh"), F.lit(i * 2654435761 + 1)).bitwiseAND(
                F.lit(0x7FFFFFFF)
            )
        ).alias(f"__h{i}")
        for i in range(n_hashes)
    ]
    sigs = sh.groupBy(id_col).agg(*aggs)
    return sigs.select(
        id_col, F.array(*[F.col(f"__h{i}") for i in range(n_hashes)]).alias("signature")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded minhash LSH.

    rows/band = n_hashes/bands; two docs collide if any band's sub-signature
    matches exactly. Returns (doc_id_a, doc_id_b) with a < b, distinct.

    Scale: no self-join — docs group by (band, bucket) in ONE shuffle and
    pairs are generated bucket-locally, so the whole doc pipeline (shingle,
    minhash) is scanned once instead of twice and the shuffled bytes are
    proportional to data size, not to the quadratic pair space. Bucket
    sizes are small w.h.p. EXCEPT for degenerate boilerplate corpora (the
    same license header in a million docs), where one bucket would emit
    O(k²) pairs from a single task — so ``max_bucket_size`` caps buckets
    BY DEFAULT and oversized ones are dropped from pairing. Members of a
    dropped bucket agree on an entire band sub-signature, i.e. they are
    wholesale near-identical: route them through ``exact_dedup`` (or keep
    one representative per bucket) instead of enumerating pairs. Pass
    ``max_bucket_size=None`` only when the corpus is known boilerplate-free.
    """
    rows_per_band = n_hashes // bands
    # Band buckets straight from the flat min-hash aggregate columns.
    # (Materializing an array column and indexing it here re-evaluates the
    # array constructor per index — measured 25× slower than flat columns.)
    sh = exploded_shingles(widen_if_narrow(docs), text_col, shingle_n, id_col)
    # independent murmur3 per seed — see minhash_signatures for why the
    # affine-permutation shortcut was rejected
    aggs = [
        F.min(
            F.hash(F.col("sh"), F.lit(i * 2654435761 + 1)).bitwiseAND(
                F.lit(0x7FFFFFFF)
            )
        ).alias(f"__h{i}")
        for i in range(n_hashes)
    ]
    flat = sh.groupBy(id_col).agg(*aggs)
    banded = flat.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[
                                F.col(f"__h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.select(F.explode(_pairs_of_sorted("ids")).alias("p"))
        .select(
            F.col("p.a").alias("doc_id_a"),
            F.col("p.b").alias("doc_id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for doc pairs above ``threshold``.

    Scale shape (``prefix_filter=True``): classic prefix filtering. Sort
    each doc's shingles by (global document frequency, shingle); if
    J(A,B) >= t then the first ``floor(|S|*(1-t))+1`` shingles of each
    side must intersect, so ONLY those prefix shingles feed the
    inverted-index candidate join — the frequent boilerplate shingles
    that make a naive shingle self-join quadratic ("the" appears in
    every doc) land at the END of the order and mostly stay out of the
    join. Candidate pairs are additionally pruned by the exact
    PPJoin-style length filter (t*|A| <= |B| <= |A|/t) and positional
    filter (n_common <= 1 + min(|A|-i, |B|-j) at the lowest-ranked shared
    prefix shingle), then verified exactly via ``array_intersect`` on the
    full shingle-id sets, so the result is IDENTICAL to the naive plan —
    the DuckDB oracle needs no cap modeling — while the join volume is
    bounded by rare-shingle collisions. Shingles are dictionary-encoded
    to dense int64 ids off the freq table (an exact bijection, pinned by
    a localCheckpoint) so every downstream shuffle, sort and intersection
    runs on longs instead of strings; the explode+freq-join pipeline is
    checkpointed once and shared by the rank pass and the verification
    set aggregate (r11 optimization round, guide §2.3/§2.4: isolated
    sf0.1 wall 7.8 -> 4.1 s, identical 256 pairs).

    ``prefix_filter=False`` is the direct inverted-index join: shingle
    self-join -> per-pair count agg -> jaccard filter. O(df²) per hot
    shingle, but only ONE pass over the shingle table and zero windows.

    ``prefix_filter=None`` (default) resolves to True. An r11
    threshold-based heuristic (direct join below t=0.5, where the prefix
    keeps 80% of every doc) was tried and REVERTED: it won 3.37s vs
    5.98s on the 5k-doc sf0.1 corpus (identical 256 pairs) but lost
    catastrophically at sf1 — 527s vs 117s for dedup_connected_clusters
    (BENCH_full_local sf1 section, r11 optimization round) — because
    even a weak prefix still ranks by document frequency and keeps the
    HOTTEST shingles out of most docs' prefixes, which is exactly the
    O(df²) term that explodes as the corpus grows. The direct join's
    small-corpus win does not survive scale, so it stays opt-in for
    callers that KNOW the corpus is small or uniformly dense (where
    nothing filters and the window is pure overhead).
    """
    if prefix_filter is None:
        prefix_filter = True
    sh = exploded_shingles(docs, text_col, shingle_n, id_col)

    if not prefix_filter:
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        inter = (
            sh.alias("l")
            .join(sh.alias("r"), "sh")
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .groupBy(
                F.col(f"l.{id_col}").alias("doc_id_a"),
                F.col(f"r.{id_col}").alias("doc_id_b"),
            )
            .agg(F.count("*").alias("n_common"))
        )
        sa = sizes.select(
            F.col(id_col).alias("doc_id_a"), F.col("n_sh").alias("n_a")
        )
        sb = sizes.select(
            F.col(id_col).alias("doc_id_b"), F.col("n_sh").alias("n_b")
        )
        verified = inter.join(sa, "doc_id_a").join(sb, "doc_id_b")
    else:
        # Dictionary-encode shingles to dense int64 ids: every downstream
        # stage (window sort, candidate self-join shuffle, collect_set,
        # array_intersect) then operates on longs instead of ~20-byte
        # strings — same counts, identical output, cheaper bytes (guide
        # §2.3 "narrower types"). The id assignment is pinned by the
        # checkpoint below: ids are materialized exactly once, so every
        # consumer sees the same bijection (distinct sh <-> distinct id),
        # and intersection COUNTS over ids equal counts over strings.
        # The ids are SPARSE (monotonically_increasing_id) by design — a
        # late-r11 dense bucket-offset re-encode (rank window over the
        # distinct-shingle table + a driver collect of per-bucket counts,
        # enabling an int32 cast) was measured THIS round and REVERTED:
        # the collect made every DataFrame CONSTRUCTION eagerly run the
        # full explode+freq pipeline (bench constructs per timed run, and
        # each of the 5 query builders that call this function paid it),
        # regressing dedup_connected_clusters sf1 from 36.5 s to 121.7 s
        # at local[32] (201.5 s in the driver's local[8] run) for a
        # byte-width win the verify stage never noticed at any SF. The
        # sparse id needs no driver action, no dictionary-wide window,
        # and no broadcast join — plan construction stays lazy.
        freq = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("__df"))
            .withColumn("__shid", F.monotonically_increasing_id())
        )
        # The enriched shingle table feeds TWO consumers (the ranked
        # prefix pass and the verification set aggregate); without the
        # checkpoint each consumer recomputes normalize+split+explode
        # plus the freq join over the corpus (guide §2.4/§5).
        hv = (
            sh.join(freq, "sh")
            .select(id_col, "__shid", "__df")
            .localCheckpoint(eager=False)
        )
        wdoc = Window.partitionBy(id_col)
        ranked = (
            hv.select(
                id_col,
                "__shid",
                # the prefix theorem needs one GLOBAL total order shared
                # by both docs; (__df, __shid) is one (the former
                # (__df, sh) order works too — candidates may differ at
                # ties, the verified output cannot)
                F.row_number()
                .over(wdoc.orderBy(F.col("__df").asc(), F.col("__shid").asc()))
                .alias("__rank"),
                # doc size from the SAME window partitioning the rank
                # already established — replaces the former count
                # aggregate + join-back (one exchange, zero extra scans)
                F.count("*").over(wdoc).alias("n_sh"),
            )
            # prefix length floor(n*(1-t))+1 >= n - ceil(t*n) + 1: any pair
            # at jaccard >= t shares a shingle within both prefixes. The
            # +1e-9 counters binary-float shortfall: (1.0-0.8)*10 is
            # 1.9999999999999996, whose bare floor makes the prefix ONE
            # SHORTER than the theorem needs (a true pair sharing only
            # the 3rd-ranked shingle was provably dropped at t=0.8); the
            # epsilon can only LENGTHEN the prefix, never shorten it.
            .filter(
                F.col("__rank")
                <= F.floor(
                    F.col("n_sh") * F.lit(1.0 - threshold) + F.lit(1e-9)
                )
                + 1
            )
            # consumed by BOTH sides of the candidate self-join; without
            # the checkpoint the freq aggregate and the rank/size windows
            # execute twice (the broadcast side cannot reuse the shuffle
            # side's exchange)
            .localCheckpoint(eager=False)
        )
        # Candidate pruning (exact, PPJoin-style — every surviving pair is
        # still fully verified below, so these filters only REMOVE work):
        # * length filter: jaccard >= t forces t*|A| <= |B| <= |A|/t;
        # * positional filter: for the lowest-ranked shared prefix
        #   shingle at 1-based ranks (i, j), every other common shingle
        #   ranks after it IN BOTH docs (per-doc rank order is the global
        #   (df, sh) order restricted), so n_common <= 1 + min(nA-i,
        #   nB-j); a pair needs n_common >= t*(nA+nB)/(1+t). Keeping a
        #   pair when ANY shared shingle passes is conservative: if the
        #   minimal one fails, the pair provably cannot reach t. The 1e-9
        #   slack keeps float rounding on the conservative side.
        cand = (
            ranked.alias("l")
            .join(
                ranked.alias("r"),
                (F.col("l.__shid") == F.col("r.__shid"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
                & (
                    F.col("r.n_sh")
                    >= F.col("l.n_sh") * F.lit(threshold) - F.lit(1e-9)
                )
                & (
                    F.col("l.n_sh")
                    >= F.col("r.n_sh") * F.lit(threshold) - F.lit(1e-9)
                ),
            )
            .groupBy(
                F.col(f"l.{id_col}").alias("doc_id_a"),
                F.col(f"r.{id_col}").alias("doc_id_b"),
            )
            .agg(
                F.first(F.col("l.n_sh")).alias("n_a"),
                F.first(F.col("r.n_sh")).alias("n_b"),
                F.max(
                    F.least(
                        F.col("l.n_sh") - F.col("l.__rank"),
                        F.col("r.n_sh") - F.col("r.__rank"),
                    )
                ).alias("__ub"),
            )
            .filter(
                F.col("__ub") + F.lit(1)
                >= (F.col("n_a") + F.col("n_b"))
                * F.lit(threshold / (1.0 + threshold))
                - F.lit(1e-9)
            )
        )
        # Per-doc shingle-id sets for exact verification; consumed twice
        # (doc_id_a and doc_id_b sides) — checkpoint so the collect_set
        # aggregate runs once. n_a/n_b ride on the candidate rows, so the
        # former sizes-aggregate joins are gone entirely.
        sets = (
            hv.groupBy(id_col)
            .agg(F.collect_set("__shid").alias("__set"))
            .localCheckpoint(eager=False)
        )
        # Join strategy for the two set-attach joins, considered
        # deliberately (guide §3.1) and left to the planner's
        # SortMergeJoin: a SHUFFLE_HASH hint on the sets side (one row
        # per doc, far smaller than the pair relation) was A/B measured
        # at sf1/local[32] in r12 — interleaved same-session min-of-2:
        # SMJ 76.8 s vs SHJ 79.5 s for the full CC query — no win,
        # because the wall is the shuffle BYTES of the array-attached
        # pair relation plus array_intersect compute, not the SMJ sorts.
        # A broadcast hint would win locally but is a scale hazard (sets
        # is corpus-sized, O(docs) rows).
        verified = (
            cand.join(
                sets.select(
                    F.col(id_col).alias("doc_id_a"), F.col("__set").alias("__sa")
                ),
                "doc_id_a",
            )
            .join(
                sets.select(
                    F.col(id_col).alias("doc_id_b"), F.col("__set").alias("__sb")
                ),
                "doc_id_b",
            )
            .select(
                "doc_id_a",
                "doc_id_b",
                "n_a",
                "n_b",
                F.size(F.array_intersect("__sa", "__sb")).alias("n_common"),
            )
        )

    return (
        verified.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, simhash) — 63-bit SimHash fingerprint per doc (sign bit
    unused, keeping the value in a LongType).

    Plan shape: explode shingles → one xxhash64 per shingle → ONE flat
    aggregate of 63 ±1-vote sums → recombine sign bits. Same codegen/
    map-side-combine rationale as minhash_signatures.
    """
    sh = exploded_shingles(docs, text_col, shingle_n, id_col).select(
        id_col, F.xxhash64("sh").alias("h")
    )
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"__b{b}")
        for b in range(63)
    ]
    votes = sh.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(63):
        fp = fp.bitwiseOR(
            F.when(F.col(f"__b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        )
    return votes.select(id_col, fp.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs under SimHash Hamming distance, banded into four
    16-bit chunks (pigeonhole: distance ≤ 3 ⇒ at least one chunk equal).

    Same bucket-local pair generation as minhash_lsh_candidates: one scan
    of the fingerprint pipeline, one shuffle on (chunk, chunk_value), pairs
    emitted inside each bucket. ``max_bucket_size`` (on by default) drops
    degenerate chunk buckets — boilerplate corpora put thousands of docs in
    one 16-bit chunk value, which would emit O(k²) pairs from one task;
    members of a dropped bucket share a whole fingerprint chunk, so handle
    them via exact_dedup / one-representative selection instead."""
    fps = simhash(widen_if_narrow(docs), text_col, shingle_n, id_col)
    chunks = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ck"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "simhash", "cc.chunk", "cc.ck")
    # structs sort by leading field, so array_sort orders members by id and
    # _pairs_of_sorted yields (a.id < b.id) pairs directly
    buckets = (
        chunks.groupBy("chunk", "ck")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col(id_col), F.col("simhash")))
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = (
        buckets.select(F.explode(_pairs_of_sorted("ids")).alias("p"))
        .select(
            F.col(f"p.a.{id_col}").alias("doc_id_a"),
            F.col(f"p.b.{id_col}").alias("doc_id_b"),
            F.col("p.a.simhash").alias("ha"),
            F.col("p.b.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


# --- portable minhash (cross-engine verifiable) ------------------------------

# Prime modulus > 2^32; with multipliers < 2^21, (a*hv + b) stays < 2^62 —
# no int64 overflow in either engine.
PORTABLE_P = 4294967311
PORTABLE_AS = [1000003 + 7919 * i for i in range(16)]
PORTABLE_BS = [12345 + 999983 * i for i in range(16)]


def portable_shingle_hash(col) -> F.Column:
    """60-bit integer from md5 hex — the one hash both Spark and DuckDB
    compute identically (F.hash/xxhash64 have no DuckDB counterpart)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
        % F.lit(PORTABLE_P)
    )


def portable_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_n: int = 5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, __s0..__s{n-1}) — md5-derived minhash signature as flat
    columns: ONE map-side-combined aggregate over exploded shingles.

    ``shingles``: optional pre-computed ``exploded_shingles`` frame
    (id_col, sh) to aggregate instead of re-deriving it from ``docs`` —
    lets a caller that also needs the shingle table for other arms (the
    recall report's exact-truth self-join) share ONE explode pass."""
    sh = (
        shingles
        if shingles is not None
        else exploded_shingles(widen_if_narrow(docs), text_col, shingle_n, id_col)
    )
    hv = sh.select(id_col, portable_shingle_hash(F.col("sh")).alias("hv"))
    return hv.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(PORTABLE_AS[i]) * F.col("hv") + F.lit(PORTABLE_BS[i]))
                % F.lit(PORTABLE_P)
            ).alias(f"__s{i}")
            for i in range(n_hashes)
        ]
    )


def portable_band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry_cols...,] band, bucket) rows from flat signatures — the
    STORED artifact of an incremental dedup store: append-only, one row
    per (doc, band). ``carry_cols`` ride through the band explode so a
    consumer needing per-doc attributes alongside buckets (e.g. the full
    signature for pair agreement) avoids re-joining the signature table."""
    rows_per_band = n_hashes // bands
    return signatures.select(
        id_col,
        *carry_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "_",
                                *[
                                    F.col(f"__s{b * rows_per_band + r}").cast(
                                        "string"
                                    )
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, *carry_cols, "bb.band", "bb.bucket")


def incremental_minhash_candidates(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
) -> DataFrame:
    """Continuous-ingestion dedup: candidate (new_doc_id, corpus_doc_id)
    pairs where a NEW document shares any LSH band bucket with the
    EXISTING corpus — without ever re-pairing the corpus against itself.

    At 100 TB the corpus side is the PRECOMPUTED band-bucket table
    (portable_band_buckets output, stored append-only and bucketed by
    (band, bucket)); only the new batch is shingled per run, and the join
    shuffles ∝ new-batch bands + matched corpus rows — never ∝ corpus.
    Here both sides derive from scratch so the whole path sits under the
    DuckDB oracle."""
    nb = portable_band_buckets(
        portable_signatures(new_docs, text_col, id_col, n_hashes, shingle_n),
        id_col, n_hashes, bands,
    ).select(
        F.col(id_col).alias("new_doc_id"), "band", "bucket"
    )
    cb = portable_band_buckets(
        portable_signatures(corpus_docs, text_col, id_col, n_hashes, shingle_n),
        id_col, n_hashes, bands,
    ).select(
        F.col(id_col).alias("corpus_doc_id"), "band", "bucket"
    )
    return (
        nb.join(cb, ["band", "bucket"])
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )


def minhash_lsh_pairs_portable(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Banded minhash LSH with md5-derived permutation hashes, plus the
    signature-agreement fraction per candidate pair.

    Same plan shape as ``minhash_lsh_candidates`` (one shuffle to
    signatures, bucket-local pair generation) but every number is
    reproducible in ANSI SQL, so the WHOLE algorithm — shingling,
    signatures, banding, candidate pairs, agreement — sits under the
    DuckDB oracle gate. The xxhash64 variant stays the fast path; this is
    the correctness witness that the minhash machinery computes what it
    claims.
    """
    flat = portable_signatures(docs, text_col, id_col, n_hashes, shingle_n, shingles)
    # Carry each doc's full signature INTO the bucket rows (one array per
    # banded row) so agreement is computed bucket-locally on the pair —
    # the earlier shape re-joined the corpus-sized signature table twice
    # (two extra corpus shuffles at scale; AQE only reused one of the
    # three signature-aggregate consumers at runtime). Now: scan → sig
    # agg → band explode → bucket agg → pair explode. Struct sort order
    # puts id first, so array_sort keeps the a < b pair convention.
    sig_arr = F.array(*[F.col(f"__s{i}") for i in range(n_hashes)])
    with_sig = portable_band_buckets(
        flat.withColumn("__sig", sig_arr),
        id_col,
        n_hashes,
        bands,
        carry_cols=("__sig",),
    )
    pairs = (
        with_sig.groupBy("band", "bucket")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col(id_col).alias("i"), "__sig"))
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
        .select(F.explode(_pairs_of_sorted("ids")).alias("p"))
        .select(
            F.col("p.a.i").alias("doc_id_a"),
            F.col("p.b.i").alias("doc_id_b"),
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            "p.a.__sig", "p.b.__sig", lambda a, b: a == b
                        ),
                        lambda x: x,
                    )
                )
                / F.lit(float(n_hashes))
            ).alias("sig_agreement"),
        )
        .distinct()
    )
    return pairs


def simhash_pairs_portable(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
    n_bits: int = 32,
) -> DataFrame:
    """SimHash near-pairs with the portable md5 hash and a 32-bit
    fingerprint — every vote, bit, chunk, and Hamming distance
    reproducible in SQL (the oracle witness for the 63-bit xxhash64
    fast path). Pigeonhole banding: 4 chunks of n_bits/4; distance <= 3
    guarantees at least one equal chunk."""
    chunk_bits = n_bits // 4
    sh = exploded_shingles(widen_if_narrow(docs), text_col, shingle_n, id_col)
    hv = sh.select(id_col, portable_shingle_hash(F.col("sh")).alias("h"))
    votes = hv.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1
                ).otherwise(-1)
            ).alias(f"__b{b}")
            for b in range(n_bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(n_bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"__b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        )
    fps = votes.select(id_col, fp.alias("simhash"))
    chunks = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("ck"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "simhash", "cc.chunk", "cc.ck")
    buckets = (
        chunks.groupBy("chunk", "ck")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col(id_col), F.col("simhash")))
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    pairs = (
        buckets.select(F.explode(_pairs_of_sorted("ids")).alias("p"))
        .select(
            F.col(f"p.a.{id_col}").alias("doc_id_a"),
            F.col(f"p.b.{id_col}").alias("doc_id_b"),
            F.col("p.a.simhash").alias("ha"),
            F.col("p.b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def duplicate_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 40,
    stride: int = 10,
) -> DataFrame:
    """Substring-level (span) duplicate detection across documents — the
    distributed analogue of suffix-array substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022), which
    removes REGIONS repeated verbatim across a corpus rather than whole
    near-duplicate documents.

    A suffix array is inherently sequential to build; the scalable Spark
    shape replaces it with strided fixed-width gram fingerprints:

      1. normalize text, fingerprint a ``width``-char gram every ``stride``
         chars (explode factor = len/stride — linear in corpus bytes);
         the fingerprint is ``xxhash64`` (8-byte long), not md5: the hash
         is only an equality proxy, never surfaced, so the narrower type
         quarters the shuffle bytes and drops the per-gram digest cost
         (r11 optimization round, guide §2.3 — isolated sf0.1 action
         1.92 → 0.96 s across this change and the one below);
      2. ONE shuffle by gram hash + per-hash window computes
         ``min(doc_id) != max(doc_id)`` — exactly "occurs in >= 2
         distinct documents" — and keeps the hit rows in the same pass.
         (The former shape aggregated ``count_distinct(doc_id)`` in a
         two-exchange chain, then joined a broadcast dup-hash set back
         against a SECOND full gram pass; the window form removes one
         corpus scan + explode, two aggregate exchanges, and the
         broadcast — whose size is corpus-dependent and would be a
         driver hazard at 100 TB);
      3. per-document gaps-and-islands window merges overlapping/touching
         gram positions into maximal duplicated spans.

    No pairwise or all-pairs work anywhere: cost is O(corpus grams) through
    two linear shuffles, so the plan survives 100 TB (the reference
    pipelines run this over trillions of tokens).

    Approximation contract: grams are sampled on the stride grid, so a
    duplicated region is detected when a width-gram inside it starts on the
    grid in BOTH copies; regions >= width + stride - 1 chars always contain
    a grid-aligned gram in one copy, and alignment in the other copy is
    guaranteed only when the copies' offsets agree mod stride (always true
    for stride=1, the exact-but-denser setting; the plan is identical,
    stride only scales the explode factor).

    Returns one row per maximal duplicated span:
    ``(doc_id, span_start, span_end, span_len)`` (1-based inclusive char
    offsets into the NORMALIZED text).
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), normalize_text(F.col(text_col)).alias("t")
    ).filter(F.length("t") >= width)
    grams = (
        widen_if_narrow(base)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(1), F.length("t") - F.lit(width - 1), F.lit(stride)
                )
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.xxhash64(F.expr(f"substring(t, pos, {width})")).alias("h"),
        )
    )
    wh = Window.partitionBy("h")
    hits = (
        grams.withColumn("__mn", F.min("doc_id").over(wh))
        .withColumn("__mx", F.max("doc_id").over(wh))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("doc_id", "pos")
    )
    order = Window.partitionBy("doc_id").orderBy("pos")
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    brk = F.when(
        F.col("pos") - F.lag("pos").over(order) <= width, F.lit(0)
    ).otherwise(F.lit(1))
    return (
        hits.withColumn("brk", brk)
        .withColumn("gid", F.sum("brk").over(run))
        .groupBy("doc_id", "gid")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(width - 1)).cast("long").alias("span_end"),
            (F.max("pos") + F.lit(width) - F.min("pos")).cast("long").alias(
                "span_len"
            ),
        )
        .select("doc_id", "span_start", "span_end", "span_len")
    )


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS scheme): hash every character k-gram of the normalized text,
    slide a window of ``w`` consecutive hashes, keep the minimum of each
    window (rightmost occurrence on ties), deduplicate selections.

    The guarantee that makes it the standard plagiarism / clone-detection
    fingerprint: any substring match of length >= w + k - 1 between two
    documents shares at least one selected fingerprint, while only
    ~2/(w+1) of all gram hashes are kept — a tunable density/recall knob
    that strided sampling (duplicate_spans' stride trade-off) lacks.

    Scale shape: pure per-row array expressions (two HOF passes over the
    gram array) — ZERO shuffles, linear scan; a downstream self-join on
    (gram_hash) finds cross-doc matches with join volume proportional to
    fingerprint density, not text size. Hashes are md5-derived, so the
    exact fingerprint selection — including tie decisions — reproduces in
    ANSI SQL for the oracle gate.

    Returns (doc_id, pos, gram_hash): 1-based gram position of each
    selected fingerprint in the normalized text.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    # widen first: the per-gram md5 projection below is the expensive
    # stage, and a single small parquet file otherwise arrives as ONE
    # partition and serializes it on one core (the exploded_shingles
    # lesson; r12 measured the fingerprint pass alone at 10.4 s single-
    # task vs 0.8 s widened on the sf0.1 corpus; full query interleaved
    # same-session A/B: 31.9 -> 13.9 s min-of-2, identical 6 rows — the
    # residual wall is the pair enumeration, sum(df^2) = 118 M join rows
    # on this fixture's 1002-hash space, which is the gate's semantics)
    pre = widen_if_narrow(docs).select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__t")
    ).filter(F.length("__t") >= k)
    # (hash, position) pairs as ONE attribute array (the exploded_shingles
    # lesson: composing expressions into the next lambda re-evaluates them
    # per element); Column.substr takes a Column start, unlike F.substring
    hp = pre.select(
        F.col(id_col),
        F.zip_with(
            F.transform(
                F.sequence(F.lit(1), F.length("__t") - k + 1),
                lambda i: F.conv(
                    F.substring(F.md5(F.col("__t").substr(i, F.lit(k))), 1, 8),
                    16,
                    10,
                ).cast("long"),
            ),
            F.sequence(F.lit(1), F.length("__t") - k + 1),
            lambda h, i: F.struct(h.alias("h"), i.alias("i")),
        ).alias("__hp"),
    )
    init = F.struct(
        F.lit((1 << 62)).cast("long").alias("h"), F.lit(0).cast("long").alias("i")
    )
    pick = lambda acc, x: F.when(  # noqa: E731
        (x["h"] < acc["h"]) | ((x["h"] == acc["h"]) & (x["i"] > acc["i"])), x
    ).otherwise(acc)
    selected = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("__hp") - w + 1, F.lit(1)),
            ),
            lambda p: F.aggregate(
                F.slice("__hp", p, w), init, pick
            ),
        )
    )
    return (
        hp.select(F.col(id_col), F.explode(selected).alias("s"))
        .select(
            id_col,
            F.col("s.i").cast("long").alias("pos"),
            F.col("s.h").alias("gram_hash"),
        )
    )


def winnowing_matches(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_hash_df: int = 1000,
) -> DataFrame:
    """Cross-document clone detection on winnowing fingerprints: pairs of
    documents sharing >= ``min_shared`` selected fingerprints, with the
    shared count and each side's coverage fraction (shared / own
    fingerprints, both counted within the df-capped hash space so exact
    clones reach coverage 1.0 even when they share boilerplate hashes) —
    the MOSS report, as a DataFrame.

    Scale shape: the inverted-index join runs on fingerprint HASHES
    (~2/(w+1) of gram count per doc), and ``max_hash_df`` drops hashes
    selected in more than that many documents before pairing — the same
    hot-key cap as LSH's max_bucket_size: a boilerplate gram shared by a
    million docs would otherwise emit O(df^2) pairs from one task. Join
    volume is bounded by rare-hash collisions; no self-join of text.
    """
    fps = winnowing_fingerprints(docs, text_col, id_col, k=k, w=w)
    # distinct hashes per doc (a hash selected at two positions counts
    # once). Checkpointed: dh feeds FOUR consumers (the df aggregate,
    # both sides of the pair self-join, the coverage sizes). At sf0.1
    # this measured NEUTRAL (ReuseExchange already collapses the four
    # consumers onto the distinct's exchange), but that reuse depends on
    # exact plan-canonicalization equality; the checkpoint pins
    # fingerprint-once structurally, and the materialized frame
    # (fingerprints only) is far smaller than its recompute (guide
    # §2.4/§5, the r11 "smaller than the recompute" rule)
    dh = (
        fps.select(id_col, "gram_hash")
        .distinct()
        .localCheckpoint(eager=False)
    )
    hot = dh.groupBy("gram_hash").agg(F.count("*").alias("df"))
    usable = dh.join(
        hot.filter(F.col("df") <= max_hash_df).select("gram_hash"), "gram_hash"
    ).localCheckpoint(eager=False)  # consumed by sizes and both join sides
    # coverage denominators come from the SAME df-capped hash space as the
    # shared counts — otherwise two identical docs sharing one boilerplate
    # hash (df > cap) could never reach cover == 1.0 and an exact-clone
    # threshold would miss true clones
    sizes = usable.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    pairs = (
        usable.alias("l")
        .join(usable.alias("r"), "gram_hash")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(
            F.col(f"l.{id_col}").alias("doc_id_a"),
            F.col(f"r.{id_col}").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_id_a"), F.col("n_fp").alias("n_fp_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_id_b"), F.col("n_fp").alias("n_fp_b")
    )
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "shared_fp",
            F.round(F.col("shared_fp") / F.col("n_fp_a"), 6).alias("cover_a"),
            F.round(F.col("shared_fp") / F.col("n_fp_b"), 6).alias("cover_b"),
        )
    )


def levenshtein_near_pairs(
    docs: DataFrame,
    max_dist: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """EXACT edit-distance near-duplicate pairs: (doc_id_a, doc_id_b,
    dist) for every pair with levenshtein(normalized text) <= max_dist,
    a < b. The entity-resolution verify stage — where MinHash/SimHash
    answer "probably similar", this answers "provably within k edits"
    (template-with-small-patch detection, OCR-noise dedup).

    Completeness without the all-pairs join: edit distance is bounded
    below by the length difference, so any qualifying pair has
    |len(a) - len(b)| <= max_dist. The pair side emits each doc at
    length buckets floor(len / max_dist) + {-1, 0, +1}; the probe side
    stays at its base bucket. Lengths <= max_dist apart have floor
    buckets <= 1 apart, so every qualifying pair meets in EXACTLY one
    (probe-base, pair-offset) combination — complete with no recall
    loss (unlike LSH) and no duplicate candidates to re-dedup. Block
    keys (default: lang) further cut the quadratic term; at 100 TB you
    run this inside LSH buckets instead (compose with
    minhash_lsh_candidates) — per-bucket cost is |bucket|^2, never
    corpus^2.

    The levenshtein kernel runs JVM-side (built-in function,
    whole-stage codegen) only on pairs that survive the length filter,
    and uses the THRESHOLDED form (Spark >= 3.5): the band-limited DP
    is O(max_dist * len) per pair instead of O(len^2) and bails out the
    moment the band exceeds max_dist — on long documents that is the
    difference between a ~len/k-fold kernel cost and a quadratic one,
    with identical results on every pair the query keeps (the -1
    early-exit sentinel only replaces distances the <= max_dist filter
    was about to drop anyway).
    """
    # widen first: the banded levenshtein kernel below is the expensive
    # stage, and with a broadcast bucket join the STREAM side is
    # otherwise the raw single-partition scan of a small parquet file —
    # the whole DP cost serialized on one core (r12 interleaved
    # same-session A/B at sf0.1: 9.1 -> 1.4 s min-of-2, identical 79
    # pairs)
    n = widen_if_narrow(docs).select(
        F.col(id_col).alias("id"),
        *[F.col(c).alias(f"bk_{i}") for i, c in enumerate(block_cols)],
        normalize_text(F.col(text_col)).alias("t"),
    ).withColumn("len", F.length("t"))
    bk = [f"bk_{i}" for i in range(len(block_cols))]
    base = F.floor(F.col("len") / F.lit(max_dist))
    expanded = None
    for off in (-1, 0, 1):
        side = n.withColumn("bucket", base + F.lit(off))
        expanded = side if expanded is None else expanded.unionByName(side)
    probe = n.withColumn("bucket", base)
    left = expanded.select(
        *[F.col(c).alias(f"l_{c}") for c in ("id", "t", "len", "bucket", *bk)]
    )
    right = probe.select(
        *[F.col(c).alias(f"r_{c}") for c in ("id", "t", "len", "bucket", *bk)]
    )
    cond = (F.col("l_bucket") == F.col("r_bucket")) & (
        F.col("l_id") < F.col("r_id")
    )
    for c in bk:
        cond = cond & (F.col(f"l_{c}") == F.col(f"r_{c}"))
    return (
        left.join(right, cond)
        .filter(
            (F.col("r_len") >= F.col("l_len") - max_dist)
            & (F.col("r_len") <= F.col("l_len") + max_dist)
        )
        .select(
            F.col("l_id").alias("doc_id_a"),
            F.col("r_id").alias("doc_id_b"),
            F.levenshtein("l_t", "r_t", max_dist).alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT asymmetric shingle containment: ordered pairs (a, b),
    a != b, where containment(A in B) = |S(A) ∩ S(B)| / |S(A)| >=
    ``threshold`` over distinct word ``shingle_n``-grams. The
    quote/inclusion detector Jaccard cannot express — a short document
    fully quoted inside a long one has containment 1.0 but Jaccard
    ~|A|/|B|, far below any sane dedup threshold.

    Scale shape: one-sided prefix filtering (the PPJoin family, adapted
    to the asymmetric measure). Sort A's shingles by (global df,
    shingle) ascending; if at least ceil(t*|A|) of A's shingles are in
    B then fewer than |A| - ceil(t*|A|) + 1 are missing, so among A's
    ``|A| - ceil(t*|A|) + 1`` RAREST shingles at least one is in B
    (pigeonhole). Only that prefix feeds the candidate join against the
    full inverted index; frequent boilerplate shingles land at the end
    of the order and stay out of the join key's hot side. Candidates
    are verified exactly on the full shingle sets (array_intersect), so
    the result is IDENTICAL to the naive quadratic plan and the oracle
    needs no cap modeling. Only the A side can be prefixed —
    containment is asymmetric, B must stay complete.

    The threshold compare and the reported score are integer-exact:
    ``t_ppm = round(threshold * 1e6)`` once in the driver, then
    ``n_common * 1e6 >= t_ppm * n_a`` and
    ``containment_ppm = (1e6 * n_common) div n_a`` — no float ratio
    ever crosses an engine boundary.

    Returns (doc_id_a, doc_id_b, n_common, n_a, containment_ppm).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    t_ppm = round(threshold * 1_000_000)
    # deliberately NOT widened (unlike the other shingle consumers in
    # this module): the word-shingle explode here is cheap and every
    # downstream stage is shuffle-bound (freq/sizes aggregates, prefix
    # window, candidate join), so the extra round-robin exchange costs
    # more than it saves — r12 interleaved A/B at sf0.1: narrow 4.85 s
    # vs widened 5.55 s (min-of-3), identical 512 rows
    sh = exploded_shingles(docs, text_col, shingle_n, id_col)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_a"))
    freq = sh.groupBy("sh").agg(F.count("*").alias("__df"))
    # prefix_len = n_a - ceil(t * n_a) + 1, all-integer ceil
    prefix_len = (
        F.col("n_a")
        - F.expr(f"(n_a * {t_ppm} + 999999) div 1000000")
        + F.lit(1)
    )
    prefix = (
        sh.join(freq, "sh")
        .withColumn(
            "__rank",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.col("__df").asc(), F.col("sh").asc()
                )
            ),
        )
        .join(sizes, id_col)
        .filter(F.col("__rank") <= prefix_len)
        .select(id_col, "sh")
    )
    cand = (
        prefix.alias("l")
        .join(sh.alias("r"), "sh")
        .filter(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("doc_id_a"),
            F.col(f"r.{id_col}").alias("doc_id_b"),
        )
        .distinct()
    )
    sets = sh.groupBy(id_col).agg(F.collect_set("sh").alias("__set"))
    return (
        cand.join(
            sets.select(
                F.col(id_col).alias("doc_id_a"), F.col("__set").alias("__sa")
            ),
            "doc_id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("doc_id_b"), F.col("__set").alias("__sb")
            ),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("__sa", "__sb"))
            .cast("long")
            .alias("n_common"),
            F.size("__sa").cast("long").alias("n_a"),
        )
        .filter(
            F.col("n_common") * F.lit(1_000_000)
            >= F.lit(t_ppm) * F.col("n_a")
        )
        .withColumn(
            "containment_ppm",
            F.expr("(n_common * 1000000) div n_a"),
        )
    )


def lsh_recall_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    thresholds: tuple[float, ...] = (0.2, 0.4, 0.6, 0.8),
) -> DataFrame:
    """Recall of the banded minhash-LSH candidate set against EXACT
    Jaccard truth, per similarity threshold — the measurement that
    qualifies an (n_hashes, bands) configuration before it dedups a
    corpus.

    Truth and candidates share ONE shingle definition (the widened
    ``shingle_n``-gram sets the portable minhash path hashes), so the
    report isolates the banding s-curve: recall should rise toward 1.0
    as the threshold climbs past the band breakpoint (r rows/band →
    P(candidate) = 1-(1-j^r)^b), and the low-threshold rows quantify
    what the bucket join is allowed to miss.

    Scale: the candidate arm is the metered-linear LSH plan; the truth
    arm is the exact inverted-index shingle self-join — evaluation-run
    cost, paid on a SAMPLE at 100 TB (the report is how you pick the
    config before the full run, not a per-run stage).
    """
    # ONE explode pass: the shingle table feeds FIVE consumers (candidate
    # arm's signature aggregate, both sides of the exact self-join, and
    # the sizes aggregate aliased as sa/sb). Un-checkpointed, each
    # consumer recomputes normalize+split+explode over the corpus — the
    # before plan (plans/r11/dedup_recall_eval_before.txt) shows 4
    # Generate subtrees for one logical shingle set (r11 optimization
    # round, guide §2.4/§5: materialize the shared intermediate once).
    sh = exploded_shingles(
        widen_if_narrow(docs), text_col, shingle_n, id_col
    ).localCheckpoint(eager=False)
    cand = minhash_lsh_pairs_portable(
        docs, text_col, id_col, n_hashes, bands, shingle_n, shingles=sh
    ).select("doc_id_a", "doc_id_b", F.lit(1).alias("__c"))
    # tiny (one row per doc) but consumed twice (sa, sb) — checkpoint so
    # the count aggregate over the shingle table runs once, not twice
    sizes = (
        sh.groupBy(id_col)
        .agg(F.count("*").alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    inter = (
        sh.alias("l")
        .join(sh.alias("r"), "sh")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(
            F.col(f"l.{id_col}").alias("doc_id_a"),
            F.col(f"r.{id_col}").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_id_a"), F.col("n_sh").alias("__na")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_id_b"), F.col("n_sh").alias("__nb")
    )
    truth = (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "__j",
            F.col("n_common").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("n_common")).cast(
                "double"
            ),
        )
        .join(cand, ["doc_id_a", "doc_id_b"], "left")
    )
    return (
        truth.withColumn(
            "threshold",
            F.explode(F.array(*[F.lit(float(t)) for t in thresholds])),
        )
        .filter(F.col("__j") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("__c"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "threshold",
            "n_true",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
                6,
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# Content-defined chunking (CDC)
# --------------------------------------------------------------------------

@_functools.lru_cache(maxsize=16)
def _cdc_weights(window: int, base: int):
    import numpy as np

    # int64-exactness bound: max char value is 250 (codepoint % 251), so
    # the largest window hash is 250 * sum(base^k). At the default base
    # 131 this holds only through window 8 — window 9 is ~2.2e19 > 2^63
    # and the matmul would silently wrap, diverging from any arbitrary-
    # precision oracle. Refuse rather than wrap. (lru-cached with the
    # weights, so the hot Arrow-batch loop never re-checks.)
    if 250 * sum(base ** k for k in range(window)) >= 2 ** 63:
        raise ValueError(
            f"cdc window={window} base={base} overflows int64 "
            "(250 * sum(base^k) >= 2^63); shrink window or base"
        )
    return (base ** np.arange(window - 1, -1, -1)).astype(np.int64)


def cdc_chunk_spans(
    t: str,
    window: int = 8,
    base: int = 131,
    modulus: int = 64,
    min_size: int | None = None,
    max_size: int | None = None,
) -> list[tuple[int, int, str]]:
    """Pure per-document CDC kernel: ``[(start_1based, length, md5hex)]``
    for one text, exactly the definition in :func:`cdc_chunks` (which
    calls this per row inside the Arrow batch). Separated so the rolling
    hash — a strided int64 matmul — can be differentially fuzzed against
    a naive per-position reference without a Spark session. The weights
    vector is lru-cached per (window, base) so the per-document cost in
    the hot Arrow-batch loop is the matmul alone.

    ``min_size``/``max_size`` add the LBFS-style clamps that make CDC
    production-real: without them an adversarial document whose EVERY
    window hashes to a boundary (any char with codepoint % 251 divisible
    by 4 at the defaults) chunks per-character. Clamped walk, left to
    right from the last cut ``pos``: take the first hash boundary ``e``
    with ``min_size <= e - pos`` and ``e <= pos + max_size``; if none,
    force a cut at ``pos + max_size`` (or the end of the document if
    closer). The final chunk may be shorter than ``min_size`` — there is
    nothing after it to merge with. Chunk count is thus bounded by
    ``ceil(L / min_size)`` and every chunk by ``max_size``, while
    boundaries still resynchronize after insertions once the clamp
    windows realign. Both default to None = the stateless textbook form
    (the existing durable gate's byte-identical behavior)."""
    import hashlib

    import numpy as np

    w, b, m = int(window), int(base), int(modulus)
    weights = _cdc_weights(w, b)  # raises ValueError on int64 overflow
    L = len(t)
    if L == 0:
        return []
    ends: list[int] = []
    if L >= w:
        # '<u4' pins the explicitly-little-endian utf-32-le bytes to a
        # little-endian view on ANY host — native-order u4 would byte-swap
        # codepoints (and every boundary) on a big-endian platform
        cps = np.frombuffer(
            t.encode("utf-32-le"), dtype="<u4"
        ).astype(np.int64) % 251
        win = np.lib.stride_tricks.sliding_window_view(cps, w)
        h = win @ weights  # int64-exact: 250 * sum(base^k) < 2^63
        ends = [int(i) + w for i in np.nonzero(h % m == 0)[0]]
    if min_size is not None or max_size is not None:
        # validate the RAW parameters — substituting the document length
        # for an omitted max_size before validating would reject min-only
        # clamps on any document shorter than min_size (L < minsz), a
        # legal configuration where the whole document is one final chunk
        minsz = 1 if min_size is None else int(min_size)
        maxsz = None if max_size is None else int(max_size)
        if minsz < 1 or (maxsz is not None and maxsz < minsz):
            raise ValueError(
                f"cdc clamps need 1 <= min_size <= max_size, got "
                f"({min_size}, {max_size})"
            )
        if maxsz is None:
            maxsz = max(L, minsz)
        ends = _cdc_clamp_walk(ends, L, minsz, maxsz)
    elif not ends or ends[-1] != L:
        ends.append(L)
    spans: list[tuple[int, int, str]] = []
    prev = 0
    for e in ends:
        spans.append(
            (prev + 1, e - prev,
             hashlib.md5(t[prev:e].encode("utf-8")).hexdigest())
        )
        prev = e
    return spans


def _cdc_clamp_walk(
    cand: list[int], L: int, minsz: int, maxsz: int
) -> list[int]:
    """LBFS clamp walk over sorted candidate boundary ends. Linear: a
    candidate below ``pos + minsz`` stays ineligible forever (``pos``
    only grows), so the cursor never backs up. Shared definition with
    the recursive-CTE oracle in queries._CDC_CLAMPED_CTE."""
    cuts: list[int] = []
    pos, j, n = 0, 0, len(cand)
    while pos < L:
        while j < n and cand[j] - pos < minsz:
            j += 1
        if j < n and cand[j] <= pos + maxsz:
            nxt = cand[j]
        elif pos + maxsz < L:
            nxt = pos + maxsz  # forced cut: no boundary inside the clamp
        else:
            nxt = L
        cuts.append(nxt)
        pos = nxt
    return cuts


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    base: int = 131,
    modulus: int = 64,
    passthrough: tuple[str, ...] = (),
    min_size: int | None = None,
    max_size: int | None = None,
) -> DataFrame:
    """Content-defined chunking: split each document at positions chosen
    by a Rabin-style rolling hash of the content itself, so identical
    regions of two documents chunk identically REGARDLESS of their byte
    offset. That is the property fixed-size blocking lacks — insert one
    character at the front of a shifted copy and fixed blocks all change,
    while CDC boundaries resynchronize after the first cut. Chunk-level
    dedup on the resulting md5 table finds shared regions that document-
    level hashing misses (boilerplate headers, quoted replies, template
    wrappers) at a fraction of substring-span dedup's index cost.

    Definition shared exactly with the SQL oracle (1-indexed, character
    semantics, all int64-exact arithmetic):

    - per character value v = unicode codepoint % 251 (the % keeps the
      8-term polynomial below 2**63 for any codepoint);
    - for each window start i in 1..L-w+1:
      H(i) = sum_{k=0..w-1} v(t[i+k]) * base**(w-1-k);
    - a chunk BOUNDARY after position i+w-1 wherever H(i) % modulus == 0
      (expected chunk length ~= modulus), plus the implicit final
      boundary at L; consecutive boundaries delimit the chunks.
    - chunk_md5 = md5 of the chunk substring (UTF-8 bytes, both engines).

    With ``min_size``/``max_size`` unset this is the stateless textbook
    form; setting them applies the LBFS-style clamps inside the same
    map-only kernel (see :func:`cdc_chunk_spans` — first eligible hash
    boundary per clamp window, forced cut at ``pos + max_size``, so
    adversarial all-boundary input is bounded by ``ceil(L/min_size)``
    chunks instead of per-character). Scale shape either way: ONE
    Arrow-batched ``mapInPandas`` pass, no shuffle, no explode — the
    rolling hash is a strided int64 matmul per document. Downstream
    dedup is a data-proportional groupBy on (chunk_md5) only.
    """
    from typing import Iterator

    import pandas as pd

    w, b, m = int(window), int(base), int(modulus)
    extra = list(passthrough)

    def chunker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                id_col: [], "chunk_idx": [], "start": [], "len": [],
                "chunk_md5": [],
            }
            for c in extra:
                out[c] = []
            # name=None tuples + explicit zip: itertuples' namedtuple
            # path silently renames columns that aren't valid Python
            # identifiers (spaces, keywords, leading underscore), which
            # would mis-bind rd[text_col] / passthrough lookups
            cols = list(pdf.columns)
            for row in pdf.itertuples(index=False, name=None):
                rd = dict(zip(cols, row))
                t = rd[text_col] or ""
                for idx, (start, ln, digest) in enumerate(
                    cdc_chunk_spans(
                        t, window=w, base=b, modulus=m,
                        min_size=min_size, max_size=max_size,
                    )
                ):
                    out[id_col].append(rd[id_col])
                    out["chunk_idx"].append(idx)
                    out["start"].append(start)
                    out["len"].append(ln)
                    out["chunk_md5"].append(digest)
                    for c in extra:
                        out[c].append(rd[c])
            yield pd.DataFrame(out)

    dtypes = dict(docs.dtypes)
    # backtick-quote every carried column in the output DDL — plain
    # interpolation breaks on names with spaces/keywords
    extra_schema = "".join(f", `{c}` {dtypes[c]}" for c in extra)
    return docs.select(id_col, text_col, *extra).mapInPandas(
        chunker,
        schema=(
            f"`{id_col}` {dtypes[id_col]}, chunk_idx bigint, start bigint, "
            f"len bigint, chunk_md5 string{extra_schema}"
        ),
    )


def cdc_savings(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    base: int = 131,
    modulus: int = 64,
) -> DataFrame:
    """Chunk-level dedup savings report per group: how many CDC chunks,
    how many distinct, and the character-volume ratio a chunk store
    would hold vs the raw corpus. ``uniq_chars`` sums each distinct
    chunk's length once (identical md5 => identical content => identical
    length). One map-only chunking pass, then one data-proportional
    shuffle keyed on (group, chunk_md5) — the chunk TEXT never moves,
    only (md5, len) pairs."""
    chunks = cdc_chunks(
        docs, text_col=text_col, id_col=id_col, window=window,
        base=base, modulus=modulus, passthrough=(group_col,),
    )
    per_chunk = chunks.groupBy(group_col, "chunk_md5").agg(
        F.count(F.lit(1)).alias("__n"), F.max("len").alias("__len")
    )
    return (
        per_chunk.groupBy(group_col)
        .agg(
            F.sum("__n").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_uniq"),
            F.sum(F.col("__n") * F.col("__len")).alias("total_chars"),
            F.sum("__len").alias("uniq_chars"),
        )
        .select(
            group_col,
            "n_chunks",
            "n_uniq",
            "total_chars",
            "uniq_chars",
            F.round(
                F.col("uniq_chars").cast("double")
                / F.col("total_chars").cast("double"),
                6,
            ).alias("dedup_ratio"),
        )
    )
