"""Corpus-curation signals a large-scale training-data pipeline needs
beyond dedup: PII scrubbing, benchmark decontamination, and repetition-
based quality scoring (the C4/Gopher class of rules). All three are pure
JVM column expressions or broadcast joins — no Python in the hot path.

Scale shapes:

- ``scrub_pii``: three ``regexp_replace``/``regexp_count`` expressions in
  one projection — whole-stage codegen, zero shuffles, linear scan.
- ``decontaminate_against``: the benchmark side is always tiny (a few
  thousand eval documents) while the corpus is the 100 TB side, so the
  benchmark's distinct shingle set is BROADCAST and the corpus is never
  shuffled except for its own per-doc aggregate (map-side combined).
  This is the join direction that matters: a shuffle join keyed on
  shingles would move the whole corpus.
- ``repetition_ratio``: per-row array math (split → window transform →
  distinct) — codegen'd, shuffle-free.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from erigon_extract_spark.operators.text import normalize_text

# Patterns are deliberately written in the common subset of Java regex
# (Spark) and RE2 (DuckDB/Go): no backreferences, no lookaround, explicit
# classes — so the SQL oracle mirrors them verbatim.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# anchored on a literal '+' so free-running digit sequences in prose never
# match (and the engines' greedy-match details can't diverge)
PHONE_RE = r"\+\d[\d\- ]{7,}\d"


def exploded_shingles(
    docs: DataFrame, text_col: str, n: int, id_col: str
) -> DataFrame:
    """(id_col, sh) — one row per distinct word n-gram shingle, with the
    words array materialized as an attribute FIRST so the shingle lambda
    reads a per-row array instead of re-splitting the text per index."""
    pre = docs.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__words"),
    )
    words = F.col("__words")
    # slide an n-window over words; drop short tails
    shingles = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            ),
            lambda s: F.length(s) > 0,
        )
    )
    return pre.select(id_col, F.explode(shingles).alias("sh"))


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "scrubbed",
) -> DataFrame:
    """Redact emails → IPv4s → phones (in that order, so earlier
    replacement tokens are never re-matched) and count each redaction.
    Counts are taken on the ORIGINAL text."""
    col = F.col(text_col)
    scrubbed = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, IPV4_RE, "<IP>")
    scrubbed = F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")
    return df.withColumns(
        {
            out_col: scrubbed,
            "n_emails": F.regexp_count(col, F.lit(EMAIL_RE)).cast("long"),
            "n_ips": F.regexp_count(col, F.lit(IPV4_RE)).cast("long"),
            "n_phones": F.regexp_count(col, F.lit(PHONE_RE)).cast("long"),
        }
    )


def decontaminate_against(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the count and
    fraction of its distinct word ``shingle_n``-grams that appear anywhere
    in the benchmark set, plus a ``contaminated`` flag at ``threshold``.

    Documents whose text yields no shingles (empty after normalization)
    have no overlap to measure and drop out — mirroring the SQL oracle.
    """
    bench_sh = (
        exploded_shingles(benchmark, text_col, shingle_n, id_col)
        .select("sh")
        .distinct()
    )
    # ONE pass over the corpus shingles: left-join the broadcast benchmark
    # set with a hit flag and take total/shared as two aggregates of the
    # SAME groupBy. The former total-arm + shared-arm + join-back shape
    # computed the corpus shingle explode twice and paid an extra join
    # (plans/r11/curation_decontaminate_before.txt: 3 Generate, 2
    # BroadcastHashJoin; r11 optimization round, guide §2.4). shared =
    # sum(hit) ≡ the inner-join count, and never-hit docs get 0 from the
    # sum instead of the na.fill.
    corp_sh = exploded_shingles(corpus, text_col, shingle_n, id_col)
    marked = corp_sh.join(
        F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "sh", "left"
    )
    joined = marked.groupBy(id_col).agg(
        F.count("*").alias("total_shingles"),
        F.sum(F.coalesce("__hit", F.lit(0))).alias("shared_shingles"),
    )
    ratio = F.col("shared_shingles") * F.lit(1.0) / F.col("total_shingles")
    return joined.select(
        id_col,
        "shared_shingles",
        "total_shingles",
        F.round(ratio, 6).alias("overlap_ratio"),
        (ratio >= F.lit(threshold)).cast("int").alias("contaminated"),
    )


def repetition_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Duplicate word-``n``-gram fraction: 1 - distinct/total over the full
    sliding windows (docs shorter than ``n`` words score 0). High values
    flag boilerplate/spam — the Gopher-style repetition filter."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    pre = df.select(id_col, words.alias("__w"))
    nw = F.size(F.col("__w"))
    total = F.greatest(nw - (n - 1), F.lit(0)).cast("long")
    grams = F.transform(
        F.sequence(F.lit(0), nw - n),
        lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i + 1, n)),
    )
    distinct = F.when(nw >= n, F.size(F.array_distinct(grams))).otherwise(
        F.lit(0)
    ).cast("long")
    ratio = F.when(
        total > 0, F.lit(1.0) - distinct * F.lit(1.0) / total
    ).otherwise(F.lit(0.0))
    return pre.select(
        id_col,
        total.alias(f"total_{n}grams"),
        distinct.alias(f"distinct_{n}grams"),
        F.round(ratio, 6).alias("repetition_ratio"),
    )


def length_band_filter(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    length_col: str = "n_chars",
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Distribution-based length trim: drop documents below the lo_pct-th
    or above the hi_pct-th percentile of the corpus length distribution
    (the relative variant of the Gopher length rules — cutoffs follow the
    corpus instead of hand-tuned constants).

    Percentiles are computed as DISCRETE cutoffs in pure integer
    arithmetic — smallest value v whose cumulative count satisfies
    ``cum * 100 >= pct * n`` — never float interpolation, so the cutoffs
    (and therefore membership) are bit-identical on any engine. Two-pass
    shape for scale: pass 1 aggregates the length HISTOGRAM (one shuffle;
    the cumulative window runs over distinct length VALUES, a
    domain-bounded frame, not the corpus); pass 2 filters by the broadcast
    scalar cutoffs — the filter is a plain comparison that pushes to the
    scan.

    Returns kept rows: (doc_id, <length_col>, lo_cut, hi_cut).
    """
    from pyspark.sql import Window

    hist = docs.groupBy(F.col(length_col).alias("v")).agg(
        F.count("*").alias("c")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    # total row count derives from the histogram itself (an unpartitioned
    # window over the tiny domain-bounded frame) — a separate docs.agg
    # would scan the corpus a second time just for n
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.withColumn("cum", F.sum("c").over(wv)).withColumn(
        "n", F.sum("c").over(wall)
    )
    cuts = cum.agg(
        F.min(F.when(F.col("cum") * 100 >= F.lit(lo_pct) * F.col("n"), F.col("v"))).alias("lo_cut"),
        F.min(F.when(F.col("cum") * 100 >= F.lit(hi_pct) * F.col("n"), F.col("v"))).alias("hi_cut"),
    )
    return (
        docs.crossJoin(F.broadcast(cuts))
        .filter(
            (F.col(length_col) >= F.col("lo_cut"))
            & (F.col(length_col) <= F.col("hi_cut"))
        )
        .select(id_col, length_col, "lo_cut", "hi_cut")
    )


# A deliberately tiny, neutral placeholder blocklist — the C4 "bad words"
# filter's MECHANISM with stand-in terms (real deployments drop in the
# canonical list behind the same contract). Lowercase; matched on word
# boundaries in the Java-regex/RE2 common subset.
BLOCKLIST_TERMS = ["spamword", "malwarelink", "phishbait", "clickfarm"]


def blocklist_filter(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: list[str] | None = None,
) -> DataFrame:
    """C4-style blocklist filtering: count word-boundary blocklist hits
    per document; ``keep`` = zero hits. One codegen'd regexp count over a
    single alternation pattern — zero shuffles, linear scan, and the
    pattern stays in the Java-regex/RE2 common subset so the oracle
    matches structurally (the PII-scrub rule).

    Returns (doc_id, n_blocked_terms, keep).
    """
    terms = terms if terms is not None else BLOCKLIST_TERMS
    if not terms:  # '\b()\b' would match the empty string at every offset
        raise ValueError("blocklist_filter needs at least one term")
    # Terms are interpolated into a regex alternation that must stay in
    # the Java-regex/RE2 common subset (oracle parity): lowercase
    # defensively (the text side is lowercased, so an uppercase term
    # could never match) and reject metacharacters outright rather than
    # letting 'c++' or 'a.b' silently change the pattern's semantics.
    terms = [t.lower() for t in terms]
    bad = [t for t in terms if not re.fullmatch(r"[a-z0-9]+", t)]
    if bad:
        raise ValueError(
            f"blocklist terms must match [a-z0-9]+ (word-boundary "
            f"alternation, no regex metacharacters): {bad!r}"
        )
    pat = r"\b(" + "|".join(terms) + r")\b"
    n = F.regexp_count(F.lower(F.col(text_col)), F.lit(pat)).cast("long")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_blocked_terms"),
        (n == 0).alias("keep"),
    )


# Gopher (Rae et al. 2021, Table A1) stop-word rule: a document must
# contain at least 2 distinct words from this list. Fixed here so the
# Spark plan and the SQL oracle interpolate the identical constant.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 class) as a
    per-document signal report plus boolean rule flags and the combined
    ``keep`` verdict:

    - word count in [min_words, max_words]
    - mean word length in [3, 10] characters
    - symbol-to-word ratio ('#' and non-overlapping '...') <= 0.1
    - >= 80% of words contain at least one alphabetic character
    - >= 2 distinct stop words present (GOPHER_STOP_WORDS)

    Every ratio rule is evaluated as a PURE INTEGER cross-multiplication
    (e.g. mean-word-length in [3,10] <=> 3*n_words <= sum_wlen <=
    10*n_words), so flags are engine-exact and the whole report
    hash-gates — no float ratio, no rounding mode. Raw numerators and
    denominators are returned alongside the flags so downstream policy
    can re-threshold without recomputing.

    Scale shape: one projection over the corpus — split, array
    higher-order functions and two regexp counts, all whole-stage
    codegen'd; zero shuffles, zero Python.

    Returns (doc_id, n_words, sum_wlen, n_sym, n_alpha_words, n_stop,
    f_word_count, f_mean_wlen, f_symbol, f_alpha, f_stop, keep).
    """
    t = normalize_text(F.col(text_col))
    w = F.split(t, " ")
    n_words = F.when(t == "", F.lit(0)).otherwise(F.size(w)).cast("long")
    # normalized text = words joined by single spaces, so total word
    # length = length(t) - (n_words - 1) separators
    sum_wlen = F.when(t == "", F.lit(0)).otherwise(
        F.length(t) - F.size(w) + 1
    ).cast("long")
    n_alpha = F.size(
        F.filter(w, lambda x: x.rlike("[a-z]"))
    ).cast("long")
    stops = F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(w), stops)).cast(
        "long"
    )
    n_sym = (
        F.regexp_count(t, F.lit("#")) + F.regexp_count(t, F.lit(r"\.\.\."))
    ).cast("long")
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        sum_wlen.alias("sum_wlen"),
        n_sym.alias("n_sym"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop"),
    )
    f_wc = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    f_mean = (F.col("n_words") > 0) & (
        (3 * F.col("n_words") <= F.col("sum_wlen"))
        & (F.col("sum_wlen") <= 10 * F.col("n_words"))
    )
    f_sym = 10 * F.col("n_sym") <= F.col("n_words")
    f_alpha = (F.col("n_words") > 0) & (
        10 * F.col("n_alpha_words") >= 8 * F.col("n_words")
    )
    f_stop = F.col("n_stop") >= 2
    return out.select(
        "*",
        f_wc.alias("f_word_count"),
        f_mean.alias("f_mean_wlen"),
        f_sym.alias("f_symbol"),
        f_alpha.alias("f_alpha"),
        f_stop.alias("f_stop"),
        (f_wc & f_mean & f_sym & f_alpha & f_stop).alias("keep"),
    )


def route_by_language(
    docs: DataFrame,
    policy: DataFrame,
    *,
    lang_col: str = "lang_pred",
    score_col: str = "quality_score",
    id_col: str = "doc_id",
    policy_lang_col: str = "lang",
    min_score_col: str = "min_score",
    n_shards_col: str = "n_shards",
    default_min_score: float = 0.55,
    default_n_shards: int = 1,
) -> DataFrame:
    """Per-language corpus routing — the standard multilingual pipeline
    stage downstream of language ID: each language gets its OWN quality
    threshold (a single global cut systematically over-drops
    low-resource languages whose heuristic scores skew lower) and its
    own shard space (shards ∝ the language's corpus share, so
    per-language output files stay balanced).

    ``policy`` is the per-LANGUAGE dimension (policy_lang_col,
    min_score_col, n_shards_col) — tens to hundreds of rows against a
    corpus of billions, so it arrives via broadcast join; languages
    absent from the policy (e.g. 'und') fall back to
    ``default_min_score`` / ``default_n_shards``. Adds/replaces:

    - ``keep``: score_col >= the language's min score,
    - ``shard``: id_col mod the language's shard count (deterministic,
      engine-portable — no hash function dependence).

    Zero added shuffles: broadcast join + one projection; composes after
    lang_id + any scorer sharing the score column contract."""
    from pyspark.sql.functions import broadcast

    taken = set(docs.columns)
    lj, mn, ns = "__lang", "__min_score", "__n_shards"
    while lj in taken or mn in taken or ns in taken:
        lj, mn, ns = lj + "_", mn + "_", ns + "_"
    dim = policy.select(
        F.col(policy_lang_col).alias(lj),
        F.col(min_score_col).alias(mn),
        F.col(n_shards_col).alias(ns),
    )
    joined = docs.join(
        broadcast(dim), docs[lang_col] == dim[lj], "left"
    )
    eff_min = F.coalesce(F.col(mn), F.lit(float(default_min_score)))
    eff_shards = F.coalesce(F.col(ns), F.lit(int(default_n_shards)))
    return (
        joined.withColumn("keep", F.col(score_col) >= eff_min)
        .withColumn(
            "shard", F.pmod(F.col(id_col), eff_shards).cast("long")
        )
        .drop(lj, mn, ns)
    )
