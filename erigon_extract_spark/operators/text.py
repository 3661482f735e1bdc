"""Text-analysis operators for training-data pipelines, over
``documents(doc_id, text, lang, source, n_chars)``.

Everything here is built-in column expressions (JVM-side, codegen'd) — no
Python in the hot path. Each function returns a column or a DataFrame with
added columns, so they compose into one fused projection per scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def normalize_text(col) -> F.Column:
    """Canonical text for fingerprinting: lowercase, collapse whitespace,
    trim. Shared by dedup + fingerprint operators so every content hash in
    the engine agrees on normalization."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


# A deliberately small, deterministic stopword profile per language for the
# n-gram/stopword language-ID heuristic. (Real pipelines plug fastText etc.
# behind the same column contract.)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "es"],
}


def token_count(col) -> F.Column:
    """Whitespace token count."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def word_tokens(col) -> F.Column:
    """BPE-ish pre-tokenization: word pieces + standalone punctuation,
    the GPT-2 style regex class split (approximated with built-ins)."""
    return F.filter(
        F.split(F.lower(col), r"[^\p{L}\p{N}']+"), lambda t: F.length(t) > 0
    )


def punct_ratio(col) -> F.Column:
    n = F.length(col)
    punct = n - F.length(F.regexp_replace(col, r"[\p{Punct}]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def digit_ratio(col) -> F.Column:
    n = F.length(col)
    dig = n - F.length(F.regexp_replace(col, r"[0-9]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(dig / n)


def mean_word_len(col) -> F.Column:
    toks = word_tokens(col)
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        )
        / F.size(toks)
    )


def stopword_ratio(col, lang: str = "en") -> F.Column:
    toks = word_tokens(col)
    markers = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
    hits = F.size(F.array_intersect(F.array_distinct(toks), markers))
    n_hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    _ = hits
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(n_hits / F.size(toks))


def quality_score(col) -> F.Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation and
    digit noise, plausible word lengths, some stopwords. Weights are fixed
    and documented so the score is reproducible."""
    length_ok = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    low_punct = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    low_digit = F.lit(1.0) - F.least(digit_ratio(col) * 5, F.lit(1.0))
    wl = mean_word_len(col)
    wl_ok = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    sw = F.least(stopword_ratio(col) * 3, F.lit(1.0))
    return (
        length_ok * 0.3 + low_punct * 0.2 + low_digit * 0.2 + wl_ok * 0.15 + sw * 0.15
    )


def lang_id(col) -> F.Column:
    """Stopword-vote language ID: the language whose marker list scores the
    most token hits; 'und' (undetermined) when nothing matches."""
    toks = word_tokens(col)

    def _hits(markers):
        arr = F.array(*[F.lit(x) for x in markers])
        # NB: single-arg lambda closure — Spark HOF lambdas must take only
        # Column positional params (default args break arity detection).
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = [(lang, _hits(markers)) for lang, markers in _LANG_MARKERS.items()]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reverse order so earlier languages win ties deterministically
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def rolling_fingerprint_df(
    docs: DataFrame, text_col: str = "text", prefix_len: int = 64
) -> DataFrame:
    """Polynomial rolling-hash fingerprint (Karp-Rabin style) of the first
    ``prefix_len`` printable-ASCII chars of the normalized text:
    ``fp = fold(chars, (a, c) -> (a*31 + code(c)) mod (2^31 - 1))``.

    Cross-engine deterministic (pure int64 arithmetic), so it has a DuckDB
    oracle — unlike an xxhash64 fingerprint. Returns a DataFrame
    because the char->code array must be PROJECTED before the fold: Spark
    re-evaluates expressions referenced inside higher-order-function lambdas
    per element (NOTES.md: 42-184s vs 1-3s on this table), so composing
    split+transform+aggregate as one expression is quadratic.
    """
    ascii_prefix = F.substring(
        F.regexp_replace(normalize_text(F.col(text_col)), r"[^\x20-\x7e]", ""),
        1,
        prefix_len,
    )
    chars = F.filter(F.split(ascii_prefix, ""), lambda c: F.length(c) > 0)
    staged = docs.select(
        "doc_id",
        F.transform(chars, lambda c: F.ascii(c).cast("long")).alias("codes"),
    )
    fp = F.aggregate(
        F.col("codes"),
        F.lit(0).cast("long"),
        lambda a, x: (a * F.lit(31) + x) % F.lit(2147483647),
    )
    return staged.select("doc_id", fp.alias("fp"))


# Hashed-feature linear classifier (fasttext-style scoring head). The
# feature hash and weight table are derived arithmetically from md5 so the
# EXACT same model is expressible in ANSI SQL for the oracle gate; a real
# pipeline drops trained weights into the same column contract (a broadcast
# weight table joined on bucket instead of the derived expression).
CLASSIFIER_BUCKETS = 1024
CLASSIFIER_MULT = 2654435761  # Knuth multiplicative hash constant


def hashed_linear_quality(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality scoring as a distributed linear classifier:
    token → hash bucket → weight, mean weight squashed to a [0,1] score.

    Plan shape (the part that survives trained weights and 100 TB):
    explode tokens → integer weight per token (pure JVM expression; with
    trained weights, a broadcast join against a BUCKETS-row table) → one
    groupBy(doc) SUM/COUNT with map-side combine. Weights are INTEGERS and
    the per-doc reduction is an exact BIGINT sum, so the result is
    independent of accumulation order — the classic float-sum
    nondeterminism of distributed scoring is designed out. The single
    float division + rational squash (x/(1+|x|), no exp) happens once per
    doc after aggregation, giving bit-identical scores on any engine.

    Returns (doc_id, n_tokens, weight_sum, quality_score, keep).
    """
    tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
    )
    bucket = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
        "long"
    ) % CLASSIFIER_BUCKETS
    weight = (bucket * F.lit(CLASSIFIER_MULT)) % 2001 - F.lit(1000)
    agg = tok.select("doc_id", weight.alias("w")).groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("w").alias("weight_sum"),
    )
    raw = F.col("weight_sum").cast("double") / (
        F.col("n_tokens") * F.lit(1000)
    ).cast("double")
    score = F.round(
        F.lit(0.5) + (F.lit(0.5) * raw) / (F.lit(1.0) + F.abs(raw)), 6
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "weight_sum",
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


def strip_boilerplate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    sep: str = ". ",
) -> DataFrame:
    """Cross-document boilerplate removal (the CCNet/RefinedWeb frequent-
    paragraph filter): a sentence that appears verbatim in >= ``min_docs``
    DISTINCT documents is template noise (headers, license blurbs, nav
    text) and is stripped from every document, which is a different
    operation from dedup — no document is dropped, text is rewritten.

    Shape at 100 TB: explode sentences (linear) → one hash-shuffle groupBy
    to find frequent sentences (map-side combine; payload per sentence is
    a count) → the frequent set is SMALL by construction (it crossed the
    min_docs bar), so membership is a broadcast join, not a shuffle → one
    groupBy(doc) rebuilds the text order-preserved via sort-by-position
    aggregation.

    Returns (doc_id, kept_text, n_sentences, n_removed).
    """
    sentences = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), r"\. ")).alias("pos", "s"),
        )
        .filter(F.length("s") > 0)
        .withColumn("h", F.md5(F.col("s")))
    )
    frequent = (
        sentences.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h", F.lit(True).alias("is_boiler"))
    )
    marked = sentences.join(F.broadcast(frequent), "h", "left").withColumn(
        "is_boiler", F.coalesce("is_boiler", F.lit(False))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("is_boiler"),
                                F.struct(F.col("pos"), F.col("s")),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
            ).alias("kept_text"),
            F.count("*").alias("n_sentences"),
            F.sum(F.col("is_boiler").cast("long")).alias("n_removed"),
        )
        .select("doc_id", "kept_text", "n_sentences", "n_removed")
    )


def bigram_familiarity(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = False,
) -> DataFrame:
    """Corpus-LM familiarity signal: how typical each document's word
    bigrams are of the corpus (the integer-exact skeleton of n-gram-LM
    perplexity filtering a la CCNet — rare-bigram docs are gibberish,
    boilerplate-mangled, or wrong-language).

    Two passes, the train-then-score shape every model-based filter takes:
    pass 1 aggregates the bigram frequency MODEL (one shuffle, map-side
    combine); pass 2 joins each doc's bigram instances back to the model
    on the bigram key (same-key shuffle) and reduces per doc. All counts
    are integers, so the per-doc sum is exact at any parallelism; the one
    float division happens after aggregation.

    Returns (doc_id, n_bigrams, familiarity_sum, familiarity), where
    familiarity = mean corpus frequency of the doc's bigram instances.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("w"),
    ).filter(F.size("w") >= 2)
    bg = words.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")
        ).alias("bg"),
    )
    model = bg.groupBy("bg").agg(F.count("*").alias("cnt"))
    # The score join's default is a shuffle join, correct at ANY bigram
    # domain size (a raw web corpus has billions of distinct bigrams).
    # When the caller KNOWS the domain is bounded (a cutoff/top-M model,
    # or a synthetic fixed domain), broadcast_model=True removes the
    # corpus-sized bg-key shuffle entirely — measured on curation_scale
    # x100 (380M bigram instances, 190k-key model): Catalyst planned a
    # SortMergeJoin that shuffled 1.59 GB; broadcasting the model cuts
    # that to the map-side-combined per-doc aggregate only.
    if broadcast_model:
        model = F.broadcast(model)
    return (
        bg.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("cnt").alias("familiarity_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "familiarity_sum",
            F.round(
                F.col("familiarity_sum").cast("double")
                / F.col("n_bigrams").cast("double"),
                6,
            ).alias("familiarity"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token windows — the chunking pass
    that precedes embedding (RAG indexing, long-doc encoders with bounded
    context). Windows start every ``stride`` tokens and span
    ``chunk_tokens`` (the final window may be shorter; overlap =
    chunk_tokens - stride tokens keeps boundary-spanning content inside
    at least one chunk).

    Pure map pass: explode factor = n_tokens / stride, no shuffle; chunk
    ids are per-document ordinals so downstream embedding rows key on
    (doc_id, chunk_idx).

    Returns (doc_id, chunk_idx, chunk_start_token, n_chunk_tokens,
    chunk_text).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("w"),
    ).filter((F.size("w") > 0) & (F.col("w")[0] != ""))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("w") - 1, F.lit(0)),
        F.lit(stride),
    )
    chunked = words.select(
        "doc_id", "w", F.posexplode(starts).alias("chunk_idx", "start")
    )
    piece = F.slice(F.col("w"), F.col("start") + 1, chunk_tokens)
    out = chunked.select(
        "doc_id",
        "chunk_idx",
        (F.col("start") + 1).cast("long").alias("chunk_start_token"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )
    # A trailing window whose span is <= chunk_tokens - stride is fully
    # contained in the previous window (e.g. 50 tokens, stride 48: chunk 1
    # = tokens 49-50, already inside chunk 0) — emitting it duplicates
    # content fed to downstream embedding. Keep a short window only when
    # it contributes tokens past the previous window's coverage.
    return out.filter(
        (F.col("chunk_start_token") == 1)
        | (F.col("n_chunk_tokens") > chunk_tokens - stride)
    )


def top_terms(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df_num: int = 1,
    max_df_den: int = 2,
) -> DataFrame:
    """Corpus-distinctive keywords per document — the TF-IDF extraction
    pass, made integer-exact so results are engine-portable: instead of a
    float ``tf * ln(N/df)`` score, terms rank by (tf DESC, df ASC, term
    ASC), which induces the same per-document order as TF-IDF whenever tf
    dominates and is deterministic under ties. Terms present in more than
    ``max_df_num/max_df_den`` of documents (default: a majority) are
    dropped — the stopword role IDF's log damping plays, as a pure
    integer cross-multiplication predicate (``df*den <= N*num``), never a
    float ratio.

    Shape at scale: explode → two hash aggregations (per-(doc,term) tf,
    per-term df) → equi-join on term (shuffle ∝ postings; the df side is
    vocabulary-sized, NOT broadcastable at corpus scale) → per-doc top-k
    window. Three shuffles — the natural lower bound for tf-idf — all
    map-side combined, no skew hot spot (the majority-df filter removes
    the head of the term distribution before the join).

    Returns (doc_id, term_rank, term, tf, df, ttf), all scalars — df is
    corpus document frequency, ttf corpus-wide term frequency.
    """
    from pyspark.sql.window import Window

    if k <= 0:
        raise ValueError("k must be positive")
    if max_df_num <= 0 or max_df_den <= 0:
        raise ValueError("max_df fraction must be positive")
    tokens = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    tf = tokens.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    # ttf (corpus-wide term frequency) is part of the output contract AND
    # load-bearing for the plan: because this branch consumes tf's VALUE,
    # column pruning cannot narrow its upstream aggregate to distinct-only,
    # so both branches canonicalize to the same (doc_id, term) exchange and
    # ReuseExchange collapses them — the corpus is scanned and tokenized
    # ONCE. (A count(*)-only df branch gets pruned into a different
    # exchange and the whole explode+shuffle runs twice.)
    df = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("ttf"),
    )
    n_docs = docs.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    rare = df.crossJoin(F.broadcast(n_docs)).filter(
        F.col("df") * max_df_den <= F.col("n_docs") * max_df_num
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(rare, "term")
        .withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "term_rank", "term", "tf", "df", "ttf")
    )


def bigram_lm_logprob(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-trained bigram language-model log-probability per document
    — the actual perplexity-filter quantity (CCNet/KenLM class), not
    just the integer familiarity skeleton (bigram_familiarity).

    Model: add-one-smoothed bigram LM trained on the WHOLE corpus.
    P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), with c(w1) the context
    count (bigram instances starting with w1) and V the corpus
    vocabulary size. Score(doc) = sum over its bigram INSTANCES of
    ln P — reported in MICRO-NATS as a BIGINT: each distinct bigram's
    ln P is rounded to 1e-6 once, and the per-doc sum is then an
    integer sum — order-independent, so the result hash-gates across
    engines (a raw float sum would vary with accumulation order; the
    rounding boundary sits ~1e8 ulps away from the ~1e-15 cross-libm
    ln() disagreement). Low (very negative per-bigram average) =
    improbable text under the corpus LM = the CCNet drop signal.

    Scale shape: identical to bigram_familiarity — train is one
    map-side-combined shuffle on the bigram key; score joins instances
    to the model on the same key; V and nothing else crosses the
    driver. Docs with < 2 tokens score (0, 0) via the left join.

    Returns (doc_id, n_bigrams, logprob_unats).
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("w"),
    )
    bg = words.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> struct(w[i] AS w1, w[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    toks = words.select(F.explode("w").alias("t")).filter(F.col("t") != "")
    vocab = toks.agg(F.countDistinct("t").alias("v"))
    counts = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    ctx = counts.groupBy("w1").agg(F.sum("cb").alias("cu"))
    scores = (
        counts.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("cb") + 1).cast("double")
                    / (F.col("cu") + F.col("v")).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("unats"),
        )
    )
    scored = (
        bg.join(scores, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("unats").alias("logprob_unats"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("logprob_unats", F.lit(0))
            .cast("long")
            .alias("logprob_unats"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1000,
    threshold: float = 0.5,
    shingle_n: int = 1,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity between document pairs via the
    classic inverted-index join — the bag-of-words complement to the
    dense-embedding similarity stack (similarity.py): no embeddings
    needed, exact over the chosen term weighting.

    Weighting is INTEGER end-to-end until the final cosine: w(d, t) =
    tf(d, t) * idf_milli(t) with idf_milli = round(ln(N / df) * 1e3)
    rounded ONCE per term, so dot products and squared norms are
    order-independent integer sums that agree bit-for-bit across
    engines. The final cosine = dot / (sqrt(na2) * sqrt(nb2)) is three
    correctly-rounded IEEE ops on exactly-representable integers
    (all < 2^53), hence also engine-exact before the 6 dp round.

    ``max_df`` is df PRUNING, not an approximation knob: terms with
    df > max_df (corpus-wide boilerplate/stopwords) are excluded from
    the MEASURE itself — standard IR practice — which simultaneously
    caps the inverted-index join at O(max_df^2) per term. The oracle
    applies the identical cap, so results still hash-gate. At 100 TB
    max_df is the scale contract: the term-pair join volume is
    sum_t min(df_t, max_df)^2, never corpus^2.

    ``shingle_n`` sets the term granularity: 1 = unigrams; n > 1 uses
    word n-gram shingles (the right choice when the corpus vocabulary
    is small — n-grams restore a discriminative, long-tailed df
    distribution that unigrams can't provide).

    Returns (doc_id_a, doc_id_b, n_shared_terms, cosine) for pairs with
    cosine >= threshold, a < b.
    """
    if shingle_n == 1:
        words = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("t"),
        ).filter(F.col("t") != "")
    else:
        # docs with < shingle_n words contribute no terms (sequence()
        # with start > stop counts DOWN in Spark — guard, don't clamp)
        pre = docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
        ).filter(F.size("__w") >= shingle_n)
        words = pre.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(__w) - {shingle_n}),"
                    f" i -> concat_ws(' ', slice(__w, i + 1, {shingle_n})))"
                )
            ).alias("t"),
        )
    tf = words.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    n_docs = docs.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    df_ = (
        tf.groupBy("t")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
    )
    w = (
        tf.join(df_, "t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "t",
            (
                F.col("tf")
                * F.round(
                    F.log(F.col("n_docs").cast("double") / F.col("df"))
                    * 1e3
                ).cast("long")
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    dots = (
        w.alias("a")
        .join(w.alias("b"), "t")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot"),
        )
    )
    return (
        dots.join(
            norms.select(
                F.col("doc_id").alias("doc_id_a"), F.col("n2").alias("na2")
            ),
            "doc_id_a",
        )
        .join(
            norms.select(
                F.col("doc_id").alias("doc_id_b"), F.col("n2").alias("nb2")
            ),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.col("n_shared_terms").cast("long").alias("n_shared_terms"),
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_shared_terms",
            F.round("__cos", 6).alias("cosine"),
        )
    )


def unicode_fold(col) -> F.Column:
    """Unicode canonical fold: NFD-decompose, strip combining marks
    (category Mn — the accents), recompose-lower. Maps precomposed
    ('\\u00e9'), decomposed ('e' + U+0301), and case variants of the same
    underlying text to ONE canonical form — the normalization step a
    multilingual corpus pipeline runs before exact/near dedup so that
    byte-different, reader-identical strings fingerprint together.

    Arrow-batched pandas UDF (Python ``unicodedata`` is the reference
    implementation of the Unicode tables; there is no JVM builtin for
    mark-stripping). Stays a pure projection — no shuffle, safe in any
    hot path that already pays one pass over the text."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fold(s):
        import unicodedata

        def fold_one(x):
            if x is None:
                return None
            d = unicodedata.normalize("NFD", x)
            stripped = "".join(
                ch for ch in d if unicodedata.category(ch) != "Mn"
            )
            return unicodedata.normalize("NFC", stripped).lower()

        return s.map(fold_one)

    return _fold(col)


def unicode_fold_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup over the unicode-folded text: one fingerprint shuffle
    (the exact_dedup shape) keyed on sha2(fold(text)) instead of the raw
    bytes. Returns (id, rep_id = min id among fold-equals, group_size).

    Shape: whole-group window aggregates over the fingerprint, not
    groupBy + join-back — the join form scans its input twice, which
    here means evaluating the Python fold UDF over the corpus TWICE
    (one BatchEvalPython per join side); the window keeps ONE UDF pass
    and ONE exchange (r11 optimization round, guide §4/§2.4)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("__fp")
    return (
        docs.select(
            F.col(id_col),
            F.sha2(unicode_fold(F.col(text_col)), 256).alias("__fp"),
        )
        .select(
            id_col,
            F.min(id_col).over(w).alias("rep_id"),
            F.count("*").over(w).alias("group_size"),
        )
    )
