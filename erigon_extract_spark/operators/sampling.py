"""Deterministic content-hash sampling and dataset splitting.

Training-data pipelines need holdout splits that are STABLE across runs,
cluster sizes, and engines — `df.sample(fraction, seed)` is none of those
(it depends on partitioning). The primitive here is a hash bucket from the
md5 of a key rendered as text: pure column expressions, engine-agnostic
(DuckDB mirrors it exactly, so the split membership itself is under the
oracle gate), and adding documents never reshuffles existing assignments.

Scale notes: the bucket is a narrow projection — no shuffle, no state; a
filter on it pushes into the scan stage, so carving a 1% stable sample out
of 100 TB reads only what the filter keeps after row-group pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stable_hash_bucket(col, n_buckets: int = 100) -> F.Column:
    """Uniform bucket in [0, n_buckets) from md5 of the key's decimal text.
    First 8 hex digits -> unsigned int -> mod; deterministic everywhere."""
    hex8 = F.substring(F.md5(col.cast("string")), 1, 8)
    return (F.conv(hex8, 16, 10).cast("long") % n_buckets).alias("bucket")


def mixture_sample(
    df: DataFrame,
    key_col: str,
    rate_permille,
    n_buckets: int = 1000,
) -> DataFrame:
    """Source-mixing subsample: keep a row when its stable hash bucket
    falls under a PER-ROW per-mille rate (a column expression — typically
    derived from the row's source). The standard corpus-mixing primitive:
    deterministic membership (same doc always kept or dropped, any engine,
    any partitioning), weights tunable per source without reshuffling
    prior decisions. Pure column expressions — the filter pushes to the
    scan."""
    bucket = stable_hash_bucket(F.col(key_col), n_buckets)
    return (
        df.withColumn("__bucket", bucket)
        .filter(F.col("__bucket") < rate_permille)
        .drop("__bucket")
    )


def stable_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Adds a ``split`` column ('train'/'val'/'test' by default, 80/10/10).
    ``weights`` maps split name -> percent; must sum to 100."""
    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100: {weights}")
    bucket = stable_hash_bucket(F.col(key_col), 100)
    expr = None
    lo = 0
    for name, pct in weights.items():
        cond = bucket < F.lit(lo + pct)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo += pct
    return df.withColumn("split", expr)


def shuffle_order(
    df: DataFrame,
    key_col: str,
    *,
    seed: str = "shuf1",
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment.

    Training runs need the corpus in a pseudorandom order that is
    REPRODUCIBLE (same seed -> same order, any engine, any cluster size) —
    `df.orderBy(rand(seed))` is not (rand is partitioning-dependent).
    The shuffle hash md5(seed || key) is a pure function of the row, so
    the permutation is fixed by (seed, corpus).

    Scale shape: a GLOBAL rank would funnel everything through one
    partition (a global row_number window has no partition key), so the
    operator instead emits (shard, shard_pos): shard = stable hash bucket
    of the shuffle hash, shard_pos = rank within shard — a PARALLEL
    window, one shuffle on shard. A training job writes each shard as its
    own sorted file and readers interleave shards round-robin; every
    shard is an unbiased corpus sample (the property batch-sequential
    sharding lacks), and the within-shard order is the hash order.

    Returns (key, shard, shard_pos); 1-based shard_pos.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(seed + "_"), F.col(key_col).cast("string")))
    hashed = df.select(F.col(key_col), h.alias("__h"))
    shard = (F.conv(F.substring("__h", 1, 8), 16, 10).cast("long")
             % n_shards)
    w = Window.partitionBy("shard").orderBy(F.col("__h").asc(),
                                            F.col(key_col).asc())
    return (
        hashed.withColumn("shard", shard)
        .withColumn("shard_pos", F.row_number().over(w))
        .select(key_col, "shard", "shard_pos")
    )


def balanced_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    n_per_group: int,
    *,
    seed: str = "bal1",
) -> DataFrame:
    """Deterministic balanced subset: at most ``n_per_group`` rows per
    group, chosen by stable hash order of the key — the class-balancing
    primitive (per-language / per-source caps) that keeps a dominant
    source from swamping a training mix.

    Unlike ``df.sampleBy`` (fraction-based, partitioning-dependent), the
    selection is a pure function of (seed, key): re-running on a regrown
    corpus keeps every previously selected row whose group hasn't
    overflowed. One hash shuffle on the group key; the per-group rank is
    a parallel window (groups are the partition key)."""
    h = F.md5(F.concat(F.lit(seed + "_"), F.col(key_col).cast("string")))
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(
        F.col("__h").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__h", h)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_group)
        .drop("__h", "__rk")
    )


def plan_token_mixture(
    df: DataFrame,
    weights: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    token_budget: int = 1_000_000,
    tokens_col: str | None = None,
) -> DataFrame:
    """Turn per-source mixture WEIGHTS into per-source sampling RATES for
    a token budget — the planning step in front of ``mixture_sample``.

    Per source: target_tokens = budget * weight // total_weight (integer),
    then a plan of ``full_epochs`` complete passes plus ONE partial pass
    at ``residual_permille`` — an under-resourced source repeats (epoch
    oversampling, the standard recipe when a high-weight source is
    small), an abundant one subsamples (full_epochs = 0), and a
    zero-supply source gets an explicit all-zero row rather than a
    divide-by-zero. Executing the plan literally consumes
    ``expected_tokens`` <= target ALWAYS — a ceil(epochs)-at-full-rate
    plan would overshoot by up to one whole epoch when the target just
    exceeds supply. All arithmetic is integer, so the plan is
    engine-portable and hash-gated.

    Scale shape: ONE map-side-combined aggregate over the corpus to get
    per-source token supply (tiny result: one row per source), joined to
    the weight table — both sides are planning-scale, the corpus is
    never shuffled. The rates feed ``mixture_sample`` as a broadcast
    join or literal CASE, keeping the actual sampling pass shuffle-free.
    """
    from erigon_extract_spark.operators.text import token_count

    if tokens_col is not None:
        toks = F.coalesce(F.col(tokens_col), F.lit(0)).cast("long")
    else:
        toks = F.coalesce(token_count(F.col(text_col)), F.lit(0)).cast("long")
    supply = (
        df.select(F.col(source_col), toks.alias("__t"))
        .groupBy(source_col)
        .agg(F.sum("__t").alias("available_tokens"))
    )
    total_w = weights.agg(F.sum("weight").alias("__tw"))
    # integer `div` throughout (not float `/` + floor): double division of
    # large integers can round up across an integer boundary, silently
    # diverging from the oracle's exact `//`
    planned = (
        supply.join(weights, source_col)
        .crossJoin(F.broadcast(total_w))
        .selectExpr(
            source_col,
            "available_tokens",
            "weight",
            f"CAST(({token_budget} * weight) div __tw AS BIGINT)"
            " AS target_tokens",
        )
    )
    # full_epochs complete passes plus ONE partial pass at residual_permille
    # — emitting only ceil(epochs) at full rate would overshoot the budget
    # by up to a whole epoch (target just over available -> ~2x). A
    # zero-supply source (all-empty text) gets an explicit all-zero plan
    # row instead of a divide-by-zero (ANSI aborts; non-ANSI/DuckDB give
    # NULL — neither is a plan).
    return planned.selectExpr(
        source_col,
        "available_tokens",
        "weight",
        "target_tokens",
        "CAST(CASE WHEN available_tokens = 0 THEN 0"
        " ELSE target_tokens div available_tokens END AS BIGINT)"
        " AS full_epochs",
        "CAST(CASE WHEN available_tokens = 0 THEN 0"
        " ELSE ((target_tokens % available_tokens) * 1000)"
        "      div available_tokens END AS BIGINT) AS residual_permille",
        "CAST(CASE WHEN available_tokens = 0 THEN 0"
        " ELSE (target_tokens div available_tokens) * available_tokens"
        "      + (available_tokens"
        "         * (((target_tokens % available_tokens) * 1000)"
        "            div available_tokens)) div 1000 END AS BIGINT)"
        " AS expected_tokens",
    )


def reservoir_per_key(
    df: DataFrame,
    key_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic k-per-key uniform sample — the distributed stand-in
    for per-group reservoir sampling. Rows rank by md5(key || id) within
    their key; the first k win. Because the rank key is a content hash,
    membership is independent of partitioning, engine, and arrival
    order (append-stable: adding rows can evict at most the
    highest-ranked members, never reshuffle survivors arbitrarily), and
    a DuckDB oracle reproduces it exactly.

    At 100 TB: one hash shuffle on ``key_col``; the window's sort is
    per-key (external-sort backed). For heavily skewed keys the rank
    expression also serves as a pre-filter: run a cheap
    ``approx_quantile`` per key on the hash to drop rows that cannot
    rank <= k before the shuffle (not needed at test scale)."""
    # coalesce-to-'' BEFORE concat_ws: concat_ws SKIPS a null argument
    # and its separator, while the DuckDB oracle's concat renders null as
    # empty KEEPING the separator — a null key must hash '|123', not '123'
    rank_src = F.md5(
        F.concat_ws(
            "|",
            F.coalesce(F.col(key_col).cast("string"), F.lit("")),
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        )
    )
    w = Window.partitionBy(key_col).orderBy(rank_src.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )

def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Train/val/test split keyed on the CONTENT fingerprint instead of a
    row id — the dedup-aware split.

    An id-hash split (stable_split) scatters duplicates across sides:
    two copies of one document land in train AND test, and the eval is
    contaminated — the classic benchmark-leakage bug. Hashing the
    normalized text (operators/text.normalize_text, the same
    canonicalization every content hash in the engine uses) makes split
    assignment a pure function of content, so exact/normalized
    duplicates co-locate BY CONSTRUCTION — no join against a dup table,
    no extra shuffle; the split stays one stateless projection. Near-
    duplicates (texts that differ after normalization) are not
    co-located: this split guards against exact leakage only.
    """
    from erigon_extract_spark.operators.text import normalize_text

    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100: {weights}")
    # md5(NULL) is NULL → a null bucket matches no when-branch → a null
    # text would get split=NULL and silently vanish from every split
    # fraction. Coalesce to '' instead: null/empty texts are content-
    # duplicates of each other, so they co-locate in one split — the
    # same guarantee every other duplicate gets.
    bucket = stable_hash_bucket(
        F.coalesce(normalize_text(F.col(text_col)), F.lit("")), 100
    )
    expr = None
    lo = 0
    for name, pct in weights.items():
        cond = bucket < F.lit(lo + pct)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
        lo += pct
    return df.withColumn("split", expr)
