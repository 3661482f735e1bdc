"""Cosine similarity over embedding columns (``array<float>``).

Brute-force cosine top-k — a crossJoin pruned by Catalyst into a broadcast
nested loop when the probe side is small, with the dot product as a
built-in higher-order function (``F.zip_with`` + ``F.aggregate``), fully
JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def cosine(a, b) -> F.Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_prenorm(a, b, norm_a, norm_b) -> F.Column:
    """Cosine with both L2 norms precomputed (float-identical to ``cosine``
    — the norm expression is evaluated on the same values, just earlier).

    At scale this is the only sane shape: norms are computed once per row
    on each side (O(N+M) array folds) instead of once per candidate pair
    (O(N*M)); the per-pair work is a single dot product."""
    return dot(a, b) / (norm_a * norm_b)


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """For each probe vector, the top-k corpus vectors by cosine similarity.

    probes: (probe_id, embedding). The probe side is broadcast (it is the
    small side by construction); the corpus streams through map tasks — no
    shuffle of the corpus, one final top-k aggregation per probe.
    """
    p = probes.select(
        F.col(probe_id_col),
        F.col(vec_col).alias("__pvec"),
        l2_norm(F.col(vec_col)).alias("__pnorm"),
    )
    c = corpus.select(
        id_col, vec_col, l2_norm(F.col(vec_col)).alias("__cnorm")
    )
    scored = c.crossJoin(F.broadcast(p)).select(
        probe_id_col,
        id_col,
        cosine_prenorm(
            F.col(vec_col), F.col("__pvec"), F.col("__cnorm"), F.col("__pnorm")
        ).alias("cosine"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
