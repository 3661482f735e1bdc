"""Connected components over a pair graph — dedup CLUSTER RESOLUTION.

Near-duplicate detection emits pairs; a training-data pipeline needs
clusters ("keep one doc per duplicate group"), and pairs compose
transitively: (a,b) and (b,c) mean {a,b,c} are one group. This operator
assigns every node the MINIMUM reachable node id as its component label —
deterministic, order-independent, and exactly what a keep-smallest-id
dedup policy needs.

Physical strategy: iterative min-label propagation. Each round every node
takes the min of its own label and its neighbors' labels (one join + one
aggregation = two shuffles per round); convergence in O(graph diameter)
rounds. Near-dup graphs are unions of small dense clusters — diameter is
tiny (2-4), so this beats the O(log n)-round large-star/small-star scheme
on constants while staying linear in edges per round. Lineage is cut with
``localCheckpoint`` each round so the plan doesn't grow with iterations
(the classic iterative-DataFrame trap).

Reference analog: none (the reference has no graph ops) — this is part of
the beyond-reference training-data surface, SURVEY.md §2.13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iter: int = 25,
    method: str = "minlabel",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    min node id reachable. Raises if not converged in ``max_iter`` rounds
    (diameter bound exceeded — raise the limit for pathological chains).

    ``method`` picks the physical strategy (identical output):

    * ``"minlabel"`` (default): O(diameter) rounds of neighbor-min
      propagation — the right constant-factor trade for near-dup
      clusters, whose diameter is 2-4.
    * ``"star"``: alternating large-star/small-star (Kiveris et al.
      2014, "Connected Components in MapReduce and Beyond") — O(log n)
      rounds on ANY topology, the choice for general graphs with long
      chains (social graphs, link graphs) where diameter ≫ log n.
      tests/test_operators.py pins that a path graph converges in
      strictly fewer rounds than minlabel needs.
    """
    if method == "star":
        return _cc_star(edges, src, dst, max_iter)[0]
    if method != "minlabel":
        raise ValueError(f"unknown method {method!r}")
    return _cc_minlabel(edges, src, dst, max_iter)[0]


def _cc_minlabel(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> tuple[DataFrame, int]:
    # Checkpoint the INPUT once before the self-union: the two union
    # branches are otherwise two full computations of the upstream
    # pipeline (measured at 2x the query's wall under a pair-join upstream).
    e0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    bidir = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        bidir.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for rounds in range(1, max_iter + 1):
        neighbor_min = (
            bidir.join(labels, bidir["v"] == labels["node"])
            .select(F.col("u").alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(neighbor_min)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels, rounds
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _cc_star(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star. Each round: large-star hangs
    every neighbor LARGER than u off the minimum of u's closed
    neighborhood; small-star (on the high→low directed view) re-points
    every smaller neighbor and u itself at that minimum. Both are one
    groupBy + one join (two shuffles); the edge set provably shrinks
    toward stars rooted at each component's min in O(log n) rounds.
    Convergence = edge multiset fixed point, checked with a single
    count+hash aggregate (no exceptAll shuffle)."""
    # checkpoint the input once — nodes' self-union and the canonical
    # edge set below would otherwise recompute the upstream pipeline
    # three times (same rationale as _cc_minlabel)
    e0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    # every node ever seen — taken BEFORE the self-loop filter, so a node
    # whose only edge is (x, x) still gets its singleton row (minlabel
    # keeps such nodes through its bidir union; the methods must agree)
    nodes = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = (
        e0.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _sig(df: DataFrame):
        # order-independent multiset signature: count + xor of row
        # hashes (xor, not sum — sum overflows long under ANSI mode;
        # rows are distinct() so xor cannot self-cancel a duplicate)
        return df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).first()

    sig = _sig(e)
    for rounds in range(1, max_iter + 1):
        # large-star: neighborhoods of the UNDIRECTED graph; emit
        # (v, min(closed nbhd of u)) for strictly-larger neighbors v
        bidir = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # small-star: high→low directed view; re-point u and all its
        # smaller neighbors at min(N(u) ∪ {u})
        mins = e.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            e.join(mins, "u")
            .select(F.col("v").alias("u"), "m")
            .unionByName(mins.select(F.col("u"), F.col("m")))
            .filter(F.col("u") != F.col("m"))
            .select("u", F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = _sig(e)
        if (new_sig.n, new_sig.h) == (sig.n, sig.h):
            labels = (
                nodes.join(
                    e.select(F.col("u").alias("node"), F.col("v").alias("c")),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    F.coalesce(F.col("c"), F.col("node")).alias("component"),
                )
            )
            return labels, rounds
        sig = new_sig
    raise RuntimeError(
        f"connected_components(star) did not converge in {max_iter} rounds"
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count over an undirected simple graph — the
    density diagnostic for near-duplicate pair graphs (a
    dedup candidate set whose triangle density explodes is boilerplate,
    not chance collision).

    Scale shape: degree-ordered orientation (each edge points from its
    (degree, id)-smaller endpoint) before the wedge join — the classic
    trick that bounds every vertex's out-degree by O(sqrt(|E|)), so the
    wedge join volume is O(|E|^1.5) worst case instead of sum(deg^2)
    (a star graph's hub would otherwise form the wedge set alone). Two
    hash joins on vertex keys; each triangle is counted exactly once.

    Returns one row: (n_triangles).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(
                F.struct(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            .alias("e")
        )
        .select("e.a", "e.b")
    )
    w1 = oriented.select(F.col("a"), F.col("b"))
    w2 = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = w1.join(w2, "b").select("a", "b", "c")
    closing = oriented.select(
        F.col("a").alias("a"), F.col("b").alias("c"), F.lit(1).alias("__hit")
    )
    return (
        wedges.join(closing, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    scale: int = 1_000_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Fixed-point integer PageRank: (node, rank_fp) after ``n_iter``
    synchronous power iterations, where rank_fp is the rank in units of
    ``1/scale`` (uniform start = ``scale`` per node, i.e. ranks average
    ~1.0).

    Why INTEGER arithmetic: float PageRank is not reproducible across
    engines or even across partitionings of the same engine — the
    per-vertex sum of float contributions depends on accumulation
    order. Here every contribution is floored to an integer
    (``(d*rank) div (D*outdeg)``) before summation, and integer sums
    are order-independent, so the result is bit-identical on any
    cluster layout and any SQL engine with 64-bit integer division —
    which is what lets a DuckDB oracle hash-match the Spark plan. The
    flooring loses < 1 rank-unit (1e-9) per edge per iteration —
    far below any ranking-relevant difference (and deterministic, so
    it is a DEFINITION, not an approximation drifting with the run).

    Semantics: r_{k+1}(v) = (1-d) + d * sum_{u->v} r_k(u)/outdeg(u),
    the per-node-mean-1 formulation. Dangling nodes (outdeg 0) leak
    their damped mass, as in the original formulation; sinkless graphs
    (every node has an out-edge) conserve mass up to flooring.

    Scale shape: ranks and degrees are O(|V|); each iteration is one
    hash join of the edge list with the rank vector on ``src`` plus one
    groupBy on ``dst`` — two shuffles, both on vertex keys, so a real
    cluster co-partitions them and AQE coalesces. Lineage is cut per
    round with ``localCheckpoint`` (the iterative-DataFrame trap);
    total driver rounds = ``n_iter``, independent of graph size.

    Reference analog: none (the reference has no graph ops) — part of
    the beyond-reference training-data surface, SURVEY.md §2.13.
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    # checkpoint the canonical edge set ONCE: nodes' self-union and the
    # outdeg attach below would otherwise recompute the upstream edge
    # pipeline three times over (OPTIMIZATION_r11.md, item 2)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("u").agg(F.count("*").alias("outdeg"))
    # attach outdeg to each edge once, outside the loop
    e_deg = e.join(outdeg, "u").localCheckpoint(eager=False)
    base = (damping_den - damping_num) * scale // damping_den
    ranks = nodes.withColumn("rank_fp", F.lit(scale).cast("long"))
    for _ in range(n_iter):
        contribs = (
            e_deg.join(ranks, e_deg["u"] == ranks["node"])
            .select(
                F.col("v").alias("node"),
                F.expr(
                    f"({damping_num} * rank_fp) div "
                    f"({damping_den} * outdeg)"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("c"), F.lit(0)))
                .cast("long")
                .alias("rank_fp"),
            )
            # LAZY checkpoint: still cuts the Catalyst lineage per round
            # (the iterative-DataFrame trap), but defers materialization
            # to the caller's single action — a fixed-iteration loop has
            # no driver decision between rounds, so the 10 eager
            # driver-synchronous jobs collapse into one (r11 round).
            .localCheckpoint(eager=False)
        )
    return ranks
