"""Connected components over a pair graph — the final step of a dedup
pipeline: near-dup PAIRS (from MinHash/SimHash/Jaccard joins) become
CLUSTERS, and every document gets a canonical id (the smallest doc id
in its component) so a keep/drop pass is a single filter.

Algorithm: min-label propagation to fixpoint (the relational form of
connected components; GraphX/Pregel does the same joins under the
hood). Each iteration is one equi-join + one map-side-combinable
min() aggregation; the label sum is monotone non-increasing, so the
fixpoint test is an exact scalar comparison, and the CONVERGED result
is a pure function of the graph — independent of iteration count,
partitioning, or engine. That makes the whole iterative computation
oracle-able: DuckDB reproduces it with a recursive CTE.

Scale notes (100 TB): each round combines the neighbor-min step with
POINTER DOUBLING (``l(v) <- min(l(v), neighbors' l, l(l(v)))`` — every
label is itself a vertex id, so "label of my label" is one more
equi-join feeding the same min), which squares the propagation
distance per round: iterations = O(log diameter), not O(diameter).
Near-dup graphs are overwhelmingly tiny star/clique components
(diameter 2-3, ~3 rounds either way), but a drift CHAIN of near-dups
(A~B~C~...) under plain propagation needed one round per hop — a
60-hop chain exhausted the 50-round cap outright (BASELINE.md, "Round 9:
connected-components 100x probe") where the doubled form closes any
realistic diameter in ~10 rounds. The converged labels are a pure
function of the graph — identical with or without doubling — so the
DuckDB recursive-CTE oracles are untouched. Each round's lineage is
truncated with an eager ``localCheckpoint`` — without it the plan
doubles per round and the job dies at iteration ~20 regardless of
data size. The driver sees only one scalar per round (the convergence
test), never data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "pagerank", "triangle_stats"]


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every edge -> ``(a, b)`` in ONE pass: each
    input row explodes into (src, dst) and (dst, src). The previous
    union-with-swapped-self shape evaluated the upstream edge lineage
    (minhash banding, dhash bucketing, ...) once per union branch when
    the downstream checkpoint materialized."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).alias("a"), F.col(dst).alias("b")
                ),
                F.struct(
                    F.col(dst).alias("a"), F.col(src).alias("b")
                ),
            )
        ).alias("__e")
    ).select("__e.a", "__e.b")

# Rounds the most recent connected_components call took to converge —
# observability for the scale probes (O(log diameter) is the claim;
# this is the measurement). Informational only: concurrent callers in
# one process overwrite it, and no library code reads it back.
LAST_ROUNDS: int | None = None


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    vertex: str = "v",
    max_iter: int = 50,
) -> DataFrame:
    """Label every vertex with the smallest vertex id reachable from it
    (undirected) -> ``(v, canonical_id)``. ``edges`` may be directed
    pairs; symmetry is added here. Isolated vertices keep themselves.
    """
    # Symmetrize with ONE pass over the (often expensive) upstream pair
    # generator: explode each edge into its two directions instead of a
    # self-union, which computed the whole upstream lineage twice when
    # the checkpoint materialized (r12; guide §1.2 "don't compute things
    # you throw away").
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=False)

    # eager=False: the checkpoint materializes inside the convergence
    # sum's job, so init costs ONE job instead of two (r12 fusion —
    # applied to every per-round checkpoint below as well; each round
    # was paying a materialization job plus a convergence-scan job for
    # the same data).
    labels = vertices.select(
        F.col(vertex).alias("v"), F.col(vertex).cast("long").alias("lbl")
    ).localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum("lbl")).first()[0]

    for it in range(max_iter):
        via_edges = sym.join(labels, sym["b"] == labels["v"]).select(
            F.col("a").alias("v"), F.col("lbl")
        )
        parts = [via_edges, labels]
        if it > 0:
            # pointer doubling: l(l(v)) — labels are vertex ids, so
            # the label column equi-joins back onto the vertex column;
            # feeding it into the same min squares the propagation
            # distance per round (O(log diameter) rounds instead of
            # O(diameter)). Skipped in round 0, where labels are still
            # the identity and l(l(v)) == l(v) by construction.
            lx, ly = labels.alias("x"), labels.alias("y")
            parts.append(
                lx.join(ly, F.col("x.lbl") == F.col("y.v")).select(
                    F.col("x.v").alias("v"), F.col("y.lbl").alias("lbl")
                )
            )
        unioned = reduce(lambda a, b: a.unionByName(b), parts)
        prop = (
            unioned.groupBy("v").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint(eager=False)
        new_sum = prop.agg(F.sum("lbl")).first()[0]
        labels = prop
        if new_sum == prev_sum:
            global LAST_ROUNDS
            LAST_ROUNDS = it + 1
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    return labels.select(F.col("v"), F.col("lbl").alias("canonical_id"))


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Degree-normalized PageRank over an undirected pair graph ->
    ``(v, degree, pagerank)`` — the dup-graph CENTRALITY ranking that
    complements :func:`connected_components`' membership: within a
    near-dup cluster the highest-PR doc is the natural canonical pick
    (the one most pairs agree on), and across the corpus high-PR docs
    are template/boilerplate hubs worth a human look.

    Nodes are the vertices incident to at least one pair, so every
    node has degree >= 1 and there is no dangling-mass term; the
    update is the classic ``pr' = (1-d)/N + d * sum_{u~v} pr_u/deg_u``
    run a FIXED ``n_iter`` rounds (no convergence test -> no scalar
    driver traffic at all, and the DuckDB twin unrolls the same
    rounds as chained CTEs). Per the parity method, each iteration's
    grouped float sum is floor-quantized before the next round reuses
    it, so summation-order drift never compounds across iterations.

    Plan shape per round: one equi-join of the (static, checkpointed)
    symmetric edge list against the N-row rank table + one
    map-side-combinable sum on the SAME dst key — identical to a
    connected_components round, with the degree table and the 1-row
    node count broadcast. At 100 TB the edge list is the dedup pair
    output (already hot-key-capped upstream), so per-round cost is
    |pairs| shuffle bytes, n_iter bounded at plan time.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("pagerank needs 0 < damping < 1")
    if n_iter < 1:
        raise ValueError("pagerank needs n_iter >= 1")
    # one-pass symmetrize + lazy checkpoint: the edge lineage runs once,
    # inside the first job that touches sym (r12; see _symmetrize)
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=False)

    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).select(
        F.col("a").alias("v"), "deg"
    )
    n_tbl = deg.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    q = 10.0 ** round_to
    teleport = F.floor((1.0 - damping) / F.col("__n") * q + 0.5) / q
    init = F.floor(1.0 / F.col("__n") * q + 0.5) / q

    # eager=False throughout the fixed-round loop: every pr_{i+1}
    # references pr_i exactly once, so the whole n_iter chain pipelines
    # into the caller's single job while each checkpoint still truncates
    # lineage at materialization (r12: was one blocking job per round)
    pr = (
        deg.crossJoin(F.broadcast(n_tbl))
        .select("v", "deg", init.alias("pr"))
        .localCheckpoint(eager=False)
    )
    for _ in range(n_iter):
        contrib = (
            sym.join(pr, sym["b"] == pr["v"])
            .select(F.col("a").alias("v"), (F.col("pr") / F.col("deg")).alias("__c"))
            .groupBy("v")
            .agg(F.sum("__c").alias("__s"))
        )
        pr = (
            deg.join(contrib, "v")
            .crossJoin(F.broadcast(n_tbl))
            .select(
                "v",
                "deg",
                (teleport + F.floor(damping * F.col("__s") * q + 0.5) / q)
                .alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select("v", F.col("deg").alias("degree"), F.col("pr").alias("pagerank"))


def triangle_stats(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Global triangle census of an undirected pair graph -> one row
    ``(n_nodes, n_edges, n_wedges, n_triangles, clustering_coeff)``
    with ``coeff = 3 * triangles / wedges`` — the density diagnostic
    for a dedup graph: near-dup components are cliques (coefficient
    -> 1), chains of borderline matches score near 0, so a LOW global
    coefficient warns that the threshold is linking dissimilar docs
    through intermediates (exactly when connected-components
    over-merges).

    Plan: canonical a < b edges, then the standard two-join triangle
    enumeration ordered a < b < c so each triangle is counted ONCE —
    both joins are equi-joins on a vertex key (never a cross product),
    with per-key fanout bounded by the max degree, which the upstream
    dedup pair caps already bound. Wedges are a per-vertex
    ``deg*(deg-1)/2`` sum off one degree aggregate. Integer counts are
    exact; only the final coefficient is quantized.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        ab.join(bc, "y")
        .join(ac, ["x", "z"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    sym = e.select(F.col("a").alias("v")).unionByName(
        e.select(F.col("b").alias("v"))
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long")
        .alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    q = 10.0 ** round_to
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.floor(
                    3.0
                    * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double")
                    * q
                    + 0.5
                )
                / q,
            ).alias("clustering_coeff"),
        )
    )
