"""Graph analytics over candidate-pair graphs (beyond the min-label
connected components in operators/dedup.py).

PageRank here is INTEGER-ARITHMETIC: ranks are bigints at a fixed scale
and every step is integer multiply / sum / floor-divide. Floating-point
PageRank is order-of-summation dependent — a distributed sum over
neighbor contributions is not reproducible across engines (or even across
runs with different partitionings); at fixed-point scale 1e12 the
truncation error per step is ~1e-12 of the rank mass while every engine
computes the identical bits, which is what makes the DuckDB oracle (and
pipeline reruns) exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beacon_indexer_spark.operators.dedup import BROADCAST_ROWS

PAGERANK_SCALE = 10**12


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Fixed-iteration PageRank over the UNDIRECTED pair graph:
    r'(v) = ((100-d)·S + d·Σ_{u~v} (r(u) div deg(u))) div 100, all
    bigint ops at scale S. Returns (node, rank_scaled).

    Scale shape: per iteration ONE equi-join of the edge list against the
    (node, rank div deg) frame plus a map-side-combined sum — O(|E|)
    shuffle, the same bound as a connected-components round. Degrees and
    the node spine are computed once and reused across iterations; the
    rank frame is |V|-sized. Overflow is GUARDED, not assumed: total rank
    mass is conserved at ≤ |V|·S, and a single node's incoming sum is
    bounded by that mass (a hub fed by degree-1 neighbors receives their
    whole rank), so `damping_pct · |V| · S` must fit int64 — the bound is
    checked against a one-job |V| probe before iterating (the probe reads
    the already-checkpointed edge blocks) and a ValueError names the
    `scale` that fits. Silent int64 wrap would corrupt ranks without any
    error. At the default S=1e12 the ceiling is |V| ≈ 10⁵ nodes IN THE
    PAIR GRAPH (duplicated docs, not the corpus); web-crawl-sized dup
    graphs pass scale=1e9 (still ~1e-9 relative truncation) for |V| up
    to ~10⁸. A fixed iteration count keeps the plan static (no
    convergence probe); callers wanting convergence detection can diff
    successive frames with the `observe` pattern used by
    dedup.connected_components."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
    n_nodes = deg.count()
    if damping_pct * n_nodes * scale >= 2**63:
        fit = 2**63 // (damping_pct * max(n_nodes, 1))
        raise ValueError(
            f"pagerank int64 overflow: damping_pct*|V|*scale = "
            f"{damping_pct}*{n_nodes}*{scale} exceeds int64 — pass "
            f"scale <= {fit} (rank mass can concentrate on one hub, so "
            "the worst-case incoming sum is the whole |V|*scale mass)"
        )
    # the measured |V| fixes the rank-degree join: below the broadcast
    # ceiling the degree side is broadcast, and every iteration reuses
    # that one broadcast (left to adaptive execution, the first
    # iteration's build side varied from run to run)
    deg_side = F.broadcast(deg) if n_nodes <= BROADCAST_ROWS else deg
    ranks = deg.select("src", F.lit(scale).cast("long").alias("__r"))
    base = (100 - damping_pct) * scale
    for _ in range(iterations):
        share = ranks.join(deg_side, "src").select(
            "src", F.expr("__r div __d").alias("__s")
        )
        contrib = (
            edges.join(share, "src")
            .groupBy("dst")
            .agg(F.sum("__s").alias("__in"))
        )
        # every node of an undirected graph has inbound edges, so the
        # contrib frame IS the node spine (the inner join + sum cannot
        # produce NULLs, and an empty graph is an empty frame)
        ranks = contrib.select(
            F.col("dst").alias("src"),
            F.expr(
                f"CAST(({base} + {damping_pct} * __in) div 100 AS LONG)"
            ).alias("__r"),
        )
    return ranks.select(
        F.col("src").cast("long").alias("node"),
        F.col("__r").cast("long").alias("rank_scaled"),
    )
