"""Iterative graph algorithms as DataFrame loops (engine breadth beyond
connected components — operators/dedup.py::connected_components).

PageRank here is the simple power-iteration form: a fixed number of
iterations, damping d, dangling mass dropped (isolated vertices converge to
(1-d)/N). Each iteration is one join + one aggregate — the driver only
builds the loop; all data movement is distributed. At 100 TB the edge list
is the fact table: it shuffles once per iteration on the source key, and the
rank state is vertex-sized. Iterations are bounded and each intermediate is
cached so lineage stays flat (the same discipline connected_components
uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank; returns (id, rank).

    ``edges`` is directed; pass both directions for an undirected graph.
    rank_{t+1}(v) = (1-d)/N + d * sum over in-neighbors u of rank_t(u)/deg(u).

    Checkpointing every 2nd iteration instead measured 88.6 s vs 17.0 s at
    x32 (and a broadcast OOM): lazy rank state hides real sizes from AQE."""
    # localCheckpoint (eager), not cache(): caching materializes partitions
    # but the LOGICAL plan keeps nesting — by iteration 10 Catalyst would
    # re-analyze ten stacked joins plus the edge list's full upstream
    # lineage (for the near-dup graph, the whole shingle→LSH pipeline) on
    # every action, and compile time dwarfs execution (measured 90 s at
    # sf0.1, ~10 s after truncation). Checkpointing snaps each state to a
    # LogicalRDD so per-iteration plans stay constant-size.
    v = vertices.select(F.col(id_col).alias("id")).localCheckpoint()
    n = v.count()  # scalar, catalog-sized
    base = (1.0 - damping) / n
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint()
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # Degree is loop-invariant: attach it to the edge list ONCE so each
    # iteration is one join + one aggregate instead of two joins. The
    # division stays inside the loop (rank/deg, not rank * precomputed
    # 1/deg) so the floating-point stream is identical to the textbook
    # form the oracle unrolls.
    ew = e.join(outdeg, "src").localCheckpoint()
    ranks = v.select("id", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    for _ in range(iterations):
        contrib = (
            ew.join(ranks, ew.src == ranks.id)
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = v.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        # eager: materializes AND truncates lineage every iteration
        ranks = ranks.localCheckpoint()
    return ranks
