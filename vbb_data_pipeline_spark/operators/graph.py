"""Iterative graph operators beyond connected components
(north-star extension; see operators/dedup.connected_components for
the CC construction).

PageRank over a directed edge list — the corpus-curation signal
behind host-level quality weighting (a page linked by many
high-rank hosts is likelier to be quality text; Common-Crawl-derived
pipelines rank hosts exactly this way). Pure DataFrame joins +
aggregations, deterministic, fixed iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Fixed-point scale for rank aggregation: every summed quantity is
#: ≤ the total rank mass (1.0), so scaled sums stay ≤ ~10^12 + N/2 —
#: no int64 overflow at any graph size, 12 decimal digits of rank
#: precision (final output rounds at 6).
PR_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over ``(src, dst)`` edges → ``(node,
    rank)``, ranks rounded to 6 digits.

    Construction (the standard power iteration, Brin & Page 1998):
    every node starts at ``1/N``; each round a node's rank is
    ``(1 - d)/N + d · (Σ in-neighbor rank/out-degree + dangling/N)``
    — dangling mass (nodes with no out-edges) redistributes uniformly
    so total rank stays 1.

    100 TB shape: the edge list is the only big table. Per round: one
    join of the current rank table (N rows) to edges on ``src``
    (hash shuffle on node id), one groupBy(dst) sum with map-side
    combine. Dangling mass (nodes with no out-edges) is NOT a driver
    ``collect`` — it is a one-row aggregate broadcast back into the
    rank update (broadcast nested-loop join of a single row), so each
    round is exactly ONE driver job: the eager ``localCheckpoint`` of
    the new ranks. Ranks are ``localCheckpoint``-ed per round — the
    CC lesson: a self-referencing iterative plan grows exponentially
    without lineage truncation. Out-degrees compute once, before the
    loop.

    Deterministic: fixed ``iters`` (no convergence race), and
    CROSS-ENGINE deterministic: both shuffled sums (in-contributions
    per node, global dangling mass) accumulate ``round(x · PR_SCALE)``
    int64 fixed-point values, so the aggregation
    is an exact, order-independent integer sum (the k-means recipe);
    every other step is scalar IEEE arithmetic in a fixed operation
    order. The quantization error is ≤ 0.5/PR_SCALE per summand —
    eleven orders below the final rounding — and the DuckDB oracle
    replays all ``iters`` rounds as chained CTEs bit-identically
    (``queries/graph_q.py``).
    """
    # Edge-partition reuse (guide §2.2/§2.4, r11): the edge list is
    # the one big table and every iteration joins it on ``src`` — but
    # as a lazy plan it was re-derived (source re-scan + upstream
    # distinct's exchange) in EVERY round, and re-exchanged for every
    # join. Checkpointing it ONCE, pre-partitioned on the join key,
    # fixes both: localCheckpoint pins the materialized partitions and
    # preserves their hashpartitioning(src), so each round's
    # rank⋈edges join reuses the layout instead of re-scanning and
    # re-shuffling (measured at sf0.1: per-run source scans 8 → 1,
    # exchanges 20 → 8, executor CPU −45%). nodes/out_deg also build
    # from the checkpoint — their setup scans are free. Row values are
    # partition-independent (fixed-point sums), so results are
    # unchanged.
    # The repartition key is given WITHOUT a partition count, so the
    # checkpoint's runtime layout stays AQE-coalescible (data-sized
    # tasks). An explicit-count variant (pin
    # spark.sql.shuffle.partitions so per-round joins could reuse the
    # checkpointed partitioning exchange-free) was measured and
    # REJECTED at sf0.1: freezing every per-round stage at the conf
    # width tripled executor CPU (17-21 s vs 3.5-8 s per run — 32
    # tiny tasks of constant overhead per stage) for a saving whose
    # only content is re-exchanging the skinny (node, rank) table,
    # the same magnitude as the unavoidable contribution aggregate.
    # Trade-off of every localCheckpoint in this function: the blocks
    # live only on the executor that computed them and the lineage is
    # cut, so losing an executor (preemption, dynamic allocation)
    # loses them and fails the job instead of recomputing.
    e = (
        edges.select(F.col("src").alias("src"), F.col("dst").alias("dst"))
        .repartition("src")
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_total = nodes.count()
    if n_total == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = (
        e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg")).localCheckpoint()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_total)).localCheckpoint()
    base = (1.0 - damping) / n_total
    for _ in range(iters):
        with_deg = ranks.join(
            out_deg, ranks.node == out_deg.src, "left"
        ).select("node", "rank", "_deg")
        # dangling nodes (no out-edges) spread their rank uniformly.
        # Kept IN the plan as a one-row aggregate instead of a driver
        # collect(): the crossJoin below broadcasts this single row
        # (BroadcastNestedLoopJoin of 1 row — constant cost), folding
        # what used to be a second full scan + driver round-trip into
        # the same job as the rank update.
        dang_val = F.coalesce(
            F.sum(F.round(F.col("rank") * PR_SCALE).cast("long")), F.lit(0)
        ).cast("long")
        contrib_val = F.sum(
            F.round((F.col("rank") / F.col("_deg")) * PR_SCALE).cast("long")
        )
        in_val = F.coalesce(F.col("_in"), F.lit(0)).cast("double") / F.lit(
            float(PR_SCALE)
        )
        dang_term = (
            F.col("_dangling").cast("double") / F.lit(float(PR_SCALE))
        ) / F.lit(float(n_total))
        dangling = with_deg.filter(F.col("_deg").isNull()).agg(
            dang_val.alias("_dangling")
        )
        contrib = (
            with_deg.filter(F.col("_deg").isNotNull())
            .join(e, with_deg.node == e.src)
            .select(F.col("dst").alias("node"), "rank", "_deg")
            .groupBy("node")
            .agg(contrib_val.alias("_in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * (in_val + dang_term)).alias(
                    "rank"
                ),
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))
