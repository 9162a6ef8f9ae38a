"""Graph analytics beyond connected components.

``pagerank`` — fixed-iteration power method over an edge list, the
crawl-prioritization / source-reputation primitive of web-scale
training-data pipelines (a page's rank feeds quality weighting the
same way fasttext scores do; OpenWebText-style corpora filter on
exactly this kind of link signal). Connected components (the other
graph op this repo ships) lives in ``operators/dedup.py`` next to its
consumers.

Scale design: one iteration = one equi-join of the rank table with
the out-degree-annotated edge list plus one aggregate — both shuffle
on uniformly-hashed node ids, and the rank table entering each round
is ALREADY hash-partitioned on the node id by the previous round's
aggregate, so Spark reuses the exchange instead of re-shuffling it.
Per-round lineage is truncated with ``localCheckpoint`` every
``checkpoint_interval`` rounds (the standard iterative-DataFrame
practice, same as ``dedup.connected_components_star``). Nothing is collected;
the node count enters the expressions as a broadcast 1-row aggregate.

Determinism contract: the iteration runs on ranks NORMALIZED to the
uniform value (``r_rel = rank·N``, start 1.0, teleport term exactly
``1-d``), rounded to ``round_scale`` decimals at the end of every
round. Contribution sums are floating-point and Spark's
partial-aggregation order is nondeterministic, so un-rounded values
differ in the last ulp across runs AND across engines; rounding each
round (noise ~1e-15 relative on O(1) values, scale 9 → five orders
of margin) snaps both to identical values, which then propagate
exactly. Normalization is what makes that sound at ANY graph size:
rounding the raw rank (magnitude ~1/N) at a fixed decimal count
would quantize a 1e8-node graph's ranks into a handful of buckets
and round the 1e-10 teleport term to zero — silent garbage exactly
at the advertised scale. (Mega-hubs with ``r_rel`` beyond ~1e6
exceed what ``round(x, 9)`` can represent in a double; ordering
still holds, bit-reproducibility of those few values may not.) The
same unrolled computation is bit-reproducible in any engine — see
the ``graph_pagerank`` oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    round_scale: int = 9,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """(node, rank) after ``iterations`` rounds of the power method.

    Edges are treated as DIRECTED; pass both directions for an
    undirected graph. Nodes are whatever appears in ``src_col`` /
    ``dst_col``; nodes with no outgoing edges (dangling) keep
    contributing nothing — their mass leaks, matching the plain
    power-method formulation (symmetrize the edge list to avoid
    dangling nodes entirely, as the registered query does).
    Internally the N-normalized rank iterates from exactly 1.0 as
    ``(1-d) + d·Σ incoming r_rel/outdegree``, rounded to
    ``round_scale`` each round (see module docstring — the rounding
    and the normalization TOGETHER are the determinism contract);
    the returned ``rank`` column is ``r_rel/N``.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if checkpoint_interval < 1:
        raise ValueError("checkpoint_interval must be >= 1")
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst")).distinct()
    outdeg = e.groupBy("src").agg(F.count("*").alias("odeg"))
    # The degree-weighted edge list and the node set are LOOP-STATIC:
    # checkpoint them (lazily — materialized by the first action,
    # lineage truncated) so each iteration's contribution join reads a
    # stored frame instead of replaying distinct+groupBy+join per
    # round. Without this the 3-iteration plan re-derived them three
    # times (measured ~2× the whole operator's wall time at 7M edges);
    # checkpointing the edge list is the standard shape for iterative
    # algorithms at any scale — it is exactly what each round re-reads.
    ed = e.join(outdeg, "src").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_row = nodes.agg(F.count("*").alias("n"))
    # iterate on r_rel = rank·N (uniform start = exactly 1.0) so the
    # per-round rounding is relative-precision at any graph size
    ranks = nodes.select("node", F.lit(1.0).alias("r_rel"))
    for i in range(iterations):
        contribs = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r_rel") / F.col("odeg")).alias("contrib"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            F.round(
                F.lit(1.0 - damping)
                + damping * F.coalesce(F.col("contrib"), F.lit(0.0)),
                round_scale,
            ).alias("r_rel"),
        )
        if (i + 1) % checkpoint_interval == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.crossJoin(F.broadcast(n_row)).select(
        "node", (F.col("r_rel") / F.col("n")).alias("rank")
    )
