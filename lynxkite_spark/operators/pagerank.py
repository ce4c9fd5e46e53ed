"""PageRank with the reference's exact semantics, expressed as DataFrame
joins + aggregations.

Reference: /root/reference/app/.../graph_operations/PageRank.scala:43-88
  1. non-positive weights dropped                  (:43-44)
  2. per-source weight normalization               (:54-67)
  3. initial rank 1.0 per vertex (mass sums to |V|) (:70)
  4. per iteration: incoming(dst) = Σ rank(src)·w_norm·damping, then ALL
     leaked mass (dangling + the 1-d factor) redistributed uniformly:
     rank = incoming + (|V| − Σ incoming)/|V|      (:75-88)
  5. the reference runs a fixed iteration count with no convergence test
     (:73, default 5 / damping 0.85,
     GraphComputationOperations.scala:386-389); we add convergence to
     ``tol`` (max |Δrank| < tol), which subsumes fixed N — pass
     ``iterations=N`` for numerical equivalence with the reference
     within float reduction-order tolerance (the dangling-mass total is
     an algebraic identity over the rank table, so summation order
     differs; allclose at 1e-6 — the north rule's contract — holds,
     bit-for-bit equality does not). Both modes run the same loop; a
     fixed count just never stops early.

Direction handling follows the frontend's Direction wrapper
(Operations.scala:413-448): "outgoing edges" uses edges as-is,
"all edges" adds reversed copies first.

Scale notes (SURVEY.md §4):
  * edges are normalized once, repartitioned by ``src`` and cached — every
    iteration reuses that single shuffle for the gather join;
  * setup is one driver action: an eager localCheckpoint of the vertex
    table (id, has_out, out_deg), partitioned by id, fills the edge cache
    and observes |V|, the non-dangling count and the hot-source count on
    the way. A fresh start's ranks are that table with rank 1.0 and its
    dangling-mass total is the exact count damping·|{has_out}|; a resume
    sums the stored ranks with a plain aggregate (never an observed
    metric — those merge in task-completion order);
  * on small graphs a job, not data volume, is the unit of cost, so each
    setup pass saved is a job saved on every call;
  * the gather join is skew-split HybridRDD-style (plans/skew.py): hub
    sources (out_deg above the threshold, a filter over the vertex
    table) join against a broadcast of just the hot rank rows;
  * groupBy(dst) skew needs no salting — sum() partial-aggregates
    map-side before the shuffle;
  * each round is one driver action: lineage is cut with a lazy
    localCheckpoint that the round's delta/total aggregate materializes;
  * (optionally) a content-addressed parquet checkpoint for resume,
    through the shared ``IterationCheckpoints`` policy.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.checkpoint import (
    CheckpointManager,
    IterationCheckpoints,
    materialize,
    materialize_observed,
    release,
)
from lynxkite_spark.plans.skew import hybrid_join
from lynxkite_spark.plans.spread import plan_is_expensive as _plan_is_expensive
from lynxkite_spark.session import BROADCAST_ROWS, HOT_KEY_THRESHOLD


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    iterations: int | None = None,
    tol: float | None = 1e-6,
    max_iterations: int = 200,
    direction: str = "outgoing",
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 10,
    input_fingerprint: str | None = None,
    skew_threshold: int | None = None,
    broadcast_threshold: int = BROADCAST_ROWS,
) -> DataFrame:
    """Returns DataFrame[id: long, pagerank: double].

    ``iterations`` set → exactly that many rounds (reference mode).
    Otherwise iterate until ``max |Δrank| < tol`` or ``max_iterations``
    (``tol=None`` runs all ``max_iterations``). The result is fully
    computed on return.
    """
    spark = graph.vertices.sparkSession
    # Pin an expensive-to-recompute RAW edge table once up front — the
    # setup below references it through several derived plans (edge
    # normalization, source set, and — for from_edges graphs — the
    # vertex union), and caching the raw table lets every one of those
    # subtrees hit the cache (a cache of the filtered/weighted view
    # would not match the vertex union's plan). Cheap inputs (bare
    # scans / checkpointed relations) skip the extra copy.
    edges_pinned = None
    if _plan_is_expensive(graph.edges):
        edges_pinned = graph.edges.persist(StorageLevel.MEMORY_AND_DISK)
        graph = replace(graph, edges=edges_pinned)
    g = graph.with_weight()
    edges = g.edges.select("src", "dst", "weight").where(F.col("weight") > 0.0)
    if direction == "all":
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
    elif direction == "incoming":
        edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Normalize per source in ONE pass with a window sum over the
    # src-partitioned edges (the groupBy+join-back shape scanned the
    # input twice and paid a second exchange + join); stays partitioned
    # by src for all iterations. Weight sums are per-src float adds in
    # sort order — for the constant-1.0 and integer-count weights every
    # caller uses, the totals are exact, so values are unchanged.
    from pyspark.sql import Window as W

    w_out = F.sum("weight").over(W.partitionBy("src"))
    en = (
        edges.repartition(n_part, "src")
        .select("src", "dst", (F.col("weight") / w_out).alias("wn"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # rank state carries has_out so the dangling-mass total needs no pass
    # over the gathered contributions: per-src normalized weights sum to 1,
    # so Σ incoming = damping · Σ rank over non-dangling vertices — an
    # exact algebraic identity that turns the global total into a scan of
    # the (small, cached) rank table instead of a second consumption of
    # the expensive gather join.
    #
    # Setup is ONE action: the vertex table (id, has_out, out_deg) is
    # checkpointed, partitioned by id, and the same action fills the
    # normalized-edge cache and observes |V|, the non-dangling count and
    # the hot-source count (order-insensitive counts only). The vertices
    # are partitioned BEFORE the join: whichever join AQE settles on then
    # keeps that layout and row order (repartitioning the join's output
    # is dropped as redundant after a sort-merge join, and a runtime
    # switch to a broadcast join then reads that shuffle per mapper).
    if skew_threshold is None:
        skew_threshold = HOT_KEY_THRESHOLD
    out_deg = en.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_deg"))
    vertices, setup = materialize_observed(
        g.vertices.select("id")
        .repartition(n_part, "id")
        .join(out_deg, "id", "left")
        .select(
            "id",
            F.col("out_deg").isNotNull().alias("has_out"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        ),
        n=F.count(F.lit(1)),
        n_out=F.count_if("has_out"),
        n_hot=F.count_if(F.col("out_deg") > skew_threshold),
    )
    n_vertices = setup["n"]
    if edges_pinned is not None:
        edges_pinned.unpersist()
    if n_vertices == 0:
        en.unpersist()
        return vertices.select("id").withColumn("pagerank", F.lit(0.0))

    # localCheckpoint output (LogicalRDD) carries no size stats, so
    # Catalyst can't see that the rank table is broadcastable — hint it
    # explicitly while |V| is small. Building a broadcast relation is a
    # SERIAL driver-side step repeated every iteration; measured on this
    # box it stops paying for itself around a few hundred thousand rows,
    # and past that it caps scaling (the parallel join is fast, the
    # broadcast build is not). Above the threshold the co-partitioned
    # shuffle join (or the hybrid hot-key split) takes over.
    broadcast_ranks = n_vertices <= broadcast_threshold

    # hot-key set for the gather join (HybridRDD semantics): the sources
    # with more than skew_threshold edges. When no key crosses the
    # threshold the plain shuffle join is used — the hybrid split costs
    # two extra joins per iteration for nothing — and a broadcast join
    # has no skew to split at all.
    use_hybrid = not broadcast_ranks and setup["n_hot"] > 0
    hot = vertices.where(F.col("out_deg") > skew_threshold).select(F.col("id").alias("src"))

    params = {"damping": damping, "iterations": iterations, "tol": tol, "direction": direction}
    limit = iterations if iterations is not None else max_iterations
    store = IterationCheckpoints(
        checkpoint, input_fingerprint, "pagerank", params, limit, checkpoint_every
    )
    start_iter, ranks = store.resume()
    # The dangling-mass total enters each round's plan as a literal: each
    # round's single driver action returns (max |Δ|, Σ rank over has_out)
    # together, so the loop body carries no 1-row aggregate subtree or
    # broadcast build.
    if ranks is None:
        # every rank starts at 1.0, so the total is an exact count
        ranks = fresh = vertices.select("id", "has_out", F.lit(1.0).alias("pagerank"))
        tot_lit = damping * float(setup["n_out"])
    else:
        fresh = None
        ranks = materialize(ranks.repartition(n_part, "id"))
        tot_lit = damping * float(
            ranks.where(F.col("has_out")).agg(F.sum("pagerank").alias("s")).first()["s"]
            or 0.0
        )

    # A fixed iteration count (the reference's mode) never stops early.
    stop_tol = tol if iterations is None else None
    history: list[dict] = []
    # the local checkpoint behind `ranks` (None while ranks are the vertex
    # table or parquet): dead once the next round is materialized, so it
    # is released then rather than whenever the JVM collects it
    held = None if fresh is not None else ranks

    for k in range(start_iter + 1, limit + 1):
        rank_lookup = ranks.select(F.col("id").alias("src"), "pagerank")
        if broadcast_ranks:
            gathered = en.join(F.broadcast(rank_lookup), "src")
        elif use_hybrid:
            gathered = hybrid_join(en, rank_lookup, "src", hot=hot)
        else:
            # hash join with the rank table as build side: avoids
            # re-sorting the (much larger) edge table every iteration,
            # which SMJ would do despite the stable partitioning
            gathered = en.join(rank_lookup.hint("shuffle_hash"), "src")
        contrib = gathered.groupBy("dst").agg(
            (F.sum(F.col("pagerank") * F.col("wn")) * F.lit(damping)).alias("incoming")
        )
        uniform = (F.lit(float(n_vertices)) - F.lit(tot_lit)) / F.lit(float(n_vertices))
        # cut lineage every iteration (lazily — materialized by the delta
        # action below): the plan references ranks twice per round, so
        # analysis time is exponential without truncation
        new_ranks = (
            ranks.join(
                contrib if broadcast_ranks else contrib.hint("shuffle_hash"),
                ranks.id == contrib.dst,
                "left",
            )
            .select(
                "id",
                "has_out",
                (F.coalesce(F.col("incoming"), F.lit(0.0)) + uniform).alias("pagerank"),
                F.col("pagerank").alias("_prev"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE action per iteration: materializes the checkpoint and
        # returns (max |Δrank|, next dangling-mass total) together
        row = new_ranks.agg(
            F.max(F.abs(F.col("pagerank") - F.col("_prev"))).alias("d"),
            F.sum(F.when(F.col("has_out"), F.col("pagerank"))).alias("s"),
        ).first()
        delta = row["d"]
        tot_lit = damping * float(row["s"] or 0.0)
        history.append({"iteration": k, "max_delta": delta})
        if held is not None:
            release(held)
        # a due checkpoint is written from the materialized local one
        current = new_ranks.drop("_prev")
        ranks = store.save(current, k, history=history)
        held = new_ranks
        if ranks is not current:  # re-read from parquet
            release(held)
            held = None
        if stop_tol is not None and delta < stop_tol:
            break

    # every round has run by now; the caches are pure cleanup (the vertex
    # table stays only if no round ran and the result still reads it)
    en.unpersist()
    if ranks is not fresh:
        release(vertices)
    return ranks.select("id", "pagerank")
