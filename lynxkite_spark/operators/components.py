"""Connected components by star contraction, labeled with the minimum id.

Reference: /root/reference/app/.../graph_operations/ConnectedComponents.scala
— random-contraction MapReduce with an arbitrary-representative output;
its own tests compare labelings only up to bijection
(test/.../ConnectedComponentsTest.scala:19-34). Per the north rule we
instead emit the *deterministic canonical* representative: the minimum
vertex ID of each component, so component IDs are exactly reproducible
across runs and parallelism levels.

Input edges are treated per the frontend's symmetrization choice
(BuildSegmentationOperations.scala:111-135): ``ignore directions`` adds
reversed copies (default), matching "the edges must all be symmetric"
(ConnectedComponents.scala:3). Isolated vertices become singleton
components (ConnectedComponents.scala:48-53).

The algorithm is Kiveris et al. "Connected Components in MapReduce and
Beyond": alternating large-star/small-star contraction, O(log n) rounds
regardless of diameter (label-min propagation needs O(diameter)). It is
integer-exact by construction (min/joins only, no float math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lynxkite_spark import session
from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.checkpoint import IterationCheckpoints, materialize


def _symmetrized(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def _large_star(edges: DataFrame, broadcast_m: bool = False) -> DataFrame:
    """large-star (Kiveris et al., CC-MR): over both orientations, for
    each node u with neighborhood N(u): m = min(N(u) ∪ {u}); emit
    (v, m) for every v ∈ N(u) with v > u. Preserves connectivity."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
    )
    # While the min table is vertex-sized-small, broadcast it — the edge
    # stream is then never exchanged for the relink join at all; above
    # the threshold, hash-build it so the big stream is at least never
    # sorted (same discipline as the PageRank gather join).
    m = F.broadcast(m) if broadcast_m else m.hint("shuffle_hash")
    return (
        sym.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame, broadcast_m: bool = False) -> DataFrame:
    """small-star: orient each edge large→small; for each u over its
    smaller neighbors N: m = min(N ∪ {u}); emit (v, m) for every
    v ∈ N ∪ {u}, v ≠ m. Preserves connectivity."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    mb = F.broadcast(m) if broadcast_m else m.hint("shuffle_hash")
    relinked = oriented.join(mb, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_link = m.select("src", F.col("m").alias("dst"))
    return (
        relinked.unionByName(self_link)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    graph: Graph,
    max_iterations: int = 50,
    checkpoint=None,
    checkpoint_every: int = 10,
    input_fingerprint: str | None = None,
) -> DataFrame:
    """Returns ``belongs_to``: DataFrame[id: long, component: long] — a
    total function (every vertex labeled), component = min vertex id.

    With a ``CheckpointManager``, the contracted edge set (the star
    algorithm's whole state) is written every ``checkpoint_every`` rounds
    and at the cap, and a rerun resumes from the newest stored round
    (exact longs — bit-identical resume)."""
    spark = graph.vertices.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    vertices = graph.vertices.select("id")
    # the key keeps the algorithm name so stored rounds stay addressable
    params = {"algorithm": "star", "max_iterations": max_iterations}
    store = IterationCheckpoints(
        checkpoint, input_fingerprint, "cc", params, max_iterations, checkpoint_every
    )
    # per-round min tables are bounded by the (shrinking) vertex count:
    # broadcast them below the same threshold pagerank uses for its rank
    # table — the contracted edge stream then never shuffles for the
    # relink joins, only for groupBy/distinct
    broadcast_m = graph.vertices.count() <= session.BROADCAST_ROWS
    start_iter, e = store.resume()
    if e is None:
        e = materialize(_symmetrized(graph.edges).repartition(n_part, "src"))
    prev_count = e.count()
    for k in range(start_iter + 1, max_iterations + 1):
        # cut lineage every round — star contraction references e
        # multiple times per iteration (plan growth, see materialize)
        new_e = _small_star(_large_star(e, broadcast_m), broadcast_m).localCheckpoint(
            eager=False
        )
        new_count = new_e.count()
        # converged when the edge set is stable (star graph reached):
        # equal cardinality and no edge outside the old set
        changed = 1
        if new_count == prev_count:
            changed = new_e.exceptAll(e).limit(1).count()
        e = store.save(new_e, k, edges=new_count)
        prev_count = new_count
        if changed == 0:
            break
    labels = (
        e.where(F.col("src") > F.col("dst"))
        .groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(F.col("src").alias("id"), "component")
    )
    # isolated vertices → singleton components (ConnectedComponents.scala:48-53)
    return (
        vertices.join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
