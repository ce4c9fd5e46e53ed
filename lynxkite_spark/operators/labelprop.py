"""Community detection by label propagation (synchronous, deterministic).

The reference delegates to NetworKit PLP — Raghavan et al. async label
propagation whose result is thread-count dependent
(/root/reference/app/.../graph_operations/NetworKit.scala:181-228,
sphynx/lynxkite-sphynx/networkit_community_detection.go:23-33; tests pin
NETWORKIT_THREADS, test_backend.sh:25-27). A partition-dependent result
is unacceptable at cluster scale, so our spec is the *synchronous*
variant with deterministic tie-breaking (SURVEY.md §2.1):

  label(v) ← argmax over neighbor labels by (weight desc, label asc)

iterated until no label changes or ``max_iterations`` (sync LPA can
2-cycle on bipartite structures; the cap guarantees termination).
Edges are treated as undirected (reference passes directed=false).

Each round is one driver action: an eager localCheckpoint of the new
label table that observes how many labels changed on the way. The
vertex count comes from the same kind of observation on the initial
label table, and the symmetric edge cache fills during the first round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.checkpoint import (
    IterationCheckpoints,
    materialize_observed,
    release,
)
from lynxkite_spark.session import BROADCAST_ROWS


def label_propagation(
    graph: Graph,
    max_iterations: int = 30,
    weighted: bool = False,
    checkpoint=None,
    checkpoint_every: int = 10,
    input_fingerprint: str | None = None,
    broadcast_threshold: int = BROADCAST_ROWS,
) -> DataFrame:
    """Returns belongs_to: DataFrame[id: long, label: long].

    With a ``CheckpointManager`` the label table is written every
    ``checkpoint_every`` rounds and at the cap (per-partition lineage
    sidecar like PageRank's) and a rerun resumes from the newest stored
    round — labels are exact longs, so a resumed run is bit-identical."""
    spark = graph.vertices.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = graph.with_weight()
    e = g.edges.select("src", "dst", "weight").where(F.col("src") != F.col("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    if not weighted:
        sym = sym.withColumn("weight", F.lit(1.0))
    # filled by the first round's gather join
    sym = sym.repartition(n_part, "src").persist(StorageLevel.MEMORY_AND_DISK)

    params = {"max_iterations": max_iterations, "weighted": weighted}
    store = IterationCheckpoints(
        checkpoint, input_fingerprint, "lpa", params, max_iterations, checkpoint_every
    )
    start_iter, labels = store.resume()
    if labels is None:
        labels = graph.vertices.select("id", F.col("id").alias("label"))
    labels, setup = materialize_observed(labels.repartition(n_part, "id"), n=F.count(F.lit(1)))
    # Broadcast the vertex-sized label table into the gather join while
    # it is small (same trade as pagerank's broadcast_ranks): the big
    # edge stream is then never exchanged OR sorted per round — the only
    # corpus-sized shuffle left is the map-side-combinable vote count.
    # Above the threshold the shuffle-hash gather takes over (building a
    # multi-million-row broadcast is serial driver work that caps
    # scaling).
    broadcast_labels = setup["n"] <= broadcast_threshold
    # the local checkpoint behind `labels` (None once they are parquet):
    # dead once the next round is materialized, so it is released then
    # rather than whenever the JVM collects it
    held = labels

    for k in range(start_iter + 1, max_iterations + 1):
        # gather neighbor labels onto dst; per-(dst,label) weight sums are
        # map-side combinable, so hub vertices don't skew the shuffle
        # hash-build the vertex-sized label table: the big edge stream is
        # never sorted per round (PageRank gather-join discipline)
        lbl = F.broadcast(labels) if broadcast_labels else labels.hint("shuffle_hash")
        votes = (
            sym.join(lbl, sym.src == labels.id)
            .groupBy("dst", "label")
            .agg(F.sum("weight").alias("w"))
        )
        # argmax by (w desc, label asc) — deterministic: max_by on an
        # ordered struct (invert label sign for the asc tie-break)
        best = votes.groupBy("dst").agg(
            F.max_by("label", F.struct(F.col("w"), -F.col("label"))).alias("new_label")
        )
        best = F.broadcast(best) if broadcast_labels else best
        # carry the previous label into the checkpoint so the change
        # count is observed by the round's one action, not a second
        # join or scan
        new_labels, m = materialize_observed(
            labels.join(best, labels.id == best.dst, "left").select(
                "id",
                F.coalesce("new_label", "label").alias("label"),
                F.col("label").alias("_old"),
            ),
            changed=F.count_if(F.col("label") != F.col("_old")),
        )
        changed = m["changed"]
        if held is not None:
            release(held)
        current = new_labels.drop("_old")
        labels = store.save(current, k, changed=changed)
        held = new_labels
        if labels is not current:  # re-read from parquet
            release(held)
            held = None
        if changed == 0:
            break
    sym.unpersist()
    return labels
