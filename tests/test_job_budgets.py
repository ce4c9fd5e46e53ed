"""Spark jobs per operator call, and bit stability of the setup paths.

On interactive-size graphs an operator's wall time is its number of
Spark jobs, not its data volume, so each call on the web-graph pass has
a job budget: PageRank's setup is one observed checkpoint of the vertex
table, an LPA round is one observed checkpoint, triangles are enumerated
once, and a checkpoint read runs no schema-inference job. The budgets
are the counts measured on the seeded graph below (local mode, AQE on);
a change that adds a job to one of these calls fails here."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.operators import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from lynxkite_spark.plans.checkpoint import CheckpointManager, step_key

# Below the graph's vertex count: PageRank and LPA take the shuffle-hash
# gather join a web-scale graph takes, as on the benchmark's web graph.
SHUFFLE_PATH = 100

BUDGETS = {
    "pagerank_fresh": 15,  # setup + 2 rounds
    "pagerank_resumed": 17,  # setup + load + round 2 + its checkpoint save
    "labelprop_round": 9,
    "triangle_count": 10,  # enumeration + per-vertex counts + forcing action
    "checkpoint_load": 0,
}


@pytest.fixture(scope="module")
def web_graph(spark):
    """A seeded scale-free-ish graph with one hub source, both tables
    cached and materialized (as the benchmark loads its input)."""
    rng = np.random.default_rng(5)
    n, m = 600, 4800
    src = rng.integers(0, n, m)
    dst = (rng.zipf(1.7, m) - 1) % n
    src[:400] = 3
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(src, dst)], "src long, dst long"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    vertices = spark.range(n).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    vertices.count()
    yield Graph(vertices=vertices, edges=edges)
    edges.unpersist()
    vertices.unpersist()


def checksum(df) -> tuple[int, int]:
    r = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")
    ).first()
    return int(r["n"]), int(r["x"] or 0)


def count_jobs(spark, name: str, fn):
    """(fn's result, number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"job-budget-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def measure_jobs(spark, g: Graph, root: str) -> dict[str, int]:
    cm = CheckpointManager(spark, root)
    ckpt = dict(checkpoint=cm, input_fingerprint="budget", broadcast_threshold=SHUFFLE_PATH)
    jobs = {}
    _, jobs["pagerank_fresh"] = count_jobs(
        spark, "pr", lambda: pagerank(g, max_iterations=2, broadcast_threshold=SHUFFLE_PATH)
    )
    pagerank(g, max_iterations=1, checkpoint_every=2, **ckpt)  # writes round 1
    _, jobs["pagerank_resumed"] = count_jobs(
        spark, "pr-resumed", lambda: pagerank(g, max_iterations=2, checkpoint_every=2, **ckpt)
    )
    _, jobs["labelprop_round"] = count_jobs(
        spark,
        "lpa",
        lambda: label_propagation(g, max_iterations=1, broadcast_threshold=SHUFFLE_PATH),
    )
    _, jobs["triangle_count"] = count_jobs(
        spark, "tri", lambda: checksum(triangle_count(g))
    )
    params = {"damping": 0.85, "iterations": None, "tol": 1e-6, "direction": "outgoing"}
    loaded, jobs["checkpoint_load"] = count_jobs(
        spark, "load", lambda: cm.load(step_key("budget", "pagerank", params, 2))
    )
    assert loaded is not None
    return jobs


def test_operator_calls_stay_within_job_budgets(spark, web_graph, tmp_path):
    jobs = measure_jobs(spark, web_graph, str(tmp_path / "ckpt"))
    over = {k: (v, BUDGETS[k]) for k, v in jobs.items() if v > BUDGETS[k]}
    assert not over, f"jobs over budget (measured, budget): {over}"


def test_observed_setup_keeps_mllib_jobs_serializable(spark, web_graph):
    """Observed metrics are read from the action's query execution, not
    through an ``Observation``: that would start the session's (not
    serializable) observation manager, and MLlib jobs that capture the
    session would then fail to serialize."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from lynxkite_spark.plans.checkpoint import materialize_observed

    _, counts = materialize_observed(
        web_graph.vertices, n=F.count(F.lit(1)), odd=F.count_if(F.col("id") % 2 == 1)
    )
    assert counts == {"n": 600, "odd": 300}
    _, empty = materialize_observed(web_graph.vertices.where("id < 0"), n=F.count(F.lit(1)))
    assert empty == {"n": 0}
    d = spark.range(40).select(
        F.col("id").cast("double").alias("x"), (F.col("id") > 20).cast("double").alias("label")
    )
    d = VectorAssembler(inputCols=["x"], outputCol="features").transform(d)
    model = LogisticRegression(maxIter=5).fit(d)
    assert model.summary.fMeasureByThreshold.count() > 0


def test_checkpoint_load_uses_the_stored_schema(spark, tmp_path):
    cm = CheckpointManager(spark, str(tmp_path / "ckpt"))
    df = spark.range(20).select("id", (F.col("id") % 3 == 0).alias("flag"), F.lit(0.5).alias("x"))
    saved = cm.save(df, "k")
    inferred = spark.read.parquet(str(tmp_path / "ckpt" / "k"))
    sidecar = cm.metrics("k")
    assert json.loads(sidecar["schema"]) == json.loads(inferred.schema.json())
    assert saved.schema == inferred.schema == cm.load("k").schema
    assert sorted(cm.load("k").collect()) == sorted(df.collect())


def test_pagerank_converge_mode_is_bit_stable(spark, web_graph):
    for threshold in (SHUFFLE_PATH, 1_000_000):
        a = pagerank(web_graph, tol=1e-8, broadcast_threshold=threshold)
        b = pagerank(web_graph, tol=1e-8, broadcast_threshold=threshold)
        assert {r["id"]: r["pagerank"] for r in a.collect()} == {
            r["id"]: r["pagerank"] for r in b.collect()
        }


def test_pagerank_resume_is_bit_stable(spark, web_graph, tmp_path):
    """Two resumes from the same stored round give the same bits (the
    resumed dangling-mass total is a plain aggregate, not an observed
    metric merged in task-completion order)."""
    root = str(tmp_path / "ckpt")
    pagerank(
        web_graph, max_iterations=3, checkpoint=CheckpointManager(spark, root),
        checkpoint_every=3, input_fingerprint="stable", broadcast_threshold=SHUFFLE_PATH,
    )
    results = []
    for i in range(2):
        copy = str(tmp_path / f"copy{i}")
        shutil.copytree(root, copy)
        ranks = pagerank(
            web_graph, max_iterations=6, checkpoint=CheckpointManager(spark, copy),
            checkpoint_every=3, input_fingerprint="stable", broadcast_threshold=SHUFFLE_PATH,
        )
        results.append({r["id"]: r["pagerank"] for r in ranks.collect()})
    assert results[0] == results[1]


def _strip_schemas(root: str) -> int:
    """Rewrite every sidecar under ``root`` without its ``schema`` entry
    (the format written before checkpoints carried their schema)."""
    stripped = 0
    for key in os.listdir(root):
        p = os.path.join(root, key, "_lineage.json")
        if not os.path.exists(p):
            continue
        with open(p) as f:
            sidecar = json.load(f)
        stripped += sidecar.pop("schema", None) is not None
        with open(p, "w") as f:
            json.dump(sidecar, f)
    return stripped


def _labels(df, col):
    return {r["id"]: r[col] for r in df.collect()}


@pytest.mark.parametrize("op", ["pagerank", "lpa", "cc"])
def test_sidecars_without_schema_still_resume(spark, web_graph, tmp_path, op):
    """Checkpoint directories written before sidecars carried a schema
    resume by inference, to the same result as the schema-carrying
    copy of the same directory."""

    def run(root, cap):
        kw = dict(
            checkpoint=CheckpointManager(spark, root), checkpoint_every=2, input_fingerprint="old"
        )
        if op == "pagerank":
            return _labels(
                pagerank(web_graph, max_iterations=cap, broadcast_threshold=SHUFFLE_PATH, **kw),
                "pagerank",
            )
        if op == "lpa":
            return _labels(
                label_propagation(
                    web_graph, max_iterations=cap, broadcast_threshold=SHUFFLE_PATH, **kw
                ),
                "label",
            )
        return _labels(connected_components(web_graph, max_iterations=cap, **kw), "component")

    new = str(tmp_path / "new")
    run(new, 2)
    old = str(tmp_path / "old")
    shutil.copytree(new, old)
    assert _strip_schemas(old) > 0
    assert run(old, 4) == run(new, 4)
