"""The benchmark's workloads: seeded inputs, their oracles, and one pass.

A pass is the timed unit: it calls each layer's public function in turn
and forces every output column (``bit_xor(xxhash64(all columns))``, which
Catalyst cannot answer from metadata the way it can answer ``count()``).
Inputs are generated from the seed by ``inputs.py`` and stored as parquet:
the program only ever sees the stored tables. Oracles run once per seed,
outside any timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lkbench import inputs, oracles
from lkbench.trace import TimedCheckpointManager, Tracer
from lynxkite_spark.derive import derive_file_edges, derive_repo_edges
from lynxkite_spark.graph import Graph
from lynxkite_spark.operators import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)

PR_TOL = 1e-6  # allclose tolerance for PageRank against its oracle


def checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64 over every column): computes every
    column of every row, and is independent of row order."""
    r = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")
    ).first()
    return int(r["n"]), int(r["x"] or 0)


def mismatches(got, expected: dict, tol: float | None = None) -> int:
    """Rows of ``got`` (pandas: key column(s) then one value column) that
    differ from ``expected`` ({key: value}), plus expected keys missing."""
    cols = [got[c].tolist() for c in got.columns]
    g = dict(zip(cols[0] if len(cols) == 2 else zip(*cols[:-1]), cols[-1]))
    bad = len(got) - len(g)  # duplicate keys
    for k in g.keys() | expected.keys():
        if k not in g or k not in expected:
            bad += 1
        elif tol is None:
            bad += g[k] != expected[k]
        else:
            bad += not np.isclose(g[k], expected[k], rtol=tol, atol=tol)
    return bad


@dataclass
class PassResult:
    checksums: dict[str, tuple[int, int]] = field(default_factory=dict)
    collected: dict = field(default_factory=dict)  # name -> pandas, verify pass only
    calls: int = 0
    collect_s: float = 0.0
    resume_s: float = 0.0
    ckpt: TimedCheckpointManager | None = None


class Pass:
    """One pass's bookkeeping: every layer call goes through ``step``."""

    def __init__(self, tracer: Tracer, collect: bool):
        self.tracer = tracer
        self.collect = collect
        self.result = PassResult()

    def step(self, layer: str, name: str, produce) -> DataFrame:
        with self.tracer.span(layer):
            self.result.calls += 1
            df = produce()
            self.result.checksums[name] = checksum(df)
        if self.collect:
            t = time.perf_counter()
            self.result.collected[name] = df.toPandas()
            self.result.collect_s += time.perf_counter() - t
        return df


class Workload:
    name: str
    layers: tuple[str, ...]

    def tag(self, seed: int) -> str:
        """Cache key: the seed and every numeric setting of the workload."""
        settings = {
            k: getattr(self, k)
            for k in dir(self)
            if not k.startswith("_") and isinstance(getattr(self, k), (int, float))
        }
        digest = hashlib.sha256(json.dumps(settings, sort_keys=True).encode()).hexdigest()
        return f"{self.name}-s{seed}-{digest[:12]}"

    def verify(self, res: PassResult, exp: dict) -> dict[str, int]:
        """Rows that differ from the oracle, per output."""
        return {
            name: mismatches(res.collected[name], expected, tol)
            for name, (expected, tol) in self.expected(exp).items()
        }


class Ingest(Workload):
    """Corpus -> derived repo and file edge tables -> star CC on the repo
    graph (the paper's pipeline; its PageRank runs on web-graph-resume).
    The repo graph is far below the operators' 200k-row broadcast
    cut-over, so driver overhead, not shuffle volume, sets CC's cost."""

    name = "ingest"
    layers = ("derive", "operators.components")
    n_files = 10_000
    n_repos = 100
    hub_fraction = 0.3

    def input_units(self, state) -> tuple[int, str]:
        return state["n_files"], "files"

    def prepare(self, d: str, seed: int) -> None:
        path = os.path.join(d, "corpus.parquet")
        inputs.write_corpus(path, seed, self.n_files, self.n_repos, self.hub_fraction)
        import pyarrow.parquet as pq

        t = pq.read_table(path).to_pydict()
        ids, repo_edges, file_edges = oracles.derive_oracle(
            t["repo"], t["path"], t["lang"], t["content"]
        )
        vertices = sorted(ids)
        cc = oracles.components_py(vertices, repo_edges)

        def edge_array(edges):
            return np.array([(s, t, w) for (s, t), w in edges.items()], dtype=np.int64).reshape(-1, 3)

        np.savez(
            os.path.join(d, "oracle.npz"),
            ids=np.array(vertices, dtype=np.int64),
            repos=np.array([ids[v] for v in vertices]),
            cc=np.array([cc[v] for v in vertices], dtype=np.int64),
            repo_edges=edge_array(repo_edges),
            file_edges=edge_array(file_edges),
        )

    def expected(self, exp) -> dict:
        ids = exp["ids"].tolist()

        def edges(a):
            return {(int(s), int(t)): float(w) for s, t, w in a}

        return {
            "repo_ids": (dict(zip(ids, exp["repos"].tolist())), None),
            "repo_edges": (edges(exp["repo_edges"]), None),
            "file_edges": (edges(exp["file_edges"]), None),
            "components": (dict(zip(ids, exp["cc"].tolist())), None),
        }

    def load(self, spark, d: str) -> dict:
        corpus = spark.read.parquet(os.path.join(d, "corpus.parquet")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return {"corpus": corpus, "n_files": corpus.count(), "persisted": [corpus]}

    def run_pass(self, spark, state, p: Pass, work: str) -> None:
        corpus = state["corpus"]
        derived = {}

        def repo_edges():
            edges, ids = derive_repo_edges(corpus)
            derived["ids"] = ids.persist(StorageLevel.MEMORY_AND_DISK)
            derived["edges"] = edges.persist(StorageLevel.MEMORY_AND_DISK)
            return derived["edges"]

        p.step("derive", "repo_edges", repo_edges)
        p.step("derive", "repo_ids", lambda: derived["ids"])
        p.step("derive", "file_edges", lambda: derive_file_edges(corpus))
        g = Graph(vertices=derived["ids"].select("id"), edges=derived["edges"])
        p.step("operators.components", "components", lambda: connected_components(g))
        derived["edges"].unpersist()
        derived["ids"].unpersist()


class WebGraphResume(Workload):
    """A seeded scale-free graph: converge-mode PageRank writing durable
    checkpoints into a fresh directory, then resuming from them; LPA on
    the shuffle-hash gather-join path; and the hub-skewed triangle join.

    PageRank's first call stops at a lower iteration cap (its checkpoint
    key leaves the cap out), so the second call resumes from the newest
    checkpoint and carries on to the full cap. Iteration caps keep a pass
    short; every output is checked against an oracle run with the same cap.
    """

    name = "web-graph-resume"
    layers = (
        "operators.pagerank",
        "operators.labelprop",
        "operators.triangles",
        "plans.checkpoint",
    )
    n_vertices = 5_000
    out_degree = 8
    pr_first_cap = 1
    pr_max_iterations = 2
    lpa_iterations = 1
    checkpoint_every = 2
    # The operators broadcast vertex-sized tables up to 200k rows; the
    # graph is scaled down to fit the run, so PageRank and LPA get a lower
    # cut-over to stay on the shuffle-hash gather join a real web graph
    # takes.
    broadcast_threshold = 1_000

    def input_units(self, state) -> tuple[int, str]:
        return state["n_edges"], "edges"

    def prepare(self, d: str, seed: int) -> None:
        n = self.n_vertices
        src, dst = inputs.scale_free_edges(seed, n, self.out_degree)
        inputs.write_edges(os.path.join(d, "edges.parquet"), src, dst)

        def pr(cap):
            return oracles.pagerank_np(n, src, dst, 0.85, tol=1e-6, max_iterations=cap)

        np.savez(
            os.path.join(d, "oracle.npz"),
            pr_first=pr(self.pr_first_cap),
            pr=pr(self.pr_max_iterations),
            lpa=oracles.labelprop_np(n, src, dst, self.lpa_iterations),
            tri=oracles.triangles_duckdb(n, src, dst),
        )

    def expected(self, exp) -> dict:
        def dense(values):
            return dict(enumerate(values.tolist()))

        return {
            "pagerank_first": (dense(exp["pr_first"]), PR_TOL),
            "pagerank_resumed": (dense(exp["pr"]), PR_TOL),
            "labelprop": (dense(exp["lpa"]), None),
            "triangles": (dense(exp["tri"]), None),
        }

    def load(self, spark, d: str) -> dict:
        edges = spark.read.parquet(os.path.join(d, "edges.parquet")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        vertices = spark.range(self.n_vertices).select("id").persist(StorageLevel.MEMORY_AND_DISK)
        vertices.count()
        return {
            "graph": Graph(vertices=vertices, edges=edges),
            "n_edges": edges.count(),
            "persisted": [vertices, edges],
        }

    def run_pass(self, spark, state, p: Pass, work: str) -> None:
        g = state["graph"]
        cm = TimedCheckpointManager(spark, os.path.join(work, "ckpt"), p.tracer)
        p.result.ckpt = cm

        def pr(cap):
            return pagerank(
                g,
                max_iterations=cap,
                checkpoint=cm,
                checkpoint_every=self.checkpoint_every,
                input_fingerprint="bench",
                broadcast_threshold=self.broadcast_threshold,
            )

        p.step("operators.pagerank", "pagerank_first", lambda: pr(self.pr_first_cap))
        t = time.perf_counter()
        p.step("operators.pagerank", "pagerank_resumed", lambda: pr(self.pr_max_iterations))
        p.result.resume_s = time.perf_counter() - t
        p.step(
            "operators.labelprop",
            "labelprop",
            lambda: label_propagation(
                g,
                max_iterations=self.lpa_iterations,
                broadcast_threshold=self.broadcast_threshold,
            ),
        )
        p.step("operators.triangles", "triangles", lambda: triangle_count(g))
        shutil.rmtree(cm.root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Ingest(), WebGraphResume())}
