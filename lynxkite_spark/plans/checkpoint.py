"""Content-addressed checkpointing: the reference's memoizing entity
store re-created for iterative DataFrame algorithms.

The reference GUID-hashes (operation, params, inputs) and recomputes only
missing entities (/root/reference/app/.../graph_api/MetaGraph.scala:39-57,
DataManager.scala:120+; on-disk layout EntityIO.scala:71-110 with a
_SUCCESS-style marker, SparkDomain.scala:175-229). We hash
(input fingerprint, op name, params, iteration) → a parquet table name;
a step whose output exists is skipped, which makes any iterative run
resumable mid-algorithm.

Each checkpoint carries a sidecar ``_lineage.json`` with per-partition
row counts + checksums and the convergence metric series — the
"per-partition lineage + metrics" required by the north rule — and the
table's schema, so reading a checkpoint back runs no schema-inference
job (sidecars written without one still load, by inference).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid

from pyspark.serializers import CPickleSerializer
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def step_key(input_fingerprint: str, op: str, params: dict, iteration: int | None = None) -> str:
    payload = json.dumps(
        {"input": input_fingerprint, "op": op, "params": params, "iter": iteration},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:24]


def table_fingerprint(df: DataFrame, sample_cols: list[str] | None = None) -> str:
    """Cheap content fingerprint of a DataFrame: order-insensitive xor/sum
    of per-row hashes over the key columns, plus the row count. One pass,
    map-side combinable."""
    cols = sample_cols or df.columns
    agg = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(h)").alias("s"),  # order-insensitive, overflow-free
    )
    n, s = agg.first()
    return f"{n}:{s}"


class CheckpointManager:
    """Parquet-backed checkpoint registry under ``root``.

    ``save(df, key)`` writes the data plus a lineage sidecar;
    ``load(key)`` returns the DataFrame if the step already ran
    (the memoization hit path); ``metrics(key)`` returns the sidecar.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, key: str) -> str:
        return os.path.join(self.root, key)

    def exists(self, key: str) -> bool:
        return os.path.exists(os.path.join(self._dir(key), "_lineage.json"))

    def save(self, df: DataFrame, key: str, metrics: dict | None = None) -> DataFrame:
        path = self._dir(key)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        out = self.spark.read.schema(df.schema).parquet(tmp)
        # per-partition lineage: row count + order-insensitive checksum per file
        lineage_rows = (
            out.select(
                F.input_file_name().alias("part"),
                F.xxhash64(*out.columns).alias("h"),
            )
            .groupBy("part")
            .agg(F.count("*").alias("rows"), F.expr("bit_xor(h)").alias("checksum"))
            .collect()
        )
        sidecar = {
            "key": key,
            "written_at": time.time(),
            "partitions": [
                {"file": os.path.basename(r["part"]), "rows": r["rows"], "checksum": str(r["checksum"])}
                for r in lineage_rows
            ],
            "total_rows": int(sum(r["rows"] for r in lineage_rows)),
            "metrics": metrics or {},
            # the schema as read back (file sources make every column
            # nullable), i.e. what inference would give
            "schema": out.schema.json(),
        }
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        with open(os.path.join(path, "_lineage.json"), "w") as f:
            json.dump(sidecar, f, indent=1)
        return self.spark.read.schema(out.schema).parquet(path)

    def load(self, key: str) -> DataFrame | None:
        sidecar = self.metrics(key)
        if sidecar is None:
            return None
        reader = self.spark.read
        if "schema" in sidecar:
            reader = reader.schema(StructType.fromJson(json.loads(sidecar["schema"])))
        return reader.parquet(self._dir(key))

    def metrics(self, key: str) -> dict | None:
        p = os.path.join(self._dir(key), "_lineage.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)


class IterationCheckpoints:
    """The resume/save policy every iterative operator shares.

    Step keys are ``step_key(input_fingerprint or "anon", op, params, k)``
    for round ``k``. ``resume()`` probes backwards from ``limit`` for the
    newest stored round; ``save(df, k)`` writes round ``k`` when
    ``k % every == 0`` or ``k == limit``. With ``checkpoint=None`` both
    are no-ops, so operators call them unconditionally."""

    def __init__(
        self,
        checkpoint: CheckpointManager | None,
        input_fingerprint: str | None,
        op: str,
        params: dict,
        limit: int,
        every: int,
    ):
        self.checkpoint = checkpoint
        self.fp = input_fingerprint or "anon"
        self.op = op
        self.params = params
        self.limit = limit
        self.every = every

    def _key(self, k: int) -> str:
        return step_key(self.fp, self.op, self.params, k)

    def resume(self) -> tuple[int, DataFrame | None]:
        """(newest stored round, its table), or (0, None)."""
        if self.checkpoint is not None:
            for k in range(self.limit, 0, -1):
                cached = self.checkpoint.load(self._key(k))
                if cached is not None:
                    return k, cached
        return 0, None

    def save(self, df: DataFrame, k: int, **metrics) -> DataFrame:
        """Round ``k``'s table: re-read from parquet if it was due for a
        checkpoint, ``df`` itself otherwise."""
        if self.checkpoint is None or (k % self.every and k != self.limit):
            return df
        return self.checkpoint.save(df, self._key(k), {"iteration": k, **metrics})


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage NOW: eager localCheckpoint. Iterative DataFrame
    algorithms reference the previous state several times per round, so
    without truncation the logical plan (and Catalyst analysis time)
    grows exponentially with the iteration count — the reference
    sidesteps the same problem by persisting every heavy operation
    (SparkDomain.scala:175-229). On a multi-executor cluster prefer a
    durable CheckpointManager.save at a cadence on top of this (local
    checkpoints don't survive executor loss)."""
    return df.localCheckpoint(eager=True)


def materialize_observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """``materialize`` plus whole-table metrics computed by the same
    action (``DataFrame.observe``), instead of a second pass over the
    table. Order-insensitive metrics only (counts, ``count_if``, max):
    observed values merge in task-completion order, so a float sum's
    low bits would change from run to run."""
    name = f"observed_{uuid.uuid4().hex}"
    observed = df.observe(name, *(c.alias(k) for k, c in metrics.items()))
    out = materialize(observed)
    # read from the action's own query execution: an ``Observation``
    # object would start the session's observation manager, which is not
    # serializable and then fails every MLlib job that captures the session
    jrow = observed._jdf.queryExecution().observedMetrics().get(name).get()
    utils = df.sparkSession.sparkContext._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    return out, CPickleSerializer().loads(utils.toPyRow(jrow)).asDict()


def release(df: DataFrame) -> None:
    """Drop the blocks of a local checkpoint (``materialize`` or a lazy
    ``localCheckpoint`` that an action has run) now, instead of whenever
    the JVM garbage-collects it. Its lineage is cut, so only call this
    once nothing still reads it: a later read fails rather than
    recomputing. This is the call Spark's context cleaner makes for a
    collected RDD (``RDD.unpersist`` would log a truncated-lineage
    warning on every call)."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)
