"""lynxkite_spark benchmark: one workload, one seed, one measured window.

    python3 lkbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The run:

1. generates the workload's inputs from ``--seed`` (numpy, written as
   parquet) and computes the oracles, once per seed and settings (cached
   under ``.lkbench/cache``);
2. sets up twice: start a SparkSession, load the stored input, run one
   warm-up pass. The first launches the JVM, and its (cold) pass is
   checked row by row against the oracles; the second opens a new session
   on the running context. ``setup_s`` is the median;
3. runs passes in the last session until ``--seconds`` have passed, and
   at least two. Every output is reduced to a checksum and must equal the
   checked pass's, and an earlier run's on the same seed;
4. prints every metric by name with its unit, then one JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, at least one of each (the difference is the
tracing overhead), and reports per-layer metrics: each call into a layer runs in its own Spark
job group, read back through the status tracker and status store.

Environment: ``SPARK_DRIVER_MEMORY`` and ``SPARK_GRAFT_CPUS`` are taken
from the caller (``BENCHMARK.json`` pins them); the run sets
``PYTHONPATH`` to the repository root (the Python workers import
``lynxkite_spark``) and keeps Spark's local and temporary directories
under ``.lkbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".lkbench")
SETUP_REPS = 2
MIN_PASSES = 2  # job_s is the median of at least this many passes


def pin_environment() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    )
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(STATE_DIR, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(STATE_DIR, "tmp")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(traced: bool):
    from lynxkite_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": " ".join(
            [
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",  # get_spark's fixed heap
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            ]
        ),
    }
    if traced:
        # a converge-mode pass runs thousands of stages; keep them all
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    return get_spark(app_name="lkbench", extra_conf=conf)


def stop_jvm() -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def prepare(workload, seed: int) -> str:
    """The cached input directory for (workload, seed): inputs and oracle
    results, made on first use (numpy and DuckDB only, no JVM)."""
    d = os.path.join(STATE_DIR, "cache", workload.tag(seed))
    if not os.path.exists(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        workload.prepare(tmp, seed)
        os.replace(tmp, d)
    return d


def quantile_summary(values: list[float]) -> str:
    return (
        f"median={statistics.median(values):.4f} max={max(values):.4f} "
        f"min={min(values):.4f} n={len(values)}"
    )


@dataclass
class Measured:
    job_s: float
    result: object  # workloads.PassResult
    self_s: float
    layers: dict | None  # per-layer metrics, traced passes only


class Run:
    """One measured run: set-up repetitions, the checked pass, the window."""

    def __init__(self, workload, cache_dir: str, traced: bool):
        self.wl = workload
        self.cache_dir = cache_dir
        self.traced = traced
        self.work = os.path.join(STATE_DIR, "work")
        self.spark = None
        self.state = None
        self.expected = dict(np.load(os.path.join(cache_dir, "oracle.npz")))
        self.verified: dict[str, tuple[int, int]] = {}
        self.warm_job_s = 0.0  # the last set-up's warm-up pass, untraced
        self.mismatches = 0
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def one_pass(self, traced: bool, collect: bool = False) -> Measured:
        from lkbench.trace import Tracer
        from lkbench.workloads import Pass

        tracer = Tracer(self.spark.sparkContext, traced)
        p = Pass(tracer, collect)
        t = time.perf_counter()
        self.wl.run_pass(self.spark, self.state, p, self.work)
        job_s = time.perf_counter() - t - p.result.collect_s
        layers = tracer.layer_metrics() if traced else None
        return Measured(job_s, p.result, tracer.self_seconds(), layers)

    def setup(self) -> list[float]:
        """Set up SETUP_REPS times, each a session start, an input load
        and a warm-up pass. The first launches the JVM and its cold pass
        is checked against the oracles; later ones open a new SparkSession
        on the running context, as a long-lived server does per user, and
        reload the input. The last session is kept."""
        times = []
        for rep in range(SETUP_REPS):
            if self.state is not None:
                for df in self.state["persisted"]:
                    df.unpersist()
            t = time.perf_counter()
            self.spark = self.spark.newSession() if self.spark else start_session(self.traced)
            self.state = self.wl.load(self.spark, self.cache_dir)
            warm = self.one_pass(False, collect=rep == 0)
            times.append(time.perf_counter() - t - warm.result.collect_s)
            self.warm_job_s = warm.job_s
            if rep == 0:
                self.check_against_oracle(warm.result)
        return times

    def check_against_oracle(self, res) -> None:
        bad = {k: n for k, n in self.wl.verify(res, self.expected).items() if n}
        self.mismatches = sum(bad.values())
        self.attempted += res.calls
        self.failed += len(bad)
        self.verified = res.checksums
        path = os.path.join(self.cache_dir, "checksums.json")
        if bad:
            self.notes.append(f"rows differing from the oracle: {bad}")
        elif os.path.exists(path):
            with open(path) as f:
                earlier = {k: tuple(v) for k, v in json.load(f).items()}
            if earlier != self.verified:
                self.notes.append("checksums differ from an earlier run on this seed")
                self.failed += 1
        else:
            with open(path, "w") as f:
                json.dump(self.verified, f)

    def measure(self, seconds: float) -> list[Measured]:
        """Passes in the warm session until the window closes, and at
        least MIN_PASSES. A traced run alternates untraced and traced
        passes, so their difference is the tracing overhead."""
        passes: list[Measured] = []
        deadline = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            try:
                m = self.one_pass(self.traced and len(passes) % 2 == 1)
            except Exception:  # the run reports the failure instead of dying
                traceback.print_exc()
                self.attempted += 1
                self.failed += 1
                self.notes.append(f"pass {len(passes)} raised")
                break
            self.attempted += m.result.calls
            bad = [k for k, v in m.result.checksums.items() if self.verified.get(k) != v]
            if bad:
                self.failed += len(bad)
                self.notes.append(f"pass {len(passes)}: checksum differs for {', '.join(bad)}")
            passes.append(m)
        return passes

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

    def drift(self, passes: list[Measured]) -> float:
        """Last timed pass over the warm-up pass of the same session."""
        return passes[-1].job_s / self.warm_job_s


def end_to_end(run: Run, setup: list[float], passes: list[Measured], rss: float):
    jobs = [m.job_s for m in passes]
    units, unit_name = run.wl.input_units(run.state)
    job = statistics.median(jobs)
    rows = [
        ("setup_s", setup, "s"),
        ("job_s", jobs, "s"),
        ("input_per_s", [units / j for j in jobs], "1/s"),
    ]
    lines = [f"{n:<14} {quantile_summary(v)} {u}" for n, v, u in rows]
    lines.append("job_s passes   " + " ".join(f"{j:.4f}" for j in jobs))
    lines.append(f"peak_rss_mb    {rss:.4f} MB")
    lines.append(f"{unit_name}_per_s = input_per_s ({units} {unit_name} per pass)")
    if passes[0].result.ckpt is not None:
        lines.append(f"resume_s       {quantile_summary([m.result.resume_s for m in passes])} s")
    lines.append(f"setup_cold_s   {setup[0]:.4f} s (JVM launch, load, cold pass)")
    lines.append(
        f"job_s drift    warm-up={run.warm_job_s:.4f} last={jobs[-1]:.4f} "
        f"ratio={run.drift(passes):.4f}"
    )
    lines.append(
        f"ops_total={run.attempted} ops_failed={run.failed} "
        f"fail_ratio={run.failed / max(run.attempted, 1):.4f} mismatches={run.mismatches}"
    )
    metrics = {
        "setup_s": (statistics.median(setup), "s"),
        "job_s": (job, "s"),
        "input_per_s": (units / job, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    return lines, metrics


def per_layer(run: Run, measured: list[Measured]):
    from lkbench.trace import LAYERS, STAGE_COUNTERS

    passes = [m for m in measured if m.layers is not None]
    untraced = [m for m in measured if m.layers is None]

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    med = statistics.median
    metrics: dict[str, tuple[float, str]] = {}
    units = {"busy_s": "s", "self_s": "s", "task_cpu_s": "s", "gc_s": "s"}
    for layer in LAYERS:
        per_pass = [m.layers.get(layer, {}) for m in passes]
        for name in ("busy_s", "self_s", *STAGE_COUNTERS, "persisted_rdds_after"):
            unit = units.get(name, "MB" if name.endswith("_mb") else "count")
            metrics[f"{layer}.{name}"] = (med([lm.get(name, 0.0) for lm in per_pass]), unit)
        busy = metrics[f"{layer}.busy_s"][0]
        cpu = metrics[f"{layer}.task_cpu_s"][0]
        metrics[f"{layer}.core_util"] = (cpu / (busy * cores) if busy else 0.0, "ratio")

    derives = "derive" in run.wl.layers
    edges_out = sum(n for k, (n, _) in run.verified.items() if k.endswith("edges"))
    metrics["derive.files_in"] = (run.state["n_files"] if derives else 0, "count")
    metrics["derive.edges_out"] = (edges_out if derives else 0, "count")

    cms = [m.result.ckpt for m in passes if m.result.ckpt is not None]
    ck = "plans.checkpoint"
    for name, unit, value in (
        ("saves", "count", lambda c: c.saves),
        ("save_s", "s", lambda c: c.save_s),
        ("load_s", "s", lambda c: c.load_s),
        ("bytes_written_mb", "MB", lambda c: c.bytes_written / 2**20),
        ("hit_ratio", "ratio", lambda c: c.hits / c.loads if c.loads else 0.0),
    ):
        metrics[f"{ck}.{name}"] = (med([value(c) for c in cms]) if cms else 0.0, unit)
    metrics["resume_s"] = (med([m.result.resume_s for m in passes]), "s")

    job_traced = med([m.job_s for m in passes])
    metrics["trace.job_s"] = (job_traced, "s")
    metrics["trace.overhead_s"] = (job_traced - med([m.job_s for m in untraced]), "s")
    metrics["trace.self_coverage"] = (med([m.self_s / m.job_s for m in passes]), "ratio")
    metrics["session.job_s_drift"] = (run.drift(measured), "ratio")
    metrics["session.persisted_rdds_end"] = (
        len(run.spark.sparkContext._jsc.getPersistentRDDs()),
        "count",
    )
    lines = [f"{k:<44} {v:.4f} {u}" for k, (v, u) in metrics.items()]
    return lines, metrics


def run_all(names: list[str], args) -> int:
    """Every workload in turn, each in its own process; the last line
    merges their results, metric names prefixed with the workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE,
            text=True,
        ).stdout.strip().splitlines()
        print("\n".join(out[:-1]))
        try:
            result = json.loads(out[-1])
        except (IndexError, json.JSONDecodeError):
            result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        merged["correct"] &= result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pin_environment()
    try:
        import lynxkite_spark  # noqa: F401
        from lkbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS and args.workload != "all":
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(sorted(WORKLOADS), args)
    wl = WORKLOADS[args.workload]
    cache_dir = prepare(wl, args.seed)
    run = Run(wl, cache_dir, traced=bool(args.trace))
    try:
        setup = run.setup()
        passes = run.measure(args.seconds) if not run.mismatches else []
        rss = run.peak_rss_mb()
        if passes:
            if args.trace:
                lines, metrics = per_layer(run, passes)
            else:
                lines, metrics = end_to_end(run, setup, passes, rss)
        else:
            lines, metrics = [], {}
    finally:
        stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)

    print(f"workload={wl.name} seed={args.seed} cores={os.environ['SPARK_GRAFT_CPUS']} "
          f"driver_memory={os.environ['SPARK_DRIVER_MEMORY']} trace={args.trace}")
    for line in lines + [f"NOTE {n}" for n in run.notes]:
        print(line)
    correct = not run.mismatches and not run.failed and bool(passes)
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
