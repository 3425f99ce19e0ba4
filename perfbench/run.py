"""ER-pipeline benchmark: ``plans.pipeline.run_er_pipeline`` (normalize ->
mentions -> block -> score -> cluster) on a seeded corpus, one pipeline
call at a time from one process on ``local[4]``.

    python3 perfbench/run.py --workload pair_heavy --seed 1 --seconds 3 --trace 0

``--trace 0`` runs what the pipeline CLI runs: session start, corpus and
model set-up, worker warm-up, then one cold pipeline call on a fresh
workdir (the first call of the process). It then calls the pipeline again
on that workdir with the identical input (the resume path) until
``--seconds`` of resume time have been measured, verifies every call
outside the timed windows, and reports the end-to-end metrics.

``--trace 1`` runs one untraced warm-up call and one untraced reference
call, then the pipeline composed layer by layer under spans (tracing.py)
with Spark's event log on, and reports the per-layer metrics.

The last line of standard output is the result object; the line before it
is a report with the run's detail, its verification failures and the host
noise. Everything the run writes goes under ``.perfbench/`` in the
checkout; the run's own directory is removed at exit."""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from typing import Dict, List

import host
from workloads import WORKLOADS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")
CPUS = 4
# The program's default heap is 8g, pre-touched at JVM start. Every workload
# here fits in 2g, and a benchmark run should leave most of a small host's
# memory free, so runs use a 2g pre-touched heap.
DRIVER_MEMORY = "2g"
F1_FLOOR = 0.99
STAGES = 7  # checkpointed stages of run_er_pipeline's default plan

UNITS = {
    "wall_s": "s",
    "distinct_pairs_per_s": "1/s",
    "resume_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pairwise_f1": "ratio",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_frac", "_factor", "task_skew")):
        return "ratio"
    return "count"


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "pilsner_spark", "plans", "pipeline.py"))


def source_digest() -> str:
    """Identity of the program under test: a hash over its source files."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pilsner_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def confine_scratch(run_dir: str) -> None:
    """Point every temp and spill location of Spark, the JVM and Python at
    the run directory, so the run writes nothing outside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(extra_conf: Dict[str, str]):
    from pilsner_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", cpus=CPUS, extra_conf={"spark.ui.showConsoleProgress": "false", **extra_conf}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Terminate any process the run started that is still alive and wait
    until each has ended."""
    deadline = time.time() + timeout_s
    while True:
        left = [p for p in host.descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def build_input(spark, wl: Workload, seed: int):
    """Corpus plus compiled model, materialized once (the pipeline CLI's
    set-up)."""
    from pilsner_spark.plans.pipeline import build_corpus

    transcripts, model = build_corpus(spark, wl.n_convs, seed, wl.dictionary, wl.entities, hard_every=wl.hard_every)
    transcripts = transcripts.localCheckpoint()
    transcripts.count()
    return transcripts, model


def warm_workers(spark) -> None:
    """One Python UDF worker per core and one codegen pass, as the pipeline
    CLI does before its timed window."""
    from pyspark.sql import functions as F

    from pilsner_spark.functions.similarity import jaro_winkler_udf

    par = spark.sparkContext.defaultParallelism
    warm = spark.range(par * 4).repartition(par)
    warm.select(jaro_winkler_udf(F.lit("warm"), F.lit("warm"))).write.format("noop").mode("overwrite").save()


def set_up(wl: Workload, seed: int, extra_conf: Dict[str, str]):
    """Session start, one corpus build and worker warm-up: the set-up the
    pipeline CLI pays before its timed call. Returns the session, the input
    and the set-up timings."""
    t = time.perf_counter()
    spark = start_session(extra_conf)
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    transcripts, model = build_input(spark, wl, seed)
    corpus_s = time.perf_counter() - t
    t = time.perf_counter()
    warm_workers(spark)
    warm_s = time.perf_counter() - t
    timings = {
        "session.start_s": start_s,
        "synth.corpus_s": corpus_s,
        "session.warmup_s": warm_s,
        "setup_s": start_s + corpus_s + warm_s,
    }
    return spark, transcripts, model, timings


def cluster_fingerprint(clusters) -> str:
    """Order-insensitive fingerprint of a cluster table: row count and the
    sum of md5_long over turn_key and cluster_id."""
    from pyspark.sql import functions as F

    from pilsner_spark.functions.text import md5_long

    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(md5_long(F.concat_ws("\u0001", "turn_key", "cluster_id")).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def stage_flags(metrics: dict) -> Dict[str, bool]:
    return {k: bool(v["resumed"]) for k, v in metrics.items() if isinstance(v, dict) and "resumed" in v}


def stage_walls(metrics: dict) -> Dict[str, float]:
    """Per checkpointed stage: its wall, and the part of it spent outside
    the catalog write job (driver-side work and eager jobs)."""
    out: Dict[str, float] = {}
    for k, v in metrics.items():
        if isinstance(v, dict) and "stage_wall_seconds" in v:
            out[f"stage.{k}.wall_s"] = v["stage_wall_seconds"]
            out[f"stage.{k}.driver_s"] = v["stage_wall_seconds"] - v["wall_seconds"]
    return out


class Verifier:
    """Checks every pipeline call outside the timed windows and collects the
    failures. Cluster fingerprints must agree across all calls of a run and
    with earlier runs of the same program source on the same workload and
    seed (kept in ``.perfbench/fingerprints.json``)."""

    def __init__(self, wl: Workload, seed: int, transcripts):
        self.wl = wl
        self.transcripts = transcripts
        self.failures: List[str] = []
        self.f1: List[float] = []
        self.hard_f1: List[float] = []
        # the workload's parameters are part of the key: they define the input
        shape = hashlib.sha256(repr(wl).encode()).hexdigest()[:8]
        self.key = f"{source_digest()}/{wl.name}-{shape}/{seed}"
        self.path = os.path.join(STATE_DIR, "fingerprints.json")
        self.expected = self._known().get(self.key)

    def _known(self) -> Dict[str, str]:
        try:
            with open(self.path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def fingerprint(self, clusters, what: str) -> None:
        fp = cluster_fingerprint(clusters)
        if self.expected is None:
            self.expected = fp
            known = self._known()
            known[self.key] = fp
            tmp = f"{self.path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(known, f)
            os.replace(tmp, self.path)
        elif fp != self.expected:
            self.failures.append(f"{what}: cluster fingerprint {fp} != {self.expected}")

    def cold(self, result: dict, what: str) -> None:
        from pilsner_spark.plans.pipeline import evaluate_f1

        flags = stage_flags(result["metrics"])
        if len(flags) != STAGES or any(flags.values()):
            self.failures.append(f"{what}: cold run resumed stages {flags}")
        conv = result["metrics"].get("clustering_convergence") or {}
        if conv.get("converged") is not True:
            self.failures.append(f"{what}: clustering did not converge {conv}")
        scores = evaluate_f1(result["pairs_all"], result["clusters"], self.transcripts)
        f1 = scores["f1"] or 0.0
        self.f1.append(f1)
        if f1 < F1_FLOOR:
            self.failures.append(f"{what}: pairwise F1 {f1} < {F1_FLOOR}")
        if self.wl.hard_every:
            hard = (scores.get("hard_slice") or {}).get("f1") or 0.0
            self.hard_f1.append(hard)
            if hard < F1_FLOOR:
                self.failures.append(f"{what}: hard-slice F1 {hard} < {F1_FLOOR}")
        self.fingerprint(result["clusters"], what)

    def resume(self, result: dict, what: str) -> None:
        """Stage flags only: every resume call of a run reads the same
        checkpoints, so the caller fingerprints one of them."""
        flags = stage_flags(result["metrics"])
        if len(flags) != STAGES or not all(flags.values()):
            self.failures.append(f"{what}: resume recomputed stages {flags}")


def distinct_pair_count(result: dict) -> Dict[str, int]:
    """Distinct candidate pairs next to the scored pair rows, counted
    outside the timed window (scored rows include pairs found through more
    than one block key)."""
    distinct = result["pairs_all"].distinct().count()
    rows = int(result["metrics"]["scored_pairs"]["pairs_full"])
    return {"distinct_pairs": distinct, "pair_rows": rows}


class Runner:
    """One benchmark run's pipeline calls on one session and input."""

    def __init__(self, spark, wl: Workload, seed: int, run_dir: str, transcripts, model):
        self.spark = spark
        self.wl = wl
        self.seed = seed
        self.run_dir = run_dir
        self.transcripts = transcripts
        self.model = model
        self.verifier = Verifier(wl, seed, transcripts)

    def workdir(self, tag: str) -> str:
        path = os.path.join(self.run_dir, f"work-{self.wl.name}-s{self.seed}-{tag}")
        if os.path.exists(path):
            raise RuntimeError(f"workdir {path} is not fresh")
        return path

    def call(self, workdir: str):
        """One timed ``run_er_pipeline`` call; returns (result, seconds)."""
        from pilsner_spark.plans.pipeline import run_er_pipeline

        t = time.perf_counter()
        result = run_er_pipeline(self.spark, workdir, self.transcripts, model=self.model, **self.wl.pipeline_kwargs)
        return result, time.perf_counter() - t

    def untraced(self, seconds: float) -> dict:
        """One cold call on a fresh workdir, then resume calls with the
        identical input on that workdir until ``seconds`` of resume time
        have been measured."""
        from pyspark import StorageLevel

        workdir = self.workdir("cold")
        cold, wall = self.call(workdir)
        resumes: List[float] = []
        verify_s = 0.0
        while sum(resumes) < seconds:
            warm, took = self.call(workdir)
            resumes.append(took)
            t = time.perf_counter()
            self.verifier.resume(warm, f"resume {len(resumes)}")
            verify_s += time.perf_counter() - t
        t = time.perf_counter()
        self.verifier.fingerprint(warm["clusters"], f"resume {len(resumes)}")
        # the F1 check and the distinct count both read the full pair set
        cold["pairs_all"] = cold["pairs_all"].persist(StorageLevel.MEMORY_AND_DISK)
        self.verifier.cold(cold, "cold call")
        pairs = distinct_pair_count(cold)
        cold["pairs_all"].unpersist()
        verify_s += time.perf_counter() - t
        metrics = {
            "wall_s": wall,
            "distinct_pairs_per_s": pairs["distinct_pairs"] / wall,
            "resume_s": statistics.median(resumes),
        }
        detail = {
            "resume_s": [round(r, 3) for r in resumes],
            "verify_s": round(verify_s, 3),
            "stages": stage_walls(cold["metrics"]),
            **pairs,
        }
        return {"attempted": 1 + len(resumes), "metrics": metrics, "detail": detail}

    def traced(self) -> dict:
        """Warm-up call, untraced reference call, then the traced
        composition. Returns what the per-layer fold needs once the
        session (and with it the event log) is closed."""
        import tracing

        # warms the JVM so the reference and traced calls compare; unverified
        self.call(self.workdir("warmup"))
        ref, ref_wall = self.call(self.workdir("reference"))
        self.verifier.cold(ref, "reference call")
        pairs = distinct_pair_count(ref)

        tracer = tracing.Tracer(self.spark.sparkContext)
        trace_dir = self.workdir("traced")
        result = tracing.traced_pipeline(
            self.spark, trace_dir, self.transcripts, self.model, self.wl.pipeline_kwargs, tracer
        )
        if not result["converged"]:
            self.verifier.failures.append("traced call: clustering did not converge")
        self.verifier.fingerprint(result["clusters"], "traced call")
        if result["counts"]["pairs_full"] != pairs["pair_rows"]:
            self.verifier.failures.append(
                f"traced call: {result['counts']['pairs_full']} pair rows != untraced {pairs['pair_rows']}"
            )
        return {
            "attempted": 2,
            "tracer": tracer,
            "result": result,
            "ref_wall": ref_wall,
            "stages": stage_walls(ref["metrics"]),
            "pairs": pairs,
            "workdir_bytes": tracing.directory_bytes(trace_dir),
        }


def event_log_conf(event_dir: str) -> Dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        # the defaults write a zstd rolling log; zstandard is not installed
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def main() -> int:
    parser = argparse.ArgumentParser(description="ER-pipeline benchmark")
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not program_present():
        print(f"perfbench: no pilsner_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]

    run_dir = os.path.join(STATE_DIR, f"run-{wl.name}-s{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    confine_scratch(run_dir)
    event_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)

    rss = host.PeakRss().start()
    cpu0 = host.cpu_times()
    began = time.perf_counter()
    clock: Dict[str, float] = {}  # seconds since start at the end of each phase
    spark = None
    try:
        spark, transcripts, model, setup = set_up(wl, args.seed, event_log_conf(event_dir) if args.trace else {})
        clock["set_up"] = time.perf_counter() - began
        spark_version = spark.version
        runner = Runner(spark, wl, args.seed, run_dir, transcripts, model)
        out = runner.traced() if args.trace else runner.untraced(args.seconds)
        clock["calls"] = time.perf_counter() - began
        stop_session(spark)
        spark = None
    finally:
        if spark is not None:
            stop_session(spark)
        reap_descendants()
        rss.stop()
    clock["stopped"] = time.perf_counter() - began

    verifier = runner.verifier
    if args.trace:
        import tracing

        engine = tracing.event_log_counters(event_dir)
        metrics = tracing.layer_metrics(
            out["tracer"], out["result"], engine, out["pairs"]["distinct_pairs"], out["workdir_bytes"]
        )
        metrics.update(out["stages"])
        metrics["trace.overhead_s"] = metrics["trace.wall_s"] - out["ref_wall"]
        metrics.update({k: v for k, v in setup.items() if k != "setup_s"})
        detail = {
            "reference_wall_s": round(out["ref_wall"], 3),
            "edges": "star" if out["result"]["counts"]["star_edges"] else "pairwise",
            **out["pairs"],
        }
    else:
        metrics = {
            **out["metrics"],
            "setup_s": setup["setup_s"],
            "peak_rss_mb": rss.peak_mb,
            "pairwise_f1": min(verifier.f1),
        }
        detail = {**out["detail"], "setup": setup}
    failed = out["attempted"] if verifier.failures else 0
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        **detail,
        "pairwise_f1": verifier.f1,
        # only the hard-slice corpus has one, and failed_frac is 0 whenever
        # the run passes, so neither can be a metric of every run
        "hard_slice_f1": {"value": min(verifier.hard_f1), "unit": "ratio"} if verifier.hard_f1 else None,
        "failed_frac": {"value": failed / out["attempted"], "unit": "ratio"},
        "failures": verifier.failures,
        "clock_s": {k: round(v, 3) for k, v in clock.items()},
        "host": {"cores": os.cpu_count(), "spark_version": spark_version, **host.cpu_shares(cpu0, host.cpu_times())},
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": not verifier.failures,
                "attempted": out["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
