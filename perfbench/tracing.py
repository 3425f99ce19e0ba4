"""The traced run: the ER pipeline composed from its layer modules' public
functions, with a span around each layer call and the span's Spark jobs
tagged by ``setJobGroup``; engine counters are folded per span from
Spark's event log.

The composition mirrors ``plans.pipeline.run_er_pipeline`` with its
default plan (fused pairs, compact scored layout). Each stage's output is
persisted, run to the noop sink inside the layer's span, then written
through ``Catalog.write`` from the cache inside a ``catalog.write`` span,
so layer compute and checkpoint I/O are timed apart. The ``scored_pairs``
stage is additionally split by cumulative noop-sink runs (pairs, + feature
joins, + set features, + compact filter), each run ``CUMULATIVE_RUNS``
times interleaved: a layer's time is the increment of its run's median
over the previous one, and its engine counters are totals over its runs.
The caller checks that the
traced cluster table has the untraced run's fingerprint, so a change to
``run_er_pipeline`` that this composition does not follow shows up as a
failed run rather than as a trace of a different plan."""

from __future__ import annotations

import glob
import inspect
import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pilsner_spark.operators.blocking import (
    candidate_pairs,
    minhash_blocks,
    salt_oversized_blocks,
    snm_blocks,
    token_blocks,
    with_turn_key,
)
from pilsner_spark.operators.clustering import cluster_turns
from pilsner_spark.operators.mentions import extract_mentions_df, normalized_text_df, turn_entities_df
from pilsner_spark.operators.scoring import (
    jw_scores_for_undecided,
    score_pairs_base,
    split_match_edges,
    star_match_edges,
    turn_features,
)
from pilsner_spark.plans.pipeline import run_er_pipeline
from pilsner_spark.sources.catalog import Catalog
from pilsner_spark.sources.synth import pipeline_input

# spans whose Spark jobs get engine counters from the event log
ENGINE_SPANS = (
    "blocking.construct",
    "blocking.salt",
    "blocking.pairgen",
    "scoring.feature_join",
    "scoring.set_features",
    "scoring.compact",
    "scoring.jw",
    "scoring.edges",
    "clustering.cc",
)
ENGINE_COUNTERS = ("jobs", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "task_skew")
# runs of each cumulative scored-stage plan; their median is the layer time
CUMULATIVE_RUNS = 3
UNTAGGED = "perfbench.untagged"


class Tracer:
    """In-memory spans (name, start, end, parent); each span tags the Spark
    jobs started inside it with its name as the job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        sc.setJobGroup(UNTAGGED, UNTAGGED)

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self._stack[-1]["name"] if self._stack else UNTAGGED
            self.sc.setJobGroup(outer, outer)

    def self_times(self) -> Dict[str, List[float]]:
        """Per span name, the self time of each span of that name: its
        duration minus the part its child spans cover."""
        child_s: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: Dict[str, List[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child_s.get(s["id"], 0.0))
        return out


def pipeline_defaults() -> Dict[str, object]:
    return {
        k: p.default
        for k, p in inspect.signature(run_er_pipeline).parameters.items()
        if p.default is not inspect.Parameter.empty
    }


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_pipeline(spark, workdir: str, transcripts: DataFrame, model, kwargs: dict, tracer: Tracer) -> dict:
    """Run the pipeline layer by layer under ``tracer``; returns the
    cluster table and the layer counts."""
    p = {**pipeline_defaults(), **kwargs}
    if not (p["fuse_pairs"] and p["compact_scored"]):
        raise ValueError("the traced composition follows the default plan only (fused pairs, compact scored)")
    catalog = Catalog(spark, workdir)
    os.makedirs(workdir, exist_ok=True)
    counts: Dict[str, float] = {}

    def materialize(table: str, df: DataFrame, layer: str) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        with tracer.span(layer):
            _noop(df)
        with tracer.span("catalog.write"):
            lineage = catalog.write(df, table, {})
        df.unpersist()
        counts[f"rows.{table}"] = lineage["rows"]
        with tracer.span("catalog.read"):
            return catalog.read(table)

    with tracer.span("trace"):
        turns = materialize(
            "turns_normalized",
            with_turn_key(normalized_text_df(pipeline_input(transcripts), model)),
            "mentions.normalize",
        )
        mentions = materialize("mentions", extract_mentions_df(transcripts, model), "mentions.extract")
        mention_entities = with_turn_key(turn_entities_df(mentions))

        raw = token_blocks(turns, max_df=p["max_token_df"])
        if p["use_minhash_blocks"]:
            raw = raw.unionByName(
                minhash_blocks(turns, num_hashes=p["minhash_num_hashes"], band_size=p["minhash_band_size"])
            )
        if p["snm_window"] > 1:
            raw = raw.unionByName(snm_blocks(turns, window_size=p["snm_window"]))
        raw_blocks = materialize("blocks_raw", raw, "blocking.construct")

        salted, oversized = salt_oversized_blocks(raw_blocks, p["max_block_size"], p["salt_buckets"])
        with tracer.span("blocking.salt"):
            counts["salted_keys"] = oversized.count()
        blocks = materialize("blocks", salted, "blocking.salt")

        n_turns = counts["rows.turns_normalized"]
        n_blocks = counts["rows.blocks"]
        # the broadcast gates of run_er_pipeline (96 B per built block row)
        bcast_feats = 0 < n_turns <= p["broadcast_row_limit"]
        bcast_blocks = 0 < n_blocks * 96 <= p["broadcast_block_bytes"]
        pairs = candidate_pairs(
            blocks,
            broadcast_blocks=bcast_blocks,
            dedupe=False,
            spread_to=max(spark.sparkContext.defaultParallelism, n_blocks // 100_000),
        )
        features = turn_features(turns, mention_entities)

        fa = features.select(
            F.col("turn_key").alias("key_a"),
            F.col("htokens").alias("htokens_a"),
            F.col("mention_entities").alias("entities_a"),
        )
        fb = features.select(
            F.col("turn_key").alias("key_b"),
            F.col("htokens").alias("htokens_b"),
            F.col("mention_entities").alias("entities_b"),
        )
        if bcast_feats:
            fa, fb = F.broadcast(fa), F.broadcast(fb)
        base = score_pairs_base(pairs, features, p["jaccard_threshold"], broadcast_features=bcast_feats)
        live = F.col("shared_entity") | F.col("undecided")
        # cumulative noop-sink runs over the scored stage's plan, interleaved
        cumulative = (
            ("blocking.pairgen", pairs),
            ("scoring.feature_join", pairs.join(fa, "key_a").join(fb, "key_b")),
            ("scoring.set_features", base),
            ("scoring.compact", base.filter(live)),
        )
        for _ in range(CUMULATIVE_RUNS):
            for layer, df in cumulative:
                with tracer.span(layer):
                    _noop(df)
        obs = Observation("perfbench_scored")
        compact = base.observe(
            obs,
            F.count(F.lit(1)).alias("pairs_full"),
            F.sum(F.col("undecided").cast("long")).alias("undecided_rows"),
            F.sum(F.col("shared_entity").cast("long")).alias("shared_rows"),
        ).filter(live)
        scored_base = materialize("scored_pairs", compact, "scoring.materialize")
        for k in ("pairs_full", "undecided_rows", "shared_rows"):
            counts[k] = int(obs.get[k] or 0)

        jw_slice = materialize(
            "jw_scores",
            jw_scores_for_undecided(scored_base, features, broadcast_features=bcast_feats),
            "scoring.jw",
        )
        use_star = counts["shared_rows"] > n_blocks
        counts["star_edges"] = int(use_star)
        if use_star:
            edges = star_match_edges(
                blocks, mention_entities, jw_slice, p["jw_threshold"], p["jaccard_threshold"]
            )
        else:
            edges = split_match_edges(scored_base, jw_slice, p["jw_threshold"], p["jaccard_threshold"])
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        with tracer.span("scoring.edges"):
            counts["edge_rows"] = edges.count()
        cc: Dict[str, object] = {}
        with tracer.span("clustering.cc"):
            clustered = cluster_turns(turns, edges, stats=cc)
        clusters = materialize("entity_clusters", clustered, "clustering.cc")
        edges.unpersist()
    counts["cc_iterations"] = int(cc["iterations"])
    return {"clusters": clusters, "pairs": pairs, "counts": counts, "converged": bool(cc["converged"])}


def directory_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def event_log_counters(log_dir: str) -> Dict[str, Dict[str, float]]:
    """Fold a finished (uncompressed, single-file) event log into engine
    counters per job group: job count, executor CPU and GC seconds,
    shuffle bytes written, bytes spilled to disk, and the task-time skew
    (max / median task duration) of the group's busiest stage."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: Dict[int, str] = {}
    jobs: Dict[str, int] = {}
    tasks: Dict[int, List[dict]] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNTAGGED
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    out: Dict[str, Dict[str, float]] = {g: {"jobs": n, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0} for g, n in jobs.items()}
    busiest: Dict[str, tuple] = {}
    for sid, evs in tasks.items():
        group = stage_group.get(sid, UNTAGGED)
        acc = out.setdefault(group, {"jobs": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0})
        durations = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            info = ev.get("Task Info") or {}
            durations.append(max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)))
        total = sum(durations)
        if durations and total > busiest.get(group, (-1, 1.0))[0]:
            median = statistics.median(durations)
            busiest[group] = (total, max(durations) / median if median > 0 else 1.0)
    for group, acc in out.items():
        acc["task_skew"] = busiest.get(group, (0, 1.0))[1]
    return out


def layer_metrics(
    tracer: Tracer,
    traced: dict,
    engine: Dict[str, Dict[str, float]],
    distinct_pairs: int,
    workdir_bytes: int,
) -> Dict[str, float]:
    """The per-layer metrics of the traced composition."""
    runs = tracer.self_times()
    t = {name: sum(v) for name, v in runs.items()}
    med = {name: statistics.median(v) for name, v in runs.items()}
    c = traced["counts"]
    root = next(s for s in tracer.spans if s["name"] == "trace")
    wall = root["end"] - root["start"]
    pairs = c["pairs_full"] or 1
    m: Dict[str, float] = {
        "mentions.normalize_s": t["mentions.normalize"],
        "mentions.extract_s": t["mentions.extract"],
        "mentions.rows": c["rows.mentions"],
        "blocking.construct_s": t["blocking.construct"],
        "blocking.salt_s": t["blocking.salt"],
        "blocking.block_rows": c["rows.blocks"],
        "blocking.salted_keys": c["salted_keys"],
        "blocking.pairgen_s": med["blocking.pairgen"],
        "blocking.pair_rows": c["pairs_full"],
        "blocking.dup_factor": c["pairs_full"] / distinct_pairs if distinct_pairs else 1.0,
        # the cumulative runs' medians, as increments over the previous plan;
        # a step cheaper than the runs' spread can come out below zero
        "scoring.feature_join_s": med["scoring.feature_join"] - med["blocking.pairgen"],
        "scoring.set_features_s": med["scoring.set_features"] - med["scoring.feature_join"],
        "scoring.compact_s": med["scoring.compact"] - med["scoring.set_features"],
        "scoring.materialize_s": t["scoring.materialize"],
        "scoring.live_frac": (c["shared_rows"] + c["undecided_rows"]) / pairs,
        "scoring.jw_s": t["scoring.jw"],
        "scoring.undecided_rows": c["undecided_rows"],
        "scoring.edges_s": t["scoring.edges"],
        "clustering.cc_s": t["clustering.cc"],
        "clustering.iterations": c["cc_iterations"],
        "clustering.edge_rows": c["edge_rows"],
        "catalog.write_s": t["catalog.write"],
        "catalog.bytes_written": workdir_bytes,
        "catalog.read_s": t["catalog.read"],
        "trace.wall_s": wall,
        # traced wall not covered by any layer span: driver work between spans
        "trace.gap_s": t["trace"],
    }
    for span in ENGINE_SPANS:
        e = engine.get(span, {})
        for k in ENGINE_COUNTERS:
            m[f"{span}.{k}"] = e.get(k, 0)
    return m
