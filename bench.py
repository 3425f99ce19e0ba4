"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline set: the flagship mention scan, the dedup family, ANN, text
analytics, the classic relational queries, and the full ER pipeline
(turn-pairs scored/sec — the BASELINE.json throughput metric). Each query
is forced through the noop sink so the whole plan executes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q4_mention_scan",
    "b4_dense_internal_ids",
    "b12_keyword_collisions",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_minhash_groups",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "blocking_sorted_neighborhood",
    "ann_brute_topk",
    "ann_ivf_topk",
    "ann_ivf_pq_topk",
    "text_stats",
    "text_quality_langid",
    "text_tfidf",
    "decontaminate_ngrams",
    "quality_repetition",
    "substring_dedup",
    "dedup_incremental",
    "dedup_semantic",
    "decontaminate_embedding",
    "c4_line_filter",
    "line_dedup_crossdoc",
    "quality_classifier",
    "er_threshold_sweep",
    "quality_gopher_rules",
    "importance_weights",
    "quality_bigram_lm",
    "pack_token_budget",
    "mix_domains",
    "bpe_merges",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_top_orders",
    "events_sessionization",
    "events_tumbling_window",
]


def read_proc_stat():
    """Aggregate cpu jiffies from /proc/stat: (user, nice, system, idle,
    iowait, irq, softirq, steal) — the host-noise telemetry base."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return [int(x) for x in parts[1:9]]


def telemetry_delta(before, after):
    """steal/sys/iowait as % of total jiffies over a window — makes
    degraded-host windows machine-detectable instead of argued post-hoc
    (VERDICT r3 item 1/2)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "steal_pct": round(100.0 * d[7] / total, 2),
        "sys_pct": round(100.0 * d[2] / total, 2),
        "iowait_pct": round(100.0 * d[4] / total, 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    import __spark_entry__ as entrymod
    from pilsner_spark.plans.pipeline import build_corpus, evaluate_f1, run_er_pipeline
    from pilsner_spark.session import get_spark

    spark = get_spark(app_name="pilsner-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Session warm-up (standard steady-state practice): spawn one Python
    # UDF worker per core and compile one codegen stage, so the first
    # timed query is not charged the one-time fork/import/JIT cost
    # (measured ~7s on the first pandas-UDF query at 32 cores).
    from pyspark.sql import functions as F

    from pilsner_spark.functions.similarity import jaro_winkler_udf

    warm = spark.range(cpus * 4).repartition(cpus)
    warm.select(jaro_winkler_udf(F.lit("w"), F.lit("w"))).write.format("noop").mode("overwrite").save()

    host_before = read_proc_stat()
    qs = entrymod.queries()
    # TWO timed runs per query, min reported (VERDICT r3 item 2): this
    # host's shared-host contention produced 2.6-4x single-shot swings on
    # Python-worker-heavy queries between rounds — min-of-2 makes the
    # per-query walls cross-round comparable. Both walls stay visible in
    # query_walls for noise auditing.
    timings: dict[str, float] = {}
    query_walls: dict[str, list] = {}
    for name in HEADLINE:
        walls = []
        for _rep in range(2):
            start = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - start, 3))
        timings[name] = min(walls)
        query_walls[name] = walls

    # ANN index quality (VERDICT r1 item 9): recall@5 vs brute force at
    # n_probe=4/16 cells, for the oracle-checkable sample centroids, the
    # trained k-means index, and the composed IVF-PQ scale path (charges
    # probe pruning + codeword quantization together)
    from pilsner_spark.operators.ann import (
        ivf_pq_recall_at_k,
        kmeans_centroids,
        kmeans_pq_codebooks,
        recall_at_k,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    annq = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    km = kmeans_centroids(emb, n_cells=16, iters=3)
    ann_recall = {
        "sample": round(recall_at_k(emb, annq, k=5, n_cells=16, n_probe=4), 3),
        "kmeans": round(recall_at_k(emb, annq, k=5, n_cells=16, n_probe=4, centroids=km), 3),
        # realistic PQ setting (16 subquantizers x 256 codewords = 16 bytes
        # per vector, 16x compression over 64 float dims); the tiny
        # m=4/n_codes=16 setting in the CORRECTNESS query exists for oracle
        # cost, not quality — synthetic near-random embeddings quantize
        # poorly at that size (measured 0.28 recall vs 0.78 here)
        "ivf_pq": round(
            ivf_pq_recall_at_k(emb, annq, k=5, m=16, n_codes=256, n_cells=16, n_probe=4), 3
        ),
        # k-means-trained subquantizer codebooks (the Jégou training step;
        # the gap to `ivf_pq` is what seed-vs-trained codewords cost)
        "ivf_pq_trained": round(
            ivf_pq_recall_at_k(
                emb,
                annq,
                k=5,
                m=16,
                n_codes=256,
                n_cells=16,
                n_probe=4,
                codebooks=kmeans_pq_codebooks(emb, m=16, n_codes=256, iters=3),
            ),
            3,
        ),
        # exact re-ranking of the top k x 4 PQ candidates (Faiss IVFPQR
        # shape): the residual miss here is probe pruning alone — the gap
        # to `ivf_pq` is what quantization was costing
        "ivf_pq_refined": round(
            ivf_pq_recall_at_k(
                emb, annq, k=5, m=16, n_codes=256, n_cells=16, n_probe=4, refine_factor=4
            ),
            3,
        ),
    }

    # ER pipeline throughput: synthetic dictionary corpus sized by sf
    workdir = f"/tmp/pilsner_bench_work_{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    n_convs = max(100, int(sf * 20_000))
    transcripts, model = build_corpus(spark, n_convs, seed=42, dictionary="synthetic", n_entities=max(200, n_convs))
    transcripts = transcripts.localCheckpoint()
    # TWO timed runs, min reported as the headline (both walls visible in
    # er_walls): this sandbox's shared-host contention produced 2.6x
    # wall-clock swings between back-to-back IDENTICAL runs (see
    # BENCH/BASELINE.md measurement history) — a single sample of the
    # dominant query is noise, the min of two is the steady-state estimate.
    er_walls = []
    er_telemetry = []
    result = None
    for rep in range(2):
        shutil.rmtree(workdir, ignore_errors=True)
        stat0 = read_proc_stat()
        start = time.time()
        result = run_er_pipeline(spark, workdir, transcripts, model=model)
        er_walls.append(round(time.time() - start, 3))
        er_telemetry.append(telemetry_delta(stat0, read_proc_stat()))
    er_wall = min(er_walls)
    # pair count from stage lineage/Observation — the scored checkpoint
    # holds only the live rows, and counting the pairs here would charge the
    # timed window a pass the pipeline CLI does not charge (plans/pipeline.py
    # main does the same)
    n_pairs = int(result["metrics"]["scored_pairs"]["pairs_full"])
    f1 = evaluate_f1(result["pairs_all"], result["clusters"], transcripts)
    timings["er_pipeline"] = er_wall
    shutil.rmtree(workdir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    # The driver captures only a ~2000-char stdout TAIL; round 4's single
    # JSON line outgrew it and the round lost all parsed bench evidence
    # (BENCH_r04.json parsed: null). Contract now: stdout gets ONE COMPACT
    # line (queries rounded to 2 decimals, no per-rep walls / recall /
    # telemetry), and the full report goes to BENCH/FULL_latest.json.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "FULL_latest.json")
    full_report = {
        "metric": "headline_total_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "er_turns": int(transcripts.count()),
        "er_pairs_scored": int(n_pairs),
        "er_pairs_per_second": round(n_pairs / er_wall, 1),
        "er_walls": er_walls,
        "er_f1": f1["f1"],
        "ann_recall_at5": ann_recall,
        "query_walls": query_walls,
        "host": telemetry_delta(host_before, read_proc_stat()),
        "er_host": er_telemetry,
    }
    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    with open(full_path, "w") as f:
        json.dump(full_report, f, indent=1)
    print(build_compact_line(full_report))
    spark.stop()


def build_compact_line(full_report: dict) -> str:
    """The ONE stdout JSON line, hard-bounded at 1500 chars (the driver
    keeps only a ~2000-char stdout tail; exceeding it cost round 4 all its
    parsed bench evidence). Detail beyond the bound lives in the full
    report file. Unit-tested in tests/test_operators.py."""
    compact = {
        "metric": full_report["metric"],
        "value": full_report["value"],
        "unit": full_report["unit"],
        "queries": {k: round(v, 2) for k, v in full_report["queries"].items()},
        "sf": full_report["sf"],
        "cpus": full_report["cpus"],
        "er_pairs_scored": full_report["er_pairs_scored"],
        "er_pairs_per_second": full_report["er_pairs_per_second"],
        "er_f1": full_report["er_f1"],
        "full_report": "BENCH/FULL_latest.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1500:  # never regress the tail window again
        compact["queries"] = {"n_queries": len(full_report["queries"])}
        compact["queries_dropped_for_size"] = True
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
