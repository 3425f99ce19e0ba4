"""Physical-plan audit: evidence that the declarative plans compile to the
physical shapes the 100 TB design intends (SURVEY.md §4).

For each audited query it captures `explain("formatted")` and checks
concrete plan properties:

* filter/projection pushdown reaches the parquet scan (PushedFilters /
  ReadSchema narrower than the table),
* dimension joins broadcast (BroadcastHashJoin, no SortMergeJoin for
  small sides),
* relational sections run inside WholeStageCodegen,
* the number of exchanges (shuffles) matches the operator's documented
  shuffle budget.

Writes PLANS.md at the repo root. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    "b3_projection_filter": {
        "want": [
            ("filter pushed to scan", r"PushedFilters: \[.*(IsNotNull|EqualTo|GreaterThan)"),
            ("column pruning (4 cols read)", r"ReadSchema: struct<l_orderkey[^>]*l_extendedprice[^>]*>$|ReadSchema: struct<[^>]{0,200}>"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [("no shuffle at all", r"Exchange")],
    },
    "join_revenue_by_nation": {
        "want": [
            ("nation/region broadcast", r"BroadcastHashJoin"),
            ("partial aggregation before shuffle", r"HashAggregate"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [],
    },
    "agg_pricing_summary": {
        "want": [
            ("partial+final hash aggregate", r"HashAggregate"),
            ("single shuffle on group keys", r"hashpartitioning\(l_returnflag"),
        ],
        "avoid": [],
    },
    "q4_mention_scan": {
        "want": [
            ("Arrow-batched Python kernel (no per-row Python)", r"MapInPandas"),
            ("aggregation after scan is relational", r"HashAggregate"),
        ],
        "avoid": [("no BatchEvalPython (row-at-a-time UDF)", r"BatchEvalPython")],
    },
    "dedup_minhash_pairs": {
        "want": [
            ("one bucketing shuffle", r"hashpartitioning\(band_key"),
            ("in-bucket expansion (generate), not self-join", r"Generate"),
        ],
        "avoid": [("no sort-merge self-join", r"SortMergeJoin")],
    },
    # same shuffle budget as the minhash twin: ONE bucketing shuffle on the
    # chunk key, in-bucket higher-order expansion, Hamming filter in codegen
    "dedup_simhash_pairs": {
        "want": [
            ("one bucketing shuffle", r"hashpartitioning\(chunk_key"),
            ("in-bucket expansion (generate), not self-join", r"Generate"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no sort-merge self-join", r"SortMergeJoin"),
            ("no Python anywhere (pure JVM signature + filter)", r"ArrowEvalPython|BatchEvalPython|MapInPandas"),
        ],
    },
    "blocking_sorted_neighborhood": {
        "want": [
            ("bucket offsets broadcast back over records", r"BroadcastHashJoin"),
            ("rank window partitioned by bucket (two-level rank, not a single-partition window over records)", r"windowspecdefinition\(bk#"),
            ("pair distinct = partial+final hash aggregate", r"HashAggregate"),
        ],
        # the only single-partition window is over the tiny per-bucket count
        # table (<= alphabet^prefix rows) — documented on global_sort_ranks
        "avoid": [("no Python nodes", r"EvalPython")],
    },
    "window_top_orders": {
        "want": [
            ("single window shuffle", r"hashpartitioning\(o_custkey"),
            ("running window (rank) not full sort of table", r"Window|WindowGroupLimit"),
        ],
        "avoid": [],
    },
    # the set-feature scorer alone over a pair table: pure codegen — NO
    # Python node over |pairs|
    "er_scored_base": {
        "want": [
            ("feature joins broadcast", r"BroadcastHashJoin"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("ZERO shuffles", r"^\(\d+\) Exchange"),
            ("NO Python over the pair table (the split's point)", r"ArrowEvalPython|MapInPandas"),
            ("no sort-merge join", r"SortMergeJoin"),
            ("no row-at-a-time Python", r"BatchEvalPython"),
        ],
    },
    # the plan the scored_pairs stage writes: the UNmaterialized block
    # self-join -> set features -> the shared_entity | undecided filter.
    # Budget: exactly one Exchange, the round-robin spread of the tiny block
    # table (MBs); the |pairs|-sized stream goes scan -> broadcast self-join
    # -> broadcast feature joins -> filter without ever shuffling or
    # entering Python.
    "er_scored_fused": {
        "want": [
            ("block self-join + feature joins broadcast", r"BroadcastHashJoin"),
            ("the only exchange is the block-spread repartition", r"Arguments: RoundRobinPartitioning"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("pairs never hash-shuffle", r"Arguments: hashpartitioning"),
            ("NO Python over the pair table", r"ArrowEvalPython|MapInPandas|BatchEvalPython"),
            ("no sort-merge join", r"SortMergeJoin"),
        ],
    },
    # the IVF-PQ SERVING plan (prebuilt index persisted partitioned by
    # cell, vectors=None): query-time work must read only code-width
    # columns — candidate reconstruction happens after the probed-cell
    # join, so nothing full-width is scanned or shuffled. The exchanges
    # present are candidate-sized (probe window + per-candidate regroup),
    # never O(N) full-width.
    "ann_ivf_pq_served": {
        "want": [
            ("probed cells broadcast onto the index scan", r"BroadcastHashJoin"),
            ("index scan reads code-width columns only", r"ReadSchema: struct<vec_id:bigint,m:int"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("full-width corpus vectors never appear at query time", r"(?<!q_)embedding"),
            ("no sort-merge join", r"SortMergeJoin"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # the refined IVF-PQ serving plan (IVFPQR shape): same code-width index
    # scan as ann_ivf_pq_served, plus the exact re-rank against a
    # cell-partitioned full-width refine table — the shortlist broadcast
    # must DYNAMICALLY PRUNE the refine scan's partitions (probed cells
    # only), so full-width reads stay O(shortlist cells), never O(N)
    "ann_ivf_pq_refined_served": {
        "want": [
            ("shortlist/probe broadcast onto partitioned scans", r"BroadcastHashJoin"),
            ("refine + index scans dynamically partition-pruned", r"dynamicpruningexpression"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no sort-merge join", r"SortMergeJoin"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # decontamination: benchmark gram set broadcast onto the corpus grams —
    # corpus text crosses no exchange before the join; the only shuffle is
    # the final per-doc rollup (partial-agg'd), and nothing runs in Python
    "decontaminate_ngrams": {
        "want": [
            ("benchmark grams broadcast", r"BroadcastHashJoin"),
            ("partial aggregation before the doc rollup", r"HashAggregate"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no sort-merge join", r"SortMergeJoin"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # C4 line cleaning is a pure projection: split/filter/join arrays under
    # codegen — NOTHING may shuffle and nothing may enter Python
    "c4_line_filter": {
        "want": [
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no shuffle at all (pure projection)", r"Exchange"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # Gopher rules are a pure projection: token/line higher-order functions
    # under codegen — NOTHING may shuffle and nothing may enter Python
    "quality_gopher_rules": {
        "want": [
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no shuffle at all (pure projection)", r"Exchange"),
            ("no explode (array signals stay in-row)", r"Generate"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # embedding decontamination: the benchmark side broadcast as a
    # nested-loop cosine filter — corpus embeddings cross no exchange
    # before the (tiny, matched-set) witness rollup
    "decontaminate_embedding": {
        "want": [
            ("benchmark embeddings broadcast (nested-loop cosine filter)", r"BroadcastNestedLoopJoin"),
            # struct-max witness forces a sort-based agg; map-side partials
            # still run, and the agg input is only the tiny matched set
            ("witness rollup partial-aggregates map-side", r"partial_max"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no sort-merge join", r"SortMergeJoin"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # DSIR: both bucket-distribution tables broadcast onto the gram stream;
    # the only wide exchange is the final per-doc rollup (partial-agg'd)
    "importance_weights": {
        "want": [
            ("bucket ratio table broadcast", r"BroadcastHashJoin"),
            ("partial aggregation before the doc rollup", r"HashAggregate"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no sort-merge join", r"SortMergeJoin"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # PR-curve threshold sweep: the pair mass collapses into ONE
    # histogram hash agg (map-side partials); the sweep joins the tiny
    # broadcast threshold table — nothing re-scans pairs per threshold
    "er_threshold_sweep": {
        "want": [
            ("histogram + confusion rollup are hash aggs", r"HashAggregate"),
            ("threshold table broadcast", r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # NB quality classifier: bucket log-odds broadcast onto the candidate
    # gram stream (importance_weights machinery; the class prior folds in
    # as a literal at plan time) — the only nested-loop join is the 1-row
    # bucket-TOTALS cross join inside the LLR table; candidate text
    # crosses only the per-doc rollup, nothing in Python
    "quality_classifier": {
        "want": [
            ("bucket log-odds table broadcast", r"BroadcastHashJoin"),
            ("1-row bucket totals broadcast cross-joined", r"BroadcastNestedLoopJoin"),
            ("partial aggregation before the doc rollup", r"HashAggregate"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no sort-merge join", r"SortMergeJoin"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # corpus-level line dedup: line-hash agg with map-side partials (the
    # skew-proof collapse of hot boilerplate lines), everything JVM
    "line_dedup_crossdoc": {
        "want": [
            ("line-hash agg partial-aggregates map-side", r"HashAggregate"),
            ("line explode is a Generate node", r"Generate"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # chunking is a pure projection: sequence/slice/posexplode under
    # codegen — no shuffle, no Python
    "chunk_documents": {
        "want": [
            ("explode is a Generate node", r"Generate"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no shuffle at all (pure projection)", r"Exchange"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # bigram LM scoring: LM count tables join on gram keys (NOT broadcast
    # by hand — they can exceed memory at corpus scale; AQE may still pick
    # broadcast at this size, either join strategy is acceptable), per-doc
    # rollup partial-aggregates, no Python anywhere
    "quality_bigram_lm": {
        "want": [
            ("hash aggregation with partials", r"HashAggregate"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # DSIR top-k selection: two-level rank — bucket offsets broadcast, the
    # only windows are per-bucket (bk) or over the tiny bucket table
    "select_quality_topk": {
        "want": [
            ("bucket offsets broadcast back over records", r"BroadcastHashJoin"),
            ("rank window partitioned by bucket", r"windowspecdefinition\(bk#"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # as-of join via union + per-key window: ONE shuffle (the window
    # sort), no join node of any kind — the whole point vs the naive
    # inequality join's BroadcastNestedLoopJoin
    "events_asof_join": {
        "want": [
            ("per-key window", r"windowspecdefinition\(user_id"),
            ("whole-stage codegen (or AQE runtime-compiled)", r"codegen id|AdaptiveSparkPlan"),
        ],
        "avoid": [
            ("no nested-loop join", r"BroadcastNestedLoopJoin"),
            ("no join node at all (union+window formulation)", r"Join"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # range join as bucket equi-join: a HASH join on (key, bucket), the
    # inequality only as a post-join filter
    "events_range_join": {
        "want": [
            ("hash equi-join on the bucket key", r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"),
            ("interval explode is a Generate", r"Generate"),
        ],
        "avoid": [
            ("no nested-loop join", r"BroadcastNestedLoopJoin"),
            ("no Python nodes", r"EvalPython|MapInPandas"),
        ],
    },
    # stage 2 = JW/Lev on the undecided slice, filter pushed into the scan
    "er_jw_slice": {
        "want": [
            ("undecided filter pushed to the checkpoint scan", r"PushedFilters: \[[^\]]*undecided"),
            ("norm-text joins broadcast", r"BroadcastHashJoin"),
            ("JW kernel Arrow-batched over the slice only", r"ArrowEvalPython"),
        ],
        "avoid": [
            ("no sort-merge join", r"SortMergeJoin"),
            ("no row-at-a-time Python", r"BatchEvalPython"),
        ],
    },
    # star match edges: per-turn entity sets broadcast onto the block rows,
    # then the hub as a window min over (block, entity) — the only shuffle;
    # no aggregate joined back, no dedup shuffle
    "er_star_edges": {
        "want": [
            ("membership join broadcast", r"BroadcastHashJoin"),
            ("hub is a window min over (block, entity)", r"windowspecdefinition\(block_key"),
        ],
        "avoid": [
            ("at most one hash shuffle", r"Arguments: hashpartitioning[\s\S]*Arguments: hashpartitioning"),
            ("no sort-merge join", r"SortMergeJoin"),
            ("no Python nodes", r"EvalPython|MapInPandas|MapInArrow"),
        ],
    },
    # CC local finish: the checkpointed edges coalesce into ONE task that
    # runs the Arrow union-find kernel; no per-row Python, no shuffle
    "er_cc_local": {
        "want": [
            ("Arrow-batched kernel", r"MapInArrow"),
            ("fed by a single-partition coalesce", r"^\(\d+\) Coalesce\nInput[^\n]*\nArguments: 1$"),
        ],
        "avoid": [
            ("no row-at-a-time Python", r"BatchEvalPython"),
            ("no shuffle", r"Exchange"),
        ],
    },
    # the F1 audit (evaluate_f1): the per-turn table (truth x clusters x
    # token-key sets) broadcast into both sides of the deduped pair stream;
    # the pair distinct is the only pair-sized shuffle, and the block table
    # is self-joined once (the pair generation), never again for the
    # token-key recall
    "er_audit": {
        "want": [
            ("per-turn table broadcast", r"BroadcastHashJoin"),
            ("pair distinct shuffles on (key_a, key_b)", r"Arguments: hashpartitioning\(key_a#\d+, key_b#\d+"),
        ],
        "avoid": [
            ("no sort-merge join", r"SortMergeJoin"),
            ("one block_key self-join", r"Left keys \[1\]: \[block_key[\s\S]*Left keys \[1\]: \[block_key"),
            ("one pair-sized shuffle", r"hashpartitioning\(key_a#\d+, key_b#\d+[\s\S]*hashpartitioning\(key_a#\d+, key_b#\d+"),
        ],
    },
}


def _split_stage_dfs(spark):
    """Materialized inputs for the split-plan audits (built once)."""
    import tempfile

    from pyspark.sql import functions as F

    from pilsner_spark.operators.blocking import (
        candidate_pairs,
        salt_oversized_blocks,
        token_blocks,
        with_turn_key,
    )
    from pilsner_spark.operators.clustering import cluster_turns, connected_components
    from pilsner_spark.operators.mentions import extract_mentions_df, normalized_text_df, turn_entities_df
    from pilsner_spark.operators.scoring import (
        jw_scores_for_undecided,
        score_pairs_base,
        star_match_edges,
        turn_features,
    )
    from pilsner_spark.plans.pipeline import audit_plan
    from pilsner_spark.sources.sample_dictionary import build_sample_model
    from pilsner_spark.sources.synth import pipeline_input, synth_transcripts

    model = build_sample_model()
    tr = synth_transcripts(spark, n_convs=60, seed=42).localCheckpoint()
    turns = with_turn_key(normalized_text_df(pipeline_input(tr), model))
    blocks, _ = salt_oversized_blocks(token_blocks(turns), 400, 16)
    tmp = tempfile.mkdtemp(prefix="plan_audit_split_")
    blocks.write.mode("overwrite").parquet(f"{tmp}/blocks")
    candidate_pairs(blocks, dedupe=False).write.mode("overwrite").parquet(f"{tmp}/pairs")
    ents = with_turn_key(turn_entities_df(extract_mentions_df(tr, model)))
    ents.write.mode("overwrite").parquet(f"{tmp}/ents")
    ents_ck = spark.read.parquet(f"{tmp}/ents")
    feats = turn_features(turns, ents_ck)
    feats.write.mode("overwrite").parquet(f"{tmp}/feats")
    feats_ck = spark.read.parquet(f"{tmp}/feats")
    base = score_pairs_base(spark.read.parquet(f"{tmp}/pairs"), feats_ck, broadcast_features=True)
    base.write.mode("overwrite").parquet(f"{tmp}/base")
    base_ck = spark.read.parquet(f"{tmp}/base")
    # the scored stage: blocks come off their checkpoint, get the
    # pipeline's row-budget spread, and the self-join stays unmaterialized
    # under the feature joins (plans/pipeline.py run_er_pipeline)
    fused_pairs = candidate_pairs(
        spark.read.parquet(f"{tmp}/blocks"),
        broadcast_blocks=True,
        dedupe=False,
        spread_to=8,
    )
    jw_slice = jw_scores_for_undecided(base_ck, feats_ck, broadcast_features=True)
    jw_slice.write.mode("overwrite").parquet(f"{tmp}/jw")
    # the pipeline's star-edge call: entity table broadcast under its
    # per-turn row gate, blocks and jw slice off their checkpoints
    star = star_match_edges(
        spark.read.parquet(f"{tmp}/blocks"), F.broadcast(ents_ck), spark.read.parquet(f"{tmp}/jw")
    )
    cluster_turns(turns, star).write.mode("overwrite").parquet(f"{tmp}/clusters")
    # the pipeline CLI's audit call: the lazy fused pair plan, clusters and
    # salted blocks off their checkpoints
    audit = audit_plan(
        fused_pairs, spark.read.parquet(f"{tmp}/clusters"), tr, spark.read.parquet(f"{tmp}/blocks")
    )
    return {
        "er_star_edges": star,
        # connected_components materializes the edges (one eager job) and
        # returns the lazy local-finish plan over that checkpoint
        "er_cc_local": connected_components(star),
        "er_scored_base": base,
        "er_scored_fused": score_pairs_base(fused_pairs, feats_ck, broadcast_features=True).filter(
            F.col("shared_entity") | F.col("undecided")
        ),
        "er_jw_slice": jw_slice,
        "er_audit": audit,
    }


_SPLIT_CACHE = {}


def _split(name):
    def build(spark):
        if not _SPLIT_CACHE:
            _SPLIT_CACHE.update(_split_stage_dfs(spark))
        return _SPLIT_CACHE[name]

    return build


def _ann_served_df(spark):
    """The IVF-PQ serving shape: index/centroids/codebooks persisted, raw
    vectors absent (vectors=None). Query vectors are renamed q_embedding so
    any bare 'embedding' column in the plan would be a full-width corpus
    leak."""
    import tempfile

    from pyspark.sql import functions as F

    from pilsner_spark.operators.ann import ivf_pq_topk, pq_codebooks, pq_index, sample_centroids

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    tmp = tempfile.mkdtemp(prefix="plan_audit_ann_")
    cents = sample_centroids(emb, 16)
    cb = pq_codebooks(emb, m=4, n_codes=16)
    pq_index(emb, 4, 16, 16, centroids=cents, codebooks=cb).write.partitionBy("cell").parquet(
        f"{tmp}/index"
    )
    cents.write.parquet(f"{tmp}/cents")
    cb.write.parquet(f"{tmp}/cb")
    emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    ).write.parquet(f"{tmp}/q")
    return ivf_pq_topk(
        None,
        spark.read.parquet(f"{tmp}/q"),
        k=5,
        m=4,
        n_codes=16,
        n_cells=16,
        n_probe=4,
        vec_col="q_embedding",
        centroids=spark.read.parquet(f"{tmp}/cents"),
        codebooks=spark.read.parquet(f"{tmp}/cb"),
        index=spark.read.parquet(f"{tmp}/index"),
    )


def _ann_refined_served_df(spark):
    """The refined serving shape: prebuilt index + a full-width refine
    table stored PARTITIONED BY cell. The audit checks the refine scan is
    dynamically partition-pruned by the broadcast shortlist (probed cells
    only) — the property that keeps full-width IO O(shortlist) at 100 TB."""
    import tempfile

    from pyspark.sql import functions as F

    from pilsner_spark.operators.ann import (
        ivf_assign,
        ivf_pq_topk,
        pq_codebooks,
        pq_index,
        sample_centroids,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    tmp = tempfile.mkdtemp(prefix="plan_audit_ann_ref_")
    cents = sample_centroids(emb, 16)
    cb = pq_codebooks(emb, m=4, n_codes=16)
    pq_index(emb, 4, 16, 16, centroids=cents, codebooks=cb).write.partitionBy("cell").parquet(
        f"{tmp}/index"
    )
    emb.join(ivf_assign(emb, centroids=cents), "vec_id").write.partitionBy("cell").parquet(
        f"{tmp}/refine"
    )
    cents.write.parquet(f"{tmp}/cents")
    cb.write.parquet(f"{tmp}/cb")
    emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    ).write.parquet(f"{tmp}/q")
    return ivf_pq_topk(
        None,
        spark.read.parquet(f"{tmp}/q"),
        k=5,
        m=4,
        n_codes=16,
        n_cells=16,
        n_probe=4,
        vec_col="q_embedding",
        centroids=spark.read.parquet(f"{tmp}/cents"),
        codebooks=spark.read.parquet(f"{tmp}/cb"),
        index=spark.read.parquet(f"{tmp}/index"),
        refine_factor=4,
        refine_vectors=spark.read.parquet(f"{tmp}/refine"),
        refine_vec_col="embedding",
        # the audit inspects the LAZY end-to-end plan; the default eager
        # coverage check (ADVICE r4) would hide the refine join behind a
        # localCheckpoint scan without changing its physical shape
        verify_refine_coverage=False,
    )


BUILDERS = {
    "ann_ivf_pq_served": _ann_served_df,
    "ann_ivf_pq_refined_served": _ann_refined_served_df,
    "er_scored_base": _split("er_scored_base"),
    "er_scored_fused": _split("er_scored_fused"),
    "er_jw_slice": _split("er_jw_slice"),
    "er_star_edges": _split("er_star_edges"),
    "er_cc_local": _split("er_cc_local"),
    "er_audit": _split("er_audit"),
}


def main() -> None:
    import __spark_entry__ as entrymod
    from pilsner_spark.session import get_spark

    spark = get_spark(app_name="explain-audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    sections = []
    summary = []
    for name, spec in CHECKS.items():
        df = BUILDERS[name](spark) if name in BUILDERS else qs[name](spark, SF_DIR)
        text = plan_text(df)
        lines = []
        ok_all = True
        for label, pat in spec["want"]:
            ok = re.search(pat, text, re.M) is not None
            ok_all &= ok
            lines.append(f"- [{'x' if ok else ' '}] want: {label}")
        for label, pat in spec["avoid"]:
            ok = re.search(pat, text, re.M) is None
            ok_all &= ok
            lines.append(f"- [{'x' if ok else ' '}] {label}")
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", text, re.M))
        lines.append(f"- exchanges in plan: {n_exchanges}")
        summary.append((name, ok_all))
        sections.append(
            f"## {name}\n\n" + "\n".join(lines) + "\n\n```\n" + text.strip()[:4000] + "\n```\n"
        )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit\n\n"
            "`tools/explain_audit.py` output: checked physical properties per\n"
            "representative query (pushdown, pruning, broadcast, codegen,\n"
            "shuffle budget), with the full `explain(\"formatted\")` text.\n\n"
            "| query | all checks pass |\n|---|---|\n"
            + "\n".join(f"| {n} | {'yes' if ok else 'NO'} |" for n, ok in summary)
            + "\n\n"
            + "\n".join(sections)
        )
    print("\n".join(f"{'PASS' if ok else 'FAIL'} {n}" for n, ok in summary))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
