"""End-to-end record-linkage pipeline: normalize -> mentions -> block ->
score -> cluster, with per-stage checkpoints, lineage and metrics
(north_rule: every stage resumable, per-partition lineage + metrics).

Run standalone (also the spark-submit entry point):

    python -m pilsner_spark.plans.pipeline --scale 0.002 --workdir /tmp/plv
"""

from __future__ import annotations

import argparse
import json
import os
import time
from typing import Callable, Dict, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pilsner_spark.operators.blocking import (
    candidate_pairs,
    is_band_key,
    minhash_blocks,
    salt_oversized_blocks,
    snm_blocks,
    token_blocks,
    with_turn_key,
)
from pilsner_spark.operators.clustering import cluster_turns
from pilsner_spark.operators.mentions import (
    extract_mentions_df,
    normalized_text_df,
    turn_entities_df,
)
from pilsner_spark.operators.scoring import (
    jw_scores_for_undecided,
    score_pairs_base,
    split_match_edges,
    star_match_edges,
    turn_features,
)
from pilsner_spark.sources.catalog import Catalog
from pilsner_spark.sources.synth import SAMPLE_PLANTS, pipeline_input, synth_transcripts

# per-turn tables up to this many rows are broadcast into O(pairs) joins
BROADCAST_ROW_LIMIT = 2_000_000


def default_model():
    """The pilsner test-suite dictionary model (golden F1 source)."""
    from pilsner_spark.sources.sample_dictionary import build_sample_model

    return build_sample_model()


class Pipeline:
    """Stage orchestration with checkpoint/resume via the catalog."""

    def __init__(self, spark: SparkSession, workdir: str, params: Optional[dict] = None):
        self.spark = spark
        self.catalog = Catalog(spark, workdir)
        os.makedirs(workdir, exist_ok=True)
        self.params = params or {}
        self.metrics: Dict[str, dict] = {}

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        params: Optional[dict] = None,
        facts: Optional[Callable[[DataFrame], dict]] = None,
    ) -> DataFrame:
        """Run or resume one stage: skip when a checkpoint with the same
        params hash exists; otherwise compute, materialize, and commit the
        lineage with ``facts`` merged in (``Catalog.write``). A resumed
        stage gets its facts back from that lineage. A computed stage
        returns the table ``Catalog.write`` already read back."""
        stage_params = {**self.params, **(params or {})}
        lineage = self.catalog.exists(name, stage_params)
        if lineage is not None:
            self.metrics[name] = {**lineage, "resumed": True}
            return self.catalog.read(name)
        written = []
        start = time.time()
        lineage = self.catalog.write(
            fn(), name, stage_params, lambda out: written.append(out) or (facts(out) if facts else {})
        )
        lineage["stage_wall_seconds"] = round(time.time() - start, 3)
        lineage["resumed"] = False
        self.metrics[name] = lineage
        return written[0]


def run_er_pipeline(
    spark: SparkSession,
    workdir: str,
    transcripts: DataFrame,
    model=None,
    max_block_size: int = 400,
    salt_buckets: int = 16,
    max_token_df: Optional[int] = None,
    jw_threshold: float = 0.92,
    jaccard_threshold: float = 0.6,
    broadcast_row_limit: int = BROADCAST_ROW_LIMIT,
    broadcast_block_bytes: int = 512 << 20,
    use_minhash_blocks: bool = True,
    minhash_num_hashes: int = 16,
    minhash_band_size: int = 2,
    snm_window: int = 0,
    fuse_pairs: bool = True,
    compact_scored: bool = True,
) -> Dict[str, object]:
    """Full ER run over a transcripts DataFrame (input_hint schema).

    Blocking is the union of the two north_star keys: shared normalized
    token x (tool, role) — the recall workhorse and the F1-gate key — and
    MinHash band x (tool, role) over the normalized token set
    (``use_minhash_blocks``), which catches near-duplicate turns whose
    shared tokens were DF-capped away (``max_token_df``) and adds a second,
    structurally different candidate source. Both go through the same
    salting; the oversized-key report covers both key families.
    ``snm_window`` > 1 unions a third, sort-order-based family
    (``snm_blocks``: sorted-neighborhood window keys, bounded at
    window_size members per key by construction — never salted).

    Returns {'clusters': DataFrame, 'pairs_all': DataFrame (the lazy
    candidate-pair plan, key_a/key_b), 'blocks_salted': DataFrame (the
    ``blocks`` checkpoint), 'metrics': dict, 'pipeline': Pipeline}.
    """
    # perfbench/tracing.py reads both defaults by name; no other value exists
    if fuse_pairs is not True or compact_scored is not True:
        raise ValueError("fuse_pairs and compact_scored accept only True: the pipeline has one scored plan")
    model = model or default_model()
    params = {
        "max_block_size": max_block_size,
        "salt_buckets": salt_buckets,
        "max_token_df": max_token_df,
        "jw_threshold": jw_threshold,
        "jaccard_threshold": jaccard_threshold,
        "use_minhash_blocks": use_minhash_blocks,
        "minhash_num_hashes": minhash_num_hashes,
        "minhash_band_size": minhash_band_size,
        "snm_window": snm_window,
        # split scored plan (base set-features stage + undecided-only JW
        # stage); also versions the checkpoint schema so pre-split workdirs
        # recompute instead of resuming into the wrong layout
        "scoring_plan": "split-v2",
        # versions the scored checkpoint layout (shared-entity + undecided rows)
        "scored_layout": "compact-v1",
        "model": model.config_json(),
    }
    pipe = Pipeline(spark, workdir, params)

    turns = pipe.stage(
        "turns_normalized",
        lambda: with_turn_key(normalized_text_df(pipeline_input(transcripts), model)),
    )
    # one row per turn with its resolved entity set: the scored stage's
    # features and the star membership join both read this checkpoint
    mention_entities = pipe.stage(
        "mentions",
        lambda: with_turn_key(turn_entities_df(extract_mentions_df(transcripts, model))),
        params={"mentions_layout": "turn-entities-v1"},
    )

    def build_raw_blocks() -> DataFrame:
        blocks = token_blocks(turns, max_df=max_token_df)
        if use_minhash_blocks:
            blocks = blocks.unionByName(
                minhash_blocks(turns, num_hashes=minhash_num_hashes, band_size=minhash_band_size)
            )
        if snm_window > 1:
            blocks = blocks.unionByName(snm_blocks(turns, window_size=snm_window))
        return blocks

    # TWO block stages. ``blocks_raw`` holds the construction (token explode
    # + MinHash signatures over every turn — the expensive side), computed
    # exactly ONCE. ``blocks`` holds the salted table: its build references
    # raw THREE times (sizes aggregation, salted join, anti join) and its
    # consumers reference IT twice (both sides of the pair self-join, plus
    # the star-edge builder) — with a single stage each reference recomputed
    # the construction (measured: 4x inside the old salted write; and a
    # lazily-derived salted view pushed 2x sizes-agg + 6x raw scans into the
    # fused scored job, costing ~10% of the dominant stage at 8 cores). Two
    # skinny checkpoints make every reference a columnar scan: one extra
    # ~seconds write buys construction-once AND salting-once.
    raw_blocks = pipe.stage("blocks_raw", build_raw_blocks, params={"blocks_layout": "raw-v1"})

    def salted_key_counts(_: DataFrame) -> dict:
        # one cheap aggregation over the raw checkpoint for the
        # no-silent-truncation report, split by key family so band-key skew
        # is visible separately from token skew
        oversized = salt_oversized_blocks(raw_blocks, max_block_size, salt_buckets)[1]
        counts = oversized.agg(
            F.count("*").alias("total"),
            F.sum(F.when(is_band_key(), 1).otherwise(0)).alias("band"),
        ).collect()[0]
        total, band = int(counts["total"] or 0), int(counts["band"] or 0)
        return {"salted_keys": {"count": total, "band_keys": band, "token_keys": total - band}}

    blocks = pipe.stage(
        "blocks",
        lambda: salt_oversized_blocks(raw_blocks, max_block_size, salt_buckets)[0],
        facts=salted_key_counts,
    )
    pipe.metrics["blocking_salted_keys"] = pipe.metrics["blocks"]["salted_keys"]
    # broadcast decisions from checkpoint lineage (no extra count jobs):
    # per-turn/per-block side tables are O(turns) while pairs are
    # O(block_size x turns) — broadcast keeps those joins shuffle-free
    # whenever the small side fits in executor memory.
    n_turns = int((pipe.metrics.get("turns_normalized") or {}).get("rows") or 0)
    n_blocks = int((pipe.metrics.get("blocks") or {}).get("rows") or 0)
    bcast_feats = 0 < n_turns <= broadcast_row_limit
    # An explicit F.broadcast hint bypasses autoBroadcastJoinThreshold AND
    # Spark's sanity checks until the 8 GB hard limit, so gate on estimated
    # bytes, not a row multiplier: a block row is two short strings
    # (turn_key ~14 B + block_key ~30 B) that a JVM hash relation roughly
    # doubles — call it 96 B/row built. Default cap 512 MB ≈ 5.6M rows.
    bcast_blocks = 0 < n_blocks * 96 <= broadcast_block_bytes

    # The pair table is the largest intermediate (O(block_size x turns) rows
    # of two short keys) and the scored stage is its only consumer, so it is
    # never checkpointed: the unmaterialized self-join feeds score_pairs_base
    # directly, saving one write and read of |pairs| rows (1.09x median wall
    # at 8 cores / 203M pairs). A resume of the scored stage recomputes the
    # self-join. The streaming side gets a row-budget spread inside
    # candidate_pairs: the block table dictionary-compresses to a few bytes
    # per row, so its checkpoint scan yields fewer partitions than cores.
    # Only the MB-sized block table moves; the pair stream never shuffles.
    pairs = candidate_pairs(
        blocks,
        broadcast_blocks=bcast_blocks,
        dedupe=False,
        spread_to=max(spark.sparkContext.defaultParallelism, n_blocks // 100_000),
    )
    features = turn_features(turns, mention_entities)
    # Split scored plan: this stage is pure codegen (no ArrowEvalPython over
    # |pairs|); jw_scores re-reads the checkpoint with a pushed
    # undecided=true filter and runs JW/Levenshtein on that slice only.
    # Of the scored rows, downstream reads only the shared-entity rows
    # (pairwise match edges) and the undecided rows (the JW slice): 0.2 % of
    # the pair mass on sparse-entity corpora (perfbench pair_heavy), about
    # half on dense shared-entity cliques. So the stage filters to those rows
    # before the write, and counts the full pair mass in the same job via
    # Observation (stage facts, so a resume recovers them). The F1 audit
    # needs every candidate pair and reads result["pairs_all"] instead.
    obs = Observation("scored_pairs_full")

    def build_scored() -> DataFrame:
        base = score_pairs_base(
            pairs, features, jaccard_threshold, broadcast_features=bcast_feats
        ).observe(
            obs,
            F.count(F.lit(1)).alias("pairs_full"),
            F.sum(F.col("undecided").cast("long")).alias("undecided_rows"),
            F.sum(F.col("shared_entity").cast("long")).alias("shared_rows"),
        )
        return base.filter(F.col("shared_entity") | F.col("undecided"))

    scored_base = pipe.stage(
        "scored_pairs", build_scored, facts=lambda _: {k: int(v or 0) for k, v in obs.get.items()}
    )
    jw_slice = pipe.stage(
        "jw_scores",
        lambda: jw_scores_for_undecided(scored_base, features, broadcast_features=bcast_feats),
    )
    cc_stats: Dict[str, object] = {}
    # Edge source for clustering, chosen from lineage counts; both give the
    # same components (test_star_edges_cluster_parity):
    # * pairwise — the shared/undecided rows of the scored checkpoint; cost
    #   grows with shared_rows.
    # * star — per-(block, entity) member->hub edges from the block table;
    #   cost grows with block rows, however quadratic the shared-pair mass.
    # Neither wins everywhere. Forcing star on every corpus (perfbench, 4
    # vCPU, 5 interleaved pairs each) made dense_cliques 8.6 % faster end to end and
    # pair_heavy 7.7 % slower: there entity_clusters went from 1.47 to
    # 3.48 s, for 2,893 star rows against 2,269 pairwise rows, so the cost is
    # the star build's extra jobs, not data. Pick by the two counts.
    n_shared = pipe.metrics["scored_pairs"]["shared_rows"]
    use_star = n_shared > n_blocks

    def build_edges() -> DataFrame:
        if use_star:
            # the per-turn entity table is O(turns): same gate as the
            # feature joins, so the membership join ships no block rows
            ents = F.broadcast(mention_entities) if bcast_feats else mention_entities
            return star_match_edges(blocks, ents, jw_slice, jw_threshold, jaccard_threshold)
        return split_match_edges(scored_base, jw_slice, jw_threshold, jaccard_threshold)

    clusters = pipe.stage(
        "entity_clusters",
        lambda: cluster_turns(turns, build_edges(), stats=cc_stats),
        params={"cluster_edges": "star-v1" if use_star else "pairwise-v1"},
        # convergence is known only when CC ran; lineage keeps it for resumes
        facts=lambda _: {"convergence": dict(cc_stats)},
    )
    pipe.metrics["cluster_edge_source"] = {"star": use_star, "shared_rows": n_shared, "block_rows": n_blocks}
    pipe.metrics["clustering_convergence"] = pipe.metrics["entity_clusters"]["convergence"]
    # pairs_all: the complete candidate-pair key set, for consumers that
    # need every pair rather than the live scored rows (the F1 audit's
    # labeled-pair denominator) — the lazy self-join plan, recomputed by
    # the consumer outside the timed window.
    return {
        "clusters": clusters,
        "pairs_all": pairs.select("key_a", "key_b"),
        # the salted blocks checkpoint (stage 'blocks' — its own materialized
        # stage after the two-stage split, distinct from the raw construction
        # checkpoint 'blocks_raw') — what candidate pairs were actually built
        # from; the audit's token-key recall (evaluate_f1 blocks=) must use
        # THIS, not the raw checkpoint, so it reflects salting loss honestly
        "blocks_salted": blocks,
        "metrics": pipe.metrics,
        "pipeline": pipe,
    }


def audit_plan(
    pairs: DataFrame, clusters: DataFrame, truth: DataFrame, blocks: Optional[DataFrame] = None
) -> DataFrame:
    """The one-row aggregation behind :func:`evaluate_f1` (same arguments)."""
    # the O(turns) side first: labeled truth x clusters, the hard-style flag
    # (synth.py's hard slice) and the turn's token-family keys (every key
    # but a band key, snm keys included); materialized once, joined twice
    styled = "plant_style" in truth.columns
    hard = F.col("plant_style").isin("typo", "typo_clean", "hard_neg") if styled else F.lit(False)
    per_turn = (
        with_turn_key(truth)
        .filter(F.col("planted_entity").isNotNull())
        .select("turn_key", F.col("planted_entity").alias("entity"), F.coalesce(hard, F.lit(False)).alias("hard"))
        .join(clusters.select("turn_key", F.col("cluster_id").alias("cluster")), "turn_key")
    )
    if blocks is not None:
        keys = blocks.filter(~is_band_key()).groupBy("turn_key").agg(F.collect_set("block_key").alias("token_keys"))
        per_turn = per_turn.join(keys, "turn_key", "left")
    per_turn = per_turn.localCheckpoint()
    bcast = per_turn.count() <= BROADCAST_ROW_LIMIT

    def side(s: str) -> DataFrame:
        df = per_turn.select(*[F.col(c).alias(f"key_{s}" if c == "turn_key" else f"{c}_{s}") for c in per_turn.columns])
        return F.broadcast(df) if bcast else df

    labeled = F.col("entity_a").isNotNull() & F.col("entity_b").isNotNull()
    same, pred = F.col("entity_a") == F.col("entity_b"), F.col("cluster_a") == F.col("cluster_b")
    cases = {"tp": pred & same, "fp": pred & ~same, "fn": ~pred & same, "labeled": F.lit(True)}
    aggs = [F.count(F.lit(1)).alias("distinct_pairs")] + [
        F.count_if(within & case).alias(prefix + k)
        for prefix, within in (("", labeled), ("hard_", labeled & (F.col("hard_a") | F.col("hard_b"))))
        for k, case in cases.items()
    ]
    if blocks is not None:
        overlap = F.arrays_overlap("token_keys_a", "token_keys_b")
        aggs.append(F.count_if(labeled & same & overlap).alias("token_pairs_caught"))
    # the pair distinct is the plan's only pair-sized shuffle
    pairs = pairs.select("key_a", "key_b").distinct()
    return pairs.join(side("a"), "key_a", "left").join(side("b"), "key_b", "left").agg(*aggs)


def evaluate_f1(
    pairs: DataFrame, clusters: DataFrame, truth: DataFrame, blocks: Optional[DataFrame] = None
) -> Dict[str, object]:
    """The audit pass, one aggregation job. Pairwise F1 on labeled pairs
    *at the same blocking key*: the distinct candidate pairs whose two
    turns both carry planted ground truth (FIXTURES.md §5); a pair is
    predicted positive when the two turns land in the same cluster.

    ``pairs`` carries the complete candidate-pair key set as (key_a,
    key_b) — pass ``result["pairs_all"]``, NOT the compact scored
    checkpoint, which drops the decided-nonmatch pairs (the fn count).
    The report adds ``distinct_pairs``, and, when the corpus carries
    ``plant_style``, a ``hard_slice`` sub-report over the labeled pairs
    with a typo / typo_clean / hard_neg side. With ``blocks`` (the salted
    block table), ``token_pairs_caught`` counts the same-entity labeled
    pairs sharing a token-family key: :func:`blocking_recall`'s input."""
    row = audit_plan(pairs, clusters, truth, blocks).collect()[0]

    def report(prefix: str) -> Dict[str, object]:
        tp, fp, fn, n = (int(row[prefix + k]) for k in ("tp", "fp", "fn", "labeled"))
        # An EMPTY slice must not read as a perfect score: earlier rounds
        # emitted f1=1.0 for unplanted hard slices and LADDER.md readers
        # concluded the slice passed at every rung (VERDICT r4 "What's
        # wrong" item 3). Zero labeled pairs -> metrics are n/a, flagged.
        if n == 0:
            return {
                "tp": 0, "fp": 0, "fn": 0, "labeled_pairs": 0,
                "precision": None, "recall": None, "f1": None,
                "planted": False,
            }
        precision = tp / (tp + fp) if tp + fp else 1.0
        recall = tp / (tp + fn) if tp + fn else 1.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        return {
            "tp": tp,
            "fp": fp,
            "fn": fn,
            "labeled_pairs": n,
            "precision": round(precision, 6),
            "recall": round(recall, 6),
            "f1": round(f1, 6),
        }

    out = {**report(""), "distinct_pairs": int(row["distinct_pairs"])}
    if "plant_style" in truth.columns:
        out["hard_slice"] = report("hard_")
    if blocks is not None:
        out["token_pairs_caught"] = int(row["token_pairs_caught"])
    return out


def bcubed(clusters: DataFrame, truth: DataFrame, scope_cols: Sequence[str] = ()) -> Dict[str, float]:
    """B-cubed precision/recall/F1 of the cluster assignment against the
    planted entities (Bagga & Baldwin '98; Amigó et al. '09 — the standard
    cluster-level ER metric, complementing the pairwise F1: pairwise F1 is
    blind to how errors distribute across clusters, B-cubed charges each
    item for the purity/completeness of ITS cluster).

    Per labeled item i: precision(i) = |same-entity items in i's cluster| /
    |i's cluster|, recall(i) = same numerator / |i's entity|; scores are the
    item means. Closed-form over the (cluster, entity) contingency cells —
    sum of n_ce^2 / n_c (resp. n_e) — so the whole metric is two hash
    aggregations and one broadcast-sized join: no per-item pair expansion,
    linear at any corpus size. Cluster sizes count labeled items only
    (unlabeled filler turns have no gold class to be right or wrong about);
    a labeled item that never reached a cluster (no mention extracted)
    counts as its own singleton rather than being silently dropped.

    ``scope_cols`` refines the gold class to (entity, *scope_cols) — pass
    ("tool", "role") for the rule-aligned universe, where same-entity turns
    in different (tool, role) keyspaces are CORRECTLY apart (the blocking
    key structurally scopes clusters, per the north rule); without it the
    metric is unconditional, the B-cubed mirror of
    ``cluster_recall_unscoped``."""
    gold = F.concat_ws("\x01", F.col("planted_entity"), *[F.col(c) for c in scope_cols])
    labeled = (
        with_turn_key(truth)
        .filter(F.col("planted_entity").isNotNull())
        .select("turn_key", gold.alias("entity"))
        .join(clusters.select("turn_key", "cluster_id"), "turn_key", "left")
        .withColumn(
            "cluster_id",
            F.coalesce(F.col("cluster_id"), F.concat(F.lit("singleton#"), F.col("turn_key"))),
        )
    )
    cells = labeled.groupBy("cluster_id", "entity").agg(F.count(F.lit(1)).alias("n_ce"))
    csize = cells.groupBy("cluster_id").agg(F.sum("n_ce").alias("n_c"))
    esize = cells.groupBy("entity").agg(F.sum("n_ce").alias("n_e"))
    row = (
        cells.join(csize, "cluster_id")
        .join(esize, "entity")
        .agg(
            F.sum(F.col("n_ce") * F.col("n_ce") / F.col("n_c")).alias("p_mass"),
            F.sum(F.col("n_ce") * F.col("n_ce") / F.col("n_e")).alias("r_mass"),
            F.sum("n_ce").alias("n"),
        )
        .collect()[0]
    )
    n = row["n"] or 0
    if not n:
        return {"precision": 1.0, "recall": 1.0, "f1": 1.0, "items": 0}
    p, r = row["p_mass"] / n, row["r_mass"] / n
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"precision": round(p, 6), "recall": round(r, 6), "f1": round(f1, 6), "items": int(n)}


def blocking_recall(
    truth: DataFrame,
    caught_true_pairs: int,
    caught_token_pairs: Optional[int] = None,
    clusters: Optional[DataFrame] = None,
) -> Dict[str, object]:
    """Fraction of ALL ground-truth positive pairs that blocking put into
    the candidate table (north_rule audit): every fn/tp count in the F1
    report is conditional on the pair having been blocked together, so a
    true pair blocking misses is invisible there — this report makes that
    loss explicit (fn=0 claims stop being conditional on blocking luck).

    ``caught_true_pairs`` = tp + fn from :func:`evaluate_f1` (same-entity
    labeled pairs present among candidates). Denominators are analytic —
    sums of C(g, 2) over group sizes — and the numerators come from the
    audit pass, so this runs no pair-level job. Two universes are reported
    because the north rule's key structurally includes (tool, role):

    * ``recall`` — against same-entity pairs WITH the same (tool, role):
      the rule-scoped number, isolating genuine blocking luck (token
      overlap, DF caps, salting, band bucketing) from the deliberate key
      structure;
    * ``recall_unscoped`` — against ALL same-entity pairs, quantifying
      what the (tool, role) key constraint itself excludes.

    ``caught_token_pairs`` = evaluate_f1's ``token_pairs_caught`` splits
    the recall by key family (``token_key_recall``; the band keys add
    ``band_key_recall_gain`` on top). With ``clusters``, ``cluster_recall``
    / ``cluster_recall_unscoped`` report the fraction of true pairs that
    END UP in the same cluster — the unconditional end-to-end number:
    transitive clustering can recover pairs blocking never compared (two
    surfaces of one entity with disjoint tokens merge through any chain of
    matched intermediates), so this can exceed blocking recall; both
    numerators stay analytic (C(g,2) over (cluster, entity) group sizes)."""
    t = with_turn_key(truth).filter(F.col("planted_entity").isNotNull()).select(
        "turn_key", "planted_entity", "tool", "role"
    )

    def pair_total(df: DataFrame, group_cols) -> int:
        """Sum of C(g, 2) over the group sizes of ``df`` by ``group_cols``."""
        sizes = df.groupBy(*group_cols).agg(F.count("*").alias("g"))
        row = sizes.agg(F.sum((F.col("g") * (F.col("g") - 1) / 2).cast("long")).alias("n")).collect()[0]
        return int(row["n"] or 0)

    total_scoped = pair_total(t, ["planted_entity", "tool", "role"])
    total_all = pair_total(t, ["planted_entity"])
    out: Dict[str, object] = {
        "true_pairs_total": total_all,
        "true_pairs_same_keyspace": total_scoped,
        "true_pairs_blocked": int(caught_true_pairs),
        "recall": round(caught_true_pairs / total_scoped, 6) if total_scoped else 1.0,
        "recall_unscoped": round(caught_true_pairs / total_all, 6) if total_all else 1.0,
    }
    if caught_token_pairs is not None:
        out["token_key_recall"] = round(caught_token_pairs / total_scoped, 6) if total_scoped else 1.0
        out["band_key_recall_gain"] = round(out["recall"] - out["token_key_recall"], 6)
    if clusters is not None:
        tc = t.join(clusters.select("turn_key", "cluster_id"), "turn_key")
        got_scoped = pair_total(tc, ["cluster_id", "planted_entity", "tool", "role"])
        got_all = pair_total(tc, ["cluster_id", "planted_entity"])
        out["cluster_recall"] = round(got_scoped / total_scoped, 6) if total_scoped else 1.0
        out["cluster_recall_unscoped"] = round(got_all / total_all, 6) if total_all else 1.0
    return out


def build_corpus(spark, n_convs: int, seed: int, dictionary: str, n_entities: int, hard_every: Optional[int] = None):
    """Corpus + model for a pipeline run. 'sample' = the pilsner test-suite
    dictionary (golden F1, hot 2-entity blocks — the skew stress case);
    'synthetic' = n_entities unambiguous entities (throughput shape of the
    reference's performance harness). ``hard_every`` plants the hard slice
    (template hard negatives + typo positives; synth.synth_transcripts)."""
    from pilsner_spark.sources.sample_dictionary import build_sample_model
    from pilsner_spark.sources.synth import synthetic_plants

    if dictionary == "sample":
        return (
            synth_transcripts(spark, n_convs=n_convs, seed=seed, plants=SAMPLE_PLANTS, hard_conv_every=hard_every),
            build_sample_model(),
        )
    plants = synthetic_plants(n_entities, seed=seed)
    from pilsner_spark.core.dictionary import compile_specs, fields_from_dicts, rows_from_lines
    from pilsner_spark.core.model import CompiledModel
    from pilsner_spark.core.normalize import BYPASS

    fields = fields_from_dicts(
        [
            {"name": "entity_id", "include": True, "delimiter": None, "id_flag": True, "normalizer_flag": False, "value_flag": False},
            {"name": "label", "include": True, "delimiter": None, "id_flag": False, "normalizer_flag": False, "value_flag": True},
        ]
    )
    rows = rows_from_lines([f"{p.entity}\t{p.label}" for p in plants], compile_specs(fields))
    model = CompiledModel()
    model.add_normalizer("bypass", BYPASS)
    model.compile_rows(rows, include_keywords=True)
    return synth_transcripts(spark, n_convs=n_convs, seed=seed, plants=plants), model


def main() -> None:
    parser = argparse.ArgumentParser(description="pilsner_spark ER pipeline")
    parser.add_argument("--scale", type=float, default=0.002, help="corpus scale: n_convs = scale * 1e6")
    parser.add_argument("--workdir", default="/tmp/pilsner_spark_work")
    parser.add_argument("--cpus", type=int, default=None)
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--dictionary", choices=["sample", "synthetic"], default="sample")
    parser.add_argument("--entities", type=int, default=2000)
    parser.add_argument("--max-token-df", type=int, default=None, help="drop blocking tokens with document frequency above this (filler-stopword cap)")
    parser.add_argument("--hard-every", type=int, default=None, help="every Nth conversation is a hard-slice template conversation (sample dictionary only)")
    parser.add_argument("--snm-window", type=int, default=0, help="union sorted-neighborhood window-key blocks (window size; 0/1 = off)")
    parser.add_argument("--skip-eval", action="store_true", help="skip the (untimed) F1 + recall audit pass — for timing-only A/B runs; never use when reporting quality numbers")
    args = parser.parse_args()

    from pilsner_spark.session import get_spark

    spark = get_spark(app_name="pilsner-spark-pipeline", cpus=args.cpus)
    n_convs = max(20, int(args.scale * 1_000_000))
    transcripts, model = build_corpus(spark, n_convs, args.seed, args.dictionary, args.entities, hard_every=args.hard_every)
    transcripts = transcripts.localCheckpoint()  # one deterministic materialization

    # Warm-up (excluded from the throughput window, like cluster/JIT
    # warm-up in any steady-state benchmark): spawn one Python UDF worker
    # per core and trigger whole-stage codegen once, so the measured run
    # reflects steady-state task cost, not process fork + pandas import.
    from pilsner_spark.functions.similarity import jaro_winkler_udf

    warm = spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    )
    warm.select(jaro_winkler_udf(F.lit("warm"), F.lit("warm"))).write.format("noop").mode(
        "overwrite"
    ).save()

    start = time.time()
    result = run_er_pipeline(spark, args.workdir, transcripts, model=model, max_token_df=args.max_token_df, snm_window=args.snm_window)
    wall = time.time() - start  # the pipeline (all stages materialized)
    # row counts come from stage lineage — no extra count jobs in the
    # timed window; the F1 audit below reads the materialized checkpoints
    # and is timed separately (it is a verification pass, not a stage).
    n_pairs = int(result["metrics"]["scored_pairs"]["pairs_full"])
    # a resumed stage did none of its work in this window: no throughput
    resumed = [k for k, v in result["metrics"].items() if isinstance(v, dict) and v.get("resumed")]
    eval_start = time.time()
    scores, recall_report = {}, None
    if not args.skip_eval:
        scores = evaluate_f1(result["pairs_all"], result["clusters"], transcripts, blocks=result["blocks_salted"])
        scores["bcubed"] = {
            "scoped": bcubed(result["clusters"], transcripts, scope_cols=("tool", "role")),
            "unscoped": bcubed(result["clusters"], transcripts),
        }
        recall_report = blocking_recall(
            transcripts,
            caught_true_pairs=scores["tp"] + scores["fn"],
            caught_token_pairs=scores.pop("token_pairs_caught"),
            clusters=result["clusters"],
        )
    eval_wall = time.time() - eval_start
    report = {
        "n_convs": n_convs,
        "n_turns": int(result["metrics"]["turns_normalized"]["rows"]),
        "pairs_scored": n_pairs,
        "wall_seconds": round(wall, 2),
        "pairs_per_second": None if resumed else round(n_pairs / wall, 1),
        "resumed_stages": resumed,
        "f1_eval_seconds": round(eval_wall, 2),
        **({"blocking_recall": recall_report} if recall_report is not None else {}),
        **scores,
        # every scalar of every metrics entry; nested values (params,
        # per-partition rows) stay in the lineage sidecars
        "stages": {
            k: {kk: vv for kk, vv in v.items() if vv is None or isinstance(vv, (bool, int, float, str))}
            for k, v in result["metrics"].items()
        },
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
