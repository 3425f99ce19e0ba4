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
    finalize_scored,
    jw_scores_for_undecided,
    score_pairs_base,
    split_match_edges,
    star_match_edges,
    turn_features,
)
from pilsner_spark.sources.catalog import Catalog
from pilsner_spark.sources.synth import SAMPLE_PLANTS, pipeline_input, synth_transcripts


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

    def stage(self, name: str, fn: Callable[[], DataFrame], params: Optional[dict] = None) -> DataFrame:
        """Run or resume one stage: skip when a checkpoint with the same
        params hash exists; otherwise compute, materialize, record lineage."""
        stage_params = {**self.params, **(params or {})}
        if self.catalog.exists(name, stage_params):
            self.metrics[name] = {**(self.catalog.lineage(name) or {}), "resumed": True}
            return self.catalog.read(name)
        start = time.time()
        lineage = self.catalog.write(fn(), name, stage_params)
        lineage["stage_wall_seconds"] = round(time.time() - start, 3)
        lineage["resumed"] = False
        self.metrics[name] = lineage
        return self.catalog.read(name)


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
    broadcast_row_limit: int = 2_000_000,
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

    Returns {'clusters': DataFrame, 'metrics': dict, 'pipeline': Pipeline}.
    """
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
        "fuse_pairs": fuse_pairs,
        # compact: the scored checkpoint keeps only the rows downstream
        # consumes (shared-entity + undecided); full pair mass is counted
        # in-flight via Observation — versions the checkpoint layout
        "scored_layout": "compact-v1" if compact_scored else "full",
        "model": model.config_json(),
    }
    pipe = Pipeline(spark, workdir, params)

    turns = pipe.stage(
        "turns_normalized",
        lambda: with_turn_key(normalized_text_df(pipeline_input(transcripts), model)),
    )
    mentions = pipe.stage(
        "mentions",
        lambda: extract_mentions_df(transcripts, model),
    )
    mention_entities = with_turn_key(turn_entities_df(mentions))

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

    def build_salted() -> DataFrame:
        salted, oversized = salt_oversized_blocks(raw_blocks, max_block_size, salt_buckets)
        # one cheap aggregation over the raw checkpoint for the
        # no-silent-truncation report, split by key family so band-key skew
        # is visible separately from token skew. Band keys are
        # 'mh<band#>#<hash>#<tool>#<role>' (blocking.minhash_blocks); a
        # full-prefix match, not startswith('mh') — a corpus token beginning
        # with 'mh' (e.g. 'mhz') must not be miscounted as a band key.
        counts = oversized.agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("block_key").rlike("^mh[0-9]+#"), 1).otherwise(0)).alias("band"),
        ).collect()[0]
        pipe.metrics["blocking_salted_keys"] = {
            "count": int(counts["total"] or 0),
            "band_keys": int(counts["band"] or 0),
            "token_keys": int((counts["total"] or 0) - (counts["band"] or 0)),
        }
        return salted

    blocks = pipe.stage("blocks", build_salted)
    if not pipe.metrics["blocks"].get("resumed"):
        pipe.catalog.amend_lineage("blocks", {"salted_keys": pipe.metrics["blocking_salted_keys"]})
    else:
        pipe.metrics["blocking_salted_keys"] = (pipe.metrics["blocks"] or {}).get(
            "salted_keys", {}
        )
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

    def build_pairs() -> DataFrame:
        # Row-budget spread of the streaming side (inside candidate_pairs):
        # the block table dictionary-compresses to a few bytes/row, so even
        # the lowered scan budget (session.py SPARK_GRAFT_MAX_PARTITION_BYTES,
        # 8MB) yields fewer partitions than cores after the checkpoint read.
        # The shuffle moves only MBs; the |pairs|-sized output never
        # repartitions (a repartition at pair scale measurably dominates).
        return candidate_pairs(
            blocks,
            broadcast_blocks=bcast_blocks,
            dedupe=False,
            spread_to=max(spark.sparkContext.defaultParallelism, n_blocks // 100_000),
        )

    # The pair table is the largest intermediate (O(block_size x turns) rows
    # of two short keys) and the scored stage is its only consumer.
    # fuse_pairs (the default) skips its checkpoint and feeds the
    # unmaterialized self-join plan straight into score_pairs_base: one full
    # write+read of |pairs| rows disappears from the wall (measured 1.09x
    # median at 8c/203M pairs, the 36-41 s candidate_pairs stage eliminated
    # while the scored stage stays in its noise band — tools/ab_fuse_pairs.py)
    # at the cost of resume granularity: a restart recomputes pairs inside
    # the scored stage, and the extra work is just the block self-join.
    # pairs_scored reporting is unaffected: it reads scored_pairs lineage.
    if fuse_pairs:
        pairs = build_pairs()
        pipe.metrics["candidate_pairs"] = {"fused": True}
    else:
        pairs = pipe.stage("candidate_pairs", build_pairs)
    features = turn_features(turns, mention_entities)
    # Split scored plan: stage 1 is pure codegen (no ArrowEvalPython over
    # |pairs|); stage 2 re-reads the checkpoint with a pushed
    # undecided=true filter and runs JW/Levenshtein on that slice only.
    # Keep the JW kernel off the full pair table: the split costs nothing
    # extra here because the stage checkpoints anyway.
    # compact_scored (the default): of the O(pairs) scored rows, downstream
    # only ever reads the shared-entity rows (decided match edges) and the
    # undecided rows (the JW slice) — 0.2% of the mass on sparse-entity
    # corpora (perfbench pair_heavy), about half on dense shared-entity
    # cliques (0.44 on the sample corpus at scale 0.002). Writing the
    # decided-nonmatch rows to the dominant checkpoint is dead I/O, so the
    # stage filters to the live rows BEFORE the write and counts the full
    # pair mass in the same job via Observation (no second pass; the
    # counts land in lineage so resume recovers them).
    # Consumers needing the complete candidate-pair key set (the F1 audit)
    # use result["pairs_all"] — the unmaterialized pair plan — instead of
    # the scored checkpoint.
    obs = Observation("scored_pairs_full") if compact_scored else None

    def build_scored() -> DataFrame:
        base = score_pairs_base(
            pairs, features, jaccard_threshold, broadcast_features=bcast_feats
        )
        if compact_scored:
            counted = base.observe(
                obs,
                F.count(F.lit(1)).alias("pairs_full"),
                F.sum(F.col("undecided").cast("long")).alias("undecided_rows"),
                F.sum(F.col("shared_entity").cast("long")).alias("shared_rows"),
            )
            return counted.filter(F.col("shared_entity") | F.col("undecided"))
        return base

    scored_base = pipe.stage("scored_pairs", build_scored)
    if compact_scored and not pipe.metrics["scored_pairs"].get("resumed"):
        got = obs.get
        extra = {k: int(got[k] or 0) for k in ("pairs_full", "undecided_rows", "shared_rows")}
        pipe.metrics["scored_pairs"].update(extra)
        pipe.catalog.amend_lineage("scored_pairs", extra)
    jw_slice = pipe.stage(
        "jw_scores",
        lambda: jw_scores_for_undecided(scored_base, features, broadcast_features=bcast_feats),
    )
    # the slice is usually tiny; broadcast the join-back only when it fits
    # (same 96 B/row hash-relation estimate as the block broadcast above)
    n_jw = int((pipe.metrics.get("jw_scores") or {}).get("rows") or 0)
    scored = finalize_scored(
        scored_base,
        jw_slice,
        jw_threshold,
        jaccard_threshold,
        broadcast_jw=0 <= n_jw * 96 <= broadcast_block_bytes,
    )
    cc_stats: Dict[str, object] = {}
    # Edge source for clustering, chosen from lineage counts (both produce
    # IDENTICAL components — parity-pinned by test_star_edges_cluster_parity):
    # * pairwise — read the shared/undecided rows straight off the compact
    #   scored checkpoint; cost ~ shared_rows. Right when entity cliques are
    #   sparse (the 203M-pair synthetic corpus: 123k shared rows).
    # * star — per-(block, entity) member->min edges re-derived from the
    #   block table; cost ~ block rows, INDEPENDENT of how quadratic the
    #   shared-pair mass is. Right when cliques are dense (the sample
    #   corpus: 3.66M shared pairs from 0.43M block rows; at web scale a
    #   hot entity makes shared_rows explode while block rows stay linear).
    n_shared = int((pipe.metrics.get("scored_pairs") or {}).get("shared_rows") or 0)
    use_star = compact_scored and n_shared > n_blocks

    def build_edges() -> DataFrame:
        if use_star:
            return star_match_edges(
                blocks, mention_entities, jw_slice, jw_threshold, jaccard_threshold
            )
        return split_match_edges(scored_base, jw_slice, jw_threshold, jaccard_threshold)

    clusters = pipe.stage(
        "entity_clusters",
        lambda: cluster_turns(turns, build_edges(), stats=cc_stats),
        params={"cluster_edges": "star-v1" if use_star else "pairwise-v1"},
    )
    pipe.metrics["cluster_edge_source"] = {"star": use_star, "shared_rows": n_shared, "block_rows": n_blocks}
    if cc_stats:  # empty when the stage was resumed from checkpoint
        pipe.metrics["clustering_convergence"] = dict(cc_stats)
    # pairs_all: the complete candidate-pair key set, for consumers that
    # need every pair rather than the live scored rows (the F1 audit's
    # labeled-pair denominator). Fused -> the lazy self-join plan (recomputed
    # by the consumer, outside the timed window); checkpointed -> the table.
    return {
        "clusters": clusters,
        "scored": scored,
        "pairs_all": pairs.select("key_a", "key_b"),
        # the salted blocks checkpoint (stage 'blocks' — its own materialized
        # stage after the two-stage split, distinct from the raw construction
        # checkpoint 'blocks_raw') — what candidate pairs were actually built
        # from; audits (blocking_recall family split) must use THIS, not the
        # raw checkpoint, so reported recall reflects salting loss honestly
        "blocks_salted": blocks,
        "metrics": pipe.metrics,
        "pipeline": pipe,
    }


def evaluate_f1(scored: DataFrame, clusters: DataFrame, truth: DataFrame) -> Dict[str, object]:
    """Pairwise F1 on labeled pairs *at the same blocking key*: the labeled
    pairs are the candidate pairs whose two turns both carry planted ground
    truth (FIXTURES.md §5); a pair is predicted positive when the two turns
    land in the same cluster.

    ``scored`` is any DataFrame carrying the complete candidate-pair key
    set as (key_a, key_b) — pass ``result["pairs_all"]``, NOT the scored
    checkpoint: under the compact layout the checkpoint keeps only the
    live (shared/undecided) rows, which would silently drop the
    decided-nonmatch labeled pairs from the fn count.

    When the corpus carries ``plant_style`` (hard-slice corpora, synth.py),
    a ``hard_slice`` sub-report covers the pairs with at least one
    hard-slice side (typo / typo_clean / hard_neg) — the pairs that the
    similarity features and the conflicting-entities veto must decide."""
    has_styles = "plant_style" in truth.columns
    t_cols = ["turn_key", "planted_entity"] + (["plant_style"] if has_styles else [])
    t = with_turn_key(truth).select(*t_cols)

    def side(suffix: str) -> DataFrame:
        renames = {"turn_key": f"key_{suffix}", "planted_entity": f"entity_{suffix}", "plant_style": f"style_{suffix}"}
        return t.select(*[F.col(c).alias(renames[c]) for c in t_cols])

    labeled = (
        scored.select("key_a", "key_b").dropDuplicates(["key_a", "key_b"])
        .join(side("a"), "key_a")
        .join(side("b"), "key_b")
        .filter(F.col("entity_a").isNotNull() & F.col("entity_b").isNotNull())
        .withColumn("same_entity", F.col("entity_a") == F.col("entity_b"))
    )
    c = clusters.select("turn_key", "cluster_id")
    predicted = (
        labeled.join(c.withColumnRenamed("turn_key", "key_a").withColumnRenamed("cluster_id", "cluster_a"), "key_a")
        .join(c.withColumnRenamed("turn_key", "key_b").withColumnRenamed("cluster_id", "cluster_b"), "key_b")
        .withColumn("predicted", F.col("cluster_a") == F.col("cluster_b"))
    )
    if has_styles:
        hard = F.col("style_a").isin("typo", "typo_clean", "hard_neg") | F.col(
            "style_b"
        ).isin("typo", "typo_clean", "hard_neg")
        predicted = predicted.withColumn("hard", hard)
    else:
        predicted = predicted.withColumn("hard", F.lit(False))

    def counts(pred: F.Column, truth_pos: F.Column, within: F.Column):
        return [
            F.sum(F.when(within & pred & truth_pos, 1).otherwise(0)),
            F.sum(F.when(within & pred & ~truth_pos, 1).otherwise(0)),
            F.sum(F.when(within & ~pred & truth_pos, 1).otherwise(0)),
            F.sum(F.when(within, 1).otherwise(0)),
        ]
    # one aggregation job covers overall + hard slice
    aggs = counts(F.col("predicted"), F.col("same_entity"), F.lit(True)) + counts(
        F.col("predicted"), F.col("same_entity"), F.col("hard")
    )
    row = predicted.agg(*aggs).collect()[0]

    def report(tp, fp, fn, pairs) -> Dict[str, object]:
        tp, fp, fn = tp or 0, fp or 0, fn or 0
        pairs = int(pairs or 0)
        # An EMPTY slice must not read as a perfect score: earlier rounds
        # emitted f1=1.0 for unplanted hard slices and LADDER.md readers
        # concluded the slice passed at every rung (VERDICT r4 "What's
        # wrong" item 3). Zero labeled pairs -> metrics are n/a, flagged.
        if pairs == 0:
            return {
                "tp": 0, "fp": 0, "fn": 0, "labeled_pairs": 0,
                "precision": None, "recall": None, "f1": None,
                "planted": False,
            }
        precision = tp / (tp + fp) if tp + fp else 1.0
        recall = tp / (tp + fn) if tp + fn else 1.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        return {
            "tp": int(tp),
            "fp": int(fp),
            "fn": int(fn),
            "labeled_pairs": pairs,
            "precision": round(precision, 6),
            "recall": round(recall, 6),
            "f1": round(f1, 6),
        }

    out = report(row[0], row[1], row[2], row[3])
    if has_styles:
        out["hard_slice"] = report(row[4], row[5], row[6], row[7])
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
    blocks: Optional[DataFrame] = None,
    clusters: Optional[DataFrame] = None,
) -> Dict[str, object]:
    """Fraction of ALL ground-truth positive pairs that blocking put into
    the candidate table (north_rule audit): every fn/tp count in the F1
    report is conditional on the pair having been blocked together, so a
    true pair blocking misses is invisible there — this report makes that
    loss explicit (fn=0 claims stop being conditional on blocking luck).

    ``caught_true_pairs`` = tp + fn from :func:`evaluate_f1` (same-entity
    labeled pairs present among candidates). Denominators are analytic —
    sums of C(g, 2) over group sizes — so no quadratic pair table is ever
    materialized. Two universes are reported because the north rule's key
    structurally includes (tool, role):

    * ``recall`` — against same-entity pairs WITH the same (tool, role):
      the rule-scoped number, isolating genuine blocking luck (token
      overlap, DF caps, salting, band bucketing) from the deliberate key
      structure;
    * ``recall_unscoped`` — against ALL same-entity pairs, quantifying
      what the (tool, role) key constraint itself excludes.

    With ``blocks`` (the salted block table), a second count restricted to
    token-family keys splits the recall by key family (band keys carry the
    'mh<band>#' prefix). With ``clusters``, ``cluster_recall`` /
    ``cluster_recall_unscoped`` report the fraction of true pairs that END
    UP in the same cluster — the unconditional end-to-end number:
    transitive clustering can recover pairs blocking never compared (two
    surfaces of one entity with disjoint tokens merge through any chain of
    matched intermediates), so this can exceed blocking recall; both
    numerators stay analytic (C(g,2) over (cluster, entity) group sizes)."""
    t = with_turn_key(truth).filter(F.col("planted_entity").isNotNull()).select(
        "turn_key", "planted_entity", "tool", "role"
    )

    def pair_total(group_cols) -> int:
        sizes = t.groupBy(*group_cols).agg(F.count("*").alias("g"))
        row = sizes.agg(F.sum((F.col("g") * (F.col("g") - 1) / 2).cast("long")).alias("n")).collect()[0]
        return int(row["n"] or 0)

    total_scoped = pair_total(["planted_entity", "tool", "role"])
    total_all = pair_total(["planted_entity"])
    out: Dict[str, object] = {
        "true_pairs_total": total_all,
        "true_pairs_same_keyspace": total_scoped,
        "true_pairs_blocked": int(caught_true_pairs),
        "recall": round(caught_true_pairs / total_scoped, 6) if total_scoped else 1.0,
        "recall_unscoped": round(caught_true_pairs / total_all, 6) if total_all else 1.0,
    }
    if blocks is not None:
        # the family split re-generates token-only candidate pairs WITH a
        # distinct — measured ~2x the whole F1 eval at 203M pairs / 2 cores.
        # It is an audit, so callers gate it by pair volume (see main()).
        token_only = blocks.filter(~F.col("block_key").rlike("^mh[0-9]+#"))
        tp_pairs = candidate_pairs(token_only)  # dedupe=True: a set, small-side audit
        caught_token = (
            tp_pairs.join(t.withColumnRenamed("turn_key", "key_a").withColumnRenamed("planted_entity", "entity_a"), "key_a")
            .join(t.withColumnRenamed("turn_key", "key_b").withColumnRenamed("planted_entity", "entity_b"), "key_b")
            .filter(F.col("entity_a") == F.col("entity_b"))
            .count()
        )
        out["token_key_recall"] = round(caught_token / total_scoped, 6) if total_scoped else 1.0
        out["band_key_recall_gain"] = round(out["recall"] - out["token_key_recall"], 6)
    if clusters is not None:
        tc = t.join(clusters.select("turn_key", "cluster_id"), "turn_key")

        def same_cluster_pairs(group_cols) -> int:
            sizes = tc.groupBy("cluster_id", *group_cols).agg(F.count("*").alias("g"))
            row = sizes.agg(F.sum((F.col("g") * (F.col("g") - 1) / 2).cast("long")).alias("n")).collect()[0]
            return int(row["n"] or 0)

        got_scoped = same_cluster_pairs(["planted_entity", "tool", "role"])
        got_all = same_cluster_pairs(["planted_entity"])
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
    parser.add_argument("--fuse-pairs", action=argparse.BooleanOptionalAction, default=True, help="skip the candidate-pair checkpoint and feed the self-join plan straight into scoring (default; --no-fuse-pairs restores the per-stage pair checkpoint for finer resume)")
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
    result = run_er_pipeline(spark, args.workdir, transcripts, model=model, max_token_df=args.max_token_df, fuse_pairs=args.fuse_pairs, snm_window=args.snm_window)
    wall = time.time() - start  # the pipeline (all stages materialized)
    # row counts come from stage lineage — no extra count jobs in the
    # timed window; the F1 audit below reads the materialized checkpoints
    # and is timed separately (it is a verification pass, not a stage).
    sp_metrics = result["metrics"]["scored_pairs"]
    n_pairs = int(sp_metrics.get("pairs_full", sp_metrics["rows"]))
    eval_start = time.time()
    scores, recall_report = {}, None
    if not args.skip_eval:
        scores = evaluate_f1(result["pairs_all"], result["clusters"], transcripts)
        scores["bcubed"] = {
            "scoped": bcubed(result["clusters"], transcripts, scope_cols=("tool", "role")),
            "unscoped": bcubed(result["clusters"], transcripts),
        }
        # family-split recount regenerates the token-pair set; worth it as an
        # audit below ~50M pairs, skipped (keys absent from the report) above
        family_split = n_pairs <= 50_000_000
        recall_report = blocking_recall(
            transcripts,
            caught_true_pairs=scores["tp"] + scores["fn"],
            blocks=result["blocks_salted"] if family_split else None,
            clusters=result["clusters"],
        )
    eval_wall = time.time() - eval_start
    report = {
        "n_convs": n_convs,
        "n_turns": int(result["metrics"]["turns_normalized"]["rows"]),
        "pairs_scored": n_pairs,
        "wall_seconds": round(wall, 2),
        "pairs_per_second": round(n_pairs / wall, 1),
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
