"""Pairwise scoring: candidate pairs -> match edges.

Features per north_star: batched Jaro-Winkler + Levenshtein on normalized
text, token Jaccard, and the pilsner compiled-dictionary hit (shared
resolved entity from mention extraction — the feature that separates the
hard ambiguous pairs, e.g. identical 'conflicting refrigerator' surfaces
belonging to different entities).

Match rule: ``shared_entity | similarity_match(...)`` — a shared
dictionary entity matches; otherwise near-duplicate text matches unless
the two sides resolved to disjoint entity sets. Thresholds are engine
parameters surfaced in pipeline params/lineage.

Physical shape: a two-stage split plan (see the comment block below).
Stage 1 (``score_pairs_base``) joins the per-turn feature table twice on
turn_key — broadcast hash joins when the caller knows the table fits —
and computes the set features in the JVM; stage 2
(``jw_scores_for_undecided``) runs the JW/Levenshtein kernels (one Arrow
round-trip per batch) on the undecided slice only. Edges come from
``split_match_edges`` (pairwise) or ``star_match_edges`` (star-sparsified
shared-entity cliques); no step joins the slice back to the pair rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pilsner_spark.functions.similarity import (
    jaro_winkler_udf,
    levenshtein_ratio,
    token_jaccard,
)
from pilsner_spark.operators.blocking import tokens_col


def turn_features(turns: DataFrame, mentions_entities: DataFrame) -> DataFrame:
    """One row per turn: normalized text, token set (plus its xxhash64
    image), resolved entity set.

    ``htokens`` exists because the pairwise jaccard runs O(|pairs|) times
    while tokenization runs O(|turns|) times: hashing each token once here
    lets the hot loop intersect fixed-width longs instead of strings
    (measured ~8x cheaper per pair; 64-bit collisions are negligible for a
    similarity feature)."""
    return (
        turns.select("turn_key", "norm_text")
        .withColumn("tokens", F.array_distinct(tokens_col("norm_text")))
        .withColumn("htokens", F.transform("tokens", lambda t: F.xxhash64(t)))
        .join(mentions_entities.select("turn_key", "mention_entities"), "turn_key", "left")
        .withColumn("mention_entities", F.coalesce("mention_entities", F.array()))
    )


# -- split scored plan -------------------------------------------------------
#
# Shipping every pair row through the ArrowEvalPython node for the JW UDF
# (even with inputs masked to null on the ~100% decided rows) is a
# per-row serialization + pipeline-barrier tax on the dominant stage. So
# scoring is split in two: stage 1 computes the cheap set features with NO
# Python in the plan (pure whole-stage codegen) and is checkpointed;
# stage 2 re-reads the checkpoint with a PUSHED undecided=true filter and
# runs the character-level kernels on that slice only. This is a plan
# split rather than a conditional because `F.when(cond, udf(...))`
# evaluates the UDF on all rows (Catalyst extracts Python UDFs into an
# ArrowEvalPython node that runs before the conditional projection) — and
# a same-plan filter+union would recompute the join subtree twice
# (Catalyst does not materialize common subtrees).


def similarity_match(jw_threshold: float = 0.92, jaccard_threshold: float = 0.6):
    """The similarity half of the match rule (the other half is
    ``shared_entity``): near-duplicate text matches — UNLESS both sides
    resolved to disjoint entity sets (``conflicting_entities``), which
    vetoes it: on template-heavy corpora (same boilerplate around
    different product names) similarity alone would merge distinct
    entities."""
    return (
        ~F.col("conflicting_entities")
        & (F.col("jw") >= jw_threshold)
        & (F.col("jaccard") >= jaccard_threshold)
    )


def undecided_expr(jaccard_threshold: float = 0.6):
    """Rows where the cheap set features leave the match decision open: a
    shared-entity pair matches regardless; a pair far below the jaccard
    gate cannot reach it (0.5 safety factor)."""
    return ~F.col("shared_entity") & (F.col("jaccard") >= jaccard_threshold * 0.5)


def score_pairs_base(
    pairs: DataFrame,
    features: DataFrame,
    jaccard_threshold: float = 0.6,
    broadcast_features: bool = False,
) -> DataFrame:
    """Stage 1 of the split plan: set features for every candidate pair —
    (shared_entity, conflicting_entities, jaccard, undecided). Plan shape:
    scan -> two (broadcast) hash joins -> project; zero Python, zero extra
    Exchange when ``broadcast_features``. The join payload is keys + token
    hashes + entity sets only: the dominant cost is copying it once per
    pair, and norm_text (needed only by the undecided slice) would double
    it."""

    def side(suffix: str) -> DataFrame:
        return features.select(
            F.col("turn_key").alias(f"key_{suffix}"),
            F.col("htokens").alias(f"htokens_{suffix}"),
            F.col("mention_entities").alias(f"entities_{suffix}"),
        )

    fa, fb = side("a"), side("b")
    if broadcast_features:
        fa, fb = F.broadcast(fa), F.broadcast(fb)
    return (
        pairs.join(fa, "key_a")
        .join(fb, "key_b")
        .withColumn("shared_entity", F.arrays_overlap("entities_a", "entities_b"))
        .withColumn(
            "conflicting_entities",
            (F.size("entities_a") > 0) & (F.size("entities_b") > 0) & ~F.col("shared_entity"),
        )
        .withColumn("jaccard", token_jaccard(F.col("htokens_a"), F.col("htokens_b")))
        .withColumn("undecided", undecided_expr(jaccard_threshold))
        .select("key_a", "key_b", "shared_entity", "conflicting_entities", "jaccard", "undecided")
    )


def jw_scores_for_undecided(
    base: DataFrame, features: DataFrame, broadcast_features: bool = False
) -> DataFrame:
    """Stage 2: Jaro-Winkler + Levenshtein on the undecided slice only.
    Reading ``base`` from its checkpoint pushes undecided=true into the
    parquet scan; the slice is deduplicated (duplicate pairs from
    candidate_pairs(dedupe=False) would otherwise multiply rows through
    the later join-back) and norm_text arrives via two (broadcast) hash
    joins sized by the slice, not the pair table."""
    und = (
        base.filter(F.col("undecided"))
        .select("key_a", "key_b", "conflicting_entities", "jaccard")
        .dropDuplicates(["key_a", "key_b"])
    )
    na = features.select(F.col("turn_key").alias("key_a"), F.col("norm_text").alias("norm_a"))
    nb = features.select(F.col("turn_key").alias("key_b"), F.col("norm_text").alias("norm_b"))
    if broadcast_features:
        na, nb = F.broadcast(na), F.broadcast(nb)
    return (
        und.join(na, "key_a")
        .join(nb, "key_b")
        .withColumns(
            {
                "lev_ratio": F.coalesce(levenshtein_ratio(F.col("norm_a"), F.col("norm_b")), F.lit(0.0)),
                "jw": F.coalesce(jaro_winkler_udf(F.col("norm_a"), F.col("norm_b")), F.lit(0.0)),
            }
        )
        .select("key_a", "key_b", "conflicting_entities", "jaccard", "lev_ratio", "jw")
    )


def split_match_edges(
    base: DataFrame,
    jw_scores: DataFrame,
    jw_threshold: float = 0.92,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Match edges without joining the slice back to the pair table:
    decided matches are exactly the shared-entity pairs (jw=0 elsewhere),
    similarity matches live entirely in the jw slice (which carries its
    own jaccard/conflict columns). The two sets are disjoint by
    construction (the slice is ~shared_entity); distinct() collapses
    duplicate pairs on the small edge set."""
    shared = base.filter(F.col("shared_entity")).select("key_a", "key_b")
    sim = jw_scores.filter(similarity_match(jw_threshold, jaccard_threshold)).select("key_a", "key_b")
    return shared.union(sim).distinct()


def star_shared_edges(blocks: DataFrame, turn_entities: DataFrame) -> DataFrame:
    """Connectivity-equivalent sparsification of the shared-entity match
    edges: per (block key, entity) group, connect every member turn to the
    group's MINIMUM turn (the hub) instead of to every other member.

    Why it's exact: a shared-entity match edge exists iff two turns share a
    block AND an entity (``shared_entity`` over candidate pairs) — i.e.
    the pairwise edges form a clique on each (block, entity) group, and a
    star spans a clique's vertices with identical transitive closure, so
    connected components are unchanged (parity-pinned by
    test_star_edges_cluster_parity).

    Why it matters: the pairwise edge mass is quadratic in group size
    (millions of edges on the synthetic corpus; the dominant hidden cost of
    the clustering stage was materializing it), the star is LINEAR in block
    membership rows — the same clique-to-linear move the dedup family makes
    with bucketed pair expansion. Pass the SAME salted block view candidate
    pairs were built from, so edge scope matches pair scope exactly.

    Plan shape: the per-turn entity sets join onto the block rows (a
    broadcast hash join when the caller hints ``turn_entities``, which is
    O(turns)), and the hub is a window min over (block, entity) — ONE
    shuffle, no aggregate joined back. The result is a multiset: a
    (hub, member) edge repeats once per block the two turns share. Nothing
    dedups it, because connected components neither needs an edge set nor
    pays for repeats (``operators/clustering.connected_components``)."""
    group = Window.partitionBy("block_key", "entity")
    return (
        blocks.join(turn_entities.select("turn_key", "mention_entities"), "turn_key")
        .select("block_key", "turn_key", F.explode("mention_entities").alias("entity"))
        .withColumn("hub", F.min("turn_key").over(group))
        .filter(F.col("turn_key") != F.col("hub"))
        .select(F.col("hub").alias("key_a"), F.col("turn_key").alias("key_b"))
    )


def star_match_edges(
    blocks: DataFrame,
    turn_entities: DataFrame,
    jw_scores: DataFrame,
    jw_threshold: float = 0.92,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Full match-edge multiset for clustering, with the shared-entity
    component sparsified to stars (``star_shared_edges``) and the
    similarity component taken pairwise from the tiny jw slice — same
    components as ``split_match_edges``, linear edge mass, and no dedup
    shuffle (see ``star_shared_edges``)."""
    sim = jw_scores.filter(similarity_match(jw_threshold, jaccard_threshold)).select("key_a", "key_b")
    return star_shared_edges(blocks, turn_entities).unionByName(sim)


def threshold_sweep(
    pairs: DataFrame,
    thresholds,
    score_col: str = "score",
    label_col: str = "label",
    score_decimals: int = 9,
) -> DataFrame:
    """Distributed precision/recall curve: confusion counts + P/R/F1 at
    every threshold, from ONE pass over the pair mass.

    A pair is predicted positive at threshold t when score >= t; truth is
    ``label_col`` >= 0.5. Returns EXACTLY one row per threshold — including
    on an empty pair table, where every confusion count is 0 and the
    0-denominator conventions apply — as
    (threshold, tp, fp, fn, tn, precision, recall, f1), metrics rounded to
    6 dp (0-denominator conventions: precision/recall are 1.0 with no
    predicted/actual positives, matching evaluate_f1).

    Pairs with a NULL score or NULL label are EXCLUDED from all four
    confusion counts (they are filtered explicitly before the histogram,
    not silently nulled out of the sums): an unscored or unlabeled pair has
    no defined position on a PR curve. Callers needing the exclusion count
    should difference ``pairs.count()`` against ``tp+fp+fn+tn`` at any one
    threshold.

    Physical shape — the part that matters at 10^12 pairs: the pair table
    is aggregated ONCE into an O(distinct rounded scores) histogram
    (hash agg, map-side partials), and the threshold sweep runs over that
    tiny histogram x len(thresholds) — the pair mass is never re-scanned
    per threshold and never expands. Scores are rounded to
    ``score_decimals`` before histogramming and thresholds compare
    against the rounded value. Honest bound: the default 9 dp keeps the
    repo's pre-rounded similarity scores bit-exact but does NOT compress
    genuinely continuous scores (random doubles stay distinct at 9 dp) —
    for a model-score column, pass 4 (caps the histogram at ~10^4 buckets,
    far finer than any PR curve needs, so the histogram x thresholds
    stream stays trivially small)."""
    t_df = pairs.sparkSession.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    hist = (
        pairs.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            F.round(F.col(score_col), score_decimals).alias("s"),
            (F.col(label_col).cast("double") >= 0.5).alias("pos"),
        )
        .groupBy("s", "pos")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    conf = (
        F.broadcast(t_df)
        .join(hist, F.lit(True))
        .groupBy("threshold")
        .agg(
            F.sum(F.when((F.col("s") >= F.col("threshold")) & F.col("pos"), F.col("n")).otherwise(F.lit(0))).alias("tp"),
            F.sum(F.when((F.col("s") >= F.col("threshold")) & ~F.col("pos"), F.col("n")).otherwise(F.lit(0))).alias("fp"),
            F.sum(F.when((F.col("s") < F.col("threshold")) & F.col("pos"), F.col("n")).otherwise(F.lit(0))).alias("fn"),
            F.sum(F.when((F.col("s") < F.col("threshold")) & ~F.col("pos"), F.col("n")).otherwise(F.lit(0))).alias("tn"),
        )
    )
    # an empty histogram (empty input, or all-null scores/labels) must still
    # yield one all-zero row per threshold, not zero rows: re-anchor on the
    # threshold table (both sides are O(len(thresholds)) here — trivial join)
    conf = t_df.join(conf, "threshold", "left").select(
        "threshold",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("tp", "fp", "fn", "tn")],
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(1.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fp"))
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(1.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fn"))
    )
    return (
        conf.withColumn("p", prec)
        .withColumn("r", rec)
        .select(
            "threshold",
            "tp",
            "fp",
            "fn",
            "tn",
            F.round(F.col("p"), 6).alias("precision"),
            F.round(F.col("r"), 6).alias("recall"),
            F.round(
                F.when(F.col("p") + F.col("r") == 0, F.lit(0.0)).otherwise(
                    2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
                ),
                6,
            ).alias("f1"),
        )
    )
