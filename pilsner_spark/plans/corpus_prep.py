"""End-to-end training-data preparation plan: stats -> dedup ->
decontaminate -> quality-filter -> split -> pack, with the same
per-stage checkpoint / lineage / resume machinery as the ER pipeline
(plans/pipeline.Pipeline) — the corpus twin of the north_rule's
"every stage resumable with lineage + metrics" contract.

This composes the training-data operators the driver brief mandates into
the pipeline a 100 TB pretraining-corpus build actually runs:

0. ``c4_clean`` (optional, ``c4_params``) — C4-style line-level cleaning
   (text_filters.c4_line_filter) BEFORE everything else: survivors
   continue with cleaned text, killed pages enter the drop ledger as
   ``c4_dropped``. Pure projection — adds no shuffle.
0.5. ``line_dedup`` (optional, ``line_dedup_params``) — corpus-level C4
   line dedup (text_filters.cross_doc_line_dedup): repeated lines keep
   only their canonical occurrence; docs stripped to nothing fall to the
   min_tokens gate downstream (the stage itself never drops documents).
1. ``doc_stats`` — per-document token/quality/lang/repetition signals
   (functions/text.py + operators/text_filters.repetition_stats): one
   projection plus one (doc_id, gram) hash aggregation.
2. ``drops`` — the removal ledger, one row per (doc_id, reason):
   - ``exact_dup``: md5-identical text, group keeper = min doc_id;
   - ``near_dup``: MinHash-LSH candidates VERIFIED by token Jaccard
     (LSH alone over-fires; candidates are cheap, verification joins
     only the candidate pair set against the corpus — O(pairs), not
     O(N^2)), then made transitive by connected components
     (dedup.neardup_groups) so a doc chained to a keeper never survives;
   - ``contaminated``: shares a word n-gram with the benchmark/eval set
     (text_filters.decontaminate — benchmark grams broadcast).
   Nothing is dropped silently: the ledger IS a checkpointed stage, and
   its per-reason counts are a fact in its lineage, so a resume reports
   them without recounting.
3. ``corpus_filtered`` — anti-join the ledger, then threshold quality /
   repetition / length signals (reasons counted before the drop); with
   ``gopher_params`` set, the full Gopher rule verdict
   (text_filters.gopher_quality_rules) rides the stats stage as extra
   pure-projection columns and gates the filter too.
4. ``splits`` — deterministic hash split (packing.deterministic_split):
   a doc's split never changes when neighbors come or go.
4.5. ``dsir_selected`` (optional, ``dsir_target`` + ``dsir_top_k``) —
   DSIR data selection (text_filters.importance_weights +
   select_top_k_by_weight) AFTER filtering: only the k most
   target-domain-like survivors proceed to split/pack.
4.75. ``bpe_counts`` (optional, ``bpe_merges``) — a BPE tokenizer is
   TRAINED on the selected corpus (operators/tokenizer.learn_bpe_merges)
   and per-doc BPE token counts replace whitespace counts as the packing
   currency; learning + counting checkpoint as one stage, so resume
   never retrains.
5. ``packed_<split>`` — token-budget offset packing per split
   (packing.pack_by_budget, bucketed two-level prefix sum — no
   single-partition window).

Run standalone (also the spark-submit entry point):

    python -m pilsner_spark.plans.corpus_prep --sf-dir /root/testdata/sf0.01 \
        --workdir /tmp/corpus_prep

Reference anchor: pgolo/pilsner has no corpus operators; this plan is the
driver brief's training-data mandate composed end-to-end.
"""

from __future__ import annotations

import argparse
import json
import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pilsner_spark.functions.similarity import token_jaccard
from pilsner_spark.functions.text import lang_id, quality_score, tokens
from pilsner_spark.operators.dedup import (
    minhash_bands,
    minhash_candidate_pairs,
    neardup_groups,
)
from pilsner_spark.operators.packing import deterministic_split, pack_by_budget
from pilsner_spark.operators.text_filters import (
    c4_line_filter,
    cross_doc_line_dedup,
    decontaminate,
    gopher_quality_rules,
    importance_weights,
    repetition_stats,
    select_top_k_by_weight,
)
from pilsner_spark.plans.pipeline import Pipeline


def _exact_dup_drops(docs: DataFrame) -> DataFrame:
    """Non-keeper members of md5-identical text groups. One shuffle on the
    text hash; the keeper table re-joins on the same key (no second scan
    of text — the hash projection is reused)."""
    keyed = docs.select("doc_id", F.md5(F.col("text")).alias("text_md5"))
    keep = keyed.groupBy("text_md5").agg(F.min("doc_id").alias("keep_id"))
    return (
        keyed.join(keep, "text_md5")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", F.lit("exact_dup").alias("reason"), F.col("keep_id").cast("string").alias("detail"))
    )


def _near_dup_drops(
    docs: DataFrame,
    num_hashes: int,
    band_size: int,
    shingle_n: int,
    max_bucket_size: int,
    jaccard_threshold: float,
) -> DataFrame:
    """LSH candidates -> Jaccard verification -> transitive groups ->
    non-canonical members. Verification touches only the candidate pair
    set (joins it twice against the token projection — O(pairs)); CC runs
    on the verified edge set, O(duplicates)."""
    pairs = minhash_candidate_pairs(
        minhash_bands(docs, num_hashes=num_hashes, band_size=band_size, shingle_n=shingle_n),
        max_bucket_size=max_bucket_size,
    )
    toks = docs.select("doc_id", F.array_distinct(tokens(F.col("text"))).alias("ts"))
    verified = (
        pairs.join(toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ts_a")), "id_a")
        .join(toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("ts_b")), "id_b")
        .withColumn("jaccard", token_jaccard(F.col("ts_a"), F.col("ts_b")))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b")
    )
    groups = neardup_groups(verified)
    return groups.filter(F.col("doc_id") != F.col("canonical_id")).select(
        "doc_id", F.lit("near_dup").alias("reason"), F.col("canonical_id").cast("string").alias("detail")
    )


def run_corpus_prep(
    spark: SparkSession,
    workdir: str,
    docs: DataFrame,
    benchmark: Optional[DataFrame] = None,
    *,
    minhash_num_hashes: int = 12,
    minhash_band_size: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int = 200,
    neardup_jaccard: float = 0.7,
    decontam_n: int = 4,
    min_tokens: int = 5,
    min_quality: float = 0.2,
    max_dup_ngram_frac: float = 0.6,
    max_top_ngram_frac: float = 0.3,
    split_weights: Optional[Dict[str, int]] = None,
    pack_budget: int = 512,
    split_seed: str = "corpus",
    c4_params: Optional[dict] = None,
    line_dedup_params: Optional[dict] = None,
    gopher_params: Optional[dict] = None,
    dsir_target: Optional[DataFrame] = None,
    dsir_top_k: Optional[int] = None,
    dsir_buckets: int = 64,
    bpe_merges: Optional[int] = None,
) -> Dict[str, object]:
    """Run (or resume) the corpus-prep pipeline. ``docs`` needs (doc_id,
    text); ``benchmark`` (optional) is the eval set to decontaminate
    against. ``c4_params`` (optional) turns on a C4-style line-cleaning
    stage FIRST (kwargs for text_filters.c4_line_filter): kept documents
    continue with their cleaned text, killed documents enter the drop
    ledger as ``c4_dropped``. ``dsir_target`` + ``dsir_top_k`` (optional)
    add a DSIR data-selection stage LAST: the filtered corpus is scored
    against the target distribution and only the top-k weights proceed to
    split/pack. Returns {'packed': {split: DataFrame}, 'filtered':
    DataFrame, 'drops': DataFrame, 'metrics': dict, 'pipeline':
    Pipeline}. The returned tables read checkpoint generations: each
    stays readable through one later recompute of its stage on the same
    workdir, and a reused workdir holds at most two generations per
    table."""
    split_weights = split_weights or {"train": 8, "val": 1, "test": 1}
    params = {
        "minhash_num_hashes": minhash_num_hashes,
        "minhash_band_size": minhash_band_size,
        "shingle_n": shingle_n,
        "max_bucket_size": max_bucket_size,
        "neardup_jaccard": neardup_jaccard,
        "decontam_n": decontam_n,
        "min_tokens": min_tokens,
        "min_quality": min_quality,
        "max_dup_ngram_frac": max_dup_ngram_frac,
        "max_top_ngram_frac": max_top_ngram_frac,
        "split_weights": sorted(split_weights.items()),
        "pack_budget": pack_budget,
        "split_seed": split_seed,
        "has_benchmark": benchmark is not None,
        "c4": sorted(c4_params.items()) if c4_params else None,
        "line_dedup": sorted(line_dedup_params.items()) if line_dedup_params else None,
        "gopher": sorted(gopher_params.items()) if gopher_params else None,
        "dsir_top_k": dsir_top_k,
        "dsir_buckets": dsir_buckets,
        "has_dsir_target": dsir_target is not None,
        "bpe_merges": bpe_merges,
    }
    pipe = Pipeline(spark, workdir, params)
    docs = docs.select("doc_id", "text")

    c4_dropped = None
    if c4_params is not None:
        c4_out = pipe.stage("c4_clean", lambda: c4_line_filter(docs, **c4_params))
        c4_dropped = c4_out.filter(~F.col("doc_kept")).select(
            "doc_id",
            F.lit("c4_dropped").alias("reason"),
            F.concat(F.lit("lines_kept="), F.col("n_lines_kept").cast("string")).alias("detail"),
        )
        # downstream stages see the CLEANED text of surviving documents
        docs = c4_out.filter(F.col("doc_kept")).select(
            "doc_id", F.col("cleaned_text").alias("text")
        )

    if line_dedup_params is not None:
        # corpus-level C4 line dedup AFTER per-doc line cleaning: repeated
        # lines keep only their canonical occurrence; docs stripped to
        # nothing are NOT dropped here — the min_tokens quality gate kills
        # them downstream with its own ledger reason. Text re-entering the
        # flow is the deduped rejoin.
        ld_out = pipe.stage(
            "line_dedup", lambda: cross_doc_line_dedup(docs, **line_dedup_params)
        )
        docs = ld_out.select("doc_id", F.col("cleaned_text").alias("text"))

    def build_stats() -> DataFrame:
        base = docs.select(
            "doc_id",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            quality_score(F.col("text")).alias("quality"),
            lang_id(F.col("text")).alias("lang_pred"),
        )
        rep = repetition_stats(docs, n=2)
        out = base.join(rep, "doc_id")
        if gopher_params is not None:
            # the Gopher verdict is a pure projection — riding the stats
            # stage adds zero shuffles (the join key is the projection's id)
            gq = gopher_quality_rules(docs, **gopher_params).select("doc_id", "gopher_keep")
            out = out.join(gq, "doc_id")
        return out

    stats = pipe.stage(
        "doc_stats",
        build_stats,
        facts=lambda out: {
            "gopher_rejected": out.filter(~F.col("gopher_keep")).count() if gopher_params is not None else None
        },
    )

    def build_drops() -> DataFrame:
        out = _exact_dup_drops(docs).unionByName(
            _near_dup_drops(
                docs, minhash_num_hashes, minhash_band_size, shingle_n,
                max_bucket_size, neardup_jaccard,
            )
        )
        if benchmark is not None:
            contaminated = decontaminate(docs, benchmark.select("doc_id", "text"), n=decontam_n)
            out = out.unionByName(
                contaminated.select(
                    "doc_id", F.lit("contaminated").alias("reason"), F.col("first_hit").alias("detail")
                )
            )
        if c4_dropped is not None:
            out = out.unionByName(c4_dropped)
        # one ledger row per (doc, reason); a doc may carry several reasons
        return out.dropDuplicates(["doc_id", "reason"])

    drops = pipe.stage(
        "drops",
        build_drops,
        facts=lambda out: {
            "reason_counts": {r["reason"]: r["n"] for r in out.groupBy("reason").agg(F.count("*").alias("n")).collect()}
        },
    )
    reason_counts = pipe.metrics["drops"]["reason_counts"]

    def build_filtered() -> DataFrame:
        quality_ok = (
            (F.col("n_tokens") >= min_tokens)
            & (F.col("quality") >= min_quality)
            & (F.col("dup_ngram_frac") <= max_dup_ngram_frac)
            & (F.col("top_ngram_frac") <= max_top_ngram_frac)
        )
        if gopher_params is not None:
            quality_ok = quality_ok & F.col("gopher_keep")
        return (
            docs.join(stats, "doc_id")
            .join(drops.select("doc_id").distinct(), "doc_id", "left_anti")
            .filter(quality_ok)
        )

    filtered = pipe.stage("corpus_filtered", build_filtered)

    selected = filtered
    if dsir_target is not None and dsir_top_k:
        def build_dsir() -> DataFrame:
            scored = importance_weights(
                filtered.select("doc_id", "text"),
                dsir_target.select("doc_id", "text"),
                n_buckets=dsir_buckets,
            )
            return select_top_k_by_weight(scored, dsir_top_k)

        dsir = pipe.stage("dsir_selected", build_dsir)
        # selection keeps only ids + weights; re-attach the filtered columns
        selected = filtered.join(dsir.select("doc_id"), "doc_id")

    # the packing currency: whitespace counts by default; with
    # bpe_merges set, a tokenizer is TRAINED on the selected corpus and
    # per-doc BPE token counts become the currency (the counts a real
    # sequence packer bills against — whitespace counts misfill bins by
    # the words-per-token ratio). Learning + counting checkpoint as one
    # stage; resume skips the relearning entirely.
    token_source = selected.select("doc_id", "n_tokens")
    if bpe_merges:
        from pilsner_spark.operators.tokenizer import bpe_token_count, learn_bpe_merges

        def build_bpe() -> DataFrame:
            merge_rows = (
                learn_bpe_merges(selected.select("doc_id", "text"), n_merges=bpe_merges)
                .orderBy("rank")
                .collect()
            )
            pairs = [(r.left, r.right) for r in merge_rows]
            return bpe_token_count(selected.select("doc_id", "text"), pairs)

        bpe = pipe.stage("bpe_counts", build_bpe)
        token_source = bpe.select("doc_id", F.col("n_bpe_tokens").alias("n_tokens"))

    # assignment only (doc_id, n_tokens, split): the corpus text already
    # lives in the corpus_filtered checkpoint — re-materializing it here
    # would double the pipeline's largest write for a 1-column projection
    splits = pipe.stage(
        "splits",
        lambda: deterministic_split(token_source, "doc_id", split_weights, seed=split_seed),
    )

    packed: Dict[str, DataFrame] = {}
    for label in sorted(split_weights):
        def build_packed(label=label) -> DataFrame:
            part = splits.filter(F.col("split") == label).select(
                "doc_id",
                F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("sk"),
                F.col("n_tokens"),
            )
            return pack_by_budget(part, "sk", "doc_id", "n_tokens", budget=pack_budget)

        packed[label] = pipe.stage(f"packed_{label}", build_packed)

    # stage lineage counts give the corpus sizes for free (no extra count
    # jobs): c4_clean is row-for-row with the raw input when present,
    # doc_stats with the (possibly C4-cleaned) working corpus
    n_input = (
        pipe.metrics.get("c4_clean", {}).get("rows")
        if c4_params is not None
        else pipe.metrics.get("doc_stats", {}).get("rows")
    )
    n_filtered = pipe.metrics.get("corpus_filtered", {}).get("rows")
    n_selected = pipe.metrics.get("dsir_selected", {}).get("rows")
    pipe.metrics["summary"] = {
        "n_input_docs": n_input,
        "drop_reasons": reason_counts,
        "n_dropped_ledger": sum(reason_counts.values()),
        "n_retained": n_filtered,
        "retention_rate": round(n_filtered / n_input, 6) if n_filtered is not None and n_input else None,
        "n_dsir_selected": n_selected,
        "gopher_rejected": pipe.metrics["doc_stats"]["gopher_rejected"],
    }
    return {
        "packed": packed,
        "filtered": filtered,
        "selected": selected,
        "splits": splits,
        "drops": drops,
        "metrics": pipe.metrics,
        "pipeline": pipe,
    }


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    parser.add_argument("--workdir", default="/tmp/corpus_prep")
    parser.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    parser.add_argument("--pack-budget", type=int, default=512)
    parser.add_argument("--no-benchmark", action="store_true",
                        help="skip the decontamination stage")
    parser.add_argument("--c4", action="store_true",
                        help="turn on the C4 line-cleaning stage (the synthetic "
                        "corpus has no line structure, so ' table '/' line ' are "
                        "deterministically re-punctuated into sentence breaks "
                        "first — same stand-in as the c4_line_filter oracle query)")
    parser.add_argument("--line-dedup", action="store_true",
                        help="turn on corpus-level line dedup (cross_doc_line_dedup): "
                        "every line occurring twice or more across the corpus keeps "
                        "only its canonical occurrence (uses the same ' table '/' line ' "
                        "re-punctuation stand-in as --c4 when --c4 is off)")
    parser.add_argument("--gopher", action="store_true",
                        help="apply the full Gopher quality-rule verdict "
                        "(text_filters.gopher_quality_rules) alongside the "
                        "base quality thresholds, with word/stopword/"
                        "mean-length rules scaled to the 10-99-token "
                        "synthetic corpus")
    parser.add_argument("--bpe-merges", type=int, default=0,
                        help="> 0 trains a BPE tokenizer (this many merges) on the "
                        "selected corpus and packs by per-doc BPE token counts "
                        "instead of whitespace counts")
    parser.add_argument("--dsir-top-frac", type=float, default=0.0,
                        help="> 0 turns on DSIR selection: keep this fraction of "
                        "the input count, by importance weight vs the source='src0' "
                        "slice (the stand-in target domain)")
    args = parser.parse_args()

    from pilsner_spark.session import get_spark

    spark = get_spark(cpus=args.cpus)
    docs = spark.read.parquet(os.path.join(args.sf_dir, "documents.parquet"))
    bench = None if args.no_benchmark else docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs if args.no_benchmark else docs.filter(F.col("doc_id") % 50 != 0)
    c4_params = None
    if args.c4 or args.line_dedup:
        corpus = corpus.withColumn(
            "text", F.regexp_replace("text", " (table|line) ", ".\n")
        )
    line_dedup_params = {"min_occurrences": 2} if args.line_dedup else None
    if args.c4:
        c4_params = {
            "min_words_per_line": 3,
            "line_blocklist": ("vector",),
            "doc_blocklist": ("big data",),
            "min_lines_kept": 2,
        }
    gopher_params = None
    if args.gopher:
        gopher_params = {
            "min_words": 30,
            "max_words": 100_000,
            "min_mean_word_len": 4.0,
            "max_mean_word_len": 10.0,
            "min_alpha_word_frac": 0.9,
            "min_stopword_hits": 2,
        }
    dsir_target, dsir_top_k = None, None
    if args.dsir_top_frac > 0:
        dsir_target = docs.filter(F.col("source") == "src0").select("doc_id", "text")
        dsir_top_k = max(1, int(args.dsir_top_frac * corpus.count()))
    result = run_corpus_prep(spark, args.workdir, corpus, benchmark=bench,
                             pack_budget=args.pack_budget, c4_params=c4_params,
                             line_dedup_params=line_dedup_params,
                             gopher_params=gopher_params,
                             bpe_merges=args.bpe_merges or None,
                             dsir_target=dsir_target, dsir_top_k=dsir_top_k)
    out = {"metrics": result["metrics"]}
    print(json.dumps(out, default=str))


if __name__ == "__main__":
    main()
