"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship dictionary-mention scan over sf0.001 documents.
``queries()`` — one entry per implemented operator (SURVEY.md §2 inventory
plus the training-data-pipeline additions); each callable takes
(spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for EVERY query (no rows-only
entries): the span post-processing fold is oracled via a recursive CTE, the
mention pipeline via a SQL model of the dictionary semantics, and the
end-to-end ER clustering via the analytic component structure of a planted
corpus.

Engine-portable determinism rules used throughout: hashing via md5 (same
value in Spark and DuckDB), money aggregated as decimal(18,2), ratios
rounded in-query, ranking ties broken by id.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

_FLAGSHIP_WORDS = ["table", "query", "join", "spark", "data", "hash join"]


def _flagship_model():
    """Tiny dictionary over testdata vocabulary; single-token labels plus a
    bigram whose unigrams are absent, keeping the SQL oracle exact."""
    from pilsner_spark.core.dictionary import compile_specs, fields_from_dicts, rows_from_lines
    from pilsner_spark.core.model import CompiledModel
    from pilsner_spark.core.normalize import BYPASS

    fields = fields_from_dicts(
        [
            {"name": "entity_id", "include": True, "delimiter": None, "id_flag": True, "normalizer_flag": False, "value_flag": False},
            {"name": "label", "include": True, "delimiter": None, "id_flag": False, "normalizer_flag": False, "value_flag": True},
        ]
    )
    lines = [f"{w}\t{w}" for w in _FLAGSHIP_WORDS]
    rows = rows_from_lines(lines, compile_specs(fields))
    model = CompiledModel()
    model.add_normalizer("bypass", BYPASS)
    return model.compile_rows(rows, include_keywords=True)


def _mention_counts(spark: SparkSession, sf_dir: str, model=None, **scan_kwargs) -> DataFrame:
    """Q4/Q1 distributed scan aggregated per (doc, entity): the mention scan
    runs through the broadcast automaton; counts make it oracle-checkable.
    ``scan_kwargs`` pass through to extract_mentions_df (sharding, attr
    admission — the B10/Q7 entries reuse this shape)."""
    from pilsner_spark.operators.mentions import extract_mentions_df

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )
    mentions = extract_mentions_df(docs, model if model is not None else _flagship_model(), **scan_kwargs)
    return (
        mentions.select(F.col("conv_id").cast("bigint").alias("doc_id"), F.explode("entity_ids").alias("entity"))
        .groupBy("doc_id", "entity")
        .agg(F.count("*").alias("n_mentions"))
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dictionary-driven mention extraction (broadcast compiled
    model inside mapInPandas) over sf0.001 documents."""
    return _mention_counts(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_b3_projection_filter(spark, sf_dir):
    """B3: projection + include-filter + equality predicates (pushed to scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 30))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


def q_b4_dense_internal_ids(spark, sf_dir):
    """B4: dense internal ids in first-seen order (model.py:324-330):
    entity=o_custkey, line order=o_orderkey."""
    orders = _t(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(F.min("o_orderkey").alias("first_line"))
    w = Window.orderBy("first_line")
    return firsts.select("o_custkey", (F.dense_rank().over(w) - 1).alias("iid"))


def q_b6_list_explode_distinct(spark, sf_dir):
    """B6: delimited list split + explode + distinct (model.py:305)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.filter(F.split("text", " "), lambda t: t != ""))).alias("token"),
    )


def q_b7_attribute_melt(spark, sf_dir):
    """B7: wide->long attribute melt (store_attributes, model.py:285-307)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("n"),
        F.expr(
            "stack(3, 'brand', p_brand, 'type', p_type, 'size', cast(p_size as string)) as (attr_name, attr_value)"
        ),
    )


def q_b12_keyword_collisions(spark, sf_dir):
    """B12: collision detection + keyword union (make_keywords,
    utility.py:250-269): tokens shared across >1 source; per source the
    count of such shared tokens."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.array_distinct(F.filter(F.split("text", " "), lambda t: t != ""))).alias("token")
    ).distinct()
    shared = toks.groupBy("token").agg(F.countDistinct("source").alias("ns")).filter(F.col("ns") > 1)
    return (
        toks.join(shared.select("token"), "token", "left_semi")
        .groupBy("source")
        .agg(F.count("*").alias("n_shared_tokens"))
    )


def q_b14_compiled_model_tables(spark, sf_dir):
    """B14/B15: the compiled sample-dictionary synonyms table (model
    persistence is relational here; golden content ut_utility.py:219)."""
    from pilsner_spark.sources.sample_dictionary import build_sample_model

    rows = build_sample_model().to_tables()["synonyms"]
    return spark.createDataFrame(
        rows, "line_id bigint, iid bigint, entity_id string, normalizer string, norm_label string"
    )


def q_b13_distributed_compile(spark, sf_dir):
    """B1-B5/B13: the distributed dictionary compile path (dictionary_io):
    stable line ids -> dense first-seen internal ids (order from explicit
    line numbers, never partition layout) -> per-row normalizer routing +
    Arrow-UDF normalization. Dictionary derived from part (entity=p_brand,
    synonym=p_type) so the oracle is exact."""
    from pilsner_spark.core.normalize import normalizer_from_xml_string
    from pilsner_spark.sources.dictionary_io import assign_internal_ids_df, normalize_synonyms_df

    part = _t(spark, sf_dir, "part")
    w = Window.orderBy("p_partkey")
    rows = part.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("line_id"),
        F.col("p_brand").alias("entity_id"),
        F.col("p_type").alias("synonym"),
        F.lit(None).cast("string").alias("normalizer_tag"),
    )
    cf = normalizer_from_xml_string('<tokenizer name="cf"><setting name="cs" value="0"/></tokenizer>')
    compiled = normalize_synonyms_df(assign_internal_ids_df(rows), {"cf": cf}, {"cf": "cf"}, "cf")
    return compiled.select(
        "line_id", "iid", "entity_id", F.col("unit").alias("normalizer"), "norm_label"
    )


_B5_NORMALIZER_XML = """<tokenizer name="docnorm">
<setting name="cs" value="0"/>
<token to="" from="the"/>
<token to="sluggish" from="slow"/>
<split where="r" value="umn"/>
</tokenizer>"""


def q_b5_normalization(spark, sf_dir):
    """B5/Q3: synonym/text normalization under a sic-style unit
    (model.py:333-354): casefold + token removal + token rewrite +
    right-anchored split, as an Arrow UDF over documents."""
    from pilsner_spark.core.model import CompiledModel
    from pilsner_spark.core.normalize import normalizer_from_xml_string
    from pilsner_spark.operators.mentions import normalized_text_df

    model = CompiledModel()
    model.add_normalizer("docnorm", normalizer_from_xml_string(_B5_NORMALIZER_XML))
    docs = _t(spark, sf_dir, "documents")
    return normalized_text_df(docs, model).select("doc_id", "norm_text")


def q_b17_label_delete(spark, sf_dir):
    """B17: label delete (remove_node, utility.py:103-126): compile the
    flagship dictionary, delete 'query', scan — its mentions disappear."""
    from pilsner_spark.operators.mentions import extract_mentions_df

    model = _flagship_model()
    model.remove_label("query")
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), F.lit(0).alias("turn_idx"), F.col("text")
    )
    mentions = extract_mentions_df(docs, model)
    return (
        mentions.select(F.col("conv_id").cast("bigint").alias("doc_id"), F.explode("entity_ids").alias("entity"))
        .groupBy("doc_id", "entity")
        .agg(F.count("*").alias("n_mentions"))
    )


def q_b18_stoplist_scan(spark, sf_dir):
    """B18: stoplist (ignore_node, utility.py:128-149): 'join' is planted
    with IGNORE so standalone hits are suppressed, while the longer
    'hash join' entry still matches (golden behavior ut_utility.py:414-423)."""
    from pilsner_spark.operators.mentions import extract_mentions_df

    model = _flagship_model()
    model.ignore_label("join")
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), F.lit(0).alias("turn_idx"), F.col("text")
    )
    mentions = extract_mentions_df(docs, model)
    return (
        mentions.select(F.col("conv_id").cast("bigint").alias("doc_id"), F.explode("entity_ids").alias("entity"))
        .groupBy("doc_id", "entity")
        .agg(F.count("*").alias("n_mentions"))
    )


_ATTR_CATEGORIES = {
    "table": "object",
    "query": "op",
    "join": "op",
    "spark": "engine",
    "data": "object",
    "hash join": "op",
}


def _attr_model():
    """Flagship vocabulary with a category attribute column (B7 melt +
    Q6 attribute fetch)."""
    from pilsner_spark.core.dictionary import compile_specs, fields_from_dicts, rows_from_lines
    from pilsner_spark.core.model import CompiledModel
    from pilsner_spark.core.normalize import BYPASS

    fields = fields_from_dicts(
        [
            {"name": "entity_id", "include": True, "delimiter": None, "id_flag": True, "normalizer_flag": False, "value_flag": False},
            {"name": "label", "include": True, "delimiter": None, "id_flag": False, "normalizer_flag": False, "value_flag": True},
            {"name": "category", "include": True, "delimiter": None, "id_flag": False, "normalizer_flag": False, "value_flag": False},
        ]
    )
    lines = [f"{w}\t{w}\t{c}" for w, c in _ATTR_CATEGORIES.items()]
    rows = rows_from_lines(lines, compile_specs(fields))
    model = CompiledModel()
    model.add_normalizer("bypass", BYPASS)
    return model.compile_rows(rows, include_keywords=False)


def q_q6_attr_fetch(spark, sf_dir):
    """Q6: per-match attribute fetch (unpack_attributes, utility.py:337-379):
    mentions joined to the long attrs table (broadcast — dictionary side is
    tiny), aggregated per (doc, attr_value)."""
    from pilsner_spark.operators.mentions import extract_mentions_df

    model = _attr_model()
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), F.lit(0).alias("turn_idx"), F.col("text")
    )
    mentions = extract_mentions_df(docs, model)
    attrs = spark.createDataFrame(
        model.to_tables()["attrs"], "n bigint, iid bigint, attr_name string, attr_value string"
    ).filter(F.col("attr_name") == "category")
    return (
        mentions.select(F.col("conv_id").cast("bigint").alias("doc_id"), F.explode("line_ids").alias("n"))
        .join(F.broadcast(attrs), "n")
        .groupBy("doc_id", F.col("attr_value").alias("category"))
        .agg(F.count("*").alias("n_mentions"))
    )


def q_q2_semi_anti_filter(spark, sf_dir):
    """Q2: attrs_where include/exclude as semi/anti joins (utility.py:747-769):
    customers with an open order (include) and no F-status order (exclude)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    opens = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey"))
    fails = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c_custkey"))
    return (
        cust.join(opens, "c_custkey", "left_semi")
        .join(fails, "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_q4_mention_scan(spark, sf_dir):
    """Q4: the multi-pattern span scan (spot_entities, utility.py:399-521)
    distributed over documents, aggregated to oracle-checkable counts."""
    return _mention_counts(spark, sf_dir)


def q_q4_sharded_mention_scan(spark, sf_dir):
    """B10: the q4 scan with the dictionary split across 2 matcher shards
    (reference item_limit multi-trie, utility.py:192-195): N separate
    broadcasts, per-shard scans unioned before span merge. Shares q4's
    oracle verbatim — sharded ≡ unsharded is exactly the claim this entry
    proves (the flagship vocabulary has no cross-shard partial overlap:
    'join' inside 'hash join' is nested, which the span merge drops in
    both paths)."""
    return _mention_counts(spark, sf_dir, n_matcher_shards=2)


def q_q7_attr_admission(spark, sf_dir):
    """Q7: match admission by attribute predicates (utility.py:381-397,
    747-769): attrs_where include filter category='op' hoisted to a
    dictionary pre-filter before broadcast — only 'query'/'join'/'hash
    join' remain in the automaton; admitted spans equal the reference's
    per-match rejection because admission never depends on span position."""
    return _mention_counts(
        spark, sf_dir, model=_attr_model(), attrs_where={"+": {"category": ["op"]}}
    )


def q_q9_argmax_ties(spark, sf_dir):
    """Q9: disambiguation argmax with ties kept (utility.py:579-586):
    per user, the most frequent event type(s)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    return counts.withColumn("r", F.rank().over(w)).filter(F.col("r") == 1).select("user_id", "event_type", "n")


def q_q10_span_postprocess(spark, sf_dir):
    """Q10/Q11: nested-span drop + overlap reduction (utility.py:666-729)
    over synthetic span sets, spans derived deterministically from event
    values. Hash-exact: the recovery-list fold is oracled by a DuckDB
    recursive CTE (``_Q10_ORACLE``) that replays reduce_spans index-by-index."""
    from pyspark.sql import types as T

    from pilsner_spark.core.parse import reduce_spans

    ev = _t(spark, sf_dir, "events")
    spans = ev.select(
        (F.col("user_id")).alias("gid"),
        F.floor(F.col("value")).cast("int").alias("b"),
        (F.floor(F.col("value")) + (F.col("event_id") % 7) + 1).cast("int").alias("e"),
    )
    grouped = spans.groupBy("gid").agg(F.collect_set(F.struct("b", "e")).alias("ss"))

    def reduce_batch(batches):
        import pandas as pd

        for pdf in batches:
            out = {"gid": [], "b": [], "e": []}
            for gid, ss in zip(pdf["gid"], pdf["ss"]):
                segs = {(int(s["b"]), int(s["e"])) for s in ss}
                for b, e in sorted(reduce_spans(segs)):
                    out["gid"].append(gid)
                    out["b"].append(b)
                    out["e"].append(e)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [T.StructField("gid", T.LongType()), T.StructField("b", T.IntegerType()), T.StructField("e", T.IntegerType())]
    )
    return grouped.mapInPandas(reduce_batch, schema)


# -- ER pipeline (rows-only: iterative, non-SQL) ---------------------------


# The 7 distinct surfaces of the pilsner test-suite dictionary — planted
# one per document between 8-char md5-hex filler tokens, so the oracle can
# model the full two-normalizer mention pipeline (normalize -> leftmost-
# longest scan -> layer merge -> keyword disambiguation) in pure SQL: hex
# tokens can never match a surface or a disambiguation keyword.
_ER_SURFACES = [
    "awesome white refrigerators",
    "awesome white refrigeratorx",
    "conflicting refrigerator",
    "awesome white refrigerator",
    "awwsome white refrigerator",
    "it",
    "o",
]


def _er_planted_transcripts(spark, sf_dir):
    """One single-turn conversation per document (input_hint schema): the
    doc's planted surface between two 8-char md5-hex filler tokens."""
    docs = _t(spark, sf_dir, "documents")
    lab = F.element_at(
        F.array(*[F.lit(x) for x in _ER_SURFACES]), (F.pmod(F.col("doc_id"), F.lit(7)) + 1).cast("int")
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.substring(F.md5(F.col("text")), 1, 8), F.lit(" "), lab, F.lit(" "),
            F.substring(F.md5(F.col("text")), 9, 8),
        ).alias("text"),
        F.lit("none").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def q_er_mentions(spark, sf_dir):
    """Q1/Q4/Q8/Q9: the full ER mention scan (two normalization layers,
    offset remap to original coordinates, layer merge, keyword
    disambiguation) over a documents-derived corpus — hash-exact against a
    SQL oracle that re-derives the dictionary semantics (normalization,
    per-layer matching, keyword-set disambiguation scores) from the raw
    dictionary VALUES."""
    from pilsner_spark.operators.mentions import extract_mentions_df
    from pilsner_spark.sources.sample_dictionary import build_sample_model

    mentions = extract_mentions_df(_er_planted_transcripts(spark, sf_dir), build_sample_model())
    return mentions.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "begin",
        "end",
        F.explode("entity_ids").alias("entity_id"),
    )


def q_er_clusters(spark, sf_dir):
    """End-to-end ER clustering (block -> score -> transitive components)
    over the planted documents corpus — hash-exact: on this corpus the
    match graph's components are derivable analytically. Every doc plants
    one dictionary surface between doc-unique hex tokens, so match edges
    exist exactly between same-resolved-entity docs that share a planted
    token, giving four components: surfaces {1,2} (entity2 via shared
    'awesome'/'white'), {3,4,5} (entity1, bridged by 'refrigerator'),
    {'it'}, {'o'}. Cluster id = lexicographic-min member turn_key (the
    collision-free label domain of connected_components).

    The clusters come from ``run_er_pipeline`` with its default plan
    (salted token + MinHash blocks, split scorer, compact scored layout,
    the lineage-chosen edge source) in a throwaway workdir, so the oracle
    checks the same code that produces the benchmark's clusters."""
    import shutil
    import tempfile

    from pilsner_spark.plans.pipeline import run_er_pipeline
    from pilsner_spark.sources.sample_dictionary import build_sample_model

    tr = _er_planted_transcripts(spark, sf_dir).localCheckpoint()
    workdir = tempfile.mkdtemp(prefix="er_clusters_")
    try:
        clusters = run_er_pipeline(spark, workdir, tr, model=build_sample_model())["clusters"].localCheckpoint()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return clusters.groupBy("cluster_id").agg(F.count("*").alias("n_turns")).filter(F.col("n_turns") > 1)


# -- dedup family -----------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    from pilsner_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_bands(spark, sf_dir):
    from pilsner_spark.operators.dedup import minhash_bands

    return minhash_bands(_t(spark, sf_dir, "documents"), num_hashes=6, band_size=2)


def q_dedup_minhash_pairs(spark, sf_dir):
    from pilsner_spark.operators.dedup import minhash_bands, minhash_candidate_pairs

    return minhash_candidate_pairs(minhash_bands(_t(spark, sf_dir, "documents"), num_hashes=6, band_size=2))


def q_dedup_minhash_groups(spark, sf_dir):
    """The dedup DECISION layered on the candidate pairs: transitive
    near-dup groups (connected components over the pair graph) with the
    min-id canonical and group size — keep rule is doc_id == canonical_id.
    Oracle: recursive-CTE reachability closure over the same capped pair
    derivation (component min == min over the reachable set)."""
    from pilsner_spark.operators.dedup import minhash_bands, minhash_candidate_pairs, neardup_groups

    return neardup_groups(
        minhash_candidate_pairs(minhash_bands(_t(spark, sf_dir, "documents"), num_hashes=6, band_size=2))
    )


def q_dedup_minhash_oversized(spark, sf_dir):
    """The no-silent-truncation companion to dedup_minhash_pairs: band keys
    whose bucket exceeds the cap (here an artificially low cap=1 — every
    multi-document band — so the report provably carries rows at oracle
    scale: the default 200 yields an empty, vacuously-green check on this
    corpus, whose largest band bucket is 3) with their sizes.
    Callers surface this next to the pairs, as the ER path does for salted
    blocks."""
    from pilsner_spark.operators.dedup import minhash_bands, oversized_band_report

    return oversized_band_report(
        minhash_bands(_t(spark, sf_dir, "documents"), num_hashes=6, band_size=2),
        max_bucket_size=1,
    )


def q_dedup_simhash(spark, sf_dir):
    from pilsner_spark.operators.dedup import simhash
    from pilsner_spark.session import spread_input

    docs = spread_input(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", simhash(F.col("text"), bits=16).alias("simhash"))


def q_dedup_simhash_pairs(spark, sf_dir):
    """Hamming-LSH candidate pairs over the 16-bit SimHash: chunk buckets
    (4 x 4 bits), <=200 cap, exact bit_count(xor) filter at distance <= 3
    — by pigeonhole (3 differing bits touch at most 3 of the 4 chunks)
    this equals the brute-force pair set without the n^2 cross join."""
    from pilsner_spark.operators.dedup import simhash_candidate_pairs

    return simhash_candidate_pairs(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from pilsner_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def q_dedup_embedding_cosine(spark, sf_dir):
    """Threshold 0.4 chosen so the oracle verifies nonzero pairs on the
    synthetic embeddings (0.8 matched zero rows at every sf — a vacuously
    green check)."""
    from pilsner_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_dedup_embedding_ivf(spark, sf_dir):
    """The IVF-bucketed scale path for embedding near-dup: same threshold
    as the brute baseline, candidates generated where one side's home cell
    is among the other's n_probe=2 nearest cells (deterministic sample
    centroids keep the oracle exact). Output is a subset of
    dedup_embedding_cosine by construction; multi-probe recovers
    cell-boundary pairs single-cell bucketing misses."""
    from pilsner_spark.operators.dedup import embedding_neardup_pairs_ivf

    return embedding_neardup_pairs_ivf(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_cells=16, n_probe=2
    )


def q_meta_blocking_prune(spark, sf_dir):
    """Meta-blocking comparison cleaning over token blocks of the documents
    table: CBS weights + the two standard pruning schemes (WEP global-mean
    edge pruning, CNP per-node top-k) flagged side by side. Block purging
    bounds block size to [2, 200]. Reference frame: this generalizes the
    reference's single-key blocking (utility.py's dictionary buckets) with
    the public meta-blocking literature's comparison-pruning stage."""
    from pilsner_spark.operators.blocking import comparison_weights, meta_block_prune

    docs = _t(spark, sf_dir, "documents")
    blocks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        ).alias("block_key"),
    )
    w = comparison_weights(
        blocks, id_col="doc_id", key_col="block_key", min_block_size=2, max_block_size=200
    )
    return meta_block_prune(w, cnp_k=5)


def q_blocking_sorted_neighborhood(spark, sf_dir):
    """Multi-pass sorted-neighborhood blocking (Hernández & Stolfo) over the
    documents table: pass 1 sorts by the lowercased text, pass 2 by its
    reversal (so typos at either end of the key still meet in some window),
    window 5, pairs unioned and canonicalized. The global rank is the
    bucketed two-level ranking — no single-partition window (see
    operators/blocking.global_sort_ranks)."""
    from pilsner_spark.operators.blocking import sorted_neighborhood_pairs

    docs = _t(spark, sf_dir, "documents")
    p1 = sorted_neighborhood_pairs(
        docs.select("doc_id", F.lower(F.col("text")).alias("sk")),
        "sk",
        "doc_id",
        window_size=5,
    )
    p2 = sorted_neighborhood_pairs(
        docs.select("doc_id", F.reverse(F.lower(F.col("text"))).alias("sk")),
        "sk",
        "doc_id",
        window_size=5,
    )
    both = p1.unionByName(p2)
    return (
        both.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


# -- ANN ---------------------------------------------------------------------


def q_ann_brute_topk(spark, sf_dir):
    from pilsner_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return brute_force_topk(emb, queries, k=5)


def q_ann_ivf_topk(spark, sf_dir):
    from pilsner_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4)


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization top-k: vectors encoded as 4 codes over 16-dim
    subspaces (deterministic sample codebooks keep the oracle exact),
    queries scored asymmetrically against codeword reconstructions. The
    memory-compression QUALITY BASELINE — the composed scale path is
    q_ann_ivf_pq_topk."""
    from pilsner_spark.operators.ann import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return pq_topk(emb, queries, k=5, m=4, n_codes=16, dim=64)


def q_ann_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ composed top-k (VERDICT r3 item 4): IVF probing prunes the
    search to n_probe=4 of 16 cells (candidates O(probed cells), never
    O(N)) while candidates are scored against PQ codeword reconstructions
    (4 codes over 16-dim subspaces — the 64x-compressed index is what the
    scorer reads, not full-width vectors). Deterministic sample
    centroids/codebooks keep the oracle exact."""
    from pilsner_spark.operators.ann import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_pq_topk(emb, queries, k=5, m=4, n_codes=16, n_cells=16, n_probe=4, dim=64)


def q_ann_ivf_pq_refined(spark, sf_dir):
    """IVF-PQ with the exact re-ranking stage (Faiss IVFPQR shape): the
    top k x 4 candidates by PQ-approximate cosine are re-scored against
    their full-width vectors and re-ranked — recall lost to quantization
    is recovered while the full-width read stays O(shortlist)."""
    from pilsner_spark.operators.ann import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_pq_topk(
        emb, queries, k=5, m=4, n_codes=16, n_cells=16, n_probe=4, dim=64, refine_factor=4
    )


# -- text analysis ------------------------------------------------------------


def q_text_tfidf(spark, sf_dir):
    """Relational TF-IDF over the documents table: tf and df as two hash
    aggregations (df re-aggregates tf — text is scanned once), corpus size
    as a broadcast 1-row cross join, idf = ln(N/df)."""
    from pilsner_spark.functions.text import tfidf_table

    return tfidf_table(_t(spark, sf_dir, "documents"))


def q_sample_stratified(spark, sf_dir):
    """Deterministic exactly-k-per-stratum sample (k=20 per lang): rank by
    md5(seed, id) inside each stratum — a reproducible shuffle order any
    engine can replay."""
    from pilsner_spark.operators.packing import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", "doc_id", k_per_stratum=20, seed="s1")


def q_split_assign(spark, sf_dir):
    """Hash-boundary train/val/test assignment (8/1/1): exact integer
    thresholds in the 52-bit md5-prefix space, so every engine lands every
    record on the same side — no float accumulation, no RNG state."""
    from pilsner_spark.operators.packing import deterministic_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_split(docs, "doc_id", {"train": 8, "val": 1, "test": 1}, seed="sp")


def q_pack_token_budget(spark, sf_dir):
    """Sequence packing at a 512-token budget: offset packing over the
    zero-padded doc_id order — bin_id = floor(global exclusive running
    token total / budget), computed with the bucketed two-level prefix sum
    (no single-partition window)."""
    from pilsner_spark.operators.packing import pack_by_budget

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("sk"),
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")).alias("n_tok"),
    )
    return pack_by_budget(docs, "sk", "doc_id", "n_tok", budget=512).select(
        F.col("id").alias("doc_id"), "n_tokens", "bin_id", "offset_in_bin"
    )


def q_mix_domains(spark, sf_dir):
    """Domain mixing to target token proportions (the data-mixing stage of
    a pretraining-corpus build): each language contributes ~its weight
    share (en 4 : de 2 : fr 2 : es 1 : zh 1) of a 20k-token budget,
    documents chosen in deterministic md5 order; the per-domain running
    token total uses the bucketed two-level prefix sum (no per-domain
    single-task window) plus a hash-quantile pre-filter on over-budget
    domains."""
    from pilsner_spark.operators.packing import mix_to_proportions

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")).alias("n_tok"),
    )
    return mix_to_proportions(
        docs, "lang", "doc_id", "n_tok", {"en": 4, "de": 2, "fr": 2, "es": 1, "zh": 1}, 20000
    ).select(
        F.col("id").alias("doc_id"), F.col("domain").alias("lang"), "n_tokens", "cum_excl"
    )


def q_text_stats(spark, sf_dir):
    from pilsner_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.word_token_count(t).alias("n_regex_tokens"),
        TX.char_count(t).alias("n_chars_actual"),
        TX.punct_ratio(t).alias("punct_ratio"),
        TX.stopword_ratio(t).alias("stopword_ratio"),
        TX.mean_token_length(t).alias("mean_token_len"),
    )


def q_text_quality_langid(spark, sf_dir):
    from pilsner_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.quality_score(F.col("text")).alias("quality"), TX.lang_id(F.col("text")).alias("lang_pred")
    )


def q_text_fingerprint(spark, sf_dir):
    from pilsner_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


def q_dedup_incremental(spark, sf_dir):
    """Cross-snapshot dedup (the per-ingest-batch shape): docs >= 250 are
    the new batch — plus three planted exact copies of old docs (ids
    +10000) since the synthetic corpus has no natural cross-snapshot
    byte-dups — deduped against the old corpus (docs < 250) without ever
    pairing old-vs-old. Exact = md5 equi-join; near = MinHash band join
    against capped old buckets, verified at token Jaccard >= 0.8."""
    from pilsner_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250).select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") >= 250)
        .select("doc_id", "text")
        .unionByName(
            old.filter(F.col("doc_id") % 100 == 0).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
    )
    return incremental_dedup(new, old, num_hashes=6, band_size=2, jaccard_threshold=0.8)


def q_substring_dedup(spark, sf_dir):
    """Substring-level exact dedup (Lee et al. 2021, window-hash form):
    5-token windows occurring in >1 document are stripped from every doc
    except the minimum-doc_id canonical holder; per-doc removed-token
    counts + cleaned text."""
    from pilsner_spark.operators.text_filters import substring_dedup

    return substring_dedup(_t(spark, sf_dir, "documents"), n=5)


def q_decontaminate_ngrams(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style n-gram overlap): every 50th
    document stands in for the eval suite; training docs sharing any word
    4-gram with it are flagged with distinct-hit counts. The benchmark gram
    set is broadcast — corpus text never crosses an exchange."""
    from pilsner_spark.operators.text_filters import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(corpus, bench, n=4)


def q_quality_repetition(spark, sf_dir):
    """Gopher-style repetition quality stats over word 2-grams: duplicate
    n-gram occurrence fraction + top-single-n-gram share, per document."""
    from pilsner_spark.operators.text_filters import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), n=2)


def q_quality_gopher_rules(spark, sf_dir):
    """Full Gopher quality-rule filter (Rae et al. 2021 §A1.1) over the
    documents table, with document structure planted deterministically
    (the synthetic corpus is flat prose): ' table ' seams become bullet
    lines, ' line ' seams become ellipsis line ends, every 9th doc gains a
    '#' symbol run and every 17th a unicode-ellipsis tail. Thresholds are
    tightened to the corpus' 10-99-token scale so both keep outcomes
    occur; all eight signals + the combined verdict are returned."""
    from pilsner_spark.operators.text_filters import gopher_quality_rules

    base = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.replace(
                F.replace(F.col("text"), F.lit(" table "), F.lit("\n- ")),
                F.lit(" line "),
                F.lit("...\n"),
            ),
            F.when(F.col("doc_id") % 9 == 0, F.lit(" # # #")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0, F.lit(" … …")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return gopher_quality_rules(
        base,
        min_words=30,
        max_words=100_000,
        min_mean_word_len=4.0,
        max_mean_word_len=10.0,
        max_symbol_word_ratio=0.05,
        max_bullet_line_frac=0.4,
        max_ellipsis_line_frac=0.4,
        min_alpha_word_frac=0.9,
        min_stopword_hits=2,
    )


def q_pii_redaction(spark, sf_dir):
    """PII scrub over deterministically planted PII shapes (emails on
    doc_id%7, IPv4 on %11, long digit runs on %13 — the corpus itself is
    synthetic words, so the operator must be SHOWN redacting): redacted
    text + per-kind hit counts, pure projection."""
    from pilsner_spark.operators.text_filters import redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact admin"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
            )
            .when(F.col("doc_id") % 11 == 0, F.lit(" from 10.0.42.7 port 8080"))
            .when(F.col("doc_id") % 13 == 0, F.lit(" ref 123456789012 ok"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(docs)


def q_decontaminate_embedding(spark, sf_dir):
    """Embedding-space decontamination: every 25th embedding stands in for
    the eval suite; corpus vectors within cosine 0.3 of any benchmark
    vector are flagged with hit counts + the closest benchmark witness.
    The benchmark side is broadcast — corpus embeddings never shuffle."""
    from pilsner_spark.operators.dedup import embedding_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    return embedding_decontaminate(corpus, bench, threshold=0.3)


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster the embedding space
    (deterministic sample centroids — oracle-exact), call within-cluster
    pairs with cosine >= 0.4 semantic duplicates, keep the group member
    FARTHEST from its centroid (the paper's keep-rule: shed redundancy,
    retain diversity). One row per grouped doc with the keep decision."""
    from pilsner_spark.operators.dedup import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"), threshold=0.4, n_cells=16)


def q_c4_line_filter(spark, sf_dir):
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): the corpus
    is deterministically re-punctuated in-query (' table '/' line ' ->
    sentence break) so the line heuristics have real line structure to act
    on; lines must carry >= 3 words and end in terminal punctuation,
    'vector' lines and 'big data' documents are blocklisted (the synthetic
    vocabulary's stand-ins for C4's javascript / lorem-ipsum rules)."""
    from pilsner_spark.operators.text_filters import c4_line_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " (table|line) ", ".\n").alias("text")
    )
    return c4_line_filter(
        docs,
        min_words_per_line=3,
        require_terminal_punct=True,
        line_blocklist=("vector",),
        doc_blocklist=("big data",),
        min_lines_kept=2,
    )


def q_importance_weights(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023): importance log-weights
    for every document against a target distribution (source 'src0' stands
    in for the curated target domain), hashed-unigram features over 64
    buckets, add-1 smoothing. Both distributions broadcast; per-gram
    log-ratios summed in integer micro-units (order-independent)."""
    from pilsner_spark.operators.text_filters import importance_weights

    docs = _t(spark, sf_dir, "documents")
    return importance_weights(docs, docs.filter(F.col("source") == "src0"), n_buckets=64)


def q_select_quality_topk(spark, sf_dir):
    """DSIR end-to-end: importance weights (target = 'src0') followed by
    the SELECTION step — exactly the 100 highest-weight documents, exact
    and deterministic (ties by doc_id), ranked with the bucketed two-level
    global rank (no single-partition window over the corpus)."""
    from pilsner_spark.operators.text_filters import importance_weights, select_top_k_by_weight

    docs = _t(spark, sf_dir, "documents")
    scored = importance_weights(docs, docs.filter(F.col("source") == "src0"), n_buckets=64)
    return select_top_k_by_weight(scored, k=100)


def q_sample_quality_gumbel(spark, sf_dir):
    """DSIR's actual resampling step: Gumbel-top-k over the importance
    weights (temperature 2.0) — k=100 documents drawn WITHOUT replacement
    with probability ∝ exp(weight/T), deterministically seeded (md5-derived
    Gumbel noise, engine-portable)."""
    from pilsner_spark.operators.text_filters import gumbel_sample_by_weight, importance_weights

    docs = _t(spark, sf_dir, "documents")
    scored = importance_weights(docs, docs.filter(F.col("source") == "src0"), n_buckets=64)
    return gumbel_sample_by_weight(scored, k=100, temperature=2.0)


def q_chunk_documents(spark, sf_dir):
    """Long-document chunking: 16-token windows with 4 tokens of overlap
    (stride 12) — every document split into model-context-sized pieces,
    pure projection, last chunk short, empty docs keep one empty chunk."""
    from pilsner_spark.operators.packing import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), chunk_tokens=16, overlap=4)


def q_events_asof_join(spark, sf_dir):
    """As-of join (kdb aj / pandas merge_asof shape): every purchase event
    picks up the user's LATEST click at-or-before it — via the union +
    per-key-window formulation (one shuffle, no nested-loop join). Ties on
    timestamp break to the greatest click id (deterministic)."""
    from pilsner_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    out = asof_join(purchases, clicks, on="user_id", ts_col="ts", value_cols=["click_id"])
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        F.col("click_id_matched").alias("click_id"),
        (F.unix_micros(F.col("ts").cast("timestamp_ltz")) - F.unix_micros(F.col("ts_matched").cast("timestamp_ltz"))).alias("gap_us"),
    )


def q_events_range_join(spark, sf_dir):
    """Point-in-interval range join as an equi-join: every click falling
    inside a [purchase, purchase + 4 h] window of the same user —
    intervals exploded to 1-hour time buckets, hash-joined on
    (user, bucket), exact bounds as the residual filter."""
    from pilsner_spark.operators.temporal import range_join_buckets

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    intervals = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("end"),
    )
    out = range_join_buckets(
        clicks, intervals, on="user_id", ts_col="ts", start_col="start", end_col="end",
        bucket_seconds=3600,
    )
    return out.select(
        "user_id",
        F.col("i_purchase_id").alias("purchase_id"),
        F.col("p_click_id").alias("click_id"),
        (F.unix_micros(F.col("p_ts").cast("timestamp_ltz")) - F.unix_micros(F.col("i_start").cast("timestamp_ltz"))).alias("offset_us"),
    )


def q_matcher_training_pairs(spark, sf_dir):
    """Labeled matcher-training pairs from resolution output: lang stands
    in for the cluster assignment and source for the blocking key —
    star positives per cluster + md5-Bernoulli(0.1)-sampled same-block
    cross-cluster hard negatives, fully deterministic."""
    from pilsner_spark.operators.training import matcher_training_pairs

    docs = _t(spark, sf_dir, "documents")
    assignments = docs.select(F.col("doc_id").alias("turn_key"), F.col("lang").alias("cluster_id"))
    blocks = docs.select(F.col("source").alias("block_key"), F.col("doc_id").alias("turn_key"))
    return matcher_training_pairs(assignments, blocks, neg_sample_frac=0.1)


def q_er_threshold_sweep(spark, sf_dir):
    """Distributed PR curve over labeled matcher pairs: token-Jaccard
    scores on the matcher_training_pairs set, confusion counts + P/R/F1
    at 11 thresholds from ONE histogram pass over the pair mass (the pair
    table is aggregated once into an O(distinct scores) histogram; the
    sweep never re-scans it)."""
    from pilsner_spark.functions.text import tokens
    from pilsner_spark.operators.scoring import threshold_sweep
    from pilsner_spark.operators.training import matcher_training_pairs

    docs = _t(spark, sf_dir, "documents")
    assignments = docs.select(F.col("doc_id").alias("turn_key"), F.col("lang").alias("cluster_id"))
    blocks = docs.select(F.col("source").alias("block_key"), F.col("doc_id").alias("turn_key"))
    pairs = matcher_training_pairs(assignments, blocks, neg_sample_frac=0.1)
    toks = docs.select("doc_id", F.array_distinct(tokens(F.col("text"))).alias("ts"))
    union_n = F.size(F.array_union("ts_a", "ts_b"))
    scored = (
        pairs.join(toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ts_a")), "id_a")
        .join(toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("ts_b")), "id_b")
        .withColumn(
            "score",
            F.when(union_n == 0, F.lit(0.0)).otherwise(
                F.round(F.size(F.array_intersect("ts_a", "ts_b")) / union_n, 6)
            ),
        )
    )
    return threshold_sweep(scored, [i / 20.0 for i in range(11)], "score", "label")


def q_line_dedup_crossdoc(spark, sf_dir):
    """Corpus-level C4 line dedup: every line occurring >= 2 times across
    the whole corpus keeps only its canonical (min doc_id, line_idx)
    occurrence — boilerplate stripped everywhere else. Same in-query
    re-punctuation as c4_line_filter so the word-soup corpus has real
    line structure."""
    from pilsner_spark.operators.text_filters import cross_doc_line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " (table|line) ", ".\n").alias("text")
    )
    return cross_doc_line_dedup(docs)


def q_corpus_profile(spark, sf_dir):
    """Per-source corpus profile (functions/text.corpus_profile) with
    approx=False — EXACT interpolated p50/p90 so the DuckDB oracle can
    reproduce the values bit-for-bit. The DEFAULT profiling path is
    approx=True (approx_percentile at accuracy 10000, mergeable sketch,
    bounded group memory — the 100 TB shape); the approx/exact agreement
    is pinned in tests/test_operators.py."""
    from pilsner_spark.functions.text import corpus_profile

    return corpus_profile(_t(spark, sf_dir, "documents"), approx=False)


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (Sennrich et al. 2016) over the documents
    corpus: ONE corpus word-count shuffle + collect of the O(vocabulary)
    word table, then the exact sequential merge loop runs driver-side with
    incremental pair updates — zero per-merge Spark jobs. Iterative
    algorithm — no SQL oracle per the driver contract (rows-only check);
    parity vs a pure-Python subword-nmt reference is pinned by
    tests/test_tokenizer.py. Deterministic: ties break
    (count desc, left asc, right asc)."""
    from pilsner_spark.operators.tokenizer import learn_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, n_merges=200)


def q_quality_classifier(spark, sf_dir):
    """Supervised model-based quality filter (CCNet/GPT-3 fastText step,
    NB form): trained on the even-doc_id half (label = source=='src0'),
    every document scored by hashed-unigram log-odds + class prior,
    squashed to a probability, kept at prob >= 0.5."""
    from pilsner_spark.operators.text_filters import nb_quality_classifier

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", (F.col("source") == "src0").cast("double").alias("label")
    )
    return nb_quality_classifier(docs, train)


def q_quality_bigram_lm(spark, sf_dir):
    """CCNet-style perplexity filtering stand-in: every document scored by
    mean bigram log-probability under an add-1-smoothed bigram LM trained
    on the source='src0' slice (the high-quality-corpus stand-in)."""
    from pilsner_spark.operators.text_filters import bigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob_score(docs, docs.filter(F.col("source") == "src0"))


def q_multimodal_metadata(spark, sf_dir):
    """Opaque binary column plumbing: treat text bytes as a blob, extract
    typed metadata (size, header hex) — the schema/partitioning pattern for
    image/audio payloads (decode itself is stubbed, operators.multimodal)."""
    docs = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        F.lower(F.hex(F.substring(blob, 1, 8))).alias("header_hex"),
    )


# -- classic relational -------------------------------------------------------


def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped aggregation; money as decimal(18,2) for exactness."""
    li = _t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"), F.count("*").alias("n_items"))
    )


def q_window_top_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_setops_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    positive = cust.filter(F.col("c_acctbal") > 0).select("c_custkey")
    return with_orders.intersect(positive).exceptAll(
        cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    )


def q_events_sessionization(spark, sf_dir):
    """Streaming-analog batch sessionization: 10-minute-gap sessions per
    user via lag window (the batch shape of the streaming operator)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = epoch - F.lag(epoch).over(w)
    return (
        ev.withColumn("new_session", F.when(gap.isNull() | (gap > 600_000_000), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


def q_events_hopping_window(spark, sf_dir):
    """Hopping (sliding) window aggregation — F.window(ts, 1h, 30m), the
    Structured Streaming windowing construct run in batch: every event
    lands in exactly two overlapping hour windows; counts/sums per
    (window_start, event_type). Oracle derives each event's two window
    starts arithmetically (floor-to-slide and one slide earlier)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_events_tumbling_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("long").alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered so the driver's ~50-entry correctness window covers the
    entries that most need a fresh verdict (VERDICT r4 item 1):

    - first the 24 operators appended in round 4 that fell PAST the window
      in CORRECTNESS_r04.json and have never had a driver verdict;
    - then ``substring_dedup`` (r4 hash-fail; oracle rewritten portable);
    - then 25 high-value previously-green entries (flagship ER, one
      representative per dedup/ANN/blocking/text family) so regressions in
      the core surface stay driver-visible.

    The 24 entries behind the window all carry a green CORRECTNESS_r04 row
    and remain locally verifiable via ``tools/selfcheck.py`` (full-surface
    replica committed per-round under BENCH/)."""
    return {
        # --- never driver-checked (appended in r4 past the 50-entry cap) ---
        "dedup_semantic": q_dedup_semantic,
        "decontaminate_embedding": q_decontaminate_embedding,
        "c4_line_filter": q_c4_line_filter,
        "importance_weights": q_importance_weights,
        "select_quality_topk": q_select_quality_topk,
        "sample_quality_gumbel": q_sample_quality_gumbel,
        "er_threshold_sweep": q_er_threshold_sweep,
        "line_dedup_crossdoc": q_line_dedup_crossdoc,
        "quality_classifier": q_quality_classifier,
        "bpe_merges": q_bpe_merges,
        "corpus_profile": q_corpus_profile,
        "quality_bigram_lm": q_quality_bigram_lm,
        "chunk_documents": q_chunk_documents,
        "events_asof_join": q_events_asof_join,
        "events_range_join": q_events_range_join,
        "matcher_training_pairs": q_matcher_training_pairs,
        "multimodal_metadata": q_multimodal_metadata,
        "agg_pricing_summary": q_agg_pricing_summary,
        "join_revenue_by_nation": q_join_revenue_by_nation,
        "window_top_orders": q_window_top_orders,
        "setops_customers": q_setops_customers,
        "events_sessionization": q_events_sessionization,
        "events_tumbling_window": q_events_tumbling_window,
        "events_hopping_window": q_events_hopping_window,
        # --- r4 driver hash-fail; oracle rewritten engine-portable ---
        "substring_dedup": q_substring_dedup,
        # --- previously green, kept inside the window (core surface) ---
        "er_mentions": q_er_mentions,
        "er_clusters": q_er_clusters,
        "q4_mention_scan": q_q4_mention_scan,
        "b13_distributed_compile": q_b13_distributed_compile,
        "b14_compiled_model_tables": q_b14_compiled_model_tables,
        "b5_normalization": q_b5_normalization,
        "q2_semi_anti_filter": q_q2_semi_anti_filter,
        "q9_argmax_ties": q_q9_argmax_ties,
        "q10_span_postprocess": q_q10_span_postprocess,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_minhash_groups": q_dedup_minhash_groups,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_embedding_ivf": q_dedup_embedding_ivf,
        "dedup_incremental": q_dedup_incremental,
        "meta_blocking_prune": q_meta_blocking_prune,
        "blocking_sorted_neighborhood": q_blocking_sorted_neighborhood,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_ivf_pq_refined": q_ann_ivf_pq_refined,
        "text_tfidf": q_text_tfidf,
        "decontaminate_ngrams": q_decontaminate_ngrams,
        "quality_gopher_rules": q_quality_gopher_rules,
        "pii_redaction": q_pii_redaction,
        "pack_token_budget": q_pack_token_budget,
        # --- behind the ~50-entry window: green in CORRECTNESS_r04, still
        # --- selfcheck-verified every round ---
        "b3_projection_filter": q_b3_projection_filter,
        "b4_dense_internal_ids": q_b4_dense_internal_ids,
        "b6_list_explode_distinct": q_b6_list_explode_distinct,
        "b7_attribute_melt": q_b7_attribute_melt,
        "b12_keyword_collisions": q_b12_keyword_collisions,
        "b17_label_delete": q_b17_label_delete,
        "b18_stoplist_scan": q_b18_stoplist_scan,
        "q4_sharded_mention_scan": q_q4_sharded_mention_scan,
        "q6_attr_fetch": q_q6_attr_fetch,
        "q7_attr_admission": q_q7_attr_admission,
        "dedup_minhash_bands": q_dedup_minhash_bands,
        "dedup_minhash_oversized": q_dedup_minhash_oversized,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivf_pq_topk": q_ann_ivf_pq_topk,
        "sample_stratified": q_sample_stratified,
        "split_assign": q_split_assign,
        "mix_domains": q_mix_domains,
        "text_stats": q_text_stats,
        "text_quality_langid": q_text_quality_langid,
        "text_fingerprint": q_text_fingerprint,
        "quality_repetition": q_quality_repetition,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_TOKENS_CTE = "select doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) as token from documents"

_SHINGLES_CTE = """
with toks as (
  select doc_id, list_filter(string_split(text, ' '), x -> x != '') as ts from documents
), sh as (
  select doc_id, unnest(case when len(ts) <= 3 then [array_to_string(ts, ' ')]
    else list_distinct([array_to_string(ts[i:i+2], ' ') for i in generate_series(1, len(ts)-2)]) end) as shingle
  from toks
)
"""

_SIMHASH_CTE = (
    "with toks as (select doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) as ts from documents), "
    "bits as (select doc_id, b, sum(case when cast(concat('0x', substr(md5(concat(t.tok, '@11@', cast(b as varchar))), 1, 15)) as bigint) % 2 = 1 then 1 else -1 end) as s "
    "from (select doc_id, unnest(ts) as tok from toks) t, generate_series(0, 15) as g(b) group by doc_id, b), "
    "sig as (select doc_id, cast(sum(case when s > 0 then cast(pow(2, b) as bigint) else 0 end) as bigint) as simhash from bits group by doc_id) "
)

_MINHASH_CTE = """
with toks as (
  select doc_id, list_filter(string_split(text, ' '), x -> x != '') as ts from documents
), sh as (
  select doc_id, case when len(ts) <= 3 then [array_to_string(ts, ' ')]
    else list_distinct([array_to_string(ts[i:i+2], ' ') for i in generate_series(1, len(ts)-2)]) end as shs
  from toks
), sig as (
  select doc_id,
    [list_min([cast(concat('0x', substr(md5(concat(s, '#7#', cast(h as varchar))), 1, 15)) as bigint) for s in shs])
     for h in [0,1,2,3,4,5]] as sg
  from sh
), bands as (
  select doc_id, unnest([
     concat_ws('#', '0', cast(sg[1] as varchar), cast(sg[2] as varchar)),
     concat_ws('#', '1', cast(sg[3] as varchar), cast(sg[4] as varchar)),
     concat_ws('#', '2', cast(sg[5] as varchar), cast(sg[6] as varchar))]) as band_key
  from sig
)
"""

def _mention_oracle(unigrams=("table", "query", "spark", "data"), with_join=True, entity_expr="entity") -> str:
    """Per-token occurrence counts with pilsner leftmost-longest semantics:
    a 'join' immediately after 'hash' is consumed by the longer 'hash join'
    entry and must not count as a standalone 'join' mention. ``with_join``
    False models the stoplist/delete variants where standalone 'join' is
    suppressed but 'hash join' still matches."""
    branches = [
        f"select doc_id, '{w}' as entity, len([i for i in generate_series(1, len(ts)) if ts[i] = '{w}']) as n_mentions from toks"
        for w in unigrams
    ]
    if with_join:
        branches.append(
            "select doc_id, 'join' as entity, "
            "len([i for i in generate_series(1, len(ts)) if ts[i] = 'join' and (i = 1 or ts[i-1] != 'hash')]) as n_mentions from toks"
        )
    branches.append(
        "select doc_id, 'hash join' as entity, "
        "len([i for i in generate_series(1, len(ts)-1) if ts[i] = 'hash' and ts[i+1] = 'join']) as n_mentions from toks"
    )
    uni = "\nunion all\n".join(branches)
    return f"""
with toks as (
  select doc_id, list_filter(string_split(text, ' '), x -> x != '') as ts from documents
), counted as (
  {uni}
)
select doc_id, {entity_expr}, n_mentions from counted where n_mentions > 0
"""


def _er_mentions_oracle() -> str:
    """SQL model of the two-normalizer mention pipeline over the planted
    corpus: raw dictionary VALUES -> per-layer normalization (t1: casefold
    + 'tors' split; t2: casefold + 'white' token removal) -> per-layer
    exact matching of the planted surface -> layer merge (distinct
    entities, last layer wins as context source) -> keyword disambiguation
    (ambiguous-norm collision -> per-entity keyword sets -> distinctive
    keywords vs the rival -> context-overlap argmax with ties kept, per
    utility.py:523-587). Hex filler tokens cannot collide with surfaces or
    keywords, so the span is always (9, 9+len(label))."""
    from pilsner_spark.sources.sample_dictionary import SAMPLE_DICTIONARY_LINES

    tag_map = {"tokenizer1": "t1", "tokenizer2": "t2"}
    d_rows = []
    for line in SAMPLE_DICTIONARY_LINES:
        tag, ent, label, _attrs = line.split("\t")
        d_rows.append(f"('{tag_map[tag]}', '{ent}', '{label}')")
    d_values = ", ".join(d_rows)
    surf_values = ", ".join(f"('{s}')" for s in _ER_SURFACES)
    surf_list = "[" + ", ".join(f"'{s}'" for s in _ER_SURFACES) + "]"
    n1 = "trim(regexp_replace(replace(lower({x}), 'tors', ' tors '), ' +', ' ', 'g'))"
    n2 = "array_to_string(list_filter(string_split(lower({x}), ' '), t -> t != 'white'), ' ')"
    return f"""
with d(tag, entity_id, label) as (values {d_values}),
norms as (
  select tag, entity_id, label,
    case when tag = 't1' then {n1.format(x='label')} else {n2.format(x='label')} end as nl
  from d),
qlab(label) as (values {surf_values}),
qn as (
  select label, {n1.format(x='label')} as q1, {n2.format(x='label')} as q2 from qlab),
m as (
  select q.label, n.entity_id, n.tag
  from qn q join norms n on n.nl = case when n.tag = 't1' then q.q1 else q.q2 end),
cand as (select label, entity_id, max(tag) as src from m group by label, entity_id),
ncand as (select label, count(*) as nc from cand group by label),
ambn as (select nl from norms group by nl having count(distinct entity_id) > 1),
kw as (
  select entity_id, list_distinct(flatten(list(string_split(nl, ' ')))) as toks
  from norms
  where entity_id in (select distinct entity_id from norms where nl in (select nl from ambn))
  group by entity_id),
ctx as (
  select label, 't1' as tag, string_split(q1, ' ') as toks from qn
  union all
  select label, 't2', string_split(q2, ' ') from qn),
rivals as (
  select a.label, a.entity_id as e, b.entity_id as o, a.src
  from cand a join cand b on a.label = b.label and a.entity_id != b.entity_id),
sc as (
  select p.label, p.e,
    len(list_intersect(list_filter(coalesce(ke.toks, []), t -> not list_contains(coalesce(ko.toks, []), t)), c.toks)) as score
  from rivals p
  left join kw ke on ke.entity_id = p.e
  left join kw ko on ko.entity_id = p.o
  join ctx c on c.label = p.label and c.tag = p.src),
win as (
  select label, e as entity_id
  from (select *, rank() over (partition by label order by score desc) as r from sc) where r = 1),
resolved as (
  select c.label, c.entity_id from cand c join ncand using (label) where nc = 1
  union all
  select label, entity_id from win),
planted as (select doc_id, {surf_list}[cast(doc_id % 7 as int) + 1] as label from documents)
select p.doc_id, 9 as "begin", 9 + length(p.label) as "end", r.entity_id
from planted p join resolved r using (label)
"""


_Q10_ORACLE = """
with recursive
spans as (
  select distinct user_id as gid, cast(floor(value) as int) as b,
         cast(floor(value) + (event_id % 7) + 1 as int) as e
  from events),
init as (
  select gid, list_transform(list_sort(list({'b': b, 'e': e})), x -> [x]) as groups
  from spans group by gid),
-- reduce_spans (utility.py:699-729) as an index fold: groups sorted by
-- (begin, length); at step i the head of group i is compared with the head
-- of group i+1 — longer head displaces the neighbor group wholesale,
-- shorter head tries to recover a non-intersecting member, else merges.
step as (
  select gid, 1 as i, groups from init
  union all
  select gid, i + 1,
    case when len(groups[i]) = 0
           or not (groups[i][1].b <= groups[i+1][1].b and groups[i+1][1].b <= groups[i][1].e)
         then groups
         else list_concat(list_concat(groups[1:i-1],
           case
             when (groups[i][1].e - groups[i][1].b) >= (groups[i+1][1].e - groups[i+1][1].b)
               then [groups[i][1:0], groups[i]]
             when len(list_filter(groups[i][2:], g -> not (g.b <= groups[i+1][1].b and groups[i+1][1].b <= g.e))) > 0
               then [list_concat([list_filter(groups[i][2:], g -> not (g.b <= groups[i+1][1].b and groups[i+1][1].b <= g.e))[1]], groups[i][2:]), groups[i+1]]
             else [groups[i][1:0], list_concat(groups[i+1], groups[i])]
           end),
           groups[i+2:len(groups)])
    end
  from step where i < len(groups)),
fin as (
  select gid, groups
  from (select *, row_number() over (partition by gid order by i desc) as rn from step)
  where rn = 1)
select gid, g[1].b as b, g[1].e as e
from (select gid, unnest(groups) as g from fin)
where len(g) > 0
"""


def oracle_sql() -> dict[str, str]:
    from pilsner_spark.functions.text import EN_STOPWORDS
    from pilsner_spark.sources.sample_dictionary import build_sample_model

    synonyms_values = ", ".join(
        f"({r.line_id}, {r.iid}, '{r.entity_id}', '{r.normalizer}', '{r.norm_label}')"
        for r in build_sample_model().synonyms
    )
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    from pilsner_spark.operators.text_filters import GOPHER_STOPWORDS

    gopher_stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)

    return {
        "b3_projection_filter": (
            "select l_orderkey, l_linenumber, l_quantity, l_extendedprice from lineitem "
            "where l_returnflag = 'R' and l_quantity > 30"
        ),
        "b4_dense_internal_ids": (
            "with firsts as (select o_custkey, min(o_orderkey) as first_line from orders group by o_custkey) "
            "select o_custkey, dense_rank() over (order by first_line) - 1 as iid from firsts"
        ),
        "b6_list_explode_distinct": _TOKENS_CTE,
        "b7_attribute_melt": (
            "select p_partkey as n, 'brand' as attr_name, p_brand as attr_value from part "
            "union all select p_partkey, 'type', p_type from part "
            "union all select p_partkey, 'size', cast(p_size as varchar) from part"
        ),
        "b12_keyword_collisions": (
            "with toks as (select distinct source, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) as token from documents), "
            "shared as (select token from toks group by token having count(distinct source) > 1) "
            "select source, count(*) as n_shared_tokens from toks where token in (select token from shared) group by source"
        ),
        "b13_distributed_compile": (
            "with rows as (select row_number() over (order by p_partkey) - 1 as line_id, "
            "p_brand as entity_id, p_type as synonym from part), "
            "firsts as (select entity_id, min(line_id) as first_line from rows group by entity_id), "
            "iids as (select entity_id, dense_rank() over (order by first_line) - 1 as iid from firsts) "
            "select r.line_id, i.iid, r.entity_id, 'cf' as normalizer, lower(r.synonym) as norm_label "
            "from rows r join iids i using (entity_id)"
        ),
        "b14_compiled_model_tables": (
            "select * from (values "
            + synonyms_values
            + ") as t(line_id, iid, entity_id, normalizer, norm_label)"
        ),
        "q2_semi_anti_filter": (
            "select c_custkey, c_name, c_mktsegment from customer c "
            "where exists (select 1 from orders o where o.o_custkey = c.c_custkey and o.o_orderstatus = 'O') "
            "and not exists (select 1 from orders o where o.o_custkey = c.c_custkey and o.o_orderstatus = 'F')"
        ),
        "q4_mention_scan": _mention_oracle(),
        # B10: sharded ≡ unsharded — q4's oracle verbatim IS the claim
        "q4_sharded_mention_scan": _mention_oracle(),
        # Q7: admission keeps only category='op' labels (query/join/hash join)
        "q7_attr_admission": _mention_oracle(unigrams=("query",), with_join=True),
        "q10_span_postprocess": _Q10_ORACLE,
        "er_mentions": _er_mentions_oracle(),
        # analytic components of the planted corpus (q_er_clusters doc):
        # surfaces {1,2} -> entity2 component, {3,4,5} -> entity1 component
        # (bridged by shared planted tokens), {'it'}, {'o'} — cluster id is
        # the lexicographic-min member turn_key "<doc_id>#0". Valid while
        # every block stays under the salting threshold (true at oracle sf).
        "er_clusters": (
            "with planted as (select doc_id, cast(doc_id % 7 as int) + 1 as li from documents), "
            "grp as (select doc_id, case when li <= 2 then 0 when li <= 5 then 1 else li end as g from planted), "
            "mins as (select g, min(cast(doc_id as varchar) || '#0') as cluster_id from grp group by g) "
            "select m.cluster_id, count(*) as n_turns from grp join mins m using (g) "
            "group by m.cluster_id having count(*) > 1"
        ),
        "b5_normalization": (
            "with t as (select doc_id, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "r as (select doc_id, list_transform(list_transform(list_filter(ts, x -> x != 'the'), "
            "x -> case when x = 'slow' then 'sluggish' else x end), "
            "x -> case when x like '%umn' and length(x) > 3 then substr(x, 1, length(x) - 3) || ' umn' else x end) as ts2 from t) "
            "select doc_id, array_to_string(ts2, ' ') as norm_text from r"
        ),
        "b17_label_delete": _mention_oracle(unigrams=("table", "spark", "data"), with_join=True),
        "b18_stoplist_scan": _mention_oracle(with_join=False),
        "q6_attr_fetch": (
            "with m as ("
            + _mention_oracle()
            + "), cat(entity, category) as (values "
            + ", ".join(f"('{w}', '{c}')" for w, c in _ATTR_CATEGORIES.items())
            + ") select m.doc_id, cat.category, cast(sum(m.n_mentions) as bigint) as n_mentions "
            "from m join cat using (entity) group by m.doc_id, cat.category"
        ),
        "q9_argmax_ties": (
            "with counts as (select user_id, event_type, count(*) as n from events group by user_id, event_type) "
            "select user_id, event_type, n from (select *, rank() over (partition by user_id order by n desc) as r from counts) where r = 1"
        ),
        "dedup_exact": (
            "select md5(text) as text_md5, min(doc_id) as keep_id, count(*) as n_dups from documents group by md5(text)"
        ),
        "dedup_minhash_bands": _MINHASH_CTE + "select doc_id, band_key from bands",
        "dedup_minhash_pairs": _MINHASH_CTE
        + (
            # mirrors minhash_candidate_pairs' max_bucket_size=200 cap
            ", ok_bands as (select band_key from bands group by band_key having count(distinct doc_id) <= 200) "
            "select distinct a.doc_id as id_a, b.doc_id as id_b "
            "from bands a join bands b using (band_key) join ok_bands using (band_key) "
            "where a.doc_id < b.doc_id"
        ),
        # reachability closure (recursive CTE): min over the reachable set
        # == the connected component's min id, so this re-derives the
        # Spark-side CC result without modeling either CC path
        "dedup_minhash_groups": _MINHASH_CTE.replace("with toks as", "with recursive toks as", 1)
        + (
            ", ok_bands as (select band_key from bands group by band_key having count(distinct doc_id) <= 200)"
            ", pairs as (select distinct a.doc_id as id_a, b.doc_id as id_b"
            "   from bands a join bands b using (band_key) join ok_bands using (band_key)"
            "   where a.doc_id < b.doc_id)"
            ", edges as (select id_a as a, id_b as b from pairs union select id_b, id_a from pairs)"
            ", reach(d, x) as (select a, a from edges union select r.d, e.b from reach r join edges e on e.a = r.x)"
            ", lab as (select d as doc_id, min(x) as canonical_id from reach group by d) "
            "select l.doc_id, l.canonical_id, s.group_size from lab l "
            "join (select canonical_id, count(*) as group_size from lab group by canonical_id) s using (canonical_id)"
        ),
        "dedup_minhash_oversized": _MINHASH_CTE
        + (
            "select band_key, count(distinct doc_id) as bucket_size from bands "
            "group by band_key having count(distinct doc_id) > 1"
        ),
        "dedup_simhash": _SIMHASH_CTE + "select doc_id, simhash from sig",
        # chunk-bucketed Hamming LSH, mirrored exactly: same (chunk, value)
        # bucket derivation, same <=200 bucket cap, same bit_count(xor)
        # distance filter — with max_hamming = n_chunks-1 the pigeonhole
        # guarantee makes this the full brute-force pair set
        "dedup_simhash_pairs": _SIMHASH_CTE
        + (
            ", chunks as (select doc_id, simhash, c, (simhash >> (4*c)) & 15 as cv from sig, generate_series(0, 3) as g(c))"
            ", ok as (select c, cv from chunks group by c, cv having count(distinct doc_id) between 2 and 200)"
            ", cand as (select distinct a.doc_id as id_a, b.doc_id as id_b, a.simhash as sa, b.simhash as sb"
            "   from chunks a join chunks b on a.c = b.c and a.cv = b.cv"
            "   join ok on ok.c = a.c and ok.cv = a.cv where a.doc_id < b.doc_id) "
            "select id_a, id_b, cast(bit_count(xor(sa, sb)) as int) as hamming "
            "from cand where bit_count(xor(sa, sb)) <= 3"
        ),
        "dedup_ngram_jaccard": _SHINGLES_CTE
        + (
            ", sizes as (select doc_id, count(*) as n_sh from sh group by doc_id), "
            "dfc as (select shingle from sh group by shingle having count(*) <= 50), "
            "shf as (select sh.* from sh join dfc using (shingle)), "
            "inter as (select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_inter from shf a join shf b using (shingle) where a.doc_id < b.doc_id group by a.doc_id, b.doc_id) "
            "select id_a, id_b, round(cast(n_inter as double) / (sa.n_sh + sb.n_sh - n_inter), 6) as jaccard "
            "from inter join sizes sa on sa.doc_id = id_a join sizes sb on sb.doc_id = id_b "
            "where round(cast(n_inter as double) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.2"
        ),
        "meta_blocking_prune": (
            "with toks as (select doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) as ts from documents), "
            "tok as (select doc_id, unnest(ts) as token from toks), "
            "bsz as (select token from tok group by token having count(*) between 2 and 200), "
            "blk as (select t.doc_id, t.token from tok t join bsz using (token)), "
            "w as (select a.doc_id as id_a, b.doc_id as id_b, cast(count(*) as bigint) as cbs "
            "  from blk a join blk b using (token) where a.doc_id < b.doc_id group by 1, 2), "
            "tot as (select cast(count(*) as bigint) as n_pairs, cast(sum(cbs) as bigint) as cbs_total from w), "
            "edges as (select id_a as node, id_b as partner, cbs from w union all select id_b, id_a, cbs from w), "
            "surv as (select distinct least(node, partner) as id_a, greatest(node, partner) as id_b "
            "  from (select node, partner, row_number() over (partition by node order by cbs desc, partner asc) as r from edges) where r <= 5) "
            "select w.id_a, w.id_b, w.cbs, (w.cbs * tot.n_pairs >= tot.cbs_total) as kept_wep, "
            "(surv.id_a is not null) as kept_cnp "
            "from w cross join tot left join surv on w.id_a = surv.id_a and w.id_b = surv.id_b"
        ),
        "blocking_sorted_neighborhood": (
            "with r1 as (select doc_id, row_number() over (order by lower(text), doc_id) as rk from documents), "
            "p1 as (select a.doc_id as x, b.doc_id as y from r1 a join r1 b on b.rk - a.rk between 1 and 4), "
            "r2 as (select doc_id, row_number() over (order by reverse(lower(text)), doc_id) as rk from documents), "
            "p2 as (select a.doc_id as x, b.doc_id as y from r2 a join r2 b on b.rk - a.rk between 1 and 4) "
            "select distinct least(x, y) as id_a, greatest(x, y) as id_b from "
            "(select x, y from p1 union all select x, y from p2)"
        ),
        "dedup_embedding_cosine": (
            "select a.vec_id as id_a, b.vec_id as id_b, round(list_cosine_similarity(cast(a.embedding as double[]), cast(b.embedding as double[])), 6) as cosine "
            "from embeddings a, embeddings b where a.vec_id < b.vec_id "
            "and round(list_cosine_similarity(cast(a.embedding as double[]), cast(b.embedding as double[])), 6) >= 0.4"
        ),
        "dedup_embedding_ivf": (
            "with centroids as (select vec_id as cell, embedding as c_vec from embeddings order by vec_id limit 16), "
            "ranked as (select vec_id, cell, r from (select v.vec_id, c.cell, "
            "  row_number() over (partition by v.vec_id order by round(list_cosine_similarity(cast(c.c_vec as double[]), cast(v.embedding as double[])), 6) desc, c.cell asc) as r "
            "  from embeddings v, centroids c) where r <= 2), "
            "home as (select vec_id as id_h, cell from ranked where r = 1), "
            "pairs as (select distinct least(p.vec_id, h.id_h) as id_a, greatest(p.vec_id, h.id_h) as id_b "
            "  from ranked p join home h using (cell) where p.vec_id != h.id_h) "
            "select id_a, id_b, "
            "round(list_cosine_similarity(cast(va.embedding as double[]), cast(vb.embedding as double[])), 6) as cosine "
            "from pairs join embeddings va on va.vec_id = id_a join embeddings vb on vb.vec_id = id_b "
            "where round(list_cosine_similarity(cast(va.embedding as double[]), cast(vb.embedding as double[])), 6) >= 0.4"
        ),
        "ann_brute_topk": (
            "with scored as (select q.vec_id as query_id, v.vec_id as neighbor_id, "
            "round(list_cosine_similarity(cast(q.embedding as double[]), cast(v.embedding as double[])), 6) as cosine "
            "from embeddings q, embeddings v where q.vec_id < 10 and q.vec_id != v.vec_id) "
            "select query_id, neighbor_id, rank, cosine from "
            "(select *, row_number() over (partition by query_id order by cosine desc, neighbor_id asc) as rank from scored) "
            "where rank <= 5"
        ),
        "ann_ivf_topk": (
            "with centroids as (select vec_id as cell, embedding as c_vec from embeddings order by vec_id limit 16), "
            "assign as (select vec_id, cell from (select v.vec_id, c.cell, "
            "  row_number() over (partition by v.vec_id order by round(list_cosine_similarity(cast(c.c_vec as double[]), cast(v.embedding as double[])), 6) desc, c.cell asc) as r "
            "  from embeddings v, centroids c) where r = 1), "
            "qprobe as (select query_id, cell from (select q.vec_id as query_id, c.cell, "
            "  row_number() over (partition by q.vec_id order by round(list_cosine_similarity(cast(c.c_vec as double[]), cast(q.embedding as double[])), 6) desc, c.cell asc) as r "
            "  from embeddings q, centroids c where q.vec_id < 10) where r <= 4), "
            "cand as (select p.query_id, a.vec_id as neighbor_id from qprobe p join assign a using (cell) where p.query_id != a.vec_id), "
            "scored as (select c.query_id, c.neighbor_id, round(list_cosine_similarity(cast(q.embedding as double[]), cast(v.embedding as double[])), 6) as cosine "
            "  from cand c join embeddings q on q.vec_id = c.query_id join embeddings v on v.vec_id = c.neighbor_id) "
            "select query_id, neighbor_id, rank, cosine from "
            "(select *, row_number() over (partition by query_id order by cosine desc, neighbor_id asc) as rank from scored) "
            "where rank <= 5"
        ),
        "ann_pq_topk": (
            "with v as (select vec_id, cast(embedding as double[]) as emb from embeddings), "
            "seed as (select vec_id as code, emb from v order by vec_id limit 16), "
            "sp as (select g.m from generate_series(0, 3) g(m)), "
            "cb as (select sp.m, seed.code, (seed.emb)[sp.m*16+1:(sp.m+1)*16] as c_sub from seed, sp), "
            "subs as (select v.vec_id, sp.m, (v.emb)[sp.m*16+1:(sp.m+1)*16] as v_sub from v, sp), "
            "assign as (select vec_id, m, code from (select s.vec_id, s.m, cb.code, "
            "  row_number() over (partition by s.vec_id, s.m order by "
            "    round(list_sum([(s.v_sub[i]-cb.c_sub[i])*(s.v_sub[i]-cb.c_sub[i]) for i in generate_series(1, 16)]), 6) asc, cb.code asc) as r "
            "  from subs s join cb on s.m = cb.m) where r = 1), "
            "recon as (select a.vec_id, flatten(list(cb.c_sub order by a.m)) as r_vec "
            "  from assign a join cb on a.m = cb.m and a.code = cb.code group by a.vec_id), "
            "scored as (select q.vec_id as query_id, r.vec_id as neighbor_id, "
            "  round(list_cosine_similarity(q.emb, r.r_vec), 6) as cosine "
            "  from v q, recon r where q.vec_id < 10 and q.vec_id != r.vec_id) "
            "select query_id, neighbor_id, rank, cosine from "
            "(select *, row_number() over (partition by query_id order by cosine desc, neighbor_id asc) as rank from scored) "
            "where rank <= 5"
        ),
        "ann_ivf_pq_topk": (
            "with v as (select vec_id, cast(embedding as double[]) as emb from embeddings), "
            "centroids as (select vec_id as cell, emb as c_vec from v order by vec_id limit 16), "
            "assign as (select vec_id, cell from (select t.vec_id, c.cell, "
            "  row_number() over (partition by t.vec_id order by round(list_cosine_similarity(c.c_vec, t.emb), 6) desc, c.cell asc) as r "
            "  from v t, centroids c) where r = 1), "
            "qprobe as (select query_id, cell from (select q.vec_id as query_id, c.cell, "
            "  row_number() over (partition by q.vec_id order by round(list_cosine_similarity(c.c_vec, q.emb), 6) desc, c.cell asc) as r "
            "  from v q, centroids c where q.vec_id < 10) where r <= 4), "
            "seed as (select vec_id as code, emb from v order by vec_id limit 16), "
            "sp as (select g.m from generate_series(0, 3) g(m)), "
            "cb as (select sp.m, seed.code, (seed.emb)[sp.m*16+1:(sp.m+1)*16] as c_sub from seed, sp), "
            "subs as (select v.vec_id, sp.m, (v.emb)[sp.m*16+1:(sp.m+1)*16] as v_sub from v, sp), "
            "pqassign as (select vec_id, m, code from (select s.vec_id, s.m, cb.code, "
            "  row_number() over (partition by s.vec_id, s.m order by "
            "    round(list_sum([(s.v_sub[i]-cb.c_sub[i])*(s.v_sub[i]-cb.c_sub[i]) for i in generate_series(1, 16)]), 6) asc, cb.code asc) as r "
            "  from subs s join cb on s.m = cb.m) where r = 1), "
            "recon as (select a.vec_id, flatten(list(cb.c_sub order by a.m)) as r_vec "
            "  from pqassign a join cb on a.m = cb.m and a.code = cb.code group by a.vec_id), "
            "cand as (select p.query_id, a.vec_id as neighbor_id from qprobe p join assign a using (cell) where p.query_id != a.vec_id), "
            "scored as (select c.query_id, c.neighbor_id, round(list_cosine_similarity(q.emb, r.r_vec), 6) as cosine "
            "  from cand c join v q on q.vec_id = c.query_id join recon r on r.vec_id = c.neighbor_id) "
            "select query_id, neighbor_id, rank, cosine from "
            "(select *, row_number() over (partition by query_id order by cosine desc, neighbor_id asc) as rank from scored) "
            "where rank <= 5"
        ),
        "ann_ivf_pq_refined": (
            "with v as (select vec_id, cast(embedding as double[]) as emb from embeddings), "
            "centroids as (select vec_id as cell, emb as c_vec from v order by vec_id limit 16), "
            "assign as (select vec_id, cell from (select t.vec_id, c.cell, "
            "  row_number() over (partition by t.vec_id order by round(list_cosine_similarity(c.c_vec, t.emb), 6) desc, c.cell asc) as r "
            "  from v t, centroids c) where r = 1), "
            "qprobe as (select query_id, cell from (select q.vec_id as query_id, c.cell, "
            "  row_number() over (partition by q.vec_id order by round(list_cosine_similarity(c.c_vec, q.emb), 6) desc, c.cell asc) as r "
            "  from v q, centroids c where q.vec_id < 10) where r <= 4), "
            "seed as (select vec_id as code, emb from v order by vec_id limit 16), "
            "sp as (select g.m from generate_series(0, 3) g(m)), "
            "cb as (select sp.m, seed.code, (seed.emb)[sp.m*16+1:(sp.m+1)*16] as c_sub from seed, sp), "
            "subs as (select v.vec_id, sp.m, (v.emb)[sp.m*16+1:(sp.m+1)*16] as v_sub from v, sp), "
            "pqassign as (select vec_id, m, code from (select s.vec_id, s.m, cb.code, "
            "  row_number() over (partition by s.vec_id, s.m order by "
            "    round(list_sum([(s.v_sub[i]-cb.c_sub[i])*(s.v_sub[i]-cb.c_sub[i]) for i in generate_series(1, 16)]), 6) asc, cb.code asc) as r "
            "  from subs s join cb on s.m = cb.m) where r = 1), "
            "recon as (select a.vec_id, flatten(list(cb.c_sub order by a.m)) as r_vec "
            "  from pqassign a join cb on a.m = cb.m and a.code = cb.code group by a.vec_id), "
            "cand as (select p.query_id, a.vec_id as neighbor_id from qprobe p join assign a using (cell) where p.query_id != a.vec_id), "
            "approx as (select c.query_id, c.neighbor_id, round(list_cosine_similarity(q.emb, r.r_vec), 6) as acos "
            "  from cand c join v q on q.vec_id = c.query_id join recon r on r.vec_id = c.neighbor_id), "
            "short as (select query_id, neighbor_id from "
            "  (select *, row_number() over (partition by query_id order by acos desc, neighbor_id asc) as arank from approx) "
            "  where arank <= 20), "
            "exact as (select s.query_id, s.neighbor_id, round(list_cosine_similarity(q.emb, n.emb), 6) as cosine "
            "  from short s join v q on q.vec_id = s.query_id join v n on n.vec_id = s.neighbor_id) "
            "select query_id, neighbor_id, rank, cosine from "
            "(select *, row_number() over (partition by query_id order by cosine desc, neighbor_id asc) as rank from exact) "
            "where rank <= 5"
        ),
        "text_tfidf": (
            "with toks as (select doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) as token from documents), "
            "tf as (select doc_id, token, count(*) as tf from toks group by doc_id, token), "
            "dfc as (select token, count(*) as df from tf group by token), "
            "n as (select count(*) as n_docs from documents) "
            "select tf.doc_id, tf.token, tf.tf, dfc.df, "
            "round(tf.tf * ln(cast(n_docs as double) / df), 6) as tfidf "
            "from tf join dfc using (token) cross join n"
        ),
        "sample_stratified": (
            "select doc_id, lang from ("
            "select doc_id, lang, row_number() over (partition by lang "
            "order by md5(concat('s1#', cast(doc_id as varchar))), doc_id) as r from documents) "
            "where r <= 20"
        ),
        "split_assign": (
            "select doc_id, case "
            "when cast(concat('0x', substr(md5(concat('sp#', cast(doc_id as varchar))), 1, 13)) as bigint) < 450359962737049 then 'test' "
            "when cast(concat('0x', substr(md5(concat('sp#', cast(doc_id as varchar))), 1, 13)) as bigint) < 4053239664633446 then 'train' "
            "else 'val' end as split from documents"
        ),
        "pack_token_budget": (
            "with t as (select doc_id, len(list_filter(string_split(text, ' '), x -> x != '')) as n_tokens, "
            "lpad(cast(doc_id as varchar), 8, '0') as sk from documents), "
            "c as (select doc_id, n_tokens, coalesce(sum(n_tokens) over "
            "(order by sk, doc_id rows between unbounded preceding and 1 preceding), 0) as cum_excl from t) "
            "select doc_id, n_tokens, cast(floor(cum_excl / 512) as bigint) as bin_id, "
            "cast(cum_excl - cast(floor(cum_excl / 512) as bigint) * 512 as bigint) as offset_in_bin from c"
        ),
        "mix_domains": (
            "with w(lang, budget) as (values ('de', 4000), ('en', 8000), ('es', 2000), ('fr', 4000), ('zh', 2000)), "
            "t as (select doc_id, lang, len(list_filter(string_split(text, ' '), x -> x != '')) as n_tokens, "
            "md5(concat('mix', '#', cast(doc_id as varchar))) as h from documents), "
            "r as (select t.doc_id, t.lang, t.n_tokens, w.budget, "
            "coalesce(sum(t.n_tokens) over (partition by t.lang order by h, t.doc_id "
            "rows between unbounded preceding and 1 preceding), 0) as cum_excl from t join w using (lang)) "
            "select doc_id, lang, n_tokens, cast(cum_excl as bigint) as cum_excl from r where cum_excl < budget"
        ),
        "text_stats": (
            "with t as (select doc_id, text, list_filter(string_split(text, ' '), x -> x != '') as ts from documents) "
            "select doc_id, len(ts) as n_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) as n_regex_tokens, "
            "length(text) as n_chars_actual, "
            "case when length(text) = 0 then 0.0 else round(cast(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) as double) / length(text), 6) end as punct_ratio, "
            f"case when len(ts) = 0 then 0.0 else round(cast(len(list_filter(list_transform(ts, x -> lower(x)), x -> x in ({stop_list}))) as double) / len(ts), 6) end as stopword_ratio, "
            "case when len(ts) = 0 then 0.0 else round(cast(list_sum(list_transform(ts, x -> length(x))) as double) / len(ts), 6) end as mean_token_len "
            "from t"
        ),
        "text_quality_langid": (
            "with t as (select doc_id, text, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            f"m as (select doc_id, text, ts, case when len(ts) = 0 then 0.0 else round(cast(len(list_filter(list_transform(ts, x -> lower(x)), x -> x in ({stop_list}))) as double) / len(ts), 6) end as swr, "
            "case when length(text) = 0 then 0.0 else round(cast(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) as double) / length(text), 6) end as pr, "
            "case when length(text) = 0 then 1.0 else cast(length(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) as double) / length(text) end as ar from t) "
            "select doc_id, round((least(length(text) / 500.0, 1.0) + (1.0 - least(pr * 5.0, 1.0)) + least(swr * 4.0, 1.0)) / 3.0, 6) as quality, "
            "case when swr >= 0.05 and ar >= 0.9 then 'en' else 'other' end as lang_pred from m"
        ),
        "text_fingerprint": (
            "select doc_id, md5(array_to_string(list_sort(list_distinct(list_filter(string_split(lower(text), ' '), x -> x != ''))), ' ')) as fingerprint from documents"
        ),
        "dedup_incremental": (
            "with olddocs as (select doc_id, text from documents where doc_id < 250), "
            "newdocs as (select doc_id, text from documents where doc_id >= 250 "
            "  union all select doc_id + 10000 as doc_id, text from documents where doc_id < 250 and doc_id % 100 = 0), "
            "alldocs as (select doc_id, text from olddocs union all select doc_id, text from newdocs), "
            "toks as (select doc_id, list_filter(string_split(text, ' '), x -> x != '') as ts from alldocs), "
            "sh as (select doc_id, case when len(ts) <= 3 then [array_to_string(ts, ' ')] "
            "  else list_distinct([array_to_string(ts[i:i+2], ' ') for i in generate_series(1, len(ts)-2)]) end as shs from toks), "
            "sig as (select doc_id, [list_min([cast(concat('0x', substr(md5(concat(s, '#7#', cast(h as varchar))), 1, 15)) as bigint) for s in shs]) "
            "  for h in [0,1,2,3,4,5]] as sg from sh), "
            "bands as (select doc_id, unnest([ "
            "  concat_ws('#', '0', cast(sg[1] as varchar), cast(sg[2] as varchar)), "
            "  concat_ws('#', '1', cast(sg[3] as varchar), cast(sg[4] as varchar)), "
            "  concat_ws('#', '2', cast(sg[5] as varchar), cast(sg[6] as varchar))]) as band_key from sig), "
            "ex as (select n.doc_id, min(o.doc_id) as matched_id from newdocs n join olddocs o on md5(n.text) = md5(o.text) group by n.doc_id), "
            "ob as (select band_key, list(distinct b.doc_id) as ids from bands b join olddocs o on b.doc_id = o.doc_id group by band_key having count(distinct b.doc_id) <= 200), "
            "cand as (select distinct b.doc_id, unnest(ob.ids) as old_id from bands b join newdocs n on b.doc_id = n.doc_id join ob using (band_key)), "
            "tokset as (select doc_id, list_distinct(ts) as ts from toks), "
            "ver as (select c.doc_id, c.old_id from cand c join tokset a on a.doc_id = c.doc_id join tokset b on b.doc_id = c.old_id "
            "  where cast(len(list_filter(a.ts, x -> list_contains(b.ts, x))) as double) / "
            "  (len(a.ts) + len(b.ts) - len(list_filter(a.ts, x -> list_contains(b.ts, x)))) >= 0.8), "
            "nr as (select doc_id, min(old_id) as matched_id from ver where doc_id not in (select doc_id from ex) group by doc_id) "
            "select doc_id, matched_id, 'exact' as reason from ex "
            "union all select doc_id, matched_id, 'near_dup' as reason from nr"
        ),
        "substring_dedup": (
            # plain relational form (no list comprehensions, no lambdas):
            # tokens unnest to (doc_id, pos) rows, 5-token windows come from
            # lead(), covered positions anti-join away, and the kept tokens
            # re-join with string_agg in position order
            "with sp as (select doc_id, string_split(text, ' ') as parts from documents), "
            "raw as (select doc_id, parts, unnest(generate_series(1, len(parts))) as rpos from sp), "
            "toks as (select doc_id, row_number() over (partition by doc_id order by rpos) as pos, parts[rpos] as tok "
            "  from raw where parts[rpos] != ''), "
            "lw as (select doc_id, pos, tok, lead(tok, 1) over w as t1, lead(tok, 2) over w as t2, "
            "  lead(tok, 3) over w as t3, lead(tok, 4) over w as t4 from toks window w as (partition by doc_id order by pos)), "
            "wins as (select doc_id, pos, md5(concat_ws(' ', tok, t1, t2, t3, t4)) as wh from lw where t4 is not null), "
            "dup as (select wh, min(doc_id) as canon_doc from wins group by wh having count(distinct doc_id) > 1), "
            "starts as (select distinct w.doc_id, w.pos as s from wins w join dup d using (wh) where w.doc_id != d.canon_doc), "
            "covered as (select distinct t.doc_id, t.pos from toks t join starts c "
            "  on t.doc_id = c.doc_id and t.pos between c.s and c.s + 4), "
            "kept as (select t.doc_id, t.pos, t.tok from toks t left join covered c "
            "  on t.doc_id = c.doc_id and t.pos = c.pos where c.pos is null), "
            "n as (select doc_id, count(*) as n_tokens from toks group by doc_id), "
            "k as (select doc_id, count(*) as n_kept, string_agg(tok, ' ' order by pos) as cleaned_text from kept group by doc_id) "
            "select d.doc_id, coalesce(n.n_tokens, 0) as n_tokens, coalesce(n.n_tokens, 0) - coalesce(k.n_kept, 0) as n_removed, "
            "coalesce(k.cleaned_text, '') as cleaned_text "
            "from documents d left join n on d.doc_id = n.doc_id left join k on d.doc_id = k.doc_id"
        ),
        "decontaminate_ngrams": (
            "with toks as (select doc_id, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "grams as (select doc_id, unnest([array_to_string(ts[i:i+3], ' ') for i in generate_series(1, len(ts)-3)]) as gram "
            "  from toks where len(ts) >= 4), "
            "bench as (select distinct gram from grams where doc_id % 50 = 0), "
            "corpus as (select distinct doc_id, gram from grams where doc_id % 50 != 0) "
            "select doc_id, count(*) as n_hits, min(gram) as first_hit "
            "from corpus join bench using (gram) group by doc_id"
        ),
        "quality_repetition": (
            "with toks as (select doc_id, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "grams as (select doc_id, unnest([array_to_string(ts[i:i+1], ' ') for i in generate_series(1, len(ts)-1)]) as gram "
            "  from toks where len(ts) >= 2), "
            "pg as (select doc_id, gram, count(*) as c from grams group by doc_id, gram), "
            "st as (select doc_id, sum(c) as total, count(*) as n_distinct, max(c) as top_c from pg group by doc_id) "
            "select doc_id, round(1.0 - cast(n_distinct as double) / total, 6) as dup_ngram_frac, "
            "round(cast(top_c as double) / total, 6) as top_ngram_frac from st "
            "union all select doc_id, 0.0 as dup_ngram_frac, 0.0 as top_ngram_frac from toks where len(ts) < 2"
        ),
        "quality_gopher_rules": (
            "with t0 as (select doc_id, concat("
            "  replace(replace(text, ' table ', chr(10) || '- '), ' line ', '...' || chr(10)), "
            "  case when doc_id % 9 = 0 then ' # # #' else '' end, "
            "  case when doc_id % 17 = 0 then ' … …' else '' end) as text from documents), "
            "m as (select doc_id, text, "
            "  list_filter(string_split(text, ' '), x -> x != '') as ts, "
            "  list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x != '') as lines from t0), "
            "s as (select doc_id, len(ts) as nw, len(lines) as nl, "
            "  length(text) - length(replace(text, '#', '')) as n_hash, "
            "  cast((length(text) - length(replace(text, '...', ''))) / 3 as bigint) as n_dots, "
            "  length(text) - length(replace(text, '…', '')) as n_uni, "
            "  len(list_filter(lines, x -> regexp_matches(x, '^[-*•]'))) as n_bullet, "
            "  len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) as n_ellip, "
            "  len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) as n_alpha, "
            f"  len(list_filter(ts, x -> lower(x) in ({gopher_stop_list}))) as stop_hits, "
            "  case when len(ts) = 0 then 0.0 else round(cast(list_sum(list_transform(ts, x -> length(x))) as double) / len(ts), 6) end as mean_wl "
            "  from m), "
            "r as (select doc_id, nw, mean_wl, stop_hits, "
            "  case when nw = 0 then 0.0 else round(cast(n_hash + n_dots + n_uni as double) / nw, 6) end as symbol_ratio, "
            "  case when nl = 0 then 0.0 else round(cast(n_bullet as double) / nl, 6) end as bullet_frac, "
            "  case when nl = 0 then 0.0 else round(cast(n_ellip as double) / nl, 6) end as ellip_frac, "
            "  case when nw = 0 then 0.0 else round(cast(n_alpha as double) / nw, 6) end as alpha_frac from s) "
            "select doc_id, nw as n_words, mean_wl as mean_word_len, symbol_ratio as symbol_word_ratio, "
            "bullet_frac as bullet_line_frac, ellip_frac as ellipsis_line_frac, alpha_frac as alpha_word_frac, "
            "stop_hits as stopword_hits, "
            "(nw >= 30 and nw <= 100000 and mean_wl >= 4.0 and mean_wl <= 10.0 "
            " and symbol_ratio <= 0.05 and bullet_frac <= 0.4 and ellip_frac <= 0.4 "
            " and alpha_frac >= 0.9 and stop_hits >= 2) as gopher_keep from r"
        ),
        "pii_redaction": (
            "with t0 as (select doc_id, concat(text, case "
            "when doc_id % 7 = 0 then concat(' contact admin', cast(doc_id as varchar), '@example.com now') "
            "when doc_id % 11 = 0 then ' from 10.0.42.7 port 8080' "
            "when doc_id % 13 = 0 then ' ref 123456789012 ok' else '' end) as text from documents), "
            "t1 as (select doc_id, len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) as n_email, "
            "  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<PII:email>', 'g') as r from t0), "
            "t2 as (select doc_id, n_email, len(regexp_extract_all(r, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) as n_ipv4, "
            "  regexp_replace(r, '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<PII:ipv4>', 'g') as r from t1), "
            "t3 as (select doc_id, n_email, n_ipv4, len(regexp_extract_all(r, '[0-9]{9,}')) as n_long_digits, "
            "  regexp_replace(r, '[0-9]{9,}', '<PII:long_digits>', 'g') as redacted from t2) "
            "select doc_id, redacted, n_email, n_ipv4, n_long_digits from t3"
        ),
        "decontaminate_embedding": (
            "with bench as (select vec_id as bench_id, cast(embedding as double[]) as b from embeddings where vec_id % 25 = 0), "
            "corpus as (select vec_id, cast(embedding as double[]) as v from embeddings where vec_id % 25 != 0), "
            "f as (select c.vec_id, b.bench_id, round(list_cosine_similarity(c.v, b.b), 6) as cosine "
            "  from corpus c, bench b where round(list_cosine_similarity(c.v, b.b), 6) >= 0.3), "
            "r as (select vec_id, count(*) as n_hits, max(cosine) as top_cosine from f group by vec_id), "
            "t as (select f.vec_id, max(f.bench_id) as top_benchmark_id from f join r using (vec_id) "
            "  where f.cosine = r.top_cosine group by f.vec_id) "
            "select r.vec_id, r.n_hits, t.top_benchmark_id, r.top_cosine from r join t using (vec_id)"
        ),
        "dedup_semantic": (
            "with recursive v as (select vec_id, cast(embedding as double[]) as emb from embeddings), "
            "centroids as (select vec_id as cell, emb as c_vec from v order by vec_id limit 16), "
            "assign as (select vec_id, cell from (select t.vec_id, c.cell, "
            "  row_number() over (partition by t.vec_id order by round(list_cosine_similarity(c.c_vec, t.emb), 6) desc, c.cell asc) as r "
            "  from v t, centroids c) where r = 1), "
            "acos as (select a.vec_id, a.cell, round(list_cosine_similarity(c.c_vec, t.emb), 6) as cos_centroid "
            "  from assign a join centroids c on a.cell = c.cell join v t on t.vec_id = a.vec_id), "
            "pairs as (select a.vec_id as id_a, b.vec_id as id_b from assign a join assign b using (cell) "
            "  join v va on va.vec_id = a.vec_id join v vb on vb.vec_id = b.vec_id "
            "  where a.vec_id < b.vec_id and round(list_cosine_similarity(va.emb, vb.emb), 6) >= 0.4), "
            "edges as (select id_a as a, id_b as b from pairs union select id_b, id_a from pairs), "
            "reach(d, x) as (select a, a from edges union select r.d, e.b from reach r join edges e on e.a = r.x), "
            "lab as (select d as vec_id, min(x) as group_id from reach group by d), "
            "sz as (select group_id, count(*) as group_size from lab group by group_id), "
            "ranked as (select l.vec_id, l.group_id, a.cell, a.cos_centroid, "
            "  row_number() over (partition by l.group_id order by a.cos_centroid asc, l.vec_id asc) as r "
            "  from lab l join acos a using (vec_id)) "
            "select ranked.vec_id, ranked.cell, ranked.group_id, sz.group_size, ranked.cos_centroid, (ranked.r = 1) as keep "
            "from ranked join sz using (group_id)"
        ),
        "c4_line_filter": (
            "with t0 as (select doc_id, regexp_replace(text, ' (table|line) ', '.' || chr(10), 'g') as text from documents), "
            "l0 as (select doc_id, text, list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x != '') as lines from t0), "
            "k as (select doc_id, text, lines, list_filter(lines, x -> "
            "  len(list_filter(string_split(x, ' '), w -> w != '')) >= 3 "
            "  and regexp_matches(x, '[.!?\"]$') and not contains(lower(x), 'vector')) as kept from l0) "
            "select doc_id, len(lines) as n_lines, len(kept) as n_lines_kept, "
            "((not contains(lower(text), 'big data')) and len(kept) >= 2) as doc_kept, "
            "case when (not contains(lower(text), 'big data')) and len(kept) >= 2 "
            "  then array_to_string(kept, chr(10)) else '' end as cleaned_text from k"
        ),
        "importance_weights": (
            "with toks as (select doc_id, source, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "g as (select doc_id, source, unnest(ts) as gram from toks), "
            "b as (select doc_id, source, cast(concat('0x', substr(md5(gram), 1, 15)) as bigint) % 64 as bucket from g), "
            "ct as (select bucket, count(*) as ct from b where source = 'src0' group by bucket), "
            "cr as (select bucket, count(*) as cr from b group by bucket), "
            "tot as (select coalesce((select sum(ct) from ct), 0) as tt, coalesce((select sum(cr) from cr), 0) as tr), "
            "allb as (select gs.b as bucket from generate_series(0, 63) gs(b)), "
            "ratios as (select allb.bucket, cast(round(round("
            "  ln((coalesce(ct.ct, 0) + 1.0) / (tot.tt + 64.0)) - ln((coalesce(cr.cr, 0) + 1.0) / (tot.tr + 64.0)), 6) * 1000000) as bigint) as llr_micro "
            "  from allb left join ct using (bucket) left join cr using (bucket) cross join tot), "
            "sc as (select b.doc_id, count(*) as n_grams, sum(r.llr_micro) as micro from b join ratios r using (bucket) group by b.doc_id) "
            "select doc_id, n_grams, round(micro / 1000000.0, 6) as log_weight from sc "
            "union all select doc_id, 0 as n_grams, 0.0 as log_weight from toks where len(ts) < 1"
        ),
        "corpus_profile": (
            "select source, count(*) as n_docs, "
            "cast(sum(len(list_filter(string_split(text, ' '), x -> x != ''))) as bigint) as total_tokens, "
            "round(avg(n_chars), 6) as mean_chars, "
            "round(quantile_cont(n_chars, 0.5), 6) as p50_chars, "
            "round(quantile_cont(n_chars, 0.9), 6) as p90_chars, "
            "count(distinct lang) as n_langs "
            "from documents group by source"
        ),
        "quality_classifier": (
            "with toks as (select doc_id, source, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "tr as (select doc_id, case when source = 'src0' then 1.0 else 0.0 end as label from toks where doc_id % 2 = 0), "
            "g as (select doc_id, source, unnest(ts) as gram from toks), "
            "b as (select doc_id, source, cast(concat('0x', substr(md5(gram), 1, 15)) as bigint) % 64 as bucket from g), "
            "bt as (select * from b where doc_id % 2 = 0), "
            "ct as (select bucket, count(*) as ct from bt where source = 'src0' group by bucket), "
            "cr as (select bucket, count(*) as cr from bt where source != 'src0' group by bucket), "
            "tot as (select coalesce((select sum(ct) from ct), 0) as tt, coalesce((select sum(cr) from cr), 0) as tr), "
            "allb as (select gs.b as bucket from generate_series(0, 63) gs(b)), "
            "ratios as (select allb.bucket, cast(round(round("
            "  ln((coalesce(ct.ct, 0) + 1.0) / (tot.tt + 64.0)) - ln((coalesce(cr.cr, 0) + 1.0) / (tot.tr + 64.0)), 6) * 1000000) as bigint) as llr_micro "
            "  from allb left join ct using (bucket) left join cr using (bucket) cross join tot), "
            "sc as (select b.doc_id, count(*) as n_grams, sum(r.llr_micro) as micro from b join ratios r using (bucket) group by b.doc_id), "
            "lw as (select doc_id, n_grams, round(micro / 1000000.0, 6) as log_weight from sc "
            "  union all select doc_id, 0 as n_grams, 0.0 as log_weight from toks where len(ts) < 1), "
            "prior as (select round(ln((sum(case when label >= 0.5 then 1 else 0 end) + 1.0) "
            "  / (sum(case when label < 0.5 then 1 else 0 end) + 1.0)), 6) as log_prior from tr), "
            "fin as (select doc_id, n_grams, round(log_weight + log_prior, 6) as logit from lw cross join prior) "
            "select doc_id, n_grams, logit, round(1.0 / (1.0 + exp(-logit)), 6) as prob, "
            "round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 as keep from fin"
        ),
        "select_quality_topk": (
            "with toks as (select doc_id, source, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "g as (select doc_id, source, unnest(ts) as gram from toks), "
            "b as (select doc_id, source, cast(concat('0x', substr(md5(gram), 1, 15)) as bigint) % 64 as bucket from g), "
            "ct as (select bucket, count(*) as ct from b where source = 'src0' group by bucket), "
            "cr as (select bucket, count(*) as cr from b group by bucket), "
            "tot as (select coalesce((select sum(ct) from ct), 0) as tt, coalesce((select sum(cr) from cr), 0) as tr), "
            "allb as (select gs.b as bucket from generate_series(0, 63) gs(b)), "
            "ratios as (select allb.bucket, cast(round(round("
            "  ln((coalesce(ct.ct, 0) + 1.0) / (tot.tt + 64.0)) - ln((coalesce(cr.cr, 0) + 1.0) / (tot.tr + 64.0)), 6) * 1000000) as bigint) as llr_micro "
            "  from allb left join ct using (bucket) left join cr using (bucket) cross join tot), "
            "sc as (select b.doc_id, count(*) as n_grams, sum(r.llr_micro) as micro from b join ratios r using (bucket) group by b.doc_id), "
            "iw as (select doc_id, n_grams, round(micro / 1000000.0, 6) as log_weight from sc "
            "  union all select doc_id, 0 as n_grams, 0.0 as log_weight from toks where len(ts) < 1) "
            "select doc_id, n_grams, log_weight from "
            "(select *, row_number() over (order by log_weight desc, doc_id asc) as r from iw) where r <= 100"
        ),
        "sample_quality_gumbel": (
            "with toks as (select doc_id, source, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "g as (select doc_id, source, unnest(ts) as gram from toks), "
            "b as (select doc_id, source, cast(concat('0x', substr(md5(gram), 1, 15)) as bigint) % 64 as bucket from g), "
            "ct as (select bucket, count(*) as ct from b where source = 'src0' group by bucket), "
            "cr as (select bucket, count(*) as cr from b group by bucket), "
            "tot as (select coalesce((select sum(ct) from ct), 0) as tt, coalesce((select sum(cr) from cr), 0) as tr), "
            "allb as (select gs.b as bucket from generate_series(0, 63) gs(b)), "
            "ratios as (select allb.bucket, cast(round(round("
            "  ln((coalesce(ct.ct, 0) + 1.0) / (tot.tt + 64.0)) - ln((coalesce(cr.cr, 0) + 1.0) / (tot.tr + 64.0)), 6) * 1000000) as bigint) as llr_micro "
            "  from allb left join ct using (bucket) left join cr using (bucket) cross join tot), "
            "sc as (select b.doc_id, count(*) as n_grams, sum(r.llr_micro) as micro from b join ratios r using (bucket) group by b.doc_id), "
            "iw as (select doc_id, n_grams, round(micro / 1000000.0, 6) as log_weight from sc "
            "  union all select doc_id, 0 as n_grams, 0.0 as log_weight from toks where len(ts) < 1), "
            "pert as (select doc_id, n_grams, log_weight, round(log_weight / 2.0 - ln(-ln("
            "  (cast(concat('0x', substr(md5(concat('dsir', '#', cast(doc_id as varchar))), 1, 13)) as bigint) + 1.0) / 4503599627370498.0)), 6) as pw from iw) "
            "select doc_id, n_grams, log_weight from "
            "(select *, row_number() over (order by pw desc, doc_id asc) as r from pert) where r <= 100"
        ),
        "quality_bigram_lm": (
            "with toks as (select doc_id, source, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "db0 as (select doc_id, unnest([{'w1': ts[i], 'w2': ts[i + 1]} for i in generate_series(1, len(ts) - 1)]) as u from toks where len(ts) >= 2), "
            "db as (select doc_id, u.w1 as w1, u.w2 as w2 from db0), "
            "lmb as (select d.w1, d.w2, count(*) as c2 from db d join toks t using (doc_id) where t.source = 'src0' group by d.w1, d.w2), "
            "lmu as (select w1, count(*) as c1 from (select unnest(ts) as w1 from toks where source = 'src0') group by w1), "
            "vocab as (select count(*) as v from lmu), "
            "sc as (select d.doc_id, count(*) as n_bigrams, sum(cast(round(round("
            "  ln((coalesce(lmb.c2, 0) + 1.0) / (coalesce(lmu.c1, 0) + 1.0 * vocab.v)), 6) * 1000000) as bigint)) as micro "
            "  from db d left join lmb on d.w1 = lmb.w1 and d.w2 = lmb.w2 left join lmu on d.w1 = lmu.w1 cross join vocab group by d.doc_id) "
            "select doc_id, n_bigrams, round(micro / 1000000.0 / n_bigrams, 6) as avg_logprob from sc "
            "union all select doc_id, 0 as n_bigrams, 0.0 as avg_logprob from toks where len(ts) < 2"
        ),
        "chunk_documents": (
            "with toks as (select doc_id, list_filter(string_split(text, ' '), x -> x != '') as ts from documents), "
            "st as (select doc_id, ts, unnest([s for s in generate_series(1, greatest(1, len(ts) - 4), 12)]) as s from toks) "
            "select doc_id, cast((s - 1) // 12 as int) as chunk_idx, len(ts[s : s + 15]) as n_tokens, "
            "array_to_string(ts[s : s + 15], ' ') as chunk_text from st"
        ),
        "events_asof_join": (
            "with p as (select user_id, event_id, ts from events where event_type = 'purchase'), "
            "c as (select user_id, event_id as click_id, ts from events where event_type = 'click'), "
            "m as (select p.user_id, p.event_id, p.ts, c.click_id, c.ts as cts, "
            "  row_number() over (partition by p.event_id order by c.ts desc, c.click_id desc) as r "
            "  from p left join c on c.user_id = p.user_id and c.ts <= p.ts) "
            "select user_id, event_id, epoch_us(ts) as ts_us, click_id, "
            "case when click_id is null then null else epoch_us(ts) - epoch_us(cts) end as gap_us "
            "from m where r = 1"
        ),
        "events_range_join": (
            "with c as (select user_id, event_id as click_id, ts from events where event_type = 'click'), "
            "i as (select user_id, event_id as purchase_id, ts as s, ts + interval 4 hour as e from events where event_type = 'purchase') "
            "select c.user_id, i.purchase_id, c.click_id, epoch_us(c.ts) - epoch_us(i.s) as offset_us "
            "from c join i on c.user_id = i.user_id and c.ts >= i.s and c.ts <= i.e"
        ),
        "matcher_training_pairs": (
            "with a as (select doc_id as id, lang as cl from documents), "
            "canon as (select cl, min(id) as canon from a group by cl), "
            "pos as (select least(id, canon) as id_a, greatest(id, canon) as id_b, 1.0 as label, 'same_cluster' as source "
            "  from a join canon using (cl) where id != canon), "
            "b as (select source as bk, doc_id as id, lang as cl from documents), "
            "okb as (select bk from b group by bk having count(distinct id) between 2 and 200), "
            "cross0 as (select distinct least(x.id, y.id) as id_a, greatest(x.id, y.id) as id_b "
            "  from b x join b y using (bk) join okb using (bk) where x.id < y.id and x.cl != y.cl), "
            "neg as (select id_a, id_b, 0.0 as label, 'hard_negative' as source from cross0 "
            "  where cast(concat('0x', substr(md5(concat('pairs', '#', cast(id_a as varchar), '#', cast(id_b as varchar))), 1, 15)) as bigint) < 115292150460684704) "
            "select * from pos union all select * from neg"
        ),
        "er_threshold_sweep": (
            "with a as (select doc_id as id, lang as cl from documents), "
            "canon as (select cl, min(id) as canon from a group by cl), "
            "pos as (select least(id, canon) as id_a, greatest(id, canon) as id_b, 1.0 as label "
            "  from a join canon using (cl) where id != canon), "
            "b as (select source as bk, doc_id as id, lang as cl from documents), "
            "okb as (select bk from b group by bk having count(distinct id) between 2 and 200), "
            "cross0 as (select distinct least(x.id, y.id) as id_a, greatest(x.id, y.id) as id_b "
            "  from b x join b y using (bk) join okb using (bk) where x.id < y.id and x.cl != y.cl), "
            "neg as (select id_a, id_b, 0.0 as label from cross0 "
            "  where cast(concat('0x', substr(md5(concat('pairs', '#', cast(id_a as varchar), '#', cast(id_b as varchar))), 1, 15)) as bigint) < 115292150460684704), "
            "pairs as (select * from pos union all select * from neg), "
            "toks as (select doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) as ts from documents), "
            "scored as (select p.label, case when len(list_distinct(list_concat(ta.ts, tb.ts))) = 0 then 0.0 "
            "  else round(cast(len(list_intersect(ta.ts, tb.ts)) as double) / len(list_distinct(list_concat(ta.ts, tb.ts))), 6) end as score "
            "  from pairs p join toks ta on ta.doc_id = p.id_a join toks tb on tb.doc_id = p.id_b), "
            "th as (select cast(unnest([0.0, 0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45, 0.5]) as double) as threshold), "
            "conf as (select threshold, "
            "  cast(sum(case when round(score, 9) >= threshold and label >= 0.5 then 1 else 0 end) as bigint) as tp, "
            "  cast(sum(case when round(score, 9) >= threshold and label < 0.5 then 1 else 0 end) as bigint) as fp, "
            "  cast(sum(case when round(score, 9) < threshold and label >= 0.5 then 1 else 0 end) as bigint) as fn, "
            "  cast(sum(case when round(score, 9) < threshold and label < 0.5 then 1 else 0 end) as bigint) as tn "
            "  from th cross join scored group by threshold), "
            "pr as (select *, case when tp + fp = 0 then 1.0 else cast(tp as double) / (tp + fp) end as p, "
            "  case when tp + fn = 0 then 1.0 else cast(tp as double) / (tp + fn) end as r from conf) "
            "select threshold, tp, fp, fn, tn, round(p, 6) as \"precision\", round(r, 6) as recall, "
            "round(case when p + r = 0 then 0.0 else 2 * p * r / (p + r) end, 6) as f1 from pr"
        ),
        "line_dedup_crossdoc": (
            # plain relational form (no list comprehensions, no lambdas):
            # lines unnest to (doc_id, i) rows, non-canonical repeats
            # anti-join away, kept lines re-join with string_agg in order
            "with d as (select doc_id, regexp_replace(text, ' (table|line) ', '.' || chr(10), 'g') as text from documents), "
            "sp as (select doc_id, string_split(text, chr(10)) as parts from d), "
            "raw as (select doc_id, parts, unnest(generate_series(1, len(parts))) as rpos from sp), "
            "ex as (select doc_id, row_number() over (partition by doc_id order by rpos) as i, trim(parts[rpos]) as line "
            "  from raw where trim(parts[rpos]) != ''), "
            "cnt as (select line from ex group by line having count(*) >= 2), "
            "rn as (select ex.doc_id, ex.i, row_number() over (partition by ex.line order by ex.doc_id, ex.i) as rn "
            "  from ex join cnt on ex.line = cnt.line), "
            "drops as (select doc_id, i from rn where rn > 1), "
            "kept as (select ex.doc_id, ex.i, ex.line from ex left join drops x "
            "  on ex.doc_id = x.doc_id and ex.i = x.i where x.i is null), "
            "n as (select doc_id, count(*) as n_lines from ex group by doc_id), "
            "k as (select doc_id, count(*) as n_lines_kept, string_agg(line, chr(10) order by i) as cleaned_text "
            "  from kept group by doc_id) "
            "select d.doc_id, coalesce(n.n_lines, 0) as n_lines, coalesce(k.n_lines_kept, 0) as n_lines_kept, "
            "coalesce(k.cleaned_text, '') as cleaned_text "
            "from d left join n on d.doc_id = n.doc_id left join k on d.doc_id = k.doc_id"
        ),
        "multimodal_metadata": (
            "select doc_id, octet_length(encode(text)) as n_bytes, lower(hex(encode(substr(text, 1, 8)))) as header_hex from documents"
        ),
        "agg_pricing_summary": (
            "select l_returnflag, l_linestatus, cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty, "
            "cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base_price, count(*) as count_order "
            "from lineitem group by l_returnflag, l_linestatus"
        ),
        "join_revenue_by_nation": (
            "select r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue, count(*) as n_items "
            "from lineitem join orders on l_orderkey = o_orderkey join customer on o_custkey = c_custkey "
            "join nation on c_nationkey = n_nationkey join region on n_regionkey = r_regionkey "
            "group by r_name, n_name"
        ),
        "window_top_orders": (
            "select o_custkey, o_orderkey, o_totalprice, rn from "
            "(select o_custkey, o_orderkey, o_totalprice, row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey asc) as rn from orders) "
            "where rn <= 3"
        ),
        "setops_customers": (
            "select c_custkey from (select distinct o_custkey as c_custkey from orders intersect select c_custkey from customer where c_acctbal > 0) "
            "except all select c_custkey from customer where c_mktsegment = 'BUILDING'"
        ),
        "events_sessionization": (
            "with g as (select user_id, epoch_us(ts) - lag(epoch_us(ts)) over (partition by user_id order by ts, event_id) as gap from events) "
            "select user_id, cast(sum(case when gap is null or gap > 600000000 then 1 else 0 end) as bigint) as n_sessions, count(*) as n_events from g group by user_id"
        ),
        "events_tumbling_window": (
            "select cast(epoch(date_trunc('hour', ts)) as bigint) as window_start, event_type, count(*) as n, round(sum(value), 2) as sum_value "
            "from events group by 1, 2"
        ),
        "events_hopping_window": (
            "with off as (select unnest([0, 1800]) as o), "
            "w as (select cast(cast(floor(epoch(ts) / 1800) as bigint) * 1800 - o as bigint) as window_start, event_type, value "
            "  from events, off) "
            "select window_start, event_type, count(*) as n, round(sum(value), 2) as sum_value "
            "from w group by 1, 2"
        ),
    }
