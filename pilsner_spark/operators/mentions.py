"""Distributed dictionary mention extraction.

The one legitimately non-relational kernel (SURVEY.md §4): the compiled
dictionary model is built once on the driver, shipped to executors via
``sparkContext.broadcast``, and applied to transcript text inside
``mapInPandas`` — Arrow-batched, no per-row Python at the DataFrame level.
Everything downstream of the scan (attr joins, grouping) stays relational.

Output schema (SURVEY.md §1.1-7 'parse result' as a table):
``(conv_id, turn_idx, begin, end, matched_text, line_ids, iids, entity_ids)``
with ``[begin, end)`` character offsets into the original ``text``.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pilsner_spark.core.model import CompiledModel
from pilsner_spark.core.normalize import normalize_with_map
from pilsner_spark.core.parse import extract_mentions
from pilsner_spark.session import spread_input

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("begin", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("matched_text", T.StringType()),
        T.StructField("line_ids", T.ArrayType(T.LongType())),
        T.StructField("iids", T.ArrayType(T.LongType())),
        T.StructField("entity_ids", T.ArrayType(T.StringType())),
    ]
)


def extract_mentions_df(
    df: DataFrame,
    model: CompiledModel,
    attrs_where: Optional[dict] = None,
    text_col: str = "text",
    passthrough_cols: tuple = (),
    n_matcher_shards: Optional[int] = None,
    progress=None,
) -> DataFrame:
    """Scan every turn's text against the broadcast model.

    ``attrs_where`` include/exclude predicates are hoisted to a dictionary
    pre-filter on the driver (before broadcast), which Catalyst-style pushes
    the work to where it is constant — per SURVEY.md §2.2 Q7 this yields the
    reference's accepted spans exactly.

    ``n_matcher_shards``: B10 sharded broadcasts. NOTE the documented
    divergence class (CompiledModel.shard_matchers): single-matcher parity
    is guaranteed only when no label starts inside and extends beyond
    another shard's match; on such overlaps the union scan keeps the
    reference's multi-trie behavior instead.

    The input is spread to full parallelism when it arrives narrower
    (``session.spread_input``): the Python scan kernel costs far more per
    row than the repartition that unlocks every core.

    ``progress``: a :class:`~pilsner_spark.operators.progress.ProgressReporter`
    — the kernel adds per-Arrow-batch row counts to its accumulator for
    throttled in-flight percent callbacks (Q12, utility.py:449-454).
    """
    spark = df.sparkSession
    df = spread_input(df)
    filtered = model.filtered_matchers(attrs_where)
    if filtered is not model.matchers:
        import copy

        model = copy.copy(model)
        model.matchers = filtered
    # B10 sharded broadcast: for dictionaries too big for one broadcast,
    # the matchers ship as n separate broadcasts (attr prefilter above
    # already applied) and the main model ships matcher-free; the kernel
    # unions per-shard scans before span merge (reference multi-trie
    # semantics, utility.py:438-517).
    shard_bcs = None
    if n_matcher_shards and n_matcher_shards > 1:
        import copy

        shard_bcs = [
            spark.sparkContext.broadcast(s) for s in model.shard_matchers(n_matcher_shards)
        ]
        model = copy.copy(model)
        model.matchers = {}
    bc = spark.sparkContext.broadcast(model)
    base_cols = ("conv_id", "turn_idx", "begin", "end", "matched_text", "line_ids", "iids", "entity_ids")
    extra = tuple(passthrough_cols)
    schema = T.StructType(
        MENTION_SCHEMA.fields + [df.schema[c] for c in extra]
    )

    progress_acc = progress.acc if progress is not None else None

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc.value
        shards = None if shard_bcs is None else [b.value for b in shard_bcs]
        for pdf in batches:
            if progress_acc is not None:
                progress_acc.add(len(pdf))
            rows = {k: [] for k in base_cols + extra}
            extra_vals = [pdf[c] for c in extra]
            for i, (conv_id, turn_idx, text) in enumerate(zip(pdf["conv_id"], pdf["turn_idx"], pdf[text_col])):
                if not text:
                    continue
                for mention in extract_mentions(m, text, matcher_shards=shards):
                    rows["conv_id"].append(conv_id)
                    rows["turn_idx"].append(turn_idx)
                    rows["begin"].append(mention.begin)
                    rows["end"].append(mention.end)
                    rows["matched_text"].append(text[mention.begin : mention.end])
                    rows["line_ids"].append(mention.line_ids)
                    rows["iids"].append(mention.iids)
                    rows["entity_ids"].append(mention.entity_ids)
                    for c, series in zip(extra, extra_vals):
                        rows[c].append(series.iloc[i])
            yield pd.DataFrame(rows)

    return df.select("conv_id", "turn_idx", text_col, *extra).mapInPandas(scan_batches, schema)


def normalized_text_df(
    df: DataFrame,
    model: CompiledModel,
    unit: Optional[str] = None,
    text_col: str = "text",
    out_col: str = "norm_text",
    progress=None,
) -> DataFrame:
    """Append the normalized form of ``text_col`` under one normalization
    unit (default: the model's default unit) — an Arrow-batched pandas UDF
    over the pure normalization kernel. Input spreading and ``progress``
    as in ``extract_mentions_df`` (in-flight Q12 percent callbacks)."""
    spark = df.sparkSession
    df = spread_input(df)
    unit_name = unit or model.default_normalizer
    cfg = model.normalizers[unit_name]
    sep = model.word_separator
    bc = spark.sparkContext.broadcast((cfg, sep))
    progress_acc = progress.acc if progress is not None else None

    @F.pandas_udf(T.StringType())
    def norm_udf(texts: pd.Series) -> pd.Series:
        c, s = bc.value
        if progress_acc is not None:
            progress_acc.add(len(texts))
        return texts.map(lambda t: normalize_with_map(t, c, s).normalized if t else "")

    return df.withColumn(out_col, norm_udf(F.col(text_col)))


def turn_entities_df(mentions: DataFrame) -> DataFrame:
    """Aggregate mentions to one row per turn with the distinct resolved
    entity set — the dictionary-hit feature for pairwise scoring."""
    return (
        mentions.select("conv_id", "turn_idx", F.explode("entity_ids").alias("entity_id"))
        .groupBy("conv_id", "turn_idx")
        .agg(F.collect_set("entity_id").alias("mention_entities"))
    )
