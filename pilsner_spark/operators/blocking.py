"""Blocking: candidate-pair generation for the record-linkage pipeline.

Primary blocker (the F1-gate key, FIXTURES.md §5): a shared normalized
token x (tool, role). Secondary scale blocker: MinHash band keys over the
normalized token set (deterministic xxhash64 construction, no ML deps).

Scale design:
* block keys above ``max_block_size`` are **salted into sub-blocks** rather
  than dropped — every record still pairs within its sub-block, hot keys
  shatter into bounded units, and the count of affected keys is reported
  (no silent truncation). AQE skew-join is the runtime backstop.
* the pair self-join is an equi-join on the block key with ``key_a < key_b``.
  Salting bounds every block, so the block table is O(turns) while the pair
  table is O(block_size x turns): the pipeline broadcasts the block side
  (a map-side self-join) whenever its estimated hash relation fits
  (``n_blocks * 96 B <= broadcast_block_bytes``, 512 MB by default), and
  falls back to sort-merge + AQE above that.
"""

from __future__ import annotations

import warnings
from typing import Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def turn_key_col():
    return F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string"))


def with_turn_key(df: DataFrame) -> DataFrame:
    return df.withColumn("turn_key", turn_key_col())


def tokens_col(norm_col: str = "norm_text"):
    """Normalized token array (empty tokens dropped)."""
    return F.filter(F.split(F.col(norm_col), " "), lambda t: t != "")


def token_blocks(
    turns: DataFrame,
    norm_col: str = "norm_text",
    max_df: Optional[int] = None,
) -> DataFrame:
    """One row per (turn, block_key): block_key = token # tool # role.

    ``max_df``: tokens whose document frequency exceeds it are stopworded
    out of blocking entirely (classic DF-cap; dropped token count is
    returned via the 'dropped_tokens' accumulator column pattern — callers
    read it off the returned DataFrame's metadata query).
    """
    toks = turns.select(
        "turn_key",
        "tool",
        "role",
        F.explode(F.array_distinct(tokens_col(norm_col))).alias("token"),
    )
    if max_df is not None:
        df_counts = toks.groupBy("token").agg(F.count("*").alias("df"))
        toks = toks.join(F.broadcast(df_counts.filter(F.col("df") <= max_df)), "token", "inner")
    return toks.select(
        "turn_key",
        F.concat_ws("#", F.col("token"), F.col("tool"), F.col("role")).alias("block_key"),
    )


def minhash_blocks(
    turns: DataFrame,
    norm_col: str = "norm_text",
    num_hashes: int = 16,
    band_size: int = 2,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH band keys over the token set x (tool, role).

    Deterministic construction: minhash_i = min over tokens of
    xxhash64(token, seed + i); bands of ``band_size`` consecutive hashes are
    themselves hashed into one block key. All JVM-side expressions.
    """
    toks = F.array_distinct(tokens_col(norm_col))
    sig = F.array(
        *[
            F.array_min(F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed + i))))
            for i in range(num_hashes)
        ]
    )
    n_bands = num_hashes // band_size
    with_sig = turns.select("turn_key", "tool", "role", sig.alias("sig")).filter(F.size("sig") > 0)
    bands = []
    for b in range(n_bands):
        parts = [F.col("sig")[b * band_size + j] for j in range(band_size)]
        bands.append(
            F.concat_ws(
                "#",
                F.lit(f"mh{b}"),
                F.xxhash64(*parts).cast("string"),
                F.col("tool"),
                F.col("role"),
            )
        )
    return with_sig.select("turn_key", F.explode(F.array(*bands)).alias("block_key"))


def adaptive_prefix_len(
    records: DataFrame,
    fixed_cols: Sequence[str],
    text_col: str,
    min_len: int = 1,
    max_len: int = 8,
    max_bucket_frac: float = 0.2,
    context: str = "bucketed two-level ranking",
) -> int:
    """Choose the shortest text-prefix length whose largest bucket
    (``fixed_cols`` + first-L-chars of ``text_col``) holds at most
    ``max_bucket_frac`` of all rows — the skew guard for the two-level
    global rank / prefix-sum constructions (a dominant bucket funnels its
    whole rank window through ONE task; see ``global_sort_ranks``).

    Cost: ONE full-table groupBy at ``max_len`` granularity, then ONE job
    over that (tiny) counts table evaluating every candidate length at once
    (explode lengths -> re-aggregate -> per-length max/total) — the scan
    budget is independent of how many lengths are tried. The chosen length
    changes only the physical bucket fan-out, never the result —
    rank/prefix-sum output is identical at any granularity.

    Warns (and returns ``max_len``) when even the longest prefix cannot
    break the dominant bucket below the threshold — e.g. a corpus of
    literally identical keys, where the funnel is data-inherent and the
    caller should reconsider the sort key.
    """
    fixed = [f"_f{i}" for i in range(len(fixed_cols))]
    counts = records.groupBy(
        *[F.col(c).alias(a) for c, a in zip(fixed_cols, fixed)],
        F.substring(F.col(text_col), 1, max_len).alias("_p"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    stats = (
        counts.select(
            F.explode(F.sequence(F.lit(min_len), F.lit(max_len))).alias("_l"),
            *fixed,
            "_p",
            "_c",
        )
        .groupBy("_l", *fixed, F.expr("substring(_p, 1, _l)").alias("_pp"))
        .agg(F.sum("_c").alias("c"))
        .groupBy("_l")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .collect()
    )
    by_len = {r["_l"]: r for r in stats}
    if not by_len:
        return min_len
    total = next(iter(by_len.values()))["tot"]
    for length in range(min_len, max_len + 1):
        if by_len[length]["mx"] <= max_bucket_frac * total:
            return length
    warnings.warn(
        f"{context}: even a {max_len}-char prefix leaves one bucket with "
        f"{by_len[max_len]['mx']}/{total} rows (> {max_bucket_frac:.0%}) — the key "
        "space is degenerate (many identical keys); the dominant bucket's window "
        "will run in one task",
        stacklevel=2,
    )
    return max_len


def snm_blocks(
    turns: DataFrame,
    window_size: int = 4,
    norm_col: str = "norm_text",
    bucket_text_len: Union[int, str] = "auto",
) -> DataFrame:
    """Sorted-neighborhood as a BLOCK family, pipeline-composable next to
    token and MinHash-band blocks: records sorted by
    (tool, role, normalized text), each record at global rank r emits the
    window-id keys 'snm#w' for w in [r-window_size+1, r] — two records
    share a window key iff their rank distance is < window_size, exactly
    the SNM pair set. Catches near-dup turns that token blocking loses to
    DF caps and band blocking loses to signature noise, at a bounded
    budget: every window key has at most ``window_size`` members by
    construction (ranks w..w+window_size-1), so this family NEVER needs
    salting and its pair mass is exactly linear in records.

    Window keys are SCOPED per (tool, role) keyspace (the key embeds the
    keyspace prefix): records adjacent in the global sort but on opposite
    sides of a keyspace boundary never share a window key, so this family
    cannot leak cross-keyspace candidate pairs into scoring — where an
    unconditional shared-entity edge would merge clusters across keyspaces
    and weaken the north rule's structural scoping (ADVICE r3). Within a
    keyspace the pair set is unchanged (ranks stay contiguous there because
    the keyspace is the sort-key prefix).

    ``bucket_text_len``: how many leading ``norm_col`` characters extend
    the (tool, role) rank bucket. The default ``"auto"`` probes bucket
    dominance with ``adaptive_prefix_len`` (one extra scan at build time)
    and widens the prefix until no bucket exceeds ~20% of rows — the guard
    for template corpora where most texts share their first character and
    a static 1-char bucket would funnel the rank window through one task.
    Pass an int to pin it (0 scans).

    Adjacent pairs co-occur in up to window_size-1 windows; the pipeline
    scores duplicates rather than paying a pair-table distinct (same
    measured trade as ``candidate_pairs(dedupe=False)``) and dedupes the
    small match-edge set downstream."""
    if bucket_text_len == "auto":
        bucket_text_len = adaptive_prefix_len(
            turns, ("tool", "role"), norm_col, context="snm_blocks rank buckets"
        )
    sk = F.concat_ws("\x01", F.col("tool"), F.col("role"), F.col(norm_col))
    bucket = F.concat_ws(
        "\x01",
        F.col("tool"),
        F.col("role"),
        F.substring(F.col(norm_col), 1, int(bucket_text_len)),
    )
    ranked = global_sort_ranks(
        turns.select("turn_key", sk.alias("_sk"), bucket.alias("_bk")),
        "_sk",
        "turn_key",
        bucket_col=F.col("_bk"),
    )
    # keyspace = the tool\x01role prefix of the sort key (tool/role cannot
    # contain \x01 — the same assumption the sort key itself rests on)
    keyspace = F.substring_index(F.col("sk"), "\x01", 2)
    return ranked.select(
        F.col("id").alias("turn_key"),
        keyspace.alias("_ks"),
        F.explode(
            F.sequence(
                F.greatest(F.lit(1), F.col("rank") - window_size + 1), F.col("rank")
            )
        ).alias("w"),
    ).select(
        "turn_key",
        F.concat_ws(
            "#", F.lit("snm"), F.col("_ks"), F.col("w").cast("string")
        ).alias("block_key"),
    )


def salt_oversized_blocks(
    blocks: DataFrame,
    max_block_size: int = 200,
    salt_buckets: int = 16,
) -> Tuple[DataFrame, DataFrame]:
    """Shatter hot block keys into salted sub-blocks of bounded size.

    Bucket count is **per key**: ceil(block_size / max_block_size), so a
    10^5-member hot key shatters into 10^5/max sub-blocks (pair count then
    grows linearly with block size instead of quadratically — the property
    that keeps the self-join alive at 10^12 turns). ``salt_buckets`` is the
    floor for moderately-hot keys.

    Returns (salted_blocks, oversized_report) — the report lists every key
    that was salted with its original size, so coverage loss (cross-sub-block
    pairs within a hot key no longer compared directly) is visible, never
    silent. Transitive clustering recovers most of the loss: sub-blocks
    share members across the *other* block keys a turn carries.
    """
    sizes = blocks.groupBy("block_key").agg(F.count("*").alias("block_size"))
    oversized = sizes.filter(F.col("block_size") > max_block_size)
    buckets = F.greatest(
        F.lit(salt_buckets),
        F.ceil(F.col("block_size") / F.lit(max_block_size)).cast("int"),
    )
    salted = (
        blocks.join(F.broadcast(oversized.withColumn("n_buckets", buckets).select("block_key", "n_buckets")), "block_key", "inner")
        .withColumn(
            "block_key",
            F.concat_ws(
                "#", F.col("block_key"), F.pmod(F.xxhash64("turn_key"), F.col("n_buckets")).cast("string")
            ),
        )
        .drop("n_buckets")
        .unionByName(blocks.join(F.broadcast(oversized.select("block_key")), "block_key", "left_anti"))
    )
    return salted, oversized


def comparison_weights(
    blocks: DataFrame,
    id_col: str = "turn_key",
    key_col: str = "block_key",
    min_block_size: int = 2,
    max_block_size: int = 1000,
) -> DataFrame:
    """CBS comparison weights for meta-blocking (Papadakis et al.,
    "Meta-Blocking: Taking Entity Resolution to the Next Level", TKDE 2014
    — public literature): every candidate pair weighted by the number of
    blocks the two records co-occur in. High-CBS pairs carry strong
    co-occurrence evidence; weight-based pruning then discards the
    low-evidence majority BEFORE the expensive scoring stage.

    Physical shape: one bucketing shuffle (groupBy block key, same as the
    dedup family), in-bucket higher-order pair expansion over the sorted
    member array (no self-join — upstream computed once), then one hash
    aggregation on the pair key whose map-side partials collapse repeat
    co-occurrences before the exchange. Blocks outside
    [min_block_size, max_block_size] are excluded up front — the
    literature's "block purging": an oversized block contributes O(size^2)
    pairs of near-zero evidential value (its tokens are stopword-like), so
    purging it bounds the pair mass exactly like the dedup caps do. Purged
    keys are first-class visible via :func:`purged_blocks_report` (same
    thresholds -> exactly the keys this function drops) — the
    no-silent-truncation audit, mirroring ``salt_oversized_blocks``'s and
    ``oversized_band_report``'s report pattern.

    Returns (id_a, id_b, cbs) with id_a < id_b.
    """
    from pilsner_spark.operators.dedup import _bucket_pairs

    buckets = (
        blocks.groupBy(key_col)
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(
            (F.size("ids") >= min_block_size) & (F.size("ids") <= max_block_size)
        )
    )
    return (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("cbs"))
    )


def purged_blocks_report(
    blocks: DataFrame,
    id_col: str = "turn_key",
    key_col: str = "block_key",
    min_block_size: int = 2,
    max_block_size: int = 1000,
) -> DataFrame:
    """The block keys :func:`comparison_weights` purges at the same
    thresholds, with their sizes and the reason — (block_key, block_size,
    reason in {'undersized', 'oversized'}). Call it alongside
    ``comparison_weights`` (same inputs/thresholds) so block purging is
    never silent; the distinct-id count per key matches the membership the
    weights stage would have expanded. O(distinct keys) output, one
    aggregation."""
    sizes = blocks.groupBy(F.col(key_col).alias("block_key")).agg(
        F.count_distinct(F.col(id_col)).alias("block_size")
    )
    return sizes.filter(
        (F.col("block_size") < min_block_size) | (F.col("block_size") > max_block_size)
    ).withColumn(
        "reason",
        F.when(F.col("block_size") < min_block_size, F.lit("undersized")).otherwise(
            F.lit("oversized")
        ),
    )


def meta_block_prune(weights: DataFrame, cnp_k: int = 5) -> DataFrame:
    """WEP + CNP pruning decisions over CBS weights (meta-blocking's two
    standard comparison-pruning schemes, flagged side by side):

    * ``kept_wep`` — Weighted Edge Pruning: keep pairs whose weight is at
      least the global mean. Compared in exact integer arithmetic
      (``cbs * n_pairs >= total_cbs``), so the decision is reproducible
      across engines with no float-mean edge cases.
    * ``kept_cnp`` — Cardinality Node Pruning (redundancy-positive): keep a
      pair that ranks in the top-``cnp_k`` of EITHER endpoint's edge list,
      ordered by (cbs desc, partner id asc) — a total order, so ranks are
      deterministic.

    Physical shape: the global mean is a 1-row aggregate broadcast back
    over the weights (no second full pass); CNP re-orients each edge both
    ways (2x|pairs| rows) through ONE window shuffle partitioned by node,
    emitting at most ``cnp_k`` survivors per node — output O(k x nodes)
    regardless of how quadratic the input pair mass was. At 10^12-turn
    scale this is the lever that turns a trillions-pair candidate set into
    a linear-in-records comparison budget, at a recall cost that is
    measurable per scheme via the flags (prune downstream with
    ``filter("kept_wep")`` / ``filter("kept_cnp")``).
    """
    totals = weights.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("cbs").alias("cbs_total")
    )
    edges = weights.select(
        F.col("id_a").alias("node"), F.col("id_b").alias("partner"), "cbs"
    ).unionByName(
        weights.select(F.col("id_b").alias("node"), F.col("id_a").alias("partner"), "cbs")
    )
    win = Window.partitionBy("node").orderBy(F.desc("cbs"), F.asc("partner"))
    survivors = (
        edges.withColumn("r", F.row_number().over(win))
        .filter(F.col("r") <= cnp_k)
        .select(
            F.least("node", "partner").alias("id_a"),
            F.greatest("node", "partner").alias("id_b"),
        )
        .distinct()
        .withColumn("kept_cnp", F.lit(True))
    )
    return (
        weights.crossJoin(F.broadcast(totals))
        .join(survivors, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "cbs",
            (F.col("cbs") * F.col("n_pairs") >= F.col("cbs_total")).alias("kept_wep"),
            F.coalesce(F.col("kept_cnp"), F.lit(False)).alias("kept_cnp"),
        )
    )


def global_sort_ranks(
    records: DataFrame,
    sort_col: str,
    id_col: str,
    bucket_prefix_len: Union[int, str] = 1,
    bucket_col: Optional[Column] = None,
) -> DataFrame:
    """Dense global rank (1..N) of every record under the total order
    (sort_col, id_col) — WITHOUT a single-partition window.

    A bare ``row_number() over (order by ...)`` funnels the whole table
    through ONE task; at 10^12 rows that is the job. Instead the sort key's
    own prefix is the range partitioner: records sharing a ``bucket_prefix_len``
    character prefix form a bucket that is *contiguous in the global sort
    order by construction* (prefix order = sort-key order), so
    global rank = (running count of all earlier buckets) + (rank within the
    bucket). The bucket count table is tiny (≤ alphabet^prefix_len rows), so
    its prefix-sum window is a no-op and the offsets broadcast back. Unlike
    ``repartitionByRange`` this is fully deterministic — no sampled bounds,
    so two actions over the result see identical ranks without a checkpoint.
    Skewed prefixes (many records sharing one first character) are handled
    by raising ``bucket_prefix_len`` — or passing ``"auto"``, which probes
    bucket dominance with :func:`adaptive_prefix_len` (one extra build-time
    scan) and widens the prefix until no bucket holds more than ~20% of
    rows — or by passing an explicit ``bucket_col`` Column: any expression
    that is a *prefix* of the sort key (prefix order = sort order is the
    invariant the two-level rank rests on; with a separator char below the
    printable range, a structured concat prefix like
    tool\\x01role\\x01<first text chars> qualifies).
    """
    if bucket_prefix_len == "auto" and bucket_col is None:
        bucket_prefix_len = adaptive_prefix_len(
            records, (), sort_col, context="global_sort_ranks buckets"
        )
    base = records.select(
        F.col(id_col).alias("id"),
        F.col(sort_col).alias("sk"),
        (bucket_col if bucket_col is not None else F.substring(F.col(sort_col), 1, bucket_prefix_len)).alias("bk"),
    )
    counts = base.groupBy("bk").agg(F.count(F.lit(1)).alias("c"))
    run = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bk", F.coalesce(F.sum("c").over(run), F.lit(0)).alias("off")
    )
    in_bucket = Window.partitionBy("bk").orderBy("sk", "id")
    return (
        base.join(F.broadcast(offsets), "bk")
        .withColumn("rank", F.col("off") + F.row_number().over(in_bucket))
        .select("id", "sk", "rank")
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    sort_col: str,
    id_col: str,
    window_size: int = 5,
    bucket_prefix_len: Union[int, str] = 1,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95 — public
    literature): sort all records by a blocking key, slide a fixed window of
    ``window_size`` over the sorted order, emit every in-window pair.

    Complements the equi-key blockers: token/band blocks need two records to
    agree EXACTLY on some key, while SNM pairs records that are merely
    *close* in sort order — typo'd keys that share a prefix still land in the
    same window. Classic usage is multi-pass (several sort keys, union the
    pairs, let transitive clustering close the rest) — compose passes with
    ``unionByName(...).distinct()``.

    Physical shape: the global sort rank comes from ``global_sort_ranks``
    (bucketed two-level ranking — no single-partition window), then each
    record explodes into ``window_size - 1`` (rank, rank+d) probes joined
    back on the unique integer rank: one equi-join shuffle on a perfectly
    uniform key, output exactly (N - w/2)·(w-1) rows — linear in N, the
    property that makes SNM the bounded-budget blocker at 10^12 turns.

    Returns (id_a, id_b, dist) where id_a is the lower-ranked record and
    dist its window distance in [1, window_size-1].
    """
    ranked = global_sort_ranks(records, sort_col, id_col, bucket_prefix_len)
    left = ranked.select("id", "rank").withColumn(
        "dist", F.explode(F.sequence(F.lit(1), F.lit(window_size - 1)))
    )
    right = ranked.select(
        F.col("id").alias("id_b"), (F.col("rank")).alias("rank_b")
    )
    return (
        left.withColumn("rank_b", F.col("rank") + F.col("dist"))
        .join(right, "rank_b")
        .select(F.col("id").alias("id_a"), "id_b", "dist")
    )


def candidate_pairs(
    blocks: DataFrame,
    broadcast_blocks: bool = False,
    dedupe: bool = True,
    spread_to: int = 0,
) -> DataFrame:
    """Unordered turn pairs co-occurring in any block.

    Physical shape: shuffle on block_key (sort-merge self-join), AQE splits
    residual skew; distinct() collapses pairs found via multiple keys before
    the expensive scoring stage. With ``broadcast_blocks`` (block table fits
    in executor memory) the self-join goes map-side — the right shape
    whenever |blocks| << |pairs|, which salting guarantees.

    ``dedupe=False`` skips the distinct(): with it, the distinct's shuffle
    of the full pair table is the stage's ONLY shuffle, while the typical
    duplicate factor (pair rows per distinct pair; pairs sharing >1 block
    key) is moderate — measured 1.27 on the sample corpus at scale 0.002,
    1.13 and 1.84 on the perfbench ``pair_heavy`` and ``dense_cliques``
    workloads — and scoring those rows again is cheaper than shuffling all
    of them, while downstream consumers dedupe the far smaller match-edge
    set instead. Keep True when callers need the pair table itself to be a
    set.

    ``spread_to`` (>0) repartitions the STREAMING side only: a narrow
    block-table checkpoint scan yields fewer partitions than cores, so the
    map-side join and everything downstream of it would underparallelize.
    The broadcast side must NOT pay that shuffle — it is collected into one
    hash relation regardless of partitioning (repartitioning it first, as a
    caller-side repartition of ``blocks`` would, is a pure-waste exchange).
    """
    a = (blocks.repartition(spread_to) if spread_to > 0 else blocks).alias("a")
    b = F.broadcast(blocks.alias("b")) if broadcast_blocks else blocks.alias("b")
    pairs = (
        a.join(b, "block_key")
        .filter(F.col("a.turn_key") < F.col("b.turn_key"))
        .select(F.col("a.turn_key").alias("key_a"), F.col("b.turn_key").alias("key_b"))
    )
    return pairs.distinct() if dedupe else pairs
