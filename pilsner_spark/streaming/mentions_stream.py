"""Structured Streaming variants of the recognition pipeline.

The reference is strictly batch (SURVEY.md §2.3: no streaming anywhere);
these operators extend the engine to continuous transcript ingestion — the
shape a production deployment needs when transcripts arrive as a feed:

* ``streaming_mentions``    — the same broadcast-model mapInPandas scan,
  applied to a streaming DataFrame (mapInPandas is streaming-safe: the scan
  is stateless per row).
* ``windowed_entity_counts`` — watermarked sliding-window mention counts
  (late turns are handled by the watermark, not dropped silently).
* ``incremental_cluster_assignments`` — foreachBatch bridge: each
  micro-batch of mentions upserts (turn, entity) observations into the
  batch clustering tables via the same catalog the batch pipeline uses, so
  batch and streaming share one storage layout.
* ``streaming_exact_dedup`` — custom stateful operator
  (``applyInPandasWithState``): first-occurrence pass-through keyed by
  text hash; duplicates arriving in any later micro-batch are dropped.
* ``streaming_minhash_neardup_pairs`` — stateful NEAR-dup candidate
  detection: LSH band buckets keep their member set in the state store, so
  a document arriving in any later micro-batch is paired against every
  earlier member of its bucket — the streaming counterpart of
  ``operators.dedup.minhash_candidate_pairs``.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pilsner_spark.core.model import CompiledModel
from pilsner_spark.operators.mentions import extract_mentions_df


def streaming_mentions(stream_df: DataFrame, model: CompiledModel) -> DataFrame:
    """Mention extraction over a streaming transcripts DataFrame
    (same schema contract as the batch operator)."""
    return extract_mentions_df(stream_df, model)


def windowed_entity_counts(
    stream_df: DataFrame,
    model: CompiledModel,
    window: str = "10 minutes",
    slide: Optional[str] = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked windowed counts of entity mentions — the streaming
    aggregation pattern (event time = the turn's ts column). The watermark
    is applied to the scan output's ts column (mapInPandas does not carry
    watermark metadata through)."""
    mentions = extract_mentions_df(stream_df, model, text_col="text", passthrough_cols=("ts",))
    exploded = mentions.withWatermark("ts", watermark).select("ts", F.explode("entity_ids").alias("entity_id"))
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        exploded.groupBy(win.alias("w"), "entity_id")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "entity_id",
            "n_mentions",
        )
    )


def incremental_cluster_assignments(
    stream_df: DataFrame,
    model: CompiledModel,
    workdir: str,
    checkpoint_dir: Optional[str] = None,
    n_buckets: int = 64,
):
    """foreachBatch bridge between streaming ingestion and batch clustering
    — DELTA connected components AND delta storage, not
    recompute/rewrite-the-world.

    Per micro-batch: extract mentions -> bipartite edges (turn_key,
    'E#'+entity) -> map every endpoint already assigned a cluster to its
    CLUSTER ID (connectivity through history is fully summarized by
    membership, so the old edges never need re-reading) -> run connected
    components on that mini-graph only (O(batch) vertices: fresh keys + touched
    cluster representatives). Because a cluster id IS the lexicographic-min
    member key, the mini-CC label (min over old cids + fresh keys) equals
    the global min of the merged component — identical output to a full
    recompute over all observations.

    Storage is bucketed by ``pmod(xxhash64(cluster_id), n_buckets)`` as a
    parquet partition column, so applying the (old cluster id -> new label)
    remap rewrites ONLY the partitions holding remapped cluster ids —
    delete those bucket directories and append their remapped content —
    while fresh-node assignments are pure appends (no partition rewrite at
    all). Per-batch WRITE I/O is therefore O(remap-affected clusters +
    batch), never O(history); a batch whose clusters all keep their labels
    (the steady state: new members join but the lexicographic-min member
    stays) writes only the batch itself. Per-batch READ I/O is one
    column-pruned scan of the assignment table (the endpoint->rep lookup:
    a broadcast semi-join of the tiny endpoint set against the scan — no
    shuffle of history) plus a partition-PRUNED read of the rewritten
    buckets. ``prev_rows`` comes from a sidecar row-count meta file
    maintained by the driver — no count job over history.

    Storage layout (plain parquet under ``workdir``; batch consumers read
    the same tables):

    * ``stream_cluster_nodes``   — full assignment incl. entity nodes (the
      delta-CC state), partitioned by the cluster-id hash bucket
    * ``stream_entity_clusters`` — turn-only view (back-compat output),
      same bucketing
    * ``stream_turn_entities``   — append-only observation log (audit /
      replay; never read in the hot path)
    * ``stream_cluster_meta.json`` — {"rows": total assignment rows}
    * ``stream_cluster_metrics.jsonl`` — one line per batch
      {batch_id, batch_edges, mini_vertices, prev_rows, buckets_rewritten,
      rows_written, bytes_written, wall_seconds}: the incrementality
      evidence (mini_vertices, rows_written and bytes_written track the
      batch/remap, not the accumulated history)

    Returns the StreamingQuery (caller awaits/stops it).
    """
    import json
    import os
    import shutil
    import time

    from pilsner_spark.operators.blocking import with_turn_key
    from pilsner_spark.operators.clustering import connected_components
    from pilsner_spark.operators.mentions import turn_entities_df

    obs_path = os.path.join(workdir, "stream_turn_entities")
    nodes_path = os.path.join(workdir, "stream_cluster_nodes")
    clusters_path = os.path.join(workdir, "stream_entity_clusters")
    meta_path = os.path.join(workdir, "stream_cluster_meta.json")
    metrics_path = os.path.join(workdir, "stream_cluster_metrics.jsonl")

    def bucket_of(cid_col):
        return F.pmod(F.xxhash64(cid_col), F.lit(n_buckets)).cast("int")

    def tree_bytes_since(root: str, since: float) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                if st.st_mtime >= since:
                    total += st.st_size
        return total

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        start = time.time()
        spark = batch_df.sparkSession
        me = with_turn_key(turn_entities_df(extract_mentions_df(batch_df, model)))
        me.select("turn_key", "mention_entities").write.mode("append").parquet(obs_path)
        new_edges = (
            me.select(F.col("turn_key").alias("key_a"), F.explode("mention_entities").alias("entity"))
            .select("key_a", F.concat(F.lit("E#"), F.col("entity")).alias("key_b"))
            .localCheckpoint()
        )
        have_prev = os.path.exists(nodes_path)
        if have_prev:
            prev = spark.read.parquet(nodes_path)
        else:
            prev = spark.createDataFrame([], "node_key string, cluster_id string, bucket int")
        # prev_rows from the sidecar meta, NOT a count job over history; a
        # missing meta next to an existing table (layout migration) falls
        # back to one count, once, and repairs the meta
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                prev_rows = int(json.load(f)["rows"])
        else:
            prev_rows = prev.count() if have_prev else 0

        # endpoint -> its current cluster representative: ONE column-pruned
        # scan of prev with the tiny endpoint set broadcast (semi-join) —
        # history is never shuffled, and the result is O(batch)
        endpoints = (
            new_edges.select(F.col("key_a").alias("node_key"))
            .unionByName(new_edges.select(F.col("key_b").alias("node_key")))
            .distinct()
        )
        reps = (
            prev.join(F.broadcast(endpoints), "node_key", "left_semi")
            .select("node_key", "cluster_id")
            .localCheckpoint()
        )
        rep_a = F.broadcast(
            reps.select(F.col("node_key").alias("key_a"), F.col("cluster_id").alias("rep_a"))
        )
        rep_b = F.broadcast(
            reps.select(F.col("node_key").alias("key_b"), F.col("cluster_id").alias("rep_b"))
        )
        mini_edges = (
            new_edges.join(rep_a, "key_a", "left")
            .join(rep_b, "key_b", "left")
            .select(
                F.coalesce("rep_a", F.col("key_a")).alias("key_a"),
                F.coalesce("rep_b", F.col("key_b")).alias("key_b"),
            )
            .localCheckpoint()
        )
        minicc = connected_components(mini_edges)  # (turn_key=node-or-cid, cluster_id=new label)
        mini_rows = minicc.collect()  # O(batch) by construction
        # a mini-graph vertex is either an existing cluster id (a rep — and
        # an old cid is always also a member node) or a never-seen fresh key
        rep_cids = {r.cluster_id for r in reps.collect()}
        remap_changed = {
            r.turn_key: r.cluster_id
            for r in mini_rows
            if r.turn_key in rep_cids and r.cluster_id != r.turn_key
        }
        fresh_rows = [
            (r.turn_key, r.cluster_id) for r in mini_rows if r.turn_key not in rep_cids
        ]

        # partitions holding remapped cluster ids: these (and only these)
        # contain rows whose label changes, so they are deleted + their
        # content re-appended under the new labels; fresh rows append into
        # their label's partition without touching it
        rewrite_buckets: set = set()
        if remap_changed:
            rewrite_buckets = {
                r.b
                for r in spark.createDataFrame(
                    [(k,) for k in remap_changed], "cid string"
                )
                .select(bucket_of(F.col("cid")).alias("b"))
                .collect()
            }
        write_start = time.time()
        fresh_df = spark.createDataFrame(
            fresh_rows or [], "node_key string, cluster_id string"
        )
        to_write = fresh_df
        if rewrite_buckets:
            remap_df = F.broadcast(
                spark.createDataFrame(
                    list(remap_changed.items()), "old_cid string, new_cid string"
                )
            )
            rewritten = (
                prev.filter(F.col("bucket").isin(*rewrite_buckets))  # partition-pruned read
                .join(remap_df, prev.cluster_id == F.col("old_cid"), "left")
                .select("node_key", F.coalesce("new_cid", "cluster_id").alias("cluster_id"))
            )
            to_write = to_write.unionByName(rewritten)
        to_write = to_write.withColumn("bucket", bucket_of(F.col("cluster_id")))
        to_write = to_write.localCheckpoint()  # materialize BEFORE deleting the read path
        rows_written = to_write.count()
        for b in rewrite_buckets:
            shutil.rmtree(os.path.join(nodes_path, f"bucket={b}"), ignore_errors=True)
            shutil.rmtree(os.path.join(clusters_path, f"bucket={b}"), ignore_errors=True)
        if rows_written:
            to_write.write.mode("append").partitionBy("bucket").parquet(nodes_path)
            to_write.filter(~F.col("node_key").startswith("E#")).withColumnRenamed(
                "node_key", "turn_key"
            ).write.mode("append").partitionBy("bucket").parquet(clusters_path)
        bytes_written = tree_bytes_since(nodes_path, write_start) + (
            tree_bytes_since(clusters_path, write_start) if os.path.exists(clusters_path) else 0
        )
        with open(meta_path, "w") as f:
            json.dump({"rows": prev_rows + len(fresh_rows)}, f)
        with open(metrics_path, "a") as f:
            f.write(
                json.dumps(
                    {
                        "batch_id": int(batch_id),
                        "batch_edges": new_edges.count(),
                        "mini_vertices": len(mini_rows),
                        "prev_rows": int(prev_rows),
                        "buckets_rewritten": len(rewrite_buckets),
                        "rows_written": int(rows_written),
                        "bytes_written": int(bytes_written),
                        "wall_seconds": round(time.time() - start, 3),
                    }
                )
                + "\n"
            )

    # foreachBatch consumes the RAW stream; mentions are derived inside the
    # callback (the streaming plan's mention output is not reusable there).
    writer = stream_df.writeStream.foreachBatch(process_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_decontaminate(
    stream_df: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming benchmark decontamination: flag arriving documents that
    share any word n-gram with a STATIC benchmark/eval set — the ingest-time
    twin of operators/text_filters.decontaminate, as a stream-static join
    (Spark's canonical shape for joining a stream against a fixed table:
    the static side is re-broadcast per micro-batch, no state store).

    Per-batch cost is O(batch n-grams): the stream side explodes its
    n-grams JVM-side, the tiny distinct benchmark gram set broadcasts onto
    them, and the rollup groups only the batch's matches. Emits one row
    per contaminated document per micro-batch: (id, n_hits, first_hit);
    clean documents pass nothing (filter semantics — anti-join the batch
    against this to keep the clean side)."""
    from pilsner_spark.operators.text_filters import doc_ngrams, ngram_array

    bench_grams = doc_ngrams(benchmark, n, id_col, text_col).select("gram").distinct()
    stream_grams = stream_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ngram_array(F.col(text_col), n)).alias("gram"),
    )
    # countDistinct is rejected on streaming aggregates; size(collect_set)
    # is the same number and streaming-legal (matched grams per doc are few)
    return (
        stream_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(
            F.size(F.collect_set("gram")).alias("n_hits"),
            F.min("gram").alias("first_hit"),
        )
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    id_cols: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Streaming exact dedup as a custom stateful operator: the first row
    carrying each text (by md5) passes through; every later duplicate —
    same micro-batch or any subsequent one — is dropped.

    State design for 10^12-turn scale: one boolean per DISTINCT text hash
    (not per row), partitioned by the hash — the state store grows with
    unique content only, and the shuffle key is the dedup key, so state
    lookups are local to the partition. Within a batch the kept row is the
    (conv_id, turn_idx)-minimum for determinism.
    """
    import pandas as pd

    keyed = stream_df.withColumn("text_md5", F.md5(F.col(text_col)))
    out_schema = keyed.schema
    ids = list(id_cols)

    def dedup_fn(key, pdf_iter, state):
        if state.exists:
            for _ in pdf_iter:  # drain: hash already emitted in a prior batch
                pass
            return
        batches = [pdf for pdf in pdf_iter if len(pdf)]
        state.update((True,))
        if batches:
            allrows = pd.concat(batches, ignore_index=True)
            yield allrows.sort_values(ids, kind="mergesort").head(1)

    return keyed.groupBy("text_md5").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_minhash_neardup_pairs(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    band_size: int = 2,
    shingle_n: int = 3,
    seed: int = 7,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidate pairs as a custom stateful
    operator — the continuous-ingestion counterpart of
    ``operators.dedup.minhash_candidate_pairs``.

    Shape: the signature/band computation is the SAME JVM-side expression
    pipeline as batch (``dedup.minhash_bands`` — stateless per row, so
    streaming-safe), then ``groupBy(band_key).applyInPandasWithState``
    keeps each bucket's member-id set in the state store. A new arrival is
    paired against every member already in its bucket — same micro-batch
    or any earlier one — then joins the set. Output rows:

    * ``kind='pair'``    — (id_a < id_b, band_key) candidate near-dup pair
    * ``kind='dropped'`` — id_a arrived after the bucket hit
      ``max_bucket_size``; no pairs were emitted for it IN THIS BUCKET
      (the no-silent-truncation marker, mirroring
      ``oversized_band_report``)

    Scale/state design for 10^12 turns: state per band key is the member
    id list CAPPED at ``max_bucket_size`` plus a drop counter — bounded
    regardless of how degenerate the bucket gets, and keyed by band_key so
    lookups are partition-local. Semantic difference from batch, stated
    plainly: batch drops a saturated bucket WHOLESALE (it sees the final
    size up front); streaming has already emitted the first members' pairs
    before saturation is knowable, so it keeps the first
    ``max_bucket_size`` members' pairs and marks later arrivals dropped.
    On unsaturated corpora the distinct (id_a, id_b) sets are identical
    (pinned by test). Pairs can repeat across bands (one per shared band,
    band_key disambiguates); a streaming-global distinct would need a
    second unbounded state store, so pair-level dedup is the downstream
    batch consumer's one ``distinct()``, exactly as in the batch path.
    """
    import json

    import pandas as pd

    from pilsner_spark.operators.dedup import minhash_bands

    bands = minhash_bands(
        stream_df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        band_size=band_size,
        shingle_n=shingle_n,
        seed=seed,
    )

    def pair_fn(key, pdf_iter, state):
        band_key = key[0]
        if state.exists:
            members_json, n_dropped = state.get
            members = json.loads(members_json)
        else:
            members, n_dropped = [], 0
        seen = set(members)
        pairs, dropped = [], []
        new_ids = set()
        for pdf in pdf_iter:
            new_ids.update(pdf["doc_id"].tolist())
        for d in sorted(new_ids - seen):  # sorted: deterministic in-batch order
            if len(members) >= max_bucket_size:
                n_dropped += 1
                dropped.append(d)
                continue
            pairs.extend((d, m) if d < m else (m, d) for m in members)
            members.append(d)
            seen.add(d)
        state.update((json.dumps(members), n_dropped))
        rows = [("pair", a, b, band_key) for a, b in pairs] + [
            ("dropped", d, None, band_key) for d in dropped
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["kind", "id_a", "id_b", "band_key"])

    return bands.groupBy("band_key").applyInPandasWithState(
        pair_fn,
        outputStructType="kind string, id_a string, id_b string, band_key string",
        stateStructType="members_json string, n_dropped int",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def run_availablenow_to_memory(stream_result: DataFrame, query_name: str):
    """Drain all currently-available input into an in-memory table —
    the test/bench harness for the streaming operators."""
    return (
        stream_result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append" if not stream_result.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
