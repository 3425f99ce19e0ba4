"""Transitive clustering: connected components, cluster id = the
component's minimum key.

Two paths, chosen by the edge count (``LOCAL_EDGE_LIMIT``):

* **Local finish** (at most ``LOCAL_EDGE_LIMIT`` edge rows): the edges are
  labelled in ONE Spark task — ``coalesce(1).mapInArrow`` over a
  module-level Arrow kernel (``_min_label_kernel``). The kernel dense-ranks
  the distinct keys in sorted order and runs min-root union-find over the
  numpy int64 ranks; no edge reaches the driver and no Python loop runs per
  edge. On ER graphs (small dense clusters, linear edge mass after the star
  sparsification) this replaces one Spark job per hash-to-min round with
  nothing: the stage's cost was driver-side job latency, not work.
* **Hash-to-min** (above the bound): a pure DataFrame loop. Each vertex's
  label starts as its own key and is repeatedly lowered to the minimum
  label in its neighborhood (including itself); convergence when no label
  changes. ``localCheckpoint`` every iteration truncates lineage so plans
  stay bounded (SURVEY.md §7.4 risk 5). Worst case is the longest path
  graph, bounded by ``max_iter``. Small/large-star iteration (Kiveris et
  al., SoCC 2014) is the reference for a faster large-graph phase.

The label domain is the key itself (``turn_key`` strings in the ER
pipeline, ``long`` doc ids in dedup), not a 64-bit hash of it: at the
10^12-turn design point the birthday bound puts expected xxhash64
collisions in the tens of thousands, and every collision silently merges
two unrelated turns (and, transitively, their clusters). Key labels are
collision-free by construction and make cluster ids deterministic and
meaningful (the minimum member key in Spark's order for the key type:
bytewise for strings, numeric for longs). The local kernel keeps that
property: its ranks are a bijection of the key set in the same order, so
the minimum rank IS the minimum key.
"""

from __future__ import annotations

import logging
from typing import Iterator, Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_LOG = logging.getLogger(__name__)

# Edge rows labelled in one task. A 2M-edge graph is ~100 MB of Arrow
# string keys plus a few int64 arrays in one Python worker; above this the
# hash-to-min loop spreads the work.
LOCAL_EDGE_LIMIT = 2_000_000

_OUT_BATCH_ROWS = 65_536


def _min_label_kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """mapInArrow kernel over ALL (src, dst) edges of the graph (one task):
    yields (turn_key, cluster_id = the component's minimum key) for every
    endpoint. Duplicate edges and self-loops are harmless. A null endpoint
    joins nothing, as in the hash-to-min join: the null vertex labels
    itself null and its edges add no connectivity."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    ends = pa.concat_arrays(
        [table.column("src").combine_chunks(), table.column("dst").combine_chunks()]
    )
    keys = pc.unique(ends)
    keys = keys.take(pc.sort_indices(keys))  # nulls sort last
    codes = pc.index_in(ends, value_set=keys).to_numpy().astype(np.int64)
    n_edges = len(table)
    u, v = codes[:n_edges], codes[n_edges:]
    if keys.null_count:
        real = (u != len(keys) - 1) & (v != len(keys) - 1)
        u, v = u[real], v[real]
    # min-root union-find: hook every root to the smallest root it touches,
    # then jump pointers until each vertex points at its root. parent[x] <= x
    # throughout, so a root is its tree's minimum rank.
    parent = np.arange(len(keys), dtype=np.int64)
    while len(u):
        pu, pv = parent[u], parent[v]
        lo = np.minimum(pu, pv)
        np.minimum.at(parent, pu, lo)
        np.minimum.at(parent, pv, lo)
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        open_edges = parent[u] != parent[v]
        u, v = u[open_edges], v[open_edges]
    out = pa.RecordBatch.from_arrays([keys, keys.take(pa.array(parent))], names=["turn_key", "cluster_id"])
    for off in range(0, len(keys), _OUT_BATCH_ROWS):
        yield out.slice(off, _OUT_BATCH_ROWS)


def connected_components(
    edges: DataFrame, max_iter: int = 25, stats: Optional[dict] = None
) -> DataFrame:
    """edges: (key_a, key_b) pairs of one key type (string or long). Returns
    (turn_key, cluster_id) of that type, where cluster_id is the
    component's minimum key.

    Singleton vertices (no edges) are not returned; callers union them back
    with their own key as cluster id.

    The edges are materialized once (an eager ``localCheckpoint`` whose
    ``Observation`` counts them); that count picks the path (module
    docstring). Both paths return the same table.

    ``stats``: mutable dict receiving ``{'iterations', 'converged',
    'unconverged_labels', 'edge_rows'}``. ``iterations`` counts Spark
    hash-to-min rounds (0 on the local path, which always converges);
    ``edge_rows`` is the materialized edge count (duplicates included).
    Exhausting ``max_iter`` with labels still changing would silently
    return split clusters (a >max_iter-diameter similarity chain —
    realistic for near-dup chains at scale), violating the
    no-silent-truncation principle — so non-convergence is ALWAYS logged at
    warning level, and ``unconverged_labels`` reports how many labels were
    still moving (one extra count on the small label table, charged only in
    the failure case).
    """
    edge_obs = Observation("cc_edges")
    e = (
        edges.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        .observe(edge_obs, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint()
    )
    edge_rows = int(edge_obs.get["rows"] or 0)
    key_type = e.schema["src"].dataType
    if edge_rows <= LOCAL_EDGE_LIMIT:
        if stats is not None:
            stats.update(
                {"iterations": 0, "converged": True, "unconverged_labels": 0, "edge_rows": edge_rows}
            )
        schema = StructType([StructField("turn_key", key_type), StructField("cluster_id", key_type)])
        return e.coalesce(1).mapInArrow(_min_label_kernel, schema)

    # undirected: keep both directions for the neighbor-min aggregation
    adj = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct().localCheckpoint()

    labels = adj.select(F.col("src").alias("vid")).distinct().withColumn("label", F.col("vid"))
    converged = False
    iterations = 0
    changed = 0
    for i in range(max_iter):
        iterations += 1
        nbr_min = (
            adj.join(labels, adj.dst == labels.vid)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # ONE Spark job per iteration: the changed-label count rides the
        # checkpoint job as an Observation instead of a second count action
        # — at web scale the loop cost is per-iteration JOB overhead
        # (driver barriers), not data volume, so halving the jobs halves
        # the stage's fixed cost (measured: the tables are tiny after the
        # star sparsification, yet each extra action costs ~1s of
        # scheduling latency per iteration)
        obs = Observation(f"cc_changed_{i}")
        new_labels = (
            labels.join(nbr_min, labels.vid == nbr_min.src, "left")
            .select(
                "vid",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("new_label"),
                "label",
            )
            .observe(obs, F.sum((F.col("new_label") != F.col("label")).cast("long")).alias("changed"))
            .localCheckpoint()
        )
        changed = int(obs.get["changed"] or 0)
        labels = new_labels.select("vid", F.col("new_label").alias("label"))
        if changed == 0:
            converged = True
            break
    unconverged_labels = 0
    if not converged:
        unconverged_labels = changed
        _LOG.warning(
            "connected_components exhausted max_iter=%d with %d labels still changing; "
            "returned clusters may be split (raise max_iter)",
            max_iter,
            unconverged_labels,
        )
    if stats is not None:
        stats.update(
            {
                "iterations": iterations,
                "converged": converged,
                "unconverged_labels": unconverged_labels,
                "edge_rows": edge_rows,
            }
        )
    return labels.select(F.col("vid").alias("turn_key"), F.col("label").alias("cluster_id"))


def cluster_turns(
    all_turns: DataFrame, edges: DataFrame, max_iter: int = 25, stats: Optional[dict] = None
) -> DataFrame:
    """Full clustering output: every turn gets a cluster id; turns outside
    any match edge become singletons keyed by their own turn_key."""
    comp = connected_components(edges, max_iter=max_iter, stats=stats)
    return (
        all_turns.select("turn_key")
        .join(comp, "turn_key", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("turn_key")))
    )
