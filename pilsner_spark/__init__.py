"""pilsner_spark — a PySpark-native entity-resolution engine.

A from-scratch reimplementation of the query/data-processing capabilities of
pgolo/pilsner (dictionary-driven named-entity recognition) re-expressed as a
Spark-first record-linkage pipeline: text normalization (vectorized Arrow
UDFs) -> dictionary mention extraction (broadcast automaton inside
mapInPandas) -> blocking (MinHash bands x (tool, role), salted) -> pairwise
scoring (Jaro-Winkler / Levenshtein / dictionary hits) -> transitive
clustering (connected components: one Arrow task below 2M edges,
iterative hash-to-min above), with per-stage
checkpoints, lineage and metrics.

Layout:
    core/       pure-Python pilsner-semantics kernel (normalize, trie, scan,
                parse) — driver-side compile + broadcast into pandas UDFs
    functions/  column-level functions (similarity, text analytics)
    operators/  DataFrame operators (mentions, blocking, scoring, clustering,
                dedup, ann, multimodal)
    sources/    input synthesis + dictionary IO + table catalog abstraction
    plans/      pipeline orchestration, checkpoint/resume, metrics
    streaming/  Structured Streaming variants
"""

__version__ = "0.1.0"
