"""Deduplication operators for training-data pipelines.

Exact (hash group-by), MinHash+LSH (shingle -> minhash -> band -> bucket
self-join), SimHash, n-gram Jaccard, embedding-cosine (brute + IVF scale
path), SemDeDup semantic dedup, cross-snapshot incremental dedup, and the
transitive keep/drop decision — all as DataFrame compositions with
engine-portable hashing (md5-derived, see functions.text.md5_long) so every
operator has a DuckDB oracle. At scale the band self-join is the shuffle to
watch: band keys are the blocking keys, and the same salting/AQE treatment
as ER blocking applies.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pilsner_spark.functions.text import md5_long, tokens
from pilsner_spark.session import spread_input


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups on the raw text: keeper id + group size.
    One shuffle (hash aggregation with map-side partial)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingles(text_col, n: int = 3):
    """Word n-gram shingle array (JVM-side, no UDF)."""
    toks = tokens(text_col)
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def minhash_signature(text_col, num_hashes: int = 12, shingle_n: int = 3, seed: int = 7):
    """MinHash signature over word shingles: minhash_i = min over shingles
    of md5_long(shingle || '#' || i) — deterministic and oracle-portable."""
    sh = F.array_distinct(shingles(text_col, shingle_n))
    return F.array(
        *[
            F.array_min(
                F.transform(sh, lambda s: md5_long(F.concat(s, F.lit(f"#{seed}#{i}"))))
            )
            for i in range(num_hashes)
        ]
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    band_size: int = 2,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(id, band_key) rows: documents sharing a band key are near-dup
    candidates. band_key folds band index + the band's minhashes."""
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_n, seed)
    n_bands = num_hashes // band_size
    with_sig = spread_input(df).select(F.col(id_col).alias("doc_id"), sig.alias("sig"))
    bands = [
        F.concat_ws(
            "#",
            F.lit(str(b)),
            *[F.col("sig")[b * band_size + j].cast("string") for j in range(band_size)],
        )
        for b in range(n_bands)
    ]
    return with_sig.select("doc_id", F.explode(F.array(*bands)).alias("band_key"))


def _bucket_pairs(ids):
    """Ordered (id_a < id_b) in-bucket pair expansion as JVM higher-order
    functions over a sorted id array — no self-join, so the upstream
    pipeline (signatures, shingles) is computed exactly once."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def minhash_candidate_pairs(bands: DataFrame, max_bucket_size: int = 200) -> DataFrame:
    """Distinct candidate near-dup pairs from shared band keys.

    Physical shape: ONE shuffle (groupBy band_key — the LSH bucketing),
    then pair expansion inside each bucket via higher-order array
    functions. The naive alternative — a band-key self-join — evaluates
    the full signature pipeline twice (Catalyst does not materialize
    common subtrees across a self-join) and shuffles both sides; measured
    >2x slower at 5k docs and growing with the signature cost.

    ``max_bucket_size`` bounds every bucket: a degenerate band key (the
    normal case in web-scale dedup — millions of identical boilerplate
    docs land in one band) would otherwise build one multi-million-element
    array row and O(n^2) pairs. Buckets above the cap are DROPPED from
    pair expansion — a RECALL TRADE-OFF, not a free drop: band saturation
    only proves band-level minhash agreement, so two non-identical
    near-dups whose only shared band is the saturated one lose their
    candidate pair (exact duplicates are separately covered by
    exact_dedup_groups; docs in a capped bucket usually still co-occur in
    other, unsaturated bands). The drop must never be silent: callers
    should surface ``oversized_band_report`` alongside the pairs — the ER
    pipeline does the equivalent for salted blocks — so the affected keys
    and sizes are visible."""
    buckets = (
        bands.groupBy("band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket_size))
    )
    return (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def oversized_band_report(bands: DataFrame, max_bucket_size: int = 200) -> DataFrame:
    """Band keys whose bucket exceeds ``max_bucket_size`` (and were dropped
    by minhash_candidate_pairs), with their sizes — the no-silent-truncation
    companion, mirroring blocking.salt_oversized_blocks' report."""
    return (
        bands.groupBy("band_key")
        .agg(F.countDistinct("doc_id").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def simhash(text_col, bits: int = 16, seed: int = 11):
    """SimHash over tokens: bit b set when the sum over tokens of
    (+1 if md5-derived bit b of token else -1) is positive. ``bits`` kept
    small so the oracle stays tractable; the construction scales to 64."""
    toks = F.array_distinct(tokens(text_col))

    def bit_sum(b: int):
        def merge(a, t):
            return a + F.when(
                F.pmod(md5_long(F.concat(t, F.lit(f"@{seed}@{b}"))), 2) == 1, 1
            ).otherwise(-1)

        return F.aggregate(toks, F.lit(0), merge)

    acc = [bit_sum(b) for b in range(bits)]
    out = F.lit(0).cast("bigint")
    for b, s in enumerate(acc):
        out = out + F.when(s > 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return out


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    n_chunks: int = 4,
    max_hamming: int = 3,
    seed: int = 11,
    max_bucket_size: int = 200,
) -> DataFrame:
    """SimHash near-dup pairs via chunk-bucketed Hamming LSH — the
    signature-space twin of ``minhash_candidate_pairs``.

    The ``bits``-bit signature splits into ``n_chunks`` equal chunks; docs
    sharing any (chunk index, chunk value) bucket are candidates, then the
    exact Hamming distance (``bit_count(xor)``) filters to
    ``<= max_hamming``. Pigeonhole guarantee: a pair at distance ``d <=
    n_chunks - 1`` differs in at most ``n_chunks - 1`` chunks, so at least
    one chunk matches — with the default ``max_hamming = n_chunks - 1`` the
    output is EXACTLY the brute-force pair set (no recall loss), found with
    one bucketing shuffle instead of an n^2 cross join.

    Physical shape mirrors minhash_candidate_pairs: groupBy chunk_key,
    in-bucket higher-order pair expansion over (doc_id, signature) structs
    (signature rides along for the Hamming filter — no join back), buckets
    above ``max_bucket_size`` dropped (same recall-trade-off caveat; at
    ``bits=16`` a chunk has 16 distinct values, so web-scale corpora want
    ``bits=64``/``n_chunks=8`` where buckets spread over 256 values per
    chunk and the cap bounds the degenerate ones)."""
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    sig = spread_input(df).select(
        F.col(id_col).alias("doc_id"), simhash(F.col(text_col), bits=bits, seed=seed).alias("sh")
    )
    chunks = sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "#",
                        F.lit(str(c)),
                        F.shiftright("sh", c * chunk_bits).bitwiseAND(F.lit(mask)).cast("string"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_key"),
    )
    buckets = (
        chunks.groupBy("chunk_key")
        .agg(F.sort_array(F.collect_set(F.struct("doc_id", "sh"))).alias("members"))
        .filter((F.size("members") > 1) & (F.size("members") <= max_bucket_size))
    )
    pairs = buckets.select(F.explode(_bucket_pairs(F.col("members"))).alias("p")).select(
        F.col("p.id_a.doc_id").alias("id_a"),
        F.col("p.id_a.sh").alias("sh_a"),
        F.col("p.id_b.doc_id").alias("id_b"),
        F.col("p.id_b.sh").alias("sh_b"),
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 50,
) -> DataFrame:
    """All-pairs n-gram Jaccard above threshold, computed relationally:
    explode shingles -> bucket by shingle (DF-capped) -> in-bucket pair
    expansion -> intersection counts -> Jaccard from set sizes. Bucketing +
    higher-order pair expansion computes the shingle pipeline once and
    shuffles it once (a shingle self-join would do both twice); bucket
    pair counts are bounded by max_shingle_df^2."""
    sh = spread_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    buckets = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_shingle_df))
    )
    inter = (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "sh_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "sh_b"), "id_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("sh_a") + F.col("sh_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_neardup_pairs_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    n_probe: int = 1,
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """Scale path for embedding-cosine near-dup: IVF-bucketed candidate
    generation. Vectors are assigned to their nearest centroid cell ONCE
    (linear, broadcast centroids — operators.ann.ivf_assign), and pairs
    are generated only within shared cells: the full N^2 cross join
    becomes a cell-partitioned join bounded by the largest cell, the same
    blocking shape as the token/minhash dedup families.

    ``n_probe`` recovers boundary losses the way IVF search does: each
    vector additionally PROBES its n_probe nearest cells, and a pair
    qualifies when either side's home (top-1) cell is among the other's
    probed cells — a true near-dup pair split across a cell boundary is
    found as long as one side probes the other's cell. Cost: the probe
    table is n_probe x N rows (still linear), the top-p ranking is one
    window over the N x C broadcast cross join (vs the max_by shape at
    n_probe=1), and candidates dedupe before the cosine. Residual recall
    loss is the standard IVF one — measured by the subset-of-brute test;
    raise n_probe or n_cells granularity when it matters."""
    from pilsner_spark.functions.similarity import cosine_similarity
    from pilsner_spark.operators.ann import ivf_assign, sample_centroids

    v = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if n_probe <= 1:
        assign = ivf_assign(df, n_cells, id_col, vec_col, centroids=centroids)
        tagged = v.join(assign, "vec_id").localCheckpoint()
        a = tagged.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("vec_a"), "cell")
        b = tagged.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vec_b"), "cell")
        cand = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b")).drop("cell")
    else:
        from pyspark.sql import Window

        if centroids is None:
            centroids = sample_centroids(df, n_cells, id_col, vec_col)
        scored = F.broadcast(centroids).crossJoin(v).withColumn(
            "cos",
            F.round(cosine_similarity(F.col("c_vec").cast("array<double>"), F.col("vec").cast("array<double>")), 6),
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell"))
        ranked = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= n_probe).select(
            "vec_id", "cell", "r"
        ).localCheckpoint()
        home = ranked.filter(F.col("r") == 1).select(F.col("vec_id").alias("id_h"), "cell")
        probes = ranked.select(F.col("vec_id").alias("id_p"), "cell")
        # either orientation qualifies; normalize to id_a < id_b and dedupe
        # the (small) candidate set BEFORE the cosine arithmetic
        pairs = (
            probes.join(home, "cell")
            .filter(F.col("id_p") != F.col("id_h"))
            .select(
                F.least("id_p", "id_h").alias("id_a"), F.greatest("id_p", "id_h").alias("id_b")
            )
            .distinct()
        )
        cand = (
            pairs.join(v.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("vec_a")), "id_a")
            .join(v.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vec_b")), "id_b")
        )
    return (
        cand.withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("vec_a").cast("array<double>"), F.col("vec_b").cast("array<double>")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force over the full
    cross product — the correctness baseline; embedding_neardup_pairs_ivf
    and operators.ann are the scale paths)."""
    from pilsner_spark.functions.similarity import cosine_similarity

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus documents
    whose embedding is within cosine ``threshold`` of ANY benchmark /
    eval-set embedding — the semantic complement of the n-gram
    `text_filters.decontaminate` pass (paraphrased eval leakage that
    shares no exact token window still lands near the benchmark in
    embedding space; cf. the contamination audits in Yang et al. 2023
    "Rethinking Benchmark and Contamination").

    Returns one row per CONTAMINATED corpus document: (vec_id, n_hits =
    number of benchmark vectors within threshold, top_benchmark_id /
    top_cosine = the closest benchmark hit, ties broken by the larger
    benchmark id). Clean documents are absent; anti-join to keep them.

    Physical shape (the 100 TB one): eval suites are tiny next to the
    corpus, so the BENCHMARK side is broadcast — one corpus scan, a
    broadcast nested-loop cosine filter (embarrassingly parallel, corpus
    embeddings never cross an exchange), then ONE aggregation with
    map-side partial combine over the (small) matched set — the struct-max
    witness makes it sort-based rather than hashed, which is immaterial at
    matched-set size; no window, no join back. For benchmarks too large to broadcast, pre-filter candidates by
    IVF cell (operators.ann.ivf_assign on both sides, join on cell) and
    feed the survivors through the same scoring; this exact form is the
    oracle-checkable baseline."""
    from pilsner_spark.functions.similarity import cosine_similarity

    b = benchmark.select(
        F.col(id_col).alias("bench_id"), F.col(vec_col).cast("array<double>").alias("b_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("c_vec")
    )
    matched = (
        c.crossJoin(F.broadcast(b))
        .withColumn("cosine", F.round(cosine_similarity(F.col("c_vec"), F.col("b_vec")), 6))
        .filter(F.col("cosine") >= threshold)
    )
    return (
        matched.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max(F.struct(F.col("cosine"), F.col("bench_id"))).alias("top"),
        )
        .select(
            "vec_id",
            "n_hits",
            F.col("top.bench_id").alias("top_benchmark_id"),
            F.col("top.cosine").alias("top_cosine"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    old_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    band_size: int = 2,
    shingle_n: int = 3,
    seed: int = 7,
    max_bucket_size: int = 200,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Cross-snapshot dedup: flag NEW documents that duplicate (exactly or
    nearly) an EXISTING corpus, without ever pairing old-vs-old — the shape
    an append-only 100 TB corpus actually needs per ingest batch (re-running
    all-pairs dedup over corpus+batch is O((N+b)^2); this is O(b x collisions)).

    Returns one row per flagged new doc: (doc_id, matched_id, reason) with
    reason 'exact' (byte-identical text; matched_id = min matching old id)
    or 'near_dup' (shares a MinHash band with an old doc AND clears token
    Jaccard >= ``jaccard_threshold``; exact-flagged docs are excluded so
    each doc carries its strongest reason). Unflagged new docs are absent —
    an anti-join of the batch against this result is the insert set.

    Physical shape: exact is one hash-key equi-join (shuffle on md5, AQE
    broadcasts a small batch side). Near-dup groups OLD band rows into
    capped buckets once — at scale this table is precomputed and persisted
    per corpus, bucketed by band_key, so each ingest joins against it
    without rescanning old text — then the batch's bands join on band_key
    and verification touches only candidate pairs. Nothing enumerates
    old-old pairs anywhere. Oversized old buckets (> ``max_bucket_size``)
    are dropped from candidates, same documented recall trade-off and same
    cap as minhash_candidate_pairs — surface oversized_band_report on the
    old corpus alongside (no silent truncation)."""
    from pilsner_spark.functions.similarity import token_jaccard

    new_k = new_docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("k"))
    old_k = old_docs.select(F.col(id_col).alias("old_id"), F.md5(F.col(text_col)).alias("k"))
    exact = (
        new_k.join(old_k, "k")
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("matched_id"))
        .withColumn("reason", F.lit("exact"))
    )

    bands_new = minhash_bands(new_docs, id_col, text_col, num_hashes, band_size, shingle_n, seed)
    bands_old = minhash_bands(old_docs, id_col, text_col, num_hashes, band_size, shingle_n, seed)
    old_buckets = (
        bands_old.groupBy("band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") <= max_bucket_size)
    )
    cand = (
        bands_new.join(old_buckets, "band_key")
        .select("doc_id", F.explode("ids").alias("old_id"))
        .distinct()
    )
    toks_new = new_docs.select(
        F.col(id_col).alias("doc_id"), F.array_distinct(tokens(F.col(text_col))).alias("ts_n")
    )
    toks_old = old_docs.select(
        F.col(id_col).alias("old_id"), F.array_distinct(tokens(F.col(text_col))).alias("ts_o")
    )
    near = (
        cand.join(toks_new, "doc_id")
        .join(toks_old, "old_id")
        .filter(token_jaccard(F.col("ts_n"), F.col("ts_o")) >= jaccard_threshold)
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("matched_id"))
        .withColumn("reason", F.lit("near_dup"))
        .join(exact.select("doc_id"), "doc_id", "left_anti")
    )
    return exact.unionByName(near)


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space, call within-cluster pairs above a cosine threshold
    semantic duplicates, and keep ONE representative per duplicate group —
    the member FARTHEST from its cluster centroid (lowest centroid cosine;
    the paper's keep-rule, which retains the least-prototypical example so
    pruning sheds redundancy, not diversity). Ties break to the lowest id.

    Returns one row per document that belongs to some duplicate group:
    (vec_id, cell, group_id, group_size, cos_centroid, keep). Documents in
    no group are absent — they are all keepers (same contract as
    ``neardup_groups``); ``df anti-join (keep = false)`` is the pruned
    corpus.

    Scale shape: centroid assignment is linear (broadcast C centroids, one
    max_by agg — operators.ann.ivf_assign); candidate pairs come from
    ``embedding_neardup_pairs_ivf`` at n_probe=1 (strictly within-cluster,
    the paper's setting), bounded by the largest cell, never N^2;
    connected components run on the duplicate EDGE set only; the keeper
    argmin is one min_by hash aggregation per group. Centroids default to
    the deterministic sample (oracle-checkable); pass
    ``kmeans_centroids(...)`` for index quality — same dataflow.
    """
    from pilsner_spark.functions.similarity import cosine_similarity
    from pilsner_spark.operators.ann import ivf_assign, sample_centroids

    if centroids is None:
        centroids = sample_centroids(df, n_cells, id_col, vec_col)
    centroids = centroids.localCheckpoint()
    v = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    assign = ivf_assign(df, n_cells, id_col, vec_col, centroids=centroids)
    acos = (
        assign.join(v, "vec_id")
        .join(F.broadcast(centroids), "cell")
        .select(
            "vec_id",
            "cell",
            F.round(
                cosine_similarity(
                    F.col("vec").cast("array<double>"), F.col("c_vec").cast("array<double>")
                ),
                6,
            ).alias("cos_centroid"),
        )
    )
    pairs = embedding_neardup_pairs_ivf(
        df, id_col, vec_col, threshold=threshold, n_cells=n_cells, n_probe=1, centroids=centroids
    )
    groups = neardup_groups(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("canonical_id").alias("group_id"), "group_size"
    )
    members = groups.join(acos, "vec_id")
    keepers = members.groupBy("group_id").agg(
        F.min_by("vec_id", F.struct(F.col("cos_centroid"), F.col("vec_id"))).alias("keep_id")
    )
    return (
        members.join(keepers, "group_id")
        .select(
            "vec_id",
            "cell",
            "group_id",
            "group_size",
            "cos_centroid",
            (F.col("vec_id") == F.col("keep_id")).alias("keep"),
        )
    )


def neardup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """The dedup DECISION: near-dup group membership from candidate pairs.

    Connected components over the pair graph (near-dup similarity is not
    transitive, but dedup keep/drop must be — a doc chained to a kept doc
    through near-dups should not survive), canonical = the group's minimum
    id, plus the group size. Output (doc_id, canonical_id, group_size);
    keep rule downstream: ``doc_id == canonical_id``. Singleton docs (no
    candidate pair) are not returned — they are all keepers.

    Scale shape: CC runs on the near-dup EDGE set — O(duplicates), orders
    of magnitude below the corpus — and the size join is one linear
    aggregation of the component table; nothing here touches the full
    document table (reference: pilsner has no dedup; this extends the
    engine for training-data pipelines).
    """
    from pilsner_spark.operators.clustering import connected_components

    edges = pairs.select(F.col(id_a).alias("key_a"), F.col(id_b).alias("key_b"))
    comp = connected_components(edges).select(
        F.col("turn_key").alias("doc_id"), F.col("cluster_id").alias("canonical_id")
    )
    sizes = comp.groupBy("canonical_id").agg(F.count("*").alias("group_size"))
    return comp.join(sizes, "canonical_id").select("doc_id", "canonical_id", "group_size")
