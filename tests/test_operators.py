"""Unit tests for dedup / ANN / text / similarity operators."""

import pytest
from pyspark.sql import functions as F

from pilsner_spark.functions.similarity import jaro_winkler
from pilsner_spark.operators.ann import brute_force_topk, ivf_topk
from pilsner_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_bands,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
)


def test_jaro_winkler_known_values():
    # standard textbook values
    assert abs(jaro_winkler("martha", "marhta") - 0.9611) < 1e-3
    assert abs(jaro_winkler("dixon", "dicksonx") - 0.8133) < 1e-3
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("", "x") == 0.0
    assert jaro_winkler("abc", "xyz") == 0.0


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    other = "completely different text about spark dataframes and shuffle partitions"
    rows = [(0, base), (1, near), (2, other), (3, base)]  # 3 is exact dup of 0
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark, docs):
    groups = {r.keep_id: r.n_dups for r in exact_dedup_groups(docs).collect()}
    assert groups[0] == 2  # docs 0 and 3
    assert groups[1] == 1 and groups[2] == 1


def test_minhash_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in minhash_candidate_pairs(minhash_bands(docs, num_hashes=12, band_size=2)).collect()}
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs  # near dup shares most shingles
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_minhash_bucket_cap_degenerate_corpus(spark):
    """Web-scale normal case: thousands of identical boilerplate docs land
    in one LSH bucket per band. The cap must bound pair expansion (no O(n^2)
    blowup) and the drop must be visible, while under-cap near-dup buckets
    still produce their pairs."""
    from pilsner_spark.operators.dedup import oversized_band_report

    boiler = [(i, "identical boilerplate footer text repeated across the whole crawl segment") for i in range(1000)]
    near = [
        (2000, "a genuinely unique article about shuffle partitioning in spark clusters"),
        (2001, "a genuinely unique article about shuffle partitioning in spark cluster"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id bigint, text string")
    bands = minhash_bands(df, num_hashes=6, band_size=2)
    pairs = {(r.id_a, r.id_b) for r in minhash_candidate_pairs(bands, max_bucket_size=200).collect()}
    assert (2000, 2001) in pairs  # under-cap bucket still pairs
    assert all(a >= 2000 for a, _ in pairs)  # saturated boilerplate buckets dropped, not expanded
    report = oversized_band_report(bands, max_bucket_size=200).collect()
    assert len(report) == 3  # all 3 boilerplate bands reported
    assert all(r.bucket_size == 1000 for r in report)


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 3)] == 1.0
    assert 0.5 < pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(40):
        angle = (i % 8) / 8.0 * math.pi
        noise = 0.01 * (i // 8)
        rows.append((i, [math.cos(angle) + noise, math.sin(angle), 0.1, 0.0]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_ann_brute_force(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = brute_force_topk(vectors, queries, k=4)
    rows = out.collect()
    assert len(rows) == 12
    # nearest neighbors of vec 0 are the same-angle vectors (8, 16, 24, 32)
    n0 = {r.neighbor_id for r in rows if r.query_id == 0}
    assert n0 == {8, 16, 24, 32}
    # ranks are 1..4 per query
    assert sorted(r.rank for r in rows if r.query_id == 0) == [1, 2, 3, 4]


def test_ann_ivf_recall(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = {(r.query_id, r.neighbor_id) for r in brute_force_topk(vectors, queries, k=3).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_topk(vectors, queries, k=3, n_cells=8, n_probe=4).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.6, (recall, brute - ivf)


def test_ann_ivf_kmeans_recall(spark, vectors):
    """Trained index quality gate: on the angle-clustered fixture, k-means
    centroids must align with the real clusters — recall@3 >= 0.9 probing
    half the cells; and every k-means cell must stay nonempty here."""
    from pilsner_spark.operators.ann import kmeans_centroids, recall_at_k

    queries = vectors.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    km = kmeans_centroids(vectors, n_cells=8, iters=3)
    assert km.count() == 8
    rec = recall_at_k(vectors, queries, k=3, n_cells=8, n_probe=4, centroids=km)
    assert rec >= 0.9, rec


def test_text_functions_edge_cases(spark):
    from pilsner_spark.functions import text as TX

    df = spark.createDataFrame([("",), ("   ",), ("the the the",), ("a!b?c",)], "text string")
    out = df.select(
        TX.token_count(F.col("text")).alias("n"),
        TX.punct_ratio(F.col("text")).alias("p"),
        TX.stopword_ratio(F.col("text")).alias("s"),
        TX.quality_score(F.col("text")).alias("q"),
    ).collect()
    assert out[0].n == 0 and out[1].n == 0
    assert out[2].s == 1.0
    assert out[3].p == pytest.approx(2 / 5)
    assert all(0.0 <= r.q <= 1.0 for r in out)


def test_bench_compact_line_stays_under_tail_window():
    """BENCH_r04 was lost to the driver's ~2000-char stdout tail; the
    compact-line builder must stay <=1500 chars for the real headline set
    and degrade explicitly (not silently) for absurdly wide query sets."""
    import json

    import bench as benchmod

    full = {
        "metric": "headline_total_seconds", "value": 123.456, "unit": "sec",
        "queries": {name: 12.345 for name in benchmod.HEADLINE + ["er_pipeline"]},
        "sf": 0.1, "cpus": 32, "er_pairs_scored": 5777088,
        "er_pairs_per_second": 505333.1, "er_f1": 1.0,
    }
    line = benchmod.build_compact_line(full)
    assert len(line) <= 1500, len(line)
    parsed = json.loads(line)
    assert parsed["er_f1"] == 1.0 and "er_pipeline" in parsed["queries"]

    wide = dict(full, queries={f"query_with_a_very_long_name_{i}": 1.0 for i in range(200)})
    line2 = benchmod.build_compact_line(wide)
    assert len(line2) <= 1500
    assert json.loads(line2)["queries_dropped_for_size"] is True


def test_plan_audit_normalizes_run_to_run_noise():
    """PLANS.md keeps the explain text without the ids that change from
    run to run, so two runs over the same plans write the same file."""
    from tools.explain_audit import normalize_plan

    run = (
        "(3) Project [key_a#1234L, filter(h#77, lambdafunction(NOT (lambda x_135#151 = ), lambda x_135#151))]\n"
        "Arguments: [c_vec#1060], MapPartitionsRDD[298] at localCheckpoint, plan_id=104\n"
        "Location: InMemoryFileIndex [file:/tmp/plan_audit_uwq_xq6a/split/blocks]\n"
        "(4) Exchange hashpartitioning(max_2#9, 8)"
    )
    assert normalize_plan(run) == (
        "(3) Project [key_a#NL, filter(h#N, lambdafunction(NOT (lambda x_N#N = ), lambda x_N#N))]\n"
        "Arguments: [c_vec#N], MapPartitionsRDD[N] at localCheckpoint, plan_id=N\n"
        "Location: InMemoryFileIndex [file:/tmp/plan_audit_ROOT/split/blocks]\n"
        "(4) Exchange hashpartitioning(max_2#N, 8)"
    )


def test_default_driver_memory_follows_the_host(monkeypatch):
    """The pre-touched heap defaults to 8g or a third of physical memory,
    whichever is less, in whole GB."""
    from pilsner_spark import session

    def host(gb):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gb * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session.default_driver_memory()

    assert (host(15), host(64), host(2)) == ("5g", "8g", "1g")


def test_corpus_profile_approx_matches_exact(spark):
    """corpus_profile: approx=True (the default 100 TB path —
    approx_percentile sketch, bounded group memory) must agree with the
    exact sort-based percentiles within the sketch's rank-error bound;
    all non-percentile columns must be identical."""
    from pilsner_spark.functions.text import corpus_profile

    rows = [
        (i, f"s{i % 3}", "word " * (1 + i % 40), float(10 + (i * 37) % 500), "en" if i % 2 else "other")
        for i in range(600)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string, n_chars double, lang string")
    exact = {r.source: r for r in corpus_profile(docs, approx=False).collect()}
    approx = {r.source: r for r in corpus_profile(docs, approx=True).collect()}
    assert set(exact) == set(approx) == {"s0", "s1", "s2"}
    for src in exact:
        e, a = exact[src], approx[src]
        assert (a.n_docs, a.total_tokens, a.mean_chars, a.n_langs) == (
            e.n_docs, e.total_tokens, e.mean_chars, e.n_langs,
        )
        # approx_percentile returns an actual data value; exact percentile
        # interpolates — allow one rank's worth of drift in value terms
        for col in ("p50_chars", "p90_chars"):
            assert abs(getattr(a, col) - getattr(e, col)) <= 10.0, (src, col, a, e)


def test_embedding_ivf_neardup_subset_of_brute(spark, vectors):
    """The IVF-bucketed near-dup scale path: every reported pair is a true
    brute-force pair (exact cosine, no false positives), and the clustered
    fixture keeps same-angle vectors in shared cells so recall is high."""
    from pilsner_spark.operators.dedup import embedding_neardup_pairs, embedding_neardup_pairs_ivf

    brute = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(vectors, threshold=0.98).collect()}
    ivf = {(r.id_a, r.id_b) for r in embedding_neardup_pairs_ivf(vectors, threshold=0.98, n_cells=8).collect()}
    assert ivf <= brute
    assert brute, "fixture must produce near-dup pairs"
    assert len(ivf) / len(brute) >= 0.5, (len(ivf), len(brute))
    # multi-probe recovers cell-boundary pairs: recall is monotone in n_probe
    ivf2 = {(r.id_a, r.id_b) for r in embedding_neardup_pairs_ivf(vectors, threshold=0.98, n_cells=8, n_probe=2).collect()}
    assert ivf <= ivf2 <= brute, (len(ivf), len(ivf2), len(brute))


def test_embedding_decontaminate_hand_computed(spark):
    """Hand-checkable geometry: corpus vec 1 sits on benchmark b10's axis
    (cos 1.0) and orthogonal to b20; vec 2 is at 45° to both (cos ~0.7071,
    two hits, tie broken to the LARGER bench id); vec 3 is orthogonal to
    both (clean, absent). The benchmark side must broadcast."""
    from pilsner_spark.operators.dedup import embedding_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, -1.0])],
        "vec_id bigint, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(10, [2.0, 0.0]), (20, [0.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    out = {r.vec_id: r for r in embedding_decontaminate(corpus, bench, threshold=0.5).collect()}
    assert set(out) == {1, 2}
    assert (out[1].n_hits, out[1].top_benchmark_id, out[1].top_cosine) == (1, 10, 1.0)
    assert (out[2].n_hits, out[2].top_benchmark_id) == (2, 20)
    assert out[2].top_cosine == pytest.approx(0.707107)
    plan = (
        embedding_decontaminate(corpus, bench, threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_neardup_groups_transitive_decision(spark):
    """neardup_groups turns pairs into the keep/drop decision: chained
    near-dups collapse into ONE group labeled by the min id (transitivity,
    even though pairwise similarity is not transitive), group_size counts
    members, and singleton docs never appear (they are all keepers)."""
    from pilsner_spark.operators.dedup import neardup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)],  # chain 1-2-3 (no 1-3 pair) + pair 10-11
        "id_a long, id_b long",
    )
    got = {
        (r.doc_id, r.canonical_id, r.group_size)
        for r in neardup_groups(pairs).collect()
    }
    assert got == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3),  # chain closed transitively
        (10, 10, 2), (11, 10, 2),
    }
    keepers = {d for d, c, _ in got if d == c}
    assert keepers == {1, 10}


def test_simhash_pairs_equal_brute_force(spark):
    """Pigeonhole exactness of the chunk-bucketed Hamming LSH: with
    max_hamming = n_chunks - 1 and no saturated bucket, the LSH pair set
    equals brute force (cross join + bit_count(xor) filter) — id pairs AND
    the hamming values themselves."""
    from pyspark.sql import functions as F

    from pilsner_spark.operators.dedup import simhash, simhash_candidate_pairs

    texts = [
        "spark shuffle partitions control parallelism of wide stages",
        "spark shuffle partitions control parallelism of wide stage",
        "spark shuffle partition controls parallelism for wide stages",
        "an entirely different document about entity resolution blocking",
        "an entirely different document about entity resolution blocks",
        "watermark handling for late events in structured streaming",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.hamming) for r in simhash_candidate_pairs(df).collect()
    }
    sig = df.select("doc_id", simhash(F.col("text"), bits=16).alias("sh"))
    a, b = sig.alias("a"), sig.alias("b")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute
    assert got  # non-vacuous: the near-identical texts must collide


def test_meta_blocking_weights_and_pruning(spark):
    """Hand-computed CBS + WEP/CNP on a 4-record block graph:
    A={t1,t2,t3}, B={t1,t2}, C={t1,t4}, D={t4,t5}; singleton blocks (t3,
    t5) contribute nothing; an oversized block (t6 on all four) is purged
    by max_block_size and must not change any weight."""
    from pilsner_spark.operators.blocking import comparison_weights, meta_block_prune

    rows = [
        ("A", ["t1", "t2", "t3", "t6"]),
        ("B", ["t1", "t2", "t6"]),
        ("C", ["t1", "t4", "t6"]),
        ("D", ["t4", "t5", "t6"]),
    ]
    blocks = spark.createDataFrame(rows, "doc_id string, toks array<string>").select(
        "doc_id", F.explode("toks").alias("block_key")
    )
    w = comparison_weights(
        blocks, id_col="doc_id", key_col="block_key", min_block_size=2, max_block_size=3
    )
    got = {(r.id_a, r.id_b): r.cbs for r in w.collect()}
    assert got == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1, ("C", "D"): 1}

    pruned = {(r.id_a, r.id_b): (r.kept_wep, r.kept_cnp) for r in meta_block_prune(w, cnp_k=1).collect()}
    # WEP: mean cbs = 5/4, only (A,B) at cbs=2 clears it (integer-exact compare)
    # CNP k=1 (cbs desc, partner asc): A->B, B->A, C->A, D->C survive;
    # (B,C) is in neither endpoint's top-1
    assert pruned == {
        ("A", "B"): (True, True),
        ("A", "C"): (False, True),
        ("B", "C"): (False, False),
        ("C", "D"): (False, True),
    }


def test_purged_blocks_report_matches_weights_thresholds(spark):
    """purged_blocks_report surfaces exactly the keys comparison_weights
    drops at the same thresholds — singleton blocks as 'undersized', the
    everyone-block as 'oversized' — so block purging is never silent."""
    from pilsner_spark.operators.blocking import purged_blocks_report

    rows = [
        ("A", ["t1", "t2", "t3", "t6"]),
        ("B", ["t1", "t2", "t6"]),
        ("C", ["t1", "t4", "t6"]),
        ("D", ["t4", "t5", "t6"]),
    ]
    blocks = spark.createDataFrame(rows, "doc_id string, toks array<string>").select(
        "doc_id", F.explode("toks").alias("block_key")
    )
    got = {
        r.block_key: (r.block_size, r.reason)
        for r in purged_blocks_report(
            blocks, id_col="doc_id", key_col="block_key", min_block_size=2, max_block_size=3
        ).collect()
    }
    assert got == {
        "t3": (1, "undersized"),
        "t5": (1, "undersized"),
        "t6": (4, "oversized"),
    }


def test_snm_adaptive_buckets_on_shared_prefix_corpus(spark):
    """A template corpus where 90% of texts share their first character:
    the adaptive bucket prefix must find >1 effective rank bucket (the
    static 1-char bucket would funnel the window through one task), and
    the pair set must equal the pinned-1-char construction (bucket
    granularity never changes results)."""
    from pilsner_spark.operators.blocking import adaptive_prefix_len, snm_blocks

    rows = [(f"c{i}#0", "search", "user", f"t{i:02d} template reply body") for i in range(27)] + [
        (f"d{i}#0", "search", "user", f"other {i}") for i in range(3)
    ]
    turns = spark.createDataFrame(
        rows, "turn_key string, tool string, role string, norm_text string"
    )
    chosen = adaptive_prefix_len(turns, ("tool", "role"), "norm_text")
    assert chosen > 1  # 1 char leaves 90% of rows in the 't' bucket
    n_buckets = (
        turns.groupBy("tool", "role", F.substring("norm_text", 1, chosen)).count().count()
    )
    assert n_buckets > 1
    largest = (
        turns.groupBy("tool", "role", F.substring("norm_text", 1, chosen))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert largest <= 0.2 * len(rows)

    def pair_set(blocks):
        return {
            frozenset((r.ka, r.kb))
            for r in blocks.alias("a")
            .join(blocks.alias("b"), "block_key")
            .filter(F.col("a.turn_key") < F.col("b.turn_key"))
            .select(F.col("a.turn_key").alias("ka"), F.col("b.turn_key").alias("kb"))
            .collect()
        }

    auto_pairs = pair_set(snm_blocks(turns, window_size=4))
    pinned_pairs = pair_set(snm_blocks(turns, window_size=4, bucket_text_len=1))
    assert auto_pairs == pinned_pairs and auto_pairs


def test_adaptive_prefix_warns_on_degenerate_keys(spark):
    """Identical keys everywhere: no prefix length can break the bucket —
    the helper must warn (never a silent one-task funnel) and still return
    a usable length."""
    import warnings as _warnings

    from pilsner_spark.operators.blocking import adaptive_prefix_len

    df = spark.createDataFrame(
        [(i, "same exact key") for i in range(20)], "doc_id long, sk string"
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = adaptive_prefix_len(df, (), "sk", max_len=4)
    assert got == 4
    assert any("degenerate" in str(w.message) for w in caught)


def test_sorted_neighborhood_window_pairs(spark):
    """Hand-checkable SNM: 6 records whose sort keys span three first-char
    buckets (so the two-level global rank is exercised across buckets),
    window 3 -> each record pairs with the next 1 and 2 in sort order."""
    from pilsner_spark.operators.blocking import global_sort_ranks, sorted_neighborhood_pairs

    rows = [
        (10, "apple"),
        (11, "apricot"),
        (12, "banana"),
        (13, "banana"),  # tie on sort key -> id breaks it
        (14, "berry"),
        (15, "cherry"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, sk string")
    ranks = {r.id: r.rank for r in global_sort_ranks(df, "sk", "doc_id").collect()}
    assert ranks == {10: 1, 11: 2, 12: 3, 13: 4, 14: 5, 15: 6}

    got = {
        (r.id_a, r.id_b, r.dist)
        for r in sorted_neighborhood_pairs(df, "sk", "doc_id", window_size=3).collect()
    }
    expected = {
        (10, 11, 1), (10, 12, 2),
        (11, 12, 1), (11, 13, 2),
        (12, 13, 1), (12, 14, 2),
        (13, 14, 1), (13, 15, 2),
        (14, 15, 1),
    }
    assert got == expected


def test_pack_by_budget_hand_computed(spark):
    """Offset packing, budget 10, docs in sort order with token counts
    [4, 4, 4, 9, 2]: exclusive running totals [0, 4, 8, 12, 21] ->
    bins [0, 0, 0, 1, 2], offsets [0, 4, 8, 2, 1]. Doc c straddles the
    boundary (starts at 8, ends at 12) — lands in bin 0 per the documented
    rule. Sort keys span two prefix buckets."""
    from pilsner_spark.operators.packing import pack_by_budget

    rows = [(1, "aa", 4), (2, "ab", 4), (3, "ac", 4), (4, "ba", 9), (5, "bb", 2)]
    df = spark.createDataFrame(rows, "doc_id long, sk string, n_tok int")
    got = {
        r.id: (r.n_tokens, r.bin_id, r.offset_in_bin)
        for r in pack_by_budget(df, "sk", "doc_id", "n_tok", budget=10).collect()
    }
    assert got == {1: (4, 0, 0), 2: (4, 0, 4), 3: (4, 0, 8), 4: (9, 1, 2), 5: (2, 2, 1)}


def test_pack_auto_prefix_breaks_zero_padded_funnel(spark):
    """Zero-padded numeric sort keys (lpad(doc_id, 8, '0')) put every row
    in bucket '0' under a 1-char prefix (ADVICE r3): the auto prefix must
    widen past the constant zero run to real fan-out, and the packing
    output must be identical to any pinned granularity."""
    from pilsner_spark.operators.blocking import adaptive_prefix_len
    from pilsner_spark.operators.packing import pack_by_budget

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lpad(F.col("id").cast("string"), 8, "0").alias("sk"),
        F.lit(3).alias("n_tok"),
    )
    chosen = adaptive_prefix_len(df, (), "sk")
    assert chosen >= 7  # ids 0..199: prefixes shorter than 7 chars leave >40% in one bucket
    n_buckets = df.groupBy(F.substring("sk", 1, chosen)).count().count()
    assert n_buckets > 1

    auto = {
        (r.id, r.bin_id, r.offset_in_bin)
        for r in pack_by_budget(df, "sk", "doc_id", "n_tok", budget=10).collect()
    }
    pinned = {
        (r.id, r.bin_id, r.offset_in_bin)
        for r in pack_by_budget(
            df, "sk", "doc_id", "n_tok", budget=10, bucket_prefix_len=8
        ).collect()
    }
    assert auto == pinned and len(auto) == 200


def test_deterministic_split_stability_and_coverage(spark):
    """Split labels are a pure function of the id: identical across calls,
    unaffected by other rows, and weight-shaped (8/1/1 gives a train
    majority). Every label appears on a 600-row table."""
    from pilsner_spark.operators.packing import deterministic_split

    df = spark.range(600).select(F.col("id").alias("doc_id"))
    w = {"train": 8, "val": 1, "test": 1}
    a = {r.doc_id: r.split for r in deterministic_split(df, "doc_id", w).collect()}
    b = {
        r.doc_id: r.split
        for r in deterministic_split(df.filter(F.col("doc_id") < 300), "doc_id", w).collect()
    }
    assert all(a[k] == v for k, v in b.items())  # subset invariance
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"} and c["train"] > c["val"] and c["train"] > c["test"]
    assert 0.7 < c["train"] / 600 < 0.9


def test_mix_to_proportions_semantics(spark):
    """Domain mixing: per-domain token mass lands within one straddling
    document of the weight-derived budget; a token-starved domain is kept
    whole (never padded); unlisted domains are dropped; the selection is
    deterministic and partitioning-independent."""
    from pilsner_spark.operators.packing import mix_to_proportions

    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("web"), F.lit("code"), F.lit("tiny"), F.lit("unlisted")),
            (F.pmod("id", 4) + 1).cast("int"),
        ).alias("domain"),
        (F.pmod("id", 7) + 5).cast("long").alias("n_tok"),
    )
    # each domain holds 100 docs x ~8 tokens ~= 800 tokens: at a 2000-token
    # total, web (600) and code (400) are over-budget, tiny (1000) starved
    weights = {"web": 3, "code": 2, "tiny": 5}
    got = mix_to_proportions(df, "domain", "doc_id", "n_tok", weights, 2000).collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r.domain, []).append(r)
    assert set(by_dom) == {"web", "code", "tiny"}  # 'unlisted' dropped
    budgets = {"web": 600, "code": 400, "tiny": 1000}
    max_doc_tokens = 11
    for dom in ("web", "code"):
        tok = sum(r.n_tokens for r in by_dom[dom])
        assert budgets[dom] <= tok < budgets[dom] + max_doc_tokens, (dom, tok)
        # every selected doc's exclusive prefix is under budget
        assert all(r.cum_excl < budgets[dom] for r in by_dom[dom])
    # token-starved domain: all 100 docs kept, mass below budget
    assert len(by_dom["tiny"]) == 100
    assert sum(r.n_tokens for r in by_dom["tiny"]) < budgets["tiny"]

    again = mix_to_proportions(
        df.repartition(13), "domain", "doc_id", "n_tok", weights, 2000
    ).collect()
    assert sorted((r.id, r.cum_excl) for r in again) == sorted(
        (r.id, r.cum_excl) for r in got
    )


def test_stratified_sample_exact_k_and_determinism(spark):
    """Exactly k rows per stratum (or all rows for smaller strata), and the
    same seed reproduces the same sample while a different seed differs."""
    from pilsner_spark.operators.packing import stratified_sample

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.pmod("id", 3)).cast("string").alias("lang")
    )
    s1 = stratified_sample(df, "lang", "doc_id", k_per_stratum=5, seed="x")
    counts = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 5, "1": 5, "2": 5}
    ids1 = {r.doc_id for r in s1.collect()}
    ids1b = {r.doc_id for r in stratified_sample(df, "lang", "doc_id", 5, seed="x").collect()}
    ids2 = {r.doc_id for r in stratified_sample(df, "lang", "doc_id", 5, seed="y").collect()}
    assert ids1 == ids1b and ids1 != ids2

    # hot-stratum path: 600 rows in ONE stratum with k=3 activates the
    # hash-quantile pre-filter (8*3 = 24 << 600); the result must equal the
    # brute-force md5 rank computed outside Spark
    import hashlib

    big = spark.range(600).select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    got = sorted(r.doc_id for r in stratified_sample(big, "lang", "doc_id", 3, seed="z").collect())
    brute = sorted(
        i for _, i in sorted((hashlib.md5(f"z#{i}".encode()).hexdigest(), i) for i in range(600))[:3]
    )
    assert got == brute


def test_ann_pq_exact_when_codebook_covers_corpus(spark, vectors):
    """With n_codes >= N every vector's subvectors are themselves codewords
    (distance 0; ties resolve to an identical-valued lower code), so the
    reconstruction is exact and PQ top-k must equal brute force rank-for-rank."""
    from pilsner_spark.operators.ann import pq_topk

    queries = vectors.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    truth = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in brute_force_topk(vectors, queries, k=4).collect()}
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in pq_topk(vectors, queries, k=4, m=2, n_codes=40).collect()}
    assert got == truth


def test_ann_pq_recall_floor(spark, vectors):
    """Lossy setting (16 codes over 2-dim subspaces on the 8-direction
    fixture): the seeds cover every direction, so recall stays high.
    Deterministic construction — measured 1.0; pinned with slack."""
    from pilsner_spark.operators.ann import pq_recall_at_k

    queries = vectors.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    assert pq_recall_at_k(vectors, queries, k=4, m=2, n_codes=16) >= 0.9


def test_ann_ivf_pq_composed(spark, vectors):
    """The composed IVF-PQ path (VERDICT r3 item 4): candidates come only
    from probed cells — the result must be a subset of what PQ-over-probed
    candidates allows, equal PQ top-k when probing covers everything, and
    keep recall >= 0.9 at half-probe on the direction fixture."""
    from pilsner_spark.operators.ann import ivf_pq_recall_at_k, ivf_pq_topk, pq_topk

    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # probing EVERY cell removes the IVF approximation: composed == pure PQ
    full = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_pq_topk(
            vectors, queries, k=4, m=2, n_codes=16, n_cells=8, n_probe=8
        ).collect()
    }
    pq = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in pq_topk(vectors, queries, k=4, m=2, n_codes=16).collect()
    }
    assert full == pq
    # half-probe quality floor (both approximations charged together)
    assert ivf_pq_recall_at_k(vectors, queries, k=3, m=2, n_codes=16, n_cells=8, n_probe=4) >= 0.9


def test_ann_ivf_pq_refine_recovers_exact_ranks(spark, vectors, tmp_path):
    """The exact re-ranking stage (Faiss IVFPQR shape): with every cell
    probed and a refine shortlist wide enough to hold all candidates, the
    refined result must equal brute force rank-for-rank AND cosine-for-
    cosine (refined cosines are exact, not reconstructions); on the lossy
    half-probe setting refined recall must never fall below unrefined.
    Also proves a cell-partitioned refine table joins correctly."""
    from pilsner_spark.operators.ann import (
        ivf_assign,
        ivf_pq_recall_at_k,
        ivf_pq_topk,
        sample_centroids,
    )

    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in brute_force_topk(vectors, queries, k=4).collect()
    }
    refined = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_pq_topk(
            vectors, queries, k=4, m=2, n_codes=16, n_cells=8, n_probe=8, refine_factor=10
        ).collect()
    }
    assert refined == truth

    # lossy setting: refine can only help
    base = ivf_pq_recall_at_k(vectors, queries, k=3, m=2, n_codes=16, n_cells=8, n_probe=4)
    ref = ivf_pq_recall_at_k(
        vectors, queries, k=3, m=2, n_codes=16, n_cells=8, n_probe=4, refine_factor=4
    )
    assert ref >= base

    # cell-partitioned refine table (the pq_index storage layout) joins on
    # (cell, neighbor_id) and must reproduce the vectors-backed result
    cents = sample_centroids(vectors, 8)
    rv_path = str(tmp_path / "refine_vectors")
    vectors.join(ivf_assign(vectors, centroids=cents), "vec_id").write.partitionBy(
        "cell"
    ).parquet(rv_path)
    via_table = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_pq_topk(
            vectors,
            queries,
            k=4,
            m=2,
            n_codes=16,
            n_cells=8,
            n_probe=8,
            centroids=cents,
            refine_factor=10,
            refine_vectors=spark.read.parquet(rv_path),
        ).collect()
    }
    assert via_table == truth

    # the lazy no-verify path (plan-audit shape) is result-identical
    lazy = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_pq_topk(
            vectors, queries, k=4, m=2, n_codes=16, n_cells=8, n_probe=8,
            centroids=cents, refine_factor=10,
            refine_vectors=spark.read.parquet(rv_path),
            verify_refine_coverage=False,
        ).collect()
    }
    assert lazy == truth


def test_ann_ivf_pq_refine_cell_mismatch_fails_loudly(spark, vectors, tmp_path):
    """ADVICE r4: a refine table whose cell assignment disagrees with the
    index's must raise (dropped shortlist candidates detected), never
    silently degrade recall. A shifted-cell copy of the same vectors
    guarantees every (cell, neighbor_id) join key misses."""
    import pytest

    from pilsner_spark.operators.ann import ivf_assign, ivf_pq_topk, sample_centroids

    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = sample_centroids(vectors, 8)
    bad = (
        vectors.join(ivf_assign(vectors, centroids=cents), "vec_id")
        .withColumn("cell", (F.col("cell") + 1) % 8)
    )
    with pytest.raises(ValueError, match="cell assignment disagrees"):
        ivf_pq_topk(
            vectors, queries, k=4, m=2, n_codes=16, n_cells=8, n_probe=8,
            centroids=cents, refine_factor=10, refine_vectors=bad,
        )
    # a refine table missing ids raises the id-flavored error
    sparse = vectors.filter(F.col("vec_id") % 2 == 0)
    with pytest.raises(ValueError, match="missing vector ids"):
        ivf_pq_topk(
            vectors, queries, k=4, m=2, n_codes=16, n_cells=8, n_probe=8,
            centroids=cents, refine_factor=10, refine_vectors=sparse,
        )


def test_ann_ivf_pq_persisted_index_never_reads_vectors(spark, vectors, tmp_path):
    """The 100 TB serving shape: pq_index persisted partitioned by cell,
    then queried with vectors=None — proving query-time work reads ONLY the
    compact code index + the broadcast-scale centroid/codebook tables
    (reconstruction is O(candidates), after the probed-cell join). Results
    must equal the inline build byte-for-byte."""
    from pilsner_spark.operators.ann import (
        ivf_pq_topk,
        pq_codebooks,
        pq_index,
        sample_centroids,
    )

    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=4, m=2, n_codes=16, n_cells=8, n_probe=4)
    inline = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_pq_topk(vectors, queries, **kw).collect()
    }

    cents = sample_centroids(vectors, 8)
    cb = pq_codebooks(vectors, m=2, n_codes=16)
    idx_path = str(tmp_path / "pq_index")
    pq_index(vectors, m=2, n_codes=16, n_cells=8, centroids=cents, codebooks=cb).write.partitionBy(
        "cell"
    ).parquet(idx_path)
    served = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_pq_topk(
            None,  # raw vectors provably untouched at query time
            queries,
            centroids=cents,
            codebooks=cb,
            index=spark.read.parquet(idx_path),
            **kw,
        ).collect()
    }
    assert served == inline


def test_semdedup_keeps_farthest_from_centroid(spark):
    """SemDeDup keep-rule (Abbas et al. 2023): within a duplicate group the
    survivor is the member FARTHEST from its cluster centroid (lowest
    centroid cosine), exactly one keeper per group, singletons absent.
    Vectors 1/2 are the deterministic sample centroids (lowest ids)."""
    from pilsner_spark.operators.dedup import semdedup

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.9, 0.1]),
            (4, [0.85, 0.15]),
            (5, [0.1, 0.9]),
            (6, [-1.0, 0.5]),  # lands in cell 2 but near nothing: singleton
        ],
        "vec_id long, embedding array<double>",
    )
    rows = semdedup(vecs, threshold=0.95, n_cells=2).collect()
    by_id = {r.vec_id: r for r in rows}
    assert set(by_id) == {1, 2, 3, 4, 5}  # 6 is a singleton -> absent
    # cell 1 group {1,3,4}: 4 has the lowest cosine to centroid [1,0]
    assert {r.vec_id for r in rows if r.group_id == 1} == {1, 3, 4}
    assert {r.vec_id for r in rows if r.group_id == 1 and r.keep} == {4}
    assert by_id[1].group_size == 3
    # cell 2 group {2,5}: 5 is farther from centroid [0,1] than 2
    assert {r.vec_id for r in rows if r.group_id == 2 and r.keep} == {5}
    # exactly one keeper per group
    for gid in {r.group_id for r in rows}:
        assert sum(1 for r in rows if r.group_id == gid and r.keep) == 1


def test_chunk_documents_windows_and_edges(spark):
    """Fixed-window chunking: stride = chunk - overlap, consecutive chunks
    share exactly `overlap` tokens, the tail chunk is short, no chunk
    starts inside the final overlap, and empty docs keep one empty chunk."""
    from pilsner_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(1, 11))),  # 10 tokens
            (2, "a b c"),                                   # shorter than one chunk
            (3, ""),                                        # empty
        ],
        ["doc_id", "text"],
    )
    rows = {(r.doc_id, r.chunk_idx): r for r in chunk_documents(docs, chunk_tokens=6, overlap=2).collect()}
    # doc 1: starts 1, 5 (stride 4; start stops at n-overlap=8 -> 1,5 only... 1,5 then 9>8 stops)
    assert {(i, c) for (i, c) in rows if i == 1} == {(1, 0), (1, 1)}
    assert rows[(1, 0)].chunk_text == "w1 w2 w3 w4 w5 w6"
    assert rows[(1, 1)].chunk_text == "w5 w6 w7 w8 w9 w10"
    # consecutive chunks share exactly `overlap` tokens
    assert rows[(1, 0)].chunk_text.split()[-2:] == rows[(1, 1)].chunk_text.split()[:2]
    assert rows[(2, 0)].chunk_text == "a b c" and rows[(2, 0)].n_tokens == 3
    assert rows[(3, 0)].chunk_text == "" and rows[(3, 0)].n_tokens == 0
    assert len(rows) == 4


def test_asof_join_backward_with_ties_and_no_match(spark):
    """Hand-computed as-of: latest right at-or-before each left per key;
    equal-timestamp rights qualify with max-tiebreak winning; a left with
    no prior right keeps nulls; keys never leak across."""
    from datetime import datetime

    from pilsner_spark.operators.temporal import asof_join

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 101, t(10)), (1, 102, t(3)), (2, 201, t(5))],
        "user_id long, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, 11, t(4)), (1, 12, t(10)), (1, 13, t(10)), (1, 14, t(11)), (3, 31, t(1))],
        "user_id long, click_id long, ts timestamp",
    )
    got = {r.event_id: r for r in asof_join(left, right, on="user_id").collect()}
    assert got[101].click_id_matched == 13  # ties at t=10 -> max click_id
    assert got[102].click_id_matched is None  # earliest right is t=4 > t=3
    assert got[201].click_id_matched is None  # user 2 has no rights; user 3's never leak
    assert got[101].ts_matched is not None and got[102].ts_matched is None


def test_range_join_buckets_matches_naive(spark):
    """The bucketed equi-join returns exactly the naive inequality join's
    pairs, including intervals spanning multiple buckets, with no
    duplicate pairs."""
    from datetime import datetime

    from pilsner_spark.operators.temporal import range_join_buckets

    t = lambda m: datetime(2024, 1, 1, 0, m, 0)
    points = spark.createDataFrame(
        [(1, 11, t(1)), (1, 12, t(9)), (1, 13, t(31)), (2, 21, t(5))],
        "user_id long, pid long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [(1, 91, t(0), t(30)), (2, 92, t(6), t(7))],
        "user_id long, iid long, start timestamp, end timestamp",
    )
    got = sorted(
        (r.user_id, r.i_iid, r.p_pid)
        for r in range_join_buckets(
            points, intervals, on="user_id", bucket_seconds=600
        ).collect()
    )
    # naive: interval 91 covers points 11 and 12 (13 is at minute 31 > 30);
    # interval 92 covers nothing (point 21 at minute 5 < 6)
    assert got == [(1, 91, 11), (1, 91, 12)]


def test_matcher_training_pairs_labels_and_sampling(spark):
    """Star positives (member, cluster-min) only; hard negatives are
    same-block cross-cluster pairs; within-cluster block pairs never leak
    into negatives; frac=1.0 keeps every negative; pairs are ordered and
    unique."""
    from pilsner_spark.operators.training import matcher_training_pairs

    assignments = spark.createDataFrame(
        [(1, "c1"), (2, "c1"), (3, "c1"), (4, "c2"), (5, "c3")],
        "turn_key long, cluster_id string",
    )
    blocks = spark.createDataFrame(
        [("b1", 1), ("b1", 2), ("b1", 4), ("b2", 4), ("b2", 5), ("b3", 3)],
        "block_key string, turn_key long",
    )
    rows = matcher_training_pairs(assignments, blocks, neg_sample_frac=1.0).collect()
    pos = {(r.id_a, r.id_b) for r in rows if r.label == 1.0}
    neg = {(r.id_a, r.id_b) for r in rows if r.label == 0.0}
    assert pos == {(1, 2), (1, 3)}  # star to canonical 1, not the (2,3) clique edge
    assert neg == {(1, 4), (2, 4), (4, 5)}  # cross-cluster within b1/b2; (1,2) same-cluster excluded
    assert len(rows) == len(pos) + len(neg)  # ordered + distinct
    # sampling is a deterministic subset
    sampled = {
        (r.id_a, r.id_b)
        for r in matcher_training_pairs(assignments, blocks, neg_sample_frac=0.5).collect()
        if r.label == 0.0
    }
    assert sampled <= neg

def test_threshold_sweep_confusion_and_conventions(spark):
    """Hand-computed confusion counts at three thresholds over 6 labeled
    scored pairs, including the 0-denominator conventions: precision and
    recall are 1.0 when nothing is predicted/actual positive, f1 is 0.0
    when p + r is 0. One histogram pass: counts must be exact longs."""
    from pilsner_spark.operators.scoring import threshold_sweep

    pairs = spark.createDataFrame(
        [
            (0.9, 1.0),
            (0.8, 0.0),
            (0.6, 1.0),
            (0.4, 0.0),
            (0.2, 1.0),
            (0.1, 0.0),
        ],
        "score double, label double",
    )
    rows = {r.threshold: r for r in threshold_sweep(pairs, [0.0, 0.5, 0.95]).collect()}
    assert (rows[0.0].tp, rows[0.0].fp, rows[0.0].fn, rows[0.0].tn) == (3, 3, 0, 0)
    assert rows[0.0].precision == 0.5 and rows[0.0].recall == 1.0
    assert (rows[0.5].tp, rows[0.5].fp, rows[0.5].fn, rows[0.5].tn) == (2, 1, 1, 2)
    assert rows[0.5].precision == round(2 / 3, 6) and rows[0.5].recall == round(2 / 3, 6)
    assert rows[0.5].f1 == round(2 * (2 / 3) * (2 / 3) / (4 / 3), 6)
    # nothing predicted positive: precision 1.0 by convention, recall 0
    assert (rows[0.95].tp, rows[0.95].fp) == (0, 0)
    assert rows[0.95].precision == 1.0 and rows[0.95].recall == 0.0
    # all-negative truth at an unreachable threshold: p=1, r=1 convention
    only_neg = spark.createDataFrame([(0.1, 0.0)], "score double, label double")
    r2 = threshold_sweep(only_neg, [0.5]).collect()[0]
    assert (r2.precision, r2.recall, r2.f1) == (1.0, 1.0, 1.0)

def test_threshold_sweep_nulls_and_empty_input(spark):
    """ADVICE r4: null-score / null-label pairs are excluded EXPLICITLY
    (counts identical to a table without them), and an empty pair table
    still emits one all-zero row per threshold with the 0-denominator
    conventions — never zero rows."""
    from pilsner_spark.operators.scoring import threshold_sweep

    with_nulls = spark.createDataFrame(
        [(0.9, 1.0), (0.2, 0.0), (None, 1.0), (0.7, None), (None, None)],
        "score double, label double",
    )
    clean = spark.createDataFrame([(0.9, 1.0), (0.2, 0.0)], "score double, label double")
    got = {r.threshold: r for r in threshold_sweep(with_nulls, [0.5]).collect()}
    want = {r.threshold: r for r in threshold_sweep(clean, [0.5]).collect()}
    assert got == want
    assert (got[0.5].tp, got[0.5].fp, got[0.5].fn, got[0.5].tn) == (1, 0, 0, 1)

    empty = clean.filter(F.lit(False))
    rows = {r.threshold: r for r in threshold_sweep(empty, [0.1, 0.9]).collect()}
    assert set(rows) == {0.1, 0.9}
    for r in rows.values():
        assert (r.tp, r.fp, r.fn, r.tn) == (0, 0, 0, 0)
        assert (r.precision, r.recall, r.f1) == (1.0, 1.0, 1.0)

def test_ann_pq_trained_codebooks_reduce_quantization_error(spark, vectors):
    """k-means-trained PQ codebooks: same (m, code, c_sub) schema as the
    sample seed (drop-in for pq_encode/ivf_pq_topk), and the total
    squared-L2 quantization error NEVER exceeds the seed's — Lloyd's
    monotone-objective guarantee, the invariant training actually gives
    (recall is data-dependent: on this fixture the seeds coincide with the
    8 directions and are already recall-perfect, yet have higher MSE)."""
    from pilsner_spark.operators.ann import (
        kmeans_pq_codebooks,
        pq_codebooks,
        pq_encode,
    )

    def total_error(cb):
        codes = pq_encode(vectors, cb, m=2)
        sub = 2  # 4-dim fixture, m=2
        parts = F.array(
            *[
                F.struct(
                    F.lit(i).alias("m"),
                    F.slice(F.col("embedding").cast("array<double>"), i * sub + 1, sub).alias("v_sub"),
                )
                for i in range(2)
            ]
        )
        subs = vectors.select("vec_id", F.explode(parts).alias("p")).select(
            "vec_id", F.col("p.m").alias("m"), F.col("p.v_sub").alias("v_sub")
        )
        joined = subs.join(codes, ["vec_id", "m"]).join(cb, ["m", "code"])
        err = joined.select(
            F.aggregate(
                F.zip_with(F.col("v_sub"), F.col("c_sub"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("e")
        )
        return err.agg(F.sum("e")).first()[0]

    sample = pq_codebooks(vectors, m=2, n_codes=4).localCheckpoint()
    trained = kmeans_pq_codebooks(vectors, m=2, n_codes=4, iters=3).localCheckpoint()
    assert set(trained.columns) == set(sample.columns)
    assert trained.count() <= 2 * 4  # empty codes may vanish, never grow
    assert total_error(trained) <= total_error(sample) + 1e-9
