"""End-to-end corpus-prep plan (plans/corpus_prep.py): planted corpus
with one of each removal/filter reason; checkpoint resume parity."""

import os
import shutil

import pytest
from conftest import assert_recorded_schemas, spark_jobs_of
from pyspark.sql import functions as F

from pilsner_spark.plans.corpus_prep import run_corpus_prep

CLEAN_1 = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR_1 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
CONTAM = "alpha beta gamma delta epsilon is a sequence the benchmark also holds"
BENCH = "unrelated prefix words alpha beta gamma delta epsilon trailing tail words here"


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, CLEAN_1),                                   # keeper
        (2, CLEAN_1),                                   # exact dup of 1
        (3, NEAR_1),                                    # near dup of 1
        (4, CONTAM),                                    # shares a 4-gram with BENCH
        (5, "!!!! #### $$$$ %%%% ^^^^ &&&& ****"),      # quality floor
        (6, "tiny doc"),                                # min_tokens floor
        (7, "spam ham spam ham spam ham spam ham spam ham"),  # repetition cap
        (8, "a completely different document about the weather and the sea is here"),
        (9, "numbers and words mix in this other document about trains and the coast"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_corpus_prep_reasons_and_retention(spark, corpus, tmp_path):
    bench = spark.createDataFrame([(100, BENCH)], ["doc_id", "text"])
    res = run_corpus_prep(spark, str(tmp_path / "wd"), corpus, benchmark=bench)

    drops = {(r.doc_id, r.reason) for r in res["drops"].collect()}
    assert (2, "exact_dup") in drops
    # doc 2's identical text also minhash-matches doc 1, so the ledger
    # carries BOTH reasons for it — one row per (doc, reason) by design
    assert (2, "near_dup") in drops
    assert (3, "near_dup") in drops
    assert (4, "contaminated") in drops
    assert {d for d, _ in drops} == {2, 3, 4}  # 5/6/7 are filters, not ledger drops

    retained = {r.doc_id for r in res["filtered"].collect()}
    assert retained == {1, 8, 9}

    summary = res["metrics"]["summary"]
    assert summary["n_input_docs"] == 9
    assert summary["drop_reasons"] == {"exact_dup": 1, "near_dup": 2, "contaminated": 1}
    assert summary["n_retained"] == 3
    assert summary["retention_rate"] == pytest.approx(3 / 9, abs=1e-6)

    # every retained doc has a split; packing respects the budget math
    splits = {r.doc_id: r.split for r in res["splits"].collect()}
    assert set(splits) == retained
    for label, df in res["packed"].items():
        for r in df.collect():
            assert 0 <= r.offset_in_bin < 512
            assert r.bin_id >= 0


def test_corpus_prep_resumes_from_checkpoints(spark, corpus, tmp_path):
    bench = spark.createDataFrame([(100, BENCH)], ["doc_id", "text"])
    wd = str(tmp_path / "wd")
    first = run_corpus_prep(spark, wd, corpus, benchmark=bench)
    second, jobs = spark_jobs_of(spark, lambda: run_corpus_prep(spark, wd, corpus, benchmark=bench))
    for name in ["doc_stats", "drops", "corpus_filtered", "splits", "packed_train"]:
        assert second["metrics"][name]["resumed"] is True, name
    assert jobs == []  # a full resume opens every checkpoint with no Spark job
    tables = [t for t, m in second["metrics"].items() if isinstance(m, dict) and "generation" in m]
    assert_recorded_schemas(spark, second["pipeline"].catalog, tables)
    kept = {r.doc_id for r in first["filtered"].collect()}
    assert {r.doc_id for r in second["filtered"].collect()} == kept
    # the drop-reason counts are a fact of the drops lineage: a resume
    # reports them without recounting the ledger
    assert second["metrics"]["summary"]["drop_reasons"] == first["metrics"]["summary"]["drop_reasons"]
    assert first["metrics"]["summary"]["drop_reasons"] == {"exact_dup": 1, "near_dup": 2, "contaminated": 1}
    # a deleted upstream checkpoint recomputes, and every later stage with it
    shutil.rmtree(os.path.join(wd, "drops"))
    os.remove(os.path.join(wd, "drops._lineage.json"))
    rebuilt = run_corpus_prep(spark, wd, corpus, benchmark=bench)
    assert rebuilt["metrics"]["doc_stats"]["resumed"] is True
    for name in ["drops", "corpus_filtered", "splits", "packed_test", "packed_train", "packed_val"]:
        assert rebuilt["metrics"][name]["resumed"] is False, name
    assert {r.doc_id for r in rebuilt["filtered"].collect()} == kept
    # rebuilt wrote a new corpus_filtered generation; first's table still reads
    assert {r.doc_id for r in first["filtered"].collect()} == kept
    # changed params -> stale checkpoint is NOT reused
    third = run_corpus_prep(spark, wd, corpus, benchmark=bench, pack_budget=256)
    assert third["metrics"]["packed_train"]["resumed"] is False


def test_corpus_prep_gopher_gate(spark, corpus, tmp_path):
    """With gopher_params set, the Gopher verdict rides the stats stage
    and gates corpus_filtered: doc 9 (zero Gopher stopwords after the
    fixture's words) survives the base thresholds but min_stopword_hits=3
    rejects it; rejected count is surfaced in the summary."""
    res = run_corpus_prep(
        spark,
        str(tmp_path / "wd"),
        corpus,
        gopher_params={
            "min_words": 5,
            "max_words": 100,
            "min_mean_word_len": 2.0,
            "max_mean_word_len": 10.0,
            "min_alpha_word_frac": 0.5,
            "min_stopword_hits": 3,
        },
    )
    retained = {r.doc_id for r in res["filtered"].collect()}
    assert retained <= {1, 8, 9}
    assert 1 in retained  # 'the' x3 clears the stopword floor
    assert res["metrics"]["summary"]["gopher_rejected"] is not None
    assert res["metrics"]["summary"]["gopher_rejected"] >= 1
    # the verdict column is persisted in the stats checkpoint (resumable)
    second = run_corpus_prep(
        spark,
        str(tmp_path / "wd"),
        corpus,
        gopher_params={
            "min_words": 5,
            "max_words": 100,
            "min_mean_word_len": 2.0,
            "max_mean_word_len": 10.0,
            "min_alpha_word_frac": 0.5,
            "min_stopword_hits": 3,
        },
    )
    assert second["metrics"]["doc_stats"]["resumed"] is True
    assert {r.doc_id for r in second["filtered"].collect()} == retained
    # the rejected count is a fact of the doc_stats lineage
    assert second["metrics"]["summary"]["gopher_rejected"] == res["metrics"]["summary"]["gopher_rejected"]
    # different gopher params -> stats checkpoint is stale, not reused
    third = run_corpus_prep(
        spark,
        str(tmp_path / "wd"),
        corpus,
        gopher_params={"min_words": 5, "min_stopword_hits": 1},
    )
    assert third["metrics"]["doc_stats"]["resumed"] is False


def test_corpus_prep_c4_and_dsir_stages(spark, tmp_path):
    """Optional stages: C4 line cleaning runs FIRST (killed docs enter the
    ledger as c4_dropped, survivors continue with cleaned text), DSIR
    selection runs LAST (only the top-k weights reach split/pack)."""
    rows = [
        # two good lines -> kept, third line (no terminal punct) cleaned away
        (1, "the quick brown fox runs far today.\nanother solid sentence sits right here.\ntrailing fragment"),
        (2, "lorem ipsum dolor sit amet sequence.\na second good long line lives here."),  # doc-blocklisted
        (3, "the quick brown fox runs far tonight.\nmore plain words make a sentence here."),
        (4, "words about trains and the coast appear.\nthe sea and the weather fill this text."),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    target = spark.createDataFrame(
        [(100, "trains coast sea weather")], ["doc_id", "text"]
    )
    res = run_corpus_prep(
        spark,
        str(tmp_path / "wd"),
        docs,
        c4_params={"min_words_per_line": 5, "min_lines_kept": 2},
        dsir_target=target,
        dsir_top_k=1,
        min_quality=0.0,
        max_top_ngram_frac=1.0,
    )
    drops = {(r.doc_id, r.reason) for r in res["drops"].collect()}
    assert (2, "c4_dropped") in drops
    # doc 1's fragment line is gone from the working text
    filtered = {r.doc_id: r.text for r in res["filtered"].collect()}
    assert "trailing fragment" not in filtered[1]
    assert set(filtered) == {1, 3, 4}
    # DSIR keeps exactly the target-like doc
    selected = {r.doc_id for r in res["selected"].collect()}
    assert selected == {4}
    assert res["metrics"]["summary"]["n_input_docs"] == 4
    assert res["metrics"]["summary"]["n_dsir_selected"] == 1
    splits = {r.doc_id for r in res["splits"].collect()}
    assert splits == {4}


def test_corpus_prep_line_dedup_stage(spark, tmp_path):
    """--line-dedup stage: a boilerplate line repeated across docs keeps
    only its canonical occurrence; downstream stages consume the deduped
    text (the stripped doc falls below min_tokens and is filtered, not
    ledger-dropped — the stage itself never drops documents)."""
    banner = "subscribe to our newsletter for updates every single week folks"
    rows = [
        (1, banner + "\nthe quick brown fox jumps over the lazy dog near the river"),
        (2, banner + "\na completely different document about the weather and the sea"),
        (3, banner),  # nothing but the boilerplate: stripped to empty
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    res = run_corpus_prep(
        spark,
        str(tmp_path / "wd_ld"),
        corpus,
        line_dedup_params={"min_occurrences": 2},
    )
    assert "line_dedup" in res["metrics"]
    retained = {r.doc_id: r.text for r in res["filtered"].collect()}
    assert set(retained) == {1, 2}
    assert retained[1].startswith(banner)  # canonical occurrence survives
    assert banner not in retained[2]  # stripped everywhere else
    assert "weather" in retained[2]  # unique content intact


def test_corpus_prep_bpe_packing_currency(spark, corpus, tmp_path):
    """--bpe-merges: a tokenizer is trained on the selected corpus and
    packing bills per-doc BPE token counts — strictly more tokens than
    whitespace words (every word is >= 1 segment; unmerged chars more)."""
    res = run_corpus_prep(spark, str(tmp_path / "wd_bpe"), corpus, bpe_merges=8)
    assert "bpe_counts" in res["metrics"]
    ws = {r.doc_id: r.n_tokens for r in res["filtered"].collect()}
    packed_tokens = {r.doc_id: r.n_tokens for r in res["splits"].collect()}
    assert set(packed_tokens) == set(ws)
    for d in ws:
        assert packed_tokens[d] >= ws[d]  # BPE segments >= whitespace words
