"""Unit tests for training-data curation operators (decontamination,
stratified sampling, sequence packing) — semantics on hand-built
fixtures; the sf0.01 differential oracles cover them end-to-end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.curation import (
    contamination_hits,
    decontaminate,
    pack_sequences,
    stratified_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, source string, text string")


def test_decontaminate_removes_overlapping_docs(spark):
    docs = _docs(
        spark,
        [
            (1, "web", "the quick brown fox jumps over the lazy dog"),
            (2, "web", "completely unrelated content about spark engines"),
            (3, "web", "quick brown fox appears here too somehow"),
        ],
    )
    bench = _docs(spark, [(100, "eval", "a quick brown fox question")])

    hits = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits(docs, bench).collect()
    }
    # docs 1 and 3 share the 'quick brown fox' trigram with the bench
    assert set(hits) == {1, 3}

    survivors = sorted(
        r["doc_id"] for r in decontaminate(docs, bench).collect()
    )
    assert survivors == [2]


def test_contamination_benchmark_side_is_broadcast(spark):
    docs = _docs(spark, [(1, "web", "alpha beta gamma delta")])
    bench = _docs(spark, [(9, "eval", "beta gamma delta epsilon")])
    plan = (
        contamination_hits(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_deterministic_and_stratified(spark):
    rows = [(i, "s", "x") for i in range(400)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    )
    a = sorted(
        r["doc_id"]
        for r in stratified_sample(df, "lang", {"s": 0.3}).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(df, "lang", {"s": 0.3}).collect()
    )
    assert a == b  # hash-deterministic, not RNG
    assert 0.2 <= len(a) / 400 <= 0.4  # ~30% of a uniform id space
    # unknown strata fall back to default_rate
    none = stratified_sample(df, "lang", {"other": 1.0}, default_rate=0.0)
    assert none.count() == 0


def test_pack_sequences_budget_and_totals(spark):
    # 5 docs of ~100 est tokens (400 chars) in one source: budget 250
    # -> packing by cumsum-before: docs at cum 0,100,200 -> seq 0;
    # 300,400 -> seq 1.
    rows = [(i, "s", "x" * 400) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {
        (r["source"], r["seq_id"]): (r["n_docs"], r["seq_tokens"])
        for r in pack_sequences(docs, budget_tokens=250).collect()
    }
    assert out == {("s", 0): (3, 300), ("s", 1): (2, 200)}
    # token conservation: sum over sequences == sum over docs
    total = sum(t for _, t in out.values())
    assert total == 5 * 100


def test_redact_pii_placeholders_and_order(spark):
    from mapreduce_inverted_index_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.org ip 10.0.0.1 ssn 123-45-6789 "
             "ph +1-555-010-77 plain 42 end")],
        "doc_id bigint, text string",
    )
    out = df.select(redact_pii("text").alias("r")).collect()[0]["r"]
    assert "<EMAIL>" in out and "<IP>" in out and "<ID>" in out and "<PHONE>" in out
    # SSN-shaped strings must become <ID>, not get eaten by the phone
    # pattern (cascade order), and untouched text survives verbatim
    assert "123-45-6789" not in out
    assert out.startswith("mail <EMAIL> ip <IP> ssn <ID> ph <PHONE> plain 42 end")


def test_repetition_profile_flags_degenerate_docs(spark):
    from mapreduce_inverted_index_spark.operators.textstats import repetition_profile

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "all words here are totally different tokens friend"),
            (3, "x"),  # single token: no bigrams
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_profile(docs).collect()}
    assert rows[1]["dup_token_ratio"] > 0.8
    assert rows[1]["top_bigram_ratio"] == 1.0
    assert rows[2]["dup_token_ratio"] == 0.0
    assert rows[2]["top_bigram_ratio"] < 0.2
    assert rows[3]["top_bigram_ratio"] is None


def test_dsir_importance_weights_ranks_target_like_docs(spark):
    """DSIR semantics on a constructed corpus: documents written in
    the target's vocabulary must get strictly higher log-weights than
    off-target documents, weights are finite for every tokenized doc,
    and n_tokens matches the tokenizer."""
    from mapreduce_inverted_index_spark.operators.curation import (
        dsir_importance_weights,
    )

    target_text = "alpha beta gamma delta alpha beta"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),        # fully on-target
            (2, "zulu xray yankee whiskey zulu"),  # fully off-target
            (3, "alpha zulu beta xray"),           # mixed
            (4, None),                             # null text: omitted
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame([(100, target_text)], "doc_id long, text string")
    w = {
        r["doc_id"]: (r["log_weight"], r["n_tokens"])
        for r in dsir_importance_weights(docs, target, n_buckets=64).collect()
    }
    assert set(w) == {1, 2, 3}, "null-text doc has no weight"
    assert w[1][1] == 4 and w[2][1] == 5 and w[3][1] == 4
    assert w[1][0] > w[3][0] > w[2][0], (
        "on-target > mixed > off-target ordering"
    )
    # per-token sanity (sign is NOT asserted: with add-1 smoothing
    # over n_buckets, tiny corpora push all weights negative — the
    # ORDER is the semantics): on-target tokens out-score off-target
    assert w[1][0] / w[1][1] > w[2][0] / w[2][1]
