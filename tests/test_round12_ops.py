"""Round-12 operators: exact substring dedup (duplicate-span removal).

The last missing member of the LLM dedup family (VERDICT r11 "What's
missing" #4): exact-doc, passage, MinHash, SimHash, and semantic tiers
existed; this adds spans-with-offsets for surgical removal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _spans(spark, rows, k=4, min_docs=2):
    from mapreduce_inverted_index_spark.operators.passages import (
        duplicate_spans,
    )

    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    return sorted(
        map(
            tuple,
            duplicate_spans(docs, k=k, min_docs=min_docs)
            .select("doc_id", "start_tok", "end_tok", "n_tokens")
            .collect(),
        )
    )


def test_planted_cross_document_span(spark):
    """A 6-token run planted in two documents at different offsets is
    recovered as one maximal span per document, with exact 1-based
    offsets — not as the individual k-windows."""
    shared = "alpha bravo charlie delta echo foxtrot"
    rows = [
        (1, f"one two {shared} three four"),          # span at pos 3..8
        (2, f"{shared} nine ten eleven twelve"),      # span at pos 1..6
        (3, "totally unrelated words here only once"),
    ]
    out = _spans(spark, rows, k=4)
    assert out == [(1, 3, 8, 6), (2, 1, 6, 6)]


def test_non_overlapping_duplicates_stay_separate_spans(spark):
    """Two distinct shared runs inside one document emit two rows,
    not one merged region."""
    a = "red orange yellow green"
    b = "planet comet meteor nebula"
    rows = [
        (1, f"{a} filler0 filler1 filler2 {b}"),
        (2, f"{a} other words entirely different {b}"),
    ]
    out = _spans(spark, rows, k=4)
    # doc 1: a at 1..4, b at 8..11; doc 2: a at 1..4, b at 9..12
    assert out == [(1, 1, 4, 4), (1, 8, 11, 4), (2, 1, 4, 4), (2, 9, 12, 4)]


def test_run_shorter_than_k_is_not_flagged(spark):
    """Shared runs shorter than k produce no k-window match — below
    the span threshold means zero rows, the Lee-et-al contract."""
    rows = [
        (1, "alpha bravo charlie unique1 unique2 unique3"),
        (2, "alpha bravo charlie other4 other5 other6"),
    ]
    assert _spans(spark, rows, k=4) == []


def test_within_doc_repeat_alone_does_not_flag(spark):
    """min_docs counts DISTINCT documents: a phrase repeated twice in
    one document but nowhere else is not a cross-corpus duplicate."""
    rows = [
        (1, "echo fox golf hotel filler echo fox golf hotel"),
        (2, "completely different text with no overlap at all"),
    ]
    assert _spans(spark, rows, k=4) == []


def _pair_form_jaccard(docs, threshold):
    """The pair form, brute force: every same-block pair of the
    operator's own shingle sets, intersected in Python."""
    from mapreduce_inverted_index_spark.operators.dedup import word_shingles

    sh = word_shingles(docs, extra_cols=("source",)).collect()
    out = []
    for x in sh:
        for y in sh:
            if x["source"] != y["source"] or x["doc_id"] >= y["doc_id"]:
                continue
            a, b = set(x["shingles"]), set(y["shingles"])
            j = len(a & b) / len(a | b)
            if j >= threshold:
                out.append((x["doc_id"], y["doc_id"], j))
    return sorted(out)


def _assert_same_pairs(got, want):
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    assert all(abs(g[2] - w[2]) < 1e-6 for g, w in zip(got, want))


def test_ngram_jaccard_index_form_equals_pair_form(spark):
    """The r12 sf1 timing sweep flagged the pair form at 36x for 10x
    data; the inverted-index co-occurrence form must return the same
    (pair, score) rows as the brute-force pair form — both on near-dup
    clusters and across a threshold boundary."""
    from mapreduce_inverted_index_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    texts = [
        (i, "hot", f"the quick brown fox jumps over dog number {i % 3}")
        for i in range(12)
    ] + [
        (100 + i, "cold", f"completely different words {i % 2} here")
        for i in range(4)
    ]
    docs = spark.createDataFrame(
        texts, "doc_id bigint, source string, text string"
    )
    for t in (0.2, 0.5):
        idx = sorted(map(tuple, ngram_jaccard_pairs(
            docs, threshold=t).collect()))
        assert len(idx) > 0
        _assert_same_pairs(idx, _pair_form_jaccard(docs, t))


def test_ngram_jaccard_hot_shingle_routing(spark):
    """VERDICT r12 ask #4: plant a near-universal shingle and prove
    the df-cap stays lossless: output pinned equal to the brute-force
    pair form at a cap that splits the keys into hot and cold, at the
    default cap (every key cold) and at cap 1 (every key hot, so the
    whole result comes through the chunked path). Hot keys run their
    co-occurrence self-join CHUNKED (per-task fanout <= cap^2, total
    work unchanged); a pair sharing both hot and cold shingles gets
    its intersection count summed across the two streams by the
    single groupBy."""
    from mapreduce_inverted_index_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # One block: docs 0-5 all share "alpha beta gamma delta" (those
    # bigrams have df=6 — the planted hot key: 36 rows on one
    # (blk, shingle) pair at cap=5, c^2 growth with the cluster);
    # docs 10-13 share "epsilon zeta eta" (df=4, cold at cap=5);
    # doc 13 also overlaps the hot cluster via "delta omega" (df=2,
    # cold) so a hot-cold pair must survive the low threshold.
    rows = [
        (i, "s", f"alpha beta gamma delta omega tail{i} x{i % 2}")
        for i in range(6)
    ] + [
        (10 + i, "s", f"epsilon zeta eta delta omega tail{10 + i}")
        for i in range(4)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    want = _pair_form_jaccard(docs, 0.1)
    # the hot-cold cross pair is present
    assert any(a < 6 <= 9 < b for a, b, _ in want)
    for cap in (5, 1_000, 1):
        got = sorted(map(tuple, ngram_jaccard_pairs(
            docs, threshold=0.1, max_shingle_df=cap
        ).collect()))
        _assert_same_pairs(got, want)


def test_ngram_jaccard_index_form_rejects_zero_threshold(spark):
    import pytest as _pytest

    from mapreduce_inverted_index_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "s", "a b c")], "doc_id bigint, source string, text string"
    )
    with _pytest.raises(ValueError, match="threshold > 0"):
        ngram_jaccard_pairs(docs, threshold=0.0)


def test_extension_tokens_merge_into_maximal_span(spark):
    """A 10-token shared run yields 7 consecutive flagged 4-windows
    that must merge into exactly one maximal [start, start+9] span."""
    run = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    rows = [(1, f"pad1 {run} pad2"), (2, f"{run}")]
    out = _spans(spark, rows, k=4)
    assert out == [(1, 2, 11, 10), (2, 1, 10, 10)]
