"""Round-8 operator tests: IVF-backed hard-negative mining and BPE
training edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.similarity import (
    hard_negatives,
    hard_negatives_ivf,
    ivf_assign,
    ivf_centroids,
    write_ivf_cells,
)


def _setup_cells(spark, tmp_path, n_cells=8):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells, 3)
    path = str(tmp_path / "hn_cells")
    write_ivf_cells(ivf_assign(emb, cents, extra_cols=("label",)), path)
    anchors = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return emb, cents, path, anchors


def test_hard_negatives_ivf_full_probe_equals_exact(spark, tmp_path):
    """Probing every cell partitions the same candidate set the exact
    broadcast form scores, so the results must be identical — the
    machinery check that is independent of codebook float noise."""
    emb, cents, path, anchors = _setup_cells(spark, tmp_path, n_cells=8)
    mined = hard_negatives_ivf(spark, path, cents, anchors, k=3, n_probe=8)
    exact = hard_negatives(emb, anchors, k=3)
    assert sorted(map(tuple, mined.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_hard_negatives_ivf_scan_is_partition_pruned(spark, tmp_path):
    """The probed-cell literal must reach the parquet file index as a
    PartitionFilters entry — candidate IO, not just compute, is
    n_probe/n_cells of the corpus."""
    _emb, cents, path, anchors = _setup_cells(spark, tmp_path, n_cells=8)
    mined = hard_negatives_ivf(spark, path, cents, anchors, k=3, n_probe=2)
    plan = mined._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan or (
        "PartitionFilters: [isnotnull(cell" in plan
    ), plan[:1500]
    # same-label filtering happens before scoring, not after top-k
    got_labels = (
        mined.join(
            spark.read.parquet(path).select(
                F.col("vec_id"), F.col("label").alias("_cand_lbl")
            ),
            "vec_id",
        )
        .join(
            anchors.select("query_id", "query_label"), "query_id"
        )
        .where(F.col("_cand_lbl") == F.col("query_label"))
        .count()
    )
    assert got_labels == 0


def test_bpe_train_stops_when_pairs_exhausted(spark):
    """A corpus whose tokens are all single characters after few
    merges must stop early instead of erroring or looping."""
    from mapreduce_inverted_index_spark.operators.textstats import bpe_train

    docs = spark.createDataFrame(
        [(0, "ab ab b a"), (1, "ab a b")], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_merges=10).collect()
    # only one adjacent pair exists ('a','b'); after merging it the
    # symbol table is single-symbol tokens with no pairs left
    assert [(r["left_sym"], r["right_sym"]) for r in merges] == [("a", "b")]


def test_semantic_cells_stream_maintenance_multipass(spark, tmp_path):
    """Three maintenance passes (files arriving between each) must
    leave (a) state == batch ivf_assign of everything ingested under
    the frozen first-batch codebook, (b) a dup log equal to the
    per-pass batch-vs-prior-state replay, and (c) a fourth pass with
    nothing new a no-op."""
    from mapreduce_inverted_index_spark.operators.similarity import (
        semantic_incremental_dedup,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    land = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    splits = [
        emb.where(F.col("vec_id") % 3 == k) for k in range(3)
    ]
    expected_dups: set = set()
    ingested = None
    for batch in splits:
        batch.coalesce(1).write.mode("append").parquet(land)
        if ingested is not None:
            cents = spark.read.parquet(f"{state}/cents")
            prior = spark.read.parquet(f"{state}/cells")
            expected_dups |= {
                tuple(r)
                for r in semantic_incremental_dedup(
                    batch, prior, cents, tau=0.4, r=6
                ).collect()
            }
        maintain_semantic_cells_available_now(
            spark, land, state, ckpt, tau=0.4, r=6
        )
        ingested = emb if ingested is not None else batch

    from mapreduce_inverted_index_spark.operators.similarity import ivf_assign

    cents = spark.read.parquet(f"{state}/cents")
    cells = spark.read.parquet(f"{state}/cells")
    assert cells.count() == emb.count()
    got_pairs = sorted(
        (r["vec_id"], r["cell"]) for r in cells.collect()
    )
    want_pairs = sorted(
        (r["vec_id"], r["cell"]) for r in ivf_assign(emb, cents).collect()
    )
    assert got_pairs == want_pairs

    def dups():
        return spark.read.parquet(f"{state}/dups").select(
            "new_id", "dup_of", "cos_sim"
        )

    got_dups = {tuple(r) for r in dups().collect()}
    assert got_dups == expected_dups and len(got_dups) > 0

    # idempotence: a pass with no new files changes nothing
    maintain_semantic_cells_available_now(
        spark, land, state, ckpt, tau=0.4, r=6
    )
    assert spark.read.parquet(f"{state}/cells").count() == emb.count()
    assert (
        len({tuple(r) for r in dups().collect()})
        == len(got_dups)
    )


def test_quantized_rerank_full_shortlist_equals_brute(spark):
    """With the shortlist as large as the corpus, stage 1 cannot drop
    a true neighbor, so the exact re-rank must equal brute force —
    the machinery check independent of quantization error."""
    from mapreduce_inverted_index_spark.operators.similarity import (
        brute_force_topk,
        quantized_rerank_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    n = emb.count()
    got = quantized_rerank_topk(emb, qs, k=10, m=n)
    want = brute_force_topk(emb, qs, k=10)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_delete_from_ivf_cells_touches_only_affected_partitions(spark, tmp_path):
    """Deleting a vec batch must (a) leave state == assign of the
    survivors, (b) leave the FILES of unaffected cell directories
    byte-identical (takedown IO is batch-sized, never corpus-sized),
    and (c) drop a cell directory whose last member dies."""
    import os

    from mapreduce_inverted_index_spark.operators.similarity import (
        delete_from_ivf_cells,
        ivf_assign,
        ivf_centroids,
        write_ivf_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, 8, 3)
    path = str(tmp_path / "cells")
    assigned = ivf_assign(emb, cents)
    write_ivf_cells(assigned, path)

    def listing():
        out = {}
        for d in os.listdir(path):
            if d.startswith("cell="):
                full = f"{path}/{d}"
                out[d] = sorted(
                    (f, os.path.getmtime(f"{full}/{f}"))
                    for f in os.listdir(full)
                )
        return out

    before = listing()
    # kill every member of one whole cell + a few from another
    by_cell = {}
    for r in assigned.select("vec_id", "cell").collect():
        by_cell.setdefault(r["cell"], []).append(r["vec_id"])
    cells_sorted = sorted(by_cell, key=lambda c: len(by_cell[c]))
    whole, partial = cells_sorted[0], cells_sorted[-1]
    dead = list(by_cell[whole]) + sorted(by_cell[partial])[:3]
    affected = delete_from_ivf_cells(spark, path, dead)
    assert sorted(affected) == sorted({whole, partial})

    after = listing()
    assert f"cell={whole}" not in after  # emptied cell dir removed
    for d, files in before.items():
        if d in (f"cell={whole}", f"cell={partial}"):
            continue
        assert after[d] == files, f"untouched {d} was rewritten"

    state = spark.read.parquet(path).select("vec_id", "cell")
    rebuilt = ivf_assign(
        emb.where(~F.col("vec_id").isin(dead)), cents
    ).select("vec_id", "cell")
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    # a batch touching nothing is a no-op returning []
    assert delete_from_ivf_cells(spark, path, [10**12]) == []


def test_bloom_prefiltered_join_exactness_and_selectivity(spark):
    """The bloom-prefiltered join must equal the plain join exactly —
    including under a deliberately tiny bitmap (every probe a false
    positive) — and must actually DROP non-matching large-side rows
    before the join at sane sizing."""
    from mapreduce_inverted_index_spark.operators.skew import (
        bloom_prefiltered_join,
    )

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .where(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    plain = sorted(
        map(tuple, orders.join(cust, F.col("o_custkey") == F.col("c_custkey")).collect())
    )
    got = sorted(
        map(
            tuple,
            bloom_prefiltered_join(orders, cust, "o_custkey", "c_custkey").collect(),
        )
    )
    assert got == plain and len(got) > 0
    # saturated bitmap: 64 bits for hundreds of keys -> ~all false
    # positives; the JOIN must still discard them all
    saturated = sorted(
        map(
            tuple,
            bloom_prefiltered_join(
                orders, cust, "o_custkey", "c_custkey", m_bits=64, k=1
            ).collect(),
        )
    )
    assert saturated == plain
    # selectivity: the prefilter keeps well under all orders (match
    # set is ~1/5 of the fact side + fpp)
    kept = bloom_prefiltered_join(
        orders, cust, "o_custkey", "c_custkey"
    ).count()
    assert kept < orders.count() * 0.5


def test_bloom_prefiltered_join_edge_cases(spark):
    """Empty small side -> empty join (all-zero bitmap drops every
    probe); NULL join keys never match, with or without the bloom."""
    from mapreduce_inverted_index_spark.operators.skew import (
        bloom_prefiltered_join,
    )

    large = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id int, key int"
    )
    empty = spark.createDataFrame([], "k int")
    assert (
        bloom_prefiltered_join(large, empty, "key", "k").count() == 0
    )
    small = spark.createDataFrame([(10,), (None,)], "k int")
    got = bloom_prefiltered_join(large, small, "key", "k").collect()
    assert [(r["id"], r["k"]) for r in got] == [(1, 10)]


def test_bloom_prefiltered_join_same_key_name(spark):
    """Same-name keys must join on the name list (no ambiguous-
    reference AnalysisException) and carry the key column once."""
    from mapreduce_inverted_index_spark.operators.skew import (
        bloom_prefiltered_join,
    )

    large = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id int, key int"
    )
    small = spark.createDataFrame([(10, "a"), (30, "c")], "key int, tag string")
    got = bloom_prefiltered_join(large, small, "key", "key")
    assert got.columns.count("key") == 1
    assert sorted((r["id"], r["key"], r["tag"]) for r in got.collect()) == [
        (1, 10, "a"),
        (3, 30, "c"),
    ]


def test_bloom_prefiltered_join_non_multiple_of_64_bits(spark):
    """m_bits that is not a multiple of 64 must still be exact: the
    bitmap rounds UP to the covering word count (positions in the top
    partial word used to read past the array and silently drop true
    matches)."""
    from mapreduce_inverted_index_spark.operators.skew import (
        bloom_prefiltered_join,
    )

    large = spark.createDataFrame(
        [(i, i % 50) for i in range(500)], "id int, key int"
    )
    small = spark.createDataFrame([(k,) for k in range(50)], "k int")
    plain = sorted(
        map(tuple, large.join(small, F.col("key") == F.col("k")).collect())
    )
    for m_bits in (1000, 67, 130):
        got = sorted(
            map(
                tuple,
                bloom_prefiltered_join(
                    large, small, "key", "k", m_bits=m_bits, k=3
                ).collect(),
            )
        )
        assert got == plain, f"m_bits={m_bits} dropped true matches"


def test_log_histogram_quantiles_error_bound_and_merge(spark):
    """(a) Midpoint estimates must sit within the documented
    1/(2*subbins) relative error of the exact quantiles; (b) shard
    sketches merged by summing counts must equal the one-shot sketch
    (the mergeability that makes it a sketch at all)."""
    from mapreduce_inverted_index_spark.operators.sketches import (
        log_histogram_quantiles,
        log_histogram_sketch,
    )

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    cents = ev.where(F.col("value") >= 0.01).select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    subbins = 8
    hist = log_histogram_sketch(cents, "event_type", "cents", subbins=subbins)
    got = {
        r["event_type"]: r
        for r in log_histogram_quantiles(hist, "event_type").collect()
    }
    exact = {
        r["event_type"]: r["qs"]
        for r in cents.groupBy("event_type")
        .agg(F.expr("percentile(cents, array(0.5, 0.9, 0.99))").alias("qs"))
        .collect()
    }
    assert set(got) == set(exact) and len(got) > 1
    bound = 1.0 / (2 * subbins) + 1e-9
    for et, row in got.items():
        for col, q_exact in zip(("q50", "q90", "q99"), exact[et]):
            rel = abs(row[col] - q_exact) / q_exact
            # percentile() interpolates between ranks; the sketch picks
            # the ceil-rank bin — allow one midpoint of slack on top
            assert rel <= bound * 2, (et, col, row[col], q_exact, rel)

    # mergeability: shard by event_id parity, sum counts, same sketch
    ev_id = ev.where(F.col("value") >= 0.01).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    shards = [
        log_histogram_sketch(
            ev_id.where(F.col("event_id") % 2 == k), "event_type", "cents",
            subbins=subbins,
        )
        for k in range(2)
    ]
    merged = (
        shards[0].unionByName(shards[1])
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"), F.min("est").alias("est"))
    )
    one_shot = sorted(map(tuple, hist.collect()))
    assert sorted(map(tuple, merged.collect())) == one_shot


def test_compact_ivf_cells_layout_only(spark, tmp_path):
    """Compaction must leave row content identical, reduce every
    over-threshold cell to one file, and leave under-threshold cells'
    files byte-untouched."""
    import os

    from mapreduce_inverted_index_spark.operators.similarity import (
        compact_ivf_cells,
        ivf_assign,
        ivf_centroids,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        refresh_manifest,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, 4, 3)
    path = str(tmp_path / "cells")
    # simulate 6 streaming appends -> 6 files per cell, each committed
    # to the manifest the way the streaming publish commits it
    for k in range(6):
        batch = ivf_assign(emb.where(F.col("vec_id") % 6 == k), cents)
        batch.repartition(1).write.mode("append").partitionBy("cell").parquet(
            path
        )
        refresh_manifest(path, "cell", {"schema": batch.schema.json()})

    def files(d):
        return sorted(
            f for f in os.listdir(f"{path}/{d}") if f.endswith(".parquet")
        )

    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    cell_dirs = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert all(len(files(d)) == 6 for d in cell_dirs)

    affected = compact_ivf_cells(spark, path, max_files_per_cell=4)
    assert sorted(affected) == sorted(
        int(d.split("=")[1]) for d in cell_dirs
    )
    for d in cell_dirs:
        assert len(files(d)) == 1, d
    assert (
        sorted(map(tuple, spark.read.parquet(path).collect())) == before_rows
    )
    # second pass: everything under threshold -> no-op
    assert compact_ivf_cells(spark, path, max_files_per_cell=4) == []


def test_takedown_stream_maintenance(spark, tmp_path):
    """Two takedown passes over a stored index must leave it equal to
    build_index of the corpus minus every taken-down id; a pass with
    ids that were already deleted (or never existed) is a no-op; a
    pass with no new files leaves the index untouched."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_takedowns_available_now,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    index_dir = str(tmp_path / "index")
    queue = str(tmp_path / "queue")
    ckpt = str(tmp_path / "ckpt")
    write_index_store(build_index(docs), index_dir)

    def stored():
        return sorted(
            (r["term"], tuple(r["postings"]), r["df"])
            for r in read_index_store(spark, index_dir).collect()
        )

    batches = [
        [r["doc_id"] for r in docs.where(F.col("doc_id") % 10 == 0).collect()],
        # second batch overlaps the first (idempotence) + a ghost id
        [r["doc_id"] for r in docs.where(F.col("doc_id") % 10 < 2).collect()]
        + [10**12],
    ]
    gone: set = set()
    for ids in batches:
        spark.createDataFrame(
            [(int(i),) for i in ids], "doc_id bigint"
        ).coalesce(1).write.mode("append").parquet(queue)
        maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
        gone |= set(ids)
        want = sorted(
            (r["term"], tuple(r["postings"]), r["df"])
            for r in build_index(
                docs.where(~F.col("doc_id").isin(list(gone)))
            ).collect()
        )
        assert stored() == want

    maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    assert stored() == want


def test_smb_join_has_no_pre_join_exchange(spark):
    """Equal-bucket-count sortBy tables must SortMergeJoin with zero
    Exchange on either input — the whole point of paying the shuffle
    at write time. The only Exchange allowed in the plan is the
    post-join rollup's."""
    from mapreduce_inverted_index_spark.plans.registry import all_queries

    df = all_queries()["smb_join_lineitem_orders"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1, plan[:2000]


def test_suffix_query_pushes_down_on_reversed_key(spark, tmp_path):
    """The reversed suffix must reach the scan as StringStartsWith on
    rterm (IO-bounded probe, no join/shuffle), and results must equal
    a plain endswith filter over the index."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
    )
    from mapreduce_inverted_index_spark.operators.term_queries import (
        suffix_query,
        write_reversed_index,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    index = build_index(docs)
    rt = write_reversed_index(index, str(tmp_path / "r"), prefix="mii_t8")
    got = suffix_query(spark, rt, "er")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(rterm,re)" in plan, plan[:1200]
    assert "Join" not in plan and "Exchange" not in plan
    want = sorted(
        (r["term"], tuple(r["postings"]), r["df"])
        for r in index.where(F.col("term").endswith("er")).collect()
    )
    assert (
        sorted((r["term"], tuple(r["postings"]), r["df"]) for r in got.collect())
        == want
    )
    assert len(want) > 0


def test_lm_bigram_scores_semantics(spark):
    """Word-order degeneracy must score WORSE (higher NLL) than
    corpus-like text; short docs emit n_bigrams=0 with NULL score;
    a hand-computed two-doc corpus matches exactly."""
    import math

    from mapreduce_inverted_index_spark.operators.textstats import (
        lm_bigram_scores,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_bigram_scores(docs).collect()}
    assert rows[3]["n_bigrams"] == 0 and rows[3]["nll_per_bigram"] is None
    # hand computation: corpus tokens N=7, V=5
    # c1: alpha 2, beta 2, gamma 1, delta 1, solo 1
    # bigrams: (alpha,beta) c2=2; (beta,gamma) 1; (beta,delta) 1
    def lp(c2, c1prev, c1w):
        p = 0.75 * (c2 / c1prev) + 0.25 * ((c1w + 1.0) / (7.0 + 5.0))
        return round(math.log(p), 9)

    d1 = -(lp(2, 2, 2) + lp(1, 2, 1)) / 2
    assert abs(rows[1]["nll_per_bigram"] - round(d1, 6)) < 1e-9
    assert rows[1]["n_bigrams"] == 2

    # order sensitivity, the property unigram LMs cannot have: the
    # same two words in FREQUENT order must score more corpus-like
    # (lower NLL) than in the once-seen reversed order. NB a
    # self-trained LM scores pure repetition as highly predictable —
    # that pathology is repetition_profile's job, not this scorer's.
    corpus = [(i, "good morning") for i in range(20)] + [(99, "morning good")]
    out = {
        r["doc_id"]: r["nll_per_bigram"]
        for r in lm_bigram_scores(
            spark.createDataFrame(corpus, "doc_id long, text string")
        ).collect()
    }
    assert out[0] < out[99]


def test_cell_takedown_stream_maintenance(spark, tmp_path):
    """Erasure queue over the cell store: two passes must leave state
    == assign of the survivors; pre-store arrival fails loud and the
    same files fold after the store exists."""
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from mapreduce_inverted_index_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        write_ivf_cells,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_cell_takedowns_available_now,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, 8, 3)
    cells = str(tmp_path / "cells")
    queue = str(tmp_path / "queue")
    ckpt = str(tmp_path / "ckpt")

    dead1 = [r["vec_id"] for r in emb.where(F.col("vec_id") % 7 == 0).collect()]
    spark.createDataFrame(
        [(int(v),) for v in dead1], "vec_id bigint"
    ).coalesce(1).write.mode("append").parquet(queue)
    # store doesn't exist yet: the pass must fail, not commit
    with _pytest.raises(StreamingQueryException):
        maintain_cell_takedowns_available_now(spark, queue, cells, ckpt)

    write_ivf_cells(ivf_assign(emb, cents), cells)
    maintain_cell_takedowns_available_now(spark, queue, cells, ckpt)
    dead2 = [r["vec_id"] for r in emb.where(F.col("vec_id") % 7 == 1).collect()]
    spark.createDataFrame(
        [(int(v),) for v in dead2], "vec_id bigint"
    ).coalesce(1).write.mode("append").parquet(queue)
    maintain_cell_takedowns_available_now(spark, queue, cells, ckpt)

    gone = set(dead1) | set(dead2)
    want = sorted(
        (r["vec_id"], r["cell"])
        for r in ivf_assign(
            emb.where(~F.col("vec_id").isin(list(gone))), cents
        ).collect()
    )
    got = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(cells).select("vec_id", "cell").collect()
    )
    assert got == want and len(got) > 0
