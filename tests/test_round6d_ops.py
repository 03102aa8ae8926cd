"""Final-session round-6 operator semantics beyond the registry
differential:

* corpus_shuffle: ranks are a dense 0-based permutation, reproducible
  under any partitioning; the distributed rank equals the single-task
  row_number semantics on a fixture small enough to check by hand.
* disjunctive_predicate_revenue's hand-derived union bounds are
  semantics-preserving (the manually pushed [1,30]/[1,15] ranges drop
  no qualifying row).
* majority-shipper (Q20 shape) strictness: exactly-half shippers are
  excluded (2*sq > pq is strict), clear-majority shippers included.
* streaming left-outer interval join: the matched subset equals the
  inner join; NULL rows appear only for clicks whose join window the
  final watermark passed.
* dropDuplicatesWithinWatermark: the emitted keyset equals batch
  DISTINCT on the dedup keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.curation import corpus_shuffle

SF_SMALL = "/root/testdata/sf0.001"


# -------------------------------------------------------- corpus_shuffle

def _docs(spark, n=97):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_corpus_shuffle_is_dense_permutation(spark):
    out = corpus_shuffle(_docs(spark)).collect()
    ranks = sorted(r.shuffle_rank for r in out)
    assert ranks == list(range(97)), "ranks must be a dense 0-based permutation"
    assert len({r.doc_id for r in out}) == 97


def test_corpus_shuffle_reproducible(spark):
    a = {r.doc_id: r.shuffle_rank for r in corpus_shuffle(_docs(spark)).collect()}
    b = {r.doc_id: r.shuffle_rank for r in
         corpus_shuffle(_docs(spark).repartition(7)).collect()}
    assert a == b, "every run must replay the identical permutation"


def test_corpus_shuffle_matches_row_number_semantics(spark):
    out = {r.doc_id: r.shuffle_rank for r in corpus_shuffle(_docs(spark)).collect()}
    import hashlib

    expected_order = sorted(
        range(97), key=lambda i: (hashlib.md5(f"42:{i}".encode()).hexdigest(), i)
    )
    expected = {doc: rank for rank, doc in enumerate(expected_order)}
    assert out == expected


# ------------------------------------- Q19 manual range-union pushdown

def test_disjunctive_bounds_drop_no_rows(spark):
    """The hand-pushed union bounds must be implied by the branch
    disjunction: computing revenue WITHOUT the scan-level bounds must
    give the identical answer."""
    from mapreduce_inverted_index_spark.plans.registry import all_queries

    got = all_queries()["disjunctive_predicate_revenue"].fn(spark, SF_SMALL).collect()

    prt = spark.read.parquet(f"{SF_SMALL}/part.parquet")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    branch = (
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    one = F.lit(1).cast("decimal(3,2)")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        one - F.col("l_discount").cast("decimal(3,2)")
    )
    want = (
        li.join(prt, F.col("l_partkey") == F.col("p_partkey"))
        .where(branch)
        .agg(F.round(F.sum(disc), 2).cast("double").alias("revenue"))
        .collect()
    )
    assert got[0].revenue == want[0].revenue


# ----------------------------------------- Q20 majority strictness

def test_majority_shipper_strictness(spark, tmp_path):
    """2*sq > pq is strict: a supplier shipping exactly half a part's
    quantity is NOT a majority shipper; one shipping more than half is."""
    import datetime

    d = datetime.datetime(1996, 6, 1)
    li = spark.createDataFrame(
        [
            # part 1: supplier 10 ships 5, supplier 11 ships 5 -> 50/50, neither qualifies
            (1, 10, 5.0, d), (1, 11, 5.0, d),
            # part 2: supplier 10 ships 6, supplier 11 ships 4 -> 10 qualifies
            (2, 10, 6.0, d), (2, 11, 4.0, d),
            # part 3 shipped outside the year window -> ignored entirely
            (3, 12, 9.0, datetime.datetime(1999, 1, 1)), (3, 13, 1.0, datetime.datetime(1999, 1, 1)),
        ],
        "l_partkey long, l_suppkey long, l_quantity double, l_shipdate timestamp",
    )
    sup = spark.createDataFrame(
        [(10, "S10", 7), (11, "S11", 7), (12, "S12", 7), (13, "S13", 7)],
        "s_suppkey long, s_name string, s_nationkey int",
    )
    nat = spark.createDataFrame(
        [(7, "NATION_7", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    base = str(tmp_path / "sf")
    li.write.parquet(f"{base}/lineitem.parquet")
    sup.write.parquet(f"{base}/supplier.parquet")
    nat.write.parquet(f"{base}/nation.parquet")

    from mapreduce_inverted_index_spark.plans.registry import all_queries

    out = all_queries()["excess_shipped_part_suppliers"].fn(spark, base).collect()
    assert [(r.s_suppkey, r.s_name) for r in out] == [(10, "S10")]


# ------------------------------------------------ streaming additions

def test_stream_outer_join_nulls_only_past_watermark(spark):
    from mapreduce_inverted_index_spark.streaming.windows import (
        stream_attribution_join,
        stream_attribution_join_outer,
    )

    outer = stream_attribution_join_outer(spark, SF_SMALL).cache()
    inner = stream_attribution_join(spark, SF_SMALL)

    matched = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in outer.where(F.col("purchase_id").isNotNull()).collect()
    }
    want = {(r.user_id, r.click_id, r.purchase_id) for r in inner.collect()}
    assert matched == want, "outer join's matched subset must equal the inner join"

    # every NULL row's click window must have closed under the final
    # two-source min watermark (else Spark could not know it's final)
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    maxes = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .collect()
    )
    final_wm_us = min(
        int(r.mx.timestamp() * 1_000_000) for r in maxes
    ) - 2 * 3600 * 1_000_000

    clicks = {
        r.event_id: int(r.ts.timestamp() * 1_000_000)
        for r in ev.where(F.col("event_type") == "click").collect()
    }
    for r in outer.where(F.col("purchase_id").isNull()).collect():
        assert clicks[r.click_id] + 3600 * 1_000_000 < final_wm_us, (
            "NULL rows may only emit once the watermark passed the click's window"
        )
        assert r.lag_us is None


def test_dedup_within_watermark_keyset(spark):
    from mapreduce_inverted_index_spark.streaming.windows import (
        stream_dedup_within_watermark,
    )

    out = stream_dedup_within_watermark(spark, SF_SMALL)
    got = {(r.user_id, r.event_type) for r in out.collect()}
    assert len(got) == out.count(), "each key must emit exactly once"
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    want = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got == want


# ------------------------------------------------------------ CMS

def test_cms_overestimates_and_merges(spark):
    from mapreduce_inverted_index_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select("user_id")
    sketch = cms_build(ev, "user_id").cache()
    keys = ev.distinct()
    est = {r.user_id: r.cms_est
           for r in cms_estimate(sketch, keys, "user_id").collect()}
    true = {r.user_id: r.cnt
            for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    assert est.keys() == true.keys()
    for k, t in true.items():
        assert est[k] >= t, "CMS must never undercount"

    # mergeability: cell-wise sum of two half-sketches == one-shot sketch
    h1 = cms_build(ev.where(F.col("user_id") % 2 == 0), "user_id")
    h2 = cms_build(ev.where(F.col("user_id") % 2 == 1), "user_id")
    merged = {
        (r.row, r.bucket): r.cnt
        for r in h1.unionByName(h2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    oneshot = {(r.row, r.bucket): r.cnt for r in sketch.collect()}
    assert merged == oneshot


# ------------------------------------------------------ gram matrix

def test_gram_matrix_equals_numpy_and_is_partition_invariant(spark):
    import numpy as np

    from mapreduce_inverted_index_spark.operators.similarity import gram_matrix

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = {(r.i, r.j): r.gram for r in gram_matrix(emb).collect()}

    mat = np.stack([np.asarray(r.embedding, dtype=np.float64)
                    for r in emb.collect()])
    q = np.floor(mat * 1_000_000 + 0.5).astype(np.int64)
    g = q.T @ q
    iu, ju = np.triu_indices(g.shape[0])
    want = {(int(i), int(j)): int(g[i, j]) for i, j in zip(iu, ju)}
    assert got == want

    # per-batch partials must sum identically under any partitioning
    got7 = {(r.i, r.j): r.gram for r in gram_matrix(emb.repartition(7)).collect()}
    assert got7 == want


# ------------------------------------------------------ PCA projection

def test_pca_project_matches_numpy_reference(spark):
    import numpy as np

    from mapreduce_inverted_index_spark.operators.similarity import pca_project

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = {r.vec_id: np.asarray(r.proj) for r in pca_project(emb, k=4).collect()}

    X = np.stack(
        [np.asarray(r.embedding, dtype=np.float64)
         for r in emb.orderBy("vec_id").collect()]
    )
    ids = [r.vec_id for r in emb.orderBy("vec_id").collect()]
    mu = X.mean(0)
    cov = np.cov(X.T, ddof=0)
    w, V = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:4]
    comps = V[:, order]
    flips = np.sign(comps[np.abs(comps).argmax(0), np.arange(4)])
    comps = comps * flips
    want = (X - mu) @ comps
    for row, vid in zip(want, ids):
        assert np.allclose(got[vid], row, atol=1e-8), (
            "distributed PCA must match the single-node eigendecomposition"
        )


def test_pca_variance_ordering_and_capture(spark):
    import numpy as np

    from mapreduce_inverted_index_spark.operators.similarity import pca_project

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    Y = np.stack([np.asarray(r.proj) for r in pca_project(emb, k=8).collect()])
    var = Y.var(0, ddof=0)
    assert np.all(np.diff(var) <= 1e-9), "component variances must descend"
    X = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()]
    )
    total = X.var(0, ddof=0).sum()
    assert 0 < var.sum() <= total + 1e-9, (
        "projected variance must be positive and bounded by total variance"
    )


# --------------------------------------------- funnel step narrowing

def test_funnel_stages_narrow_and_count_users(spark, tmp_path):
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(h):
        return t0 + datetime.timedelta(hours=h)

    rows = [
        # user 1: full funnel inside windows
        (1, 1, "view", ts(0)), (2, 1, "click", ts(1)), (3, 1, "purchase", ts(2)),
        # user 2: click arrives 30h after view -> funnel stops at stage 1
        (4, 2, "view", ts(0)), (5, 2, "click", ts(30)), (6, 2, "purchase", ts(31)),
        # user 3: purchase BEFORE click -> stops at stage 2
        (7, 3, "view", ts(0)), (8, 3, "purchase", ts(1)), (9, 3, "click", ts(2)),
        # user 4: never viewed -> not in the funnel at all
        (10, 4, "click", ts(0)), (11, 4, "purchase", ts(1)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    base = str(tmp_path / "sf")
    ev.write.parquet(f"{base}/events.parquet")

    from mapreduce_inverted_index_spark.plans.registry import all_queries

    out = {
        r.stage: r.n_users
        for r in all_queries()["event_funnel_conversion"].fn(spark, base).collect()
    }
    assert out == {1: 3, 2: 2, 3: 1}


# ---------------------------------------- transformWithState gate

def test_tws_totals_runs_or_gates_cleanly(spark):
    """transformWithStateInPandas needs protobuf (the state-server
    protocol); where present the new-API operator must equal the
    batch aggregate, where absent it must raise the documented
    ImportError (not crash mid-query)."""
    import pytest

    from mapreduce_inverted_index_spark.streaming.stateful import (
        tws_user_type_totals,
    )

    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            tws_user_type_totals(spark, SF_SMALL)
        pytest.skip("protobuf absent: transformWithState gated off")

    import numpy as np

    out = tws_user_type_totals(spark, SF_SMALL)
    got = {
        (r.user_id, r.event_type): (r.total_value, r.n_events)
        for r in out.collect()
    }
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    rows = ev.select("user_id", "event_type", "value").collect()
    want = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        c, n = want.get(k, (0, 0))
        want[k] = (c + int(np.floor(r.value * 100.0 + 0.5)), n + 1)
    want = {k: (c / 100.0, n) for k, (c, n) in want.items()}
    assert got == want


# --------------------------------------- custom Python DataSource

def test_crawl_source_batch_equals_table_and_pages_partition(spark):
    from mapreduce_inverted_index_spark.sources.crawl_source import (
        register_crawl_source,
    )

    register_crawl_source(spark)
    path = f"{SF_SMALL}/documents.parquet"
    df = (
        spark.read.format("paged_crawl")
        .option("path", path).option("page_size", "37").load()
    )
    want = {
        (r.doc_id, r.source, r.n_chars)
        for r in spark.read.parquet(path)
        .select("doc_id", "source", "n_chars").collect()
    }
    got = {(r.doc_id, r.source, r.n_chars) for r in df.collect()}
    assert got == want, "the connector must serve the snapshot losslessly"
    n = len(want)
    assert df.rdd.getNumPartitions() == (n + 36) // 37, (
        "one InputPartition per page"
    )


def test_crawl_source_stream_walks_pages_exactly_once(spark, tmp_path):
    """The page cursor is a checkpointed stream offset: repeated
    AvailableNow runs advance it until the site is exhausted, each
    page served exactly once; idle runs are no-ops."""
    from mapreduce_inverted_index_spark.sources.crawl_source import (
        register_crawl_source,
    )

    register_crawl_source(spark)
    path = f"{SF_SMALL}/documents.parquet"
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    totals = []
    for _ in range(5):
        sdf = (
            spark.readStream.format("paged_crawl")
            .option("path", path)
            .option("page_size", "37")
            .option("pages_per_batch", "5")
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        totals.append(spark.read.parquet(sink).count())

    got = spark.read.parquet(sink)
    n = spark.read.parquet(path).count()
    assert totals[-1] == n and totals[-2] == n, "walk must exhaust the site"
    assert got.count() == n
    assert got.select("doc_id").distinct().count() == n, (
        "each page exactly once — no replays across checkpointed runs"
    )
    assert totals[0] < n, "a single bounded run must NOT consume everything"


def test_crawl_sink_transactional_commit_and_abort(spark, tmp_path):
    """The writer's two-phase protocol: a successful write publishes a
    manifest naming every page (read-back equals input); a failing
    write publishes NOTHING (no manifest, no visible pages)."""
    import os

    from mapreduce_inverted_index_spark.sources.crawl_source import (
        read_crawl_site,
        register_crawl_source,
    )

    register_crawl_source(spark)
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "source", "n_chars")
    )

    ok_dir = str(tmp_path / "ok")
    docs.repartition(6).write.format("paged_crawl").option(
        "path", ok_dir
    ).mode("append").save()
    back = read_crawl_site(spark, ok_dir)
    assert {(r.doc_id, r.source, r.n_chars) for r in back.collect()} == {
        (r.doc_id, r.source, r.n_chars) for r in docs.collect()
    }

    bad_dir = str(tmp_path / "bad")

    @F.udf("long")
    def _boom(x):
        raise RuntimeError("boom")

    import pytest

    with pytest.raises(Exception):
        docs.withColumn("n_chars", _boom("n_chars")).write.format(
            "paged_crawl"
        ).option("path", bad_dir).mode("append").save()
    assert not os.path.exists(f"{bad_dir}/_MANIFEST.json"), (
        "a failed write must never publish a manifest"
    )
    if os.path.exists(bad_dir):
        assert not [f for f in os.listdir(bad_dir) if f.endswith(".jsonl")], (
            "no pages may be visible outside _staging after abort"
        )


# --------------------------------------- temperature mixture sampling

def test_temperature_sample_properties(spark):
    import math

    from mapreduce_inverted_index_spark.operators.curation import (
        temperature_sample,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "source"
    )
    kept = temperature_sample(docs).cache()

    # determinism: same keep-set under any partitioning
    kept2 = temperature_sample(docs.repartition(13))
    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in kept2.collect()}
    assert a == b

    # temperature property: smaller sources keep a HIGHER fraction
    counts = {
        r.source: r.c
        for r in docs.groupBy("source").agg(F.count("*").alias("c")).collect()
    }
    rates = {
        r.source: r.keep_bps
        for r in kept.select("source", "keep_bps").distinct().collect()
    }
    by_size = sorted(counts, key=counts.get)
    fracs = [rates[s] for s in by_size if s in rates]
    assert all(
        f1 >= f2 for f1, f2 in zip(fracs, fracs[1:])
    ), "smaller sources must keep at a rate >= larger sources"

    # rate formula replay
    n = sum(counts.values())
    sw = sum(round(math.sqrt(c), 9) for c in counts.values())
    for s, c in counts.items():
        want = int(min(1.0, math.sqrt(c) / sw * 0.4 * n / c) * 10000)
        if s in rates:
            assert rates[s] == want


# ------------------------------------ observed metrics (no extra pass)

def test_observation_metrics_piggyback_on_one_pass(spark):
    """df.observe() collects pipeline health metrics AS the action
    runs — at 100 TB this replaces the 'second scan just to count
    nulls' anti-pattern: the metrics ride the same physical pass as
    the real output."""
    from pyspark.sql import Observation

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    obs = Observation("ingest_health")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("int")).alias("null_texts"),
        F.max("n_chars").alias("max_chars"),
    )
    out = observed.groupBy("source").count().collect()  # the one action
    m = obs.get
    assert m["n_rows"] == docs.count()
    assert m["null_texts"] == docs.where(F.col("text").isNull()).count()
    assert m["max_chars"] == docs.agg(F.max("n_chars")).collect()[0][0]
    assert len(out) > 0


# ------------------------- user_id bucketing makes the funnel co-located

def test_bucketed_events_funnel_is_exchange_free(spark, tmp_path):
    """Substantiates the funnel/cohort docstring claim: with events
    bucketed BY user_id, every stage's groupBy(user_id) and join
    consumes the bucketed layout directly — zero Exchange anywhere in
    the funnel plan, at any table size. (The catalog query reads
    plain parquet and shuffles once per stage; this is the 100 TB
    deployment layout.)"""
    import uuid

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "user_id", "event_type", "ts"
    )
    tbl = f"events_b8_{uuid.uuid4().hex[:8]}"
    (
        ev.write.bucketBy(8, "user_id").sortBy("user_id")
        .option("path", str(tmp_path / "events_b8"))
        .saveAsTable(tbl)
    )
    try:
        b = spark.table(tbl)
        day = F.expr("INTERVAL 24 HOURS")
        s1 = (
            b.where(F.col("event_type") == "view")
            .groupBy("user_id").agg(F.min("ts").alias("t1"))
        )
        s2 = (
            b.where(F.col("event_type") == "click")
            .join(s1, "user_id")
            .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
            .groupBy("user_id").agg(F.min("ts").alias("t2"))
        )
        plan = s2._jdf.queryExecution().executedPlan().toString()
        # no hash exchange anywhere: aggregates and the join consume
        # the bucketed layout directly. (A BroadcastExchange may
        # appear locally because the fixture's stage-1 side is tiny —
        # at scale both sides are big and the same bucketed plan runs
        # as a shuffle-free SortMergeJoin, verified by the marker
        # below either way.)
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed layout must make every funnel stage co-located"
        )
        assert "Bucketed: true" in plan
        # and the bucketed plan computes the same stage-2 survivors as
        # the plain-parquet plan
        p1 = (
            ev.where(F.col("event_type") == "view")
            .groupBy("user_id").agg(F.min("ts").alias("t1"))
        )
        p2 = (
            ev.where(F.col("event_type") == "click")
            .join(p1, "user_id")
            .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
            .groupBy("user_id").agg(F.min("ts").alias("t2"))
        )
        assert {(r.user_id, r.t2) for r in s2.collect()} == {
            (r.user_id, r.t2) for r in p2.collect()
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# ---------------------------------------------------- BPE merge step

def test_bpe_merge_step_matches_python_reference(spark, tmp_path):
    from collections import Counter

    from mapreduce_inverted_index_spark.plans.registry import all_queries

    docs = spark.createDataFrame(
        [(1, "the theme there", "en", "s", 15),
         (2, "other ethers the", "en", "s", 16)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    base = str(tmp_path / "sf")
    docs.write.parquet(f"{base}/documents.parquet")

    out = all_queries()["bpe_merge_step"].fn(spark, base).collect()
    assert len(out) == 1
    got = (out[0].pair, out[0].pair_count, out[0].n_token_occurrences)

    toks = "the theme there other ethers the".split()
    counts = Counter(t[i:i + 2] for t in toks for i in range(len(t) - 1))
    best = max(counts.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))
    # deterministic tiebreak: count DESC then pair ASC
    top_count = max(counts.values())
    best_pair = min(p for p, c in counts.items() if c == top_count)
    touched = sum(1 for t in toks if best_pair in t)
    assert got == (best_pair, counts[best_pair], touched)


def test_crawl_sink_append_merges_and_overwrite_replaces(spark, tmp_path):
    """Save-mode semantics of the connector sink: a second append
    keeps earlier committed pages (manifest merge); overwrite retires
    them."""
    from mapreduce_inverted_index_spark.sources.crawl_source import (
        read_crawl_site,
        register_crawl_source,
    )

    register_crawl_source(spark)
    site = str(tmp_path / "site")
    a = spark.createDataFrame(
        [(1, "s1", 10), (2, "s1", 20)], "doc_id long, source string, n_chars long"
    )
    b = spark.createDataFrame(
        [(3, "s2", 30)], "doc_id long, source string, n_chars long"
    )
    a.write.format("paged_crawl").option("path", site).mode("append").save()
    b.write.format("paged_crawl").option("path", site).mode("append").save()
    got = {r.doc_id for r in read_crawl_site(spark, site).collect()}
    assert got == {1, 2, 3}, "append must merge the published manifest"

    b.write.format("paged_crawl").option("path", site).mode("overwrite").save()
    got = {r.doc_id for r in read_crawl_site(spark, site).collect()}
    assert got == {3}, "overwrite must retire previously published pages"


def test_bpe_merge_step_ignores_single_char_tokens(spark, tmp_path):
    """Spark's sequence(1, 0) is [1, 0] (not empty): unguarded, each
    1-char token would fabricate a doubled 'pair' of itself. A corpus
    dominated by 'a' must still pick a real 2-char pair."""
    from mapreduce_inverted_index_spark.plans.registry import all_queries

    docs = spark.createDataFrame(
        [(1, "a a a a a a a a a a xy xy", "en", "s", 25)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    base = str(tmp_path / "sf")
    docs.write.parquet(f"{base}/documents.parquet")
    out = all_queries()["bpe_merge_step"].fn(spark, base).collect()
    assert len(out) == 1 and out[0].pair == "xy" and out[0].pair_count == 2
    assert out[0].n_token_occurrences == 2
