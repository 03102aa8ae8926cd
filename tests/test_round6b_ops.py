"""Late-round-6 operator semantics beyond the registry differential:

* scd2_history: interval contiguity, exactly one current row per
  key, run-length collapse (no two consecutive intervals share the
  attribute), re-statements of the same value open no interval.
* chunk_documents: full token coverage, stable (doc_id, chunk_no)
  identity under re-chunking, overlap width, short-doc tail.
* compaction_plan: every file assigned exactly once, job byte totals
  bounded by target + largest member (the first-fit guarantee),
  file ranges contiguous and non-overlapping in listing order.
* policy_filter: each rule exercised by a crafted doc; keep iff the
  reasons string is empty; blocklist off by default.
* join_skew_profile: equals the brute-force per-key fan-out on a
  skewed fixture; share column sums to the top-n's true share.
* ewma: equals the direct Python recursion (bounded lookback) per
  key; order independence under repartitioning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.curation import policy_filter
from mapreduce_inverted_index_spark.operators.layout import compaction_plan
from mapreduce_inverted_index_spark.operators.passages import chunk_documents
from mapreduce_inverted_index_spark.operators.relational import ewma
from mapreduce_inverted_index_spark.operators.skew import join_skew_profile
from mapreduce_inverted_index_spark.operators.snapshots import scd2_history


# ------------------------------------------------------------------ scd2

def _changes(spark):
    rows = [
        # key 1: A, A (re-statement), B, B, A  -> intervals A, B, A
        (1, 10, 100, "A"),
        (1, 20, 101, "A"),
        (1, 30, 102, "B"),
        (1, 40, 103, "B"),
        (1, 50, 104, "A"),
        # key 2: single record -> one open interval
        (2, 10, 200, "X"),
        # key 3: same-ts tie broken by id: B(id 301) then A(id 302)
        (3, 10, 301, "B"),
        (3, 10, 302, "A"),
    ]
    return spark.createDataFrame(
        rows, "k int, ts int, rid int, attr string"
    )


def test_scd2_run_length_collapse_and_current(spark):
    hist = scd2_history(
        _changes(spark), ["k"], "attr", "ts", "rid"
    ).orderBy("k", "effective_from", "attr")
    rows = [r.asDict() for r in hist.collect()]
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    # key 1: A@10 -> B@30 -> A@50 (the re-statement at ts=20 opens
    # nothing); intervals chain and only the last is current.
    k1 = sorted(by_key[1], key=lambda r: r["effective_from"])
    assert [(r["attr"], r["effective_from"]) for r in k1] == [
        ("A", 10), ("B", 30), ("A", 50)
    ]
    assert [r["effective_to"] for r in k1] == [30, 50, None]
    assert [r["is_current"] for r in k1] == [False, False, True]
    # every key has exactly one current interval
    for k, rs in by_key.items():
        assert sum(r["is_current"] for r in rs) == 1, k
    # key 3: tie at ts=10 ordered by rid -> B opens first, A follows
    k3 = sorted(by_key[3], key=lambda r: (r["effective_from"], r["attr"] != "B"))
    assert [r["attr"] for r in k3] == ["B", "A"]
    assert k3[0]["effective_to"] == 10  # half-open, zero-length run


def test_scd2_no_consecutive_equal_attrs(spark):
    hist = scd2_history(_changes(spark), ["k"], "attr", "ts", "rid")
    pdf = hist.toPandas().sort_values(["k", "effective_from"])
    for _, grp in pdf.groupby("k"):
        attrs = list(grp["attr"])
        assert all(a != b for a, b in zip(attrs, attrs[1:]))


# ------------------------------------------------------------- chunking

def test_chunk_coverage_and_identity(spark):
    words = " ".join(f"w{i}" for i in range(150))
    docs = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "")],
        "doc_id bigint, text string",
    )
    ch = chunk_documents(docs, width=64, stride=48).toPandas()
    d1 = ch[ch.doc_id == 1].sort_values("chunk_no")
    # starts at 1, 49, 97, 145 (sequence to n=150 by 48)
    assert list(d1.start_tok) == [1, 49, 97, 145]
    assert list(d1.chunk_no) == [0, 1, 2, 3]
    # full width until the clamped tail; tails are 150-97+1, 150-145+1
    assert list(d1.n_tokens) == [64, 64, 54, 6]
    # coverage: every token position in some [start, start+n)
    covered = set()
    for _, r in d1.iterrows():
        covered.update(range(r.start_tok, r.start_tok + r.n_tokens))
    assert covered == set(range(1, 151))
    # short doc: one clamped chunk; empty doc: no rows
    d2 = ch[ch.doc_id == 2]
    assert len(d2) == 1 and d2.iloc[0].n_tokens == 3
    assert len(ch[ch.doc_id == 3]) == 0
    # stable identity: re-chunking a repartitioned input reproduces
    # the same (doc_id, chunk_no) -> chunk_hash mapping
    again = chunk_documents(docs.repartition(7), width=64, stride=48).toPandas()
    key = lambda df: sorted(map(tuple, df[["doc_id", "chunk_no", "chunk_hash"]].values.tolist()))  # noqa: E731
    assert key(again) == key(ch)


# ----------------------------------------------------------- compaction

def test_compaction_plan_first_fit_bounds(spark):
    files = spark.createDataFrame(
        [("p1", i, sz) for i, sz in enumerate([10, 20, 990, 5, 2000, 1, 1])]
        + [("p2", 0, 50)],
        "part string, fid int, sz bigint",
    )
    plan = compaction_plan(
        files, target_bytes=1000, partition_col="part",
        file_col="fid", bytes_col="sz",
    ).toPandas()
    p1 = plan[plan.partition == "p1"].sort_values("job_id")
    # cumsum_before: 0,10,30,1020,1025,3025,3026 -> jobs 0,0,0,1,1,3,3
    assert list(p1.job_id) == [0, 1, 3]
    assert list(p1.n_files) == [3, 2, 2]
    assert list(p1.total_bytes) == [1020, 2005, 2]
    # every file in exactly one job; ranges contiguous, non-overlapping
    assert p1.n_files.sum() == 7
    ranges = list(zip(p1.min_file_id, p1.max_file_id))
    assert ranges == [(0, 2), (3, 4), (5, 6)]
    # single small file partition -> one 1-file job
    p2 = plan[plan.partition == "p2"]
    assert len(p2) == 1 and p2.iloc[0].n_files == 1


# -------------------------------------------------------- policy filter

def test_policy_filter_rules_and_reasons(spark):
    prose = ("the quick brown fox jumps over a lazy dog and runs far "
             "into the wild green forest with many bright shining stars "
             "above while old friends gather near warm fires telling "
             "long stories")  # > 20 tokens, diverse, stopword-rich
    docs = spark.createDataFrame(
        [
            (1, prose),
            (2, "short text"),  # too_short (+no_stopwords)
            (3, prose + " slow"),  # blocklist only
            (4, ("aa b " * 20).strip()),  # low_diversity + word_len + no_stopwords
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in policy_filter(docs, blocklist=("slow",)).collect()
    }
    assert out[1]["keep"] and out[1]["reasons"] == ""
    assert "too_short" in out[2]["reasons"] and not out[2]["keep"]
    assert out[3]["reasons"] == "blocklist" and out[3]["blocklist_hits"] == 1
    r4 = out[4]["reasons"]
    assert "low_diversity" in r4 and "no_stopwords" in r4 and "word_len" in r4
    # reasons order is the fixed rule order
    assert r4 == "word_len;low_diversity;no_stopwords"
    # blocklist off by default: doc 3 is clean prose then
    out_nb = {
        r["doc_id"]: r for r in policy_filter(docs).collect()
    }
    assert out_nb[3]["keep"]


# ----------------------------------------------------------- join skew

def test_join_skew_profile_matches_bruteforce(spark):
    rows = [(k,) for k in [1] * 50 + [2] * 10 + [3] * 3 + [4]]
    left = spark.createDataFrame(rows, "k int")
    right = spark.createDataFrame(rows + [(5,)], "k int")
    prof = join_skew_profile(left, right, "k", "k", top_n=3).toPandas()
    assert list(prof.key) == [1, 2, 3]
    assert list(prof.est_out_rows) == [2500, 100, 9]
    total = 2500 + 100 + 9 + 1  # key 4 contributes 1; key 5 joins nothing
    assert abs(prof.est_out_share.iloc[0] - round(2500 / total, 6)) < 1e-12


# ----------------------------------------------------------------- ewma

def test_ewma_matches_python_recursion(spark):
    import itertools

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)]
        + [(2, 0, 10.0)],
        "uid int, seq int, v double",
    )
    out = (
        ewma(df, "uid", "seq", "v", alpha=0.5, lookback=4, tiebreak_col="seq")
        .where(F.col("uid") == 1)
        .orderBy("seq")
        .toPandas()
    )

    def expect(i):
        window = vals[max(0, i - 3): i + 1]
        acc = window[0]
        for x in window[1:]:
            acc = 0.5 * x + 0.5 * acc
        import math
        return math.floor(acc * 1e6 + 0.5) / 1e6

    for i, got in enumerate(out.ewma_value):
        assert got == expect(i), (i, got, expect(i))
    # single-row key: ewma == value
    one = ewma(df, "uid", "seq", "v", alpha=0.5, lookback=4,
               tiebreak_col="seq").where(F.col("uid") == 2).collect()
    assert one[0]["ewma_value"] == 10.0
    # partitioning-independent
    again = (
        ewma(df.repartition(5), "uid", "seq", "v", alpha=0.5, lookback=4,
             tiebreak_col="seq")
        .where(F.col("uid") == 1).orderBy("seq").toPandas()
    )
    assert list(again.ewma_value) == list(out.ewma_value)
    del itertools


# ------------------------------------------------- incremental chunking

def test_stream_chunk_ingest_equals_batch(spark, tmp_path):
    """Incremental chunk maintenance: AvailableNow passes over a
    growing landing dir of document shards append exactly the new
    shards' chunks; after every pass the sink equals batch
    chunk_documents over everything so far, and a no-news pass
    appends nothing."""
    import glob as globmod
    import shutil

    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_chunks_available_now,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    sink = str(tmp_path / "chunks")
    ckpt = str(tmp_path / "ckpt")

    def drop_shard(name, rows):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        staged = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = globmod.glob(f"{staged}/part-*.parquet")[0]
        shutil.move(part, str(landing / f"{name}.parquet"))

    def stored():
        return sorted(
            map(tuple, spark.read.parquet(sink).collect())
        )

    def expected():
        docs = spark.read.parquet(str(landing / "*.parquet"))
        return sorted(map(tuple, chunk_documents(docs).collect()))

    drop_shard("s1", [(1, " ".join(f"w{i}" for i in range(150)))])
    drop_shard("s2", [(2, "alpha beta gamma")])
    maintain_chunks_available_now(
        spark, str(landing), sink, ckpt, glob="*.parquet"
    )
    assert stored() == expected()

    drop_shard("s3", [(3, " ".join(f"x{i}" for i in range(100)))])
    maintain_chunks_available_now(
        spark, str(landing), sink, ckpt, glob="*.parquet"
    )
    after_two = stored()
    assert after_two == expected()

    maintain_chunks_available_now(
        spark, str(landing), sink, ckpt, glob="*.parquet"
    )
    assert stored() == after_two


# ------------------------------------------------------------- pagerank

def test_pagerank_fixed_point_matches_reference(spark):
    """The fixed-point recurrence is fully specified — an independent
    Python implementation must agree to the nano-unit on a known
    graph (star + path + isolated pair), under any partitioning."""
    from collections import defaultdict

    from mapreduce_inverted_index_spark.operators.graph import (
        pagerank_fixed_point,
    )

    edge_list = [
        (1, 2), (1, 3), (1, 4), (1, 5),     # star around 1
        (5, 6), (6, 7),                     # path off one leaf
        (8, 9),                             # separate component
    ]

    def ref(iters=5):
        adj = defaultdict(list)
        for u, v in edge_list:
            adj[u].append(v)
            adj[v].append(u)
        nodes = sorted(adj)
        n = len(nodes)
        rank = {x: 10**9 // n for x in nodes}
        for _ in range(iters):
            s = defaultdict(int)
            for u in nodes:
                c = rank[u] // len(adj[u])
                for v in adj[u]:
                    s[v] += c
            rank = {
                x: 15 * 10**9 // (100 * n) + 85 * s[x] // 100 for x in nodes
            }
        return rank

    edges = spark.createDataFrame(edge_list, "u bigint, v bigint")
    got = {
        r["id"]: r["rank_nano"]
        for r in pagerank_fixed_point(edges, iters=5).collect()
    }
    assert got == ref(5)
    # hub outranks leaves; every rank positive; mass ~conserved
    assert got[1] == max(got.values())
    assert all(v > 0 for v in got.values())
    assert 0.95 * 10**9 <= sum(got.values()) <= 10**9
    # partitioning-independent (exact integer math has no sum order)
    again = {
        r["id"]: r["rank_nano"]
        for r in pagerank_fixed_point(edges.repartition(7), iters=5).collect()
    }
    assert again == got


# ------------------------------------------------------ property tests

def test_chunker_properties(spark):
    """Property (hypothesis-driven shapes): for arbitrary doc lengths
    and (width, stride) combos, chunking (a) covers every token
    position, (b) emits ceil(n/stride) chunks, (c) clamps n_tokens to
    min(width, n - start + 1), (d) keeps (doc_id, chunk_no) unique."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_words=st.integers(min_value=1, max_value=120),
        width=st.integers(min_value=2, max_value=40),
        stride_frac=st.floats(min_value=0.25, max_value=1.0),
    )
    def run(n_words, width, stride_frac):
        stride = max(1, int(width * stride_frac))
        text = " ".join(f"w{i}" for i in range(n_words))
        docs = spark.createDataFrame(
            [(1, text)], "doc_id bigint, text string"
        )
        ch = (
            chunk_documents(docs, width=width, stride=stride)
            .orderBy("chunk_no")
            .collect()
        )
        assert len(ch) == (n_words + stride - 1) // stride
        covered = set()
        seen_ids = set()
        for r in ch:
            assert r["start_tok"] == r["chunk_no"] * stride + 1
            assert r["n_tokens"] == min(width, n_words - r["start_tok"] + 1)
            covered.update(
                range(r["start_tok"], r["start_tok"] + r["n_tokens"])
            )
            assert (r["doc_id"], r["chunk_no"]) not in seen_ids
            seen_ids.add((r["doc_id"], r["chunk_no"]))
        assert covered == set(range(1, n_words + 1))

    run()


def test_compaction_plan_properties(spark):
    """Property: for arbitrary file-size listings and targets, the
    plan (a) assigns every file to exactly one job, (b) preserves
    byte totals, (c) never exceeds target + largest member per job,
    (d) keeps job file-ranges contiguous and ordered."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sizes=st.lists(
            st.integers(min_value=0, max_value=5000), min_size=1, max_size=20
        ),
        target=st.integers(min_value=1, max_value=4000),
    )
    def run(sizes, target):
        files = spark.createDataFrame(
            [("p", i, s) for i, s in enumerate(sizes)],
            "part string, fid int, sz bigint",
        )
        plan = (
            compaction_plan(
                files, target_bytes=target, partition_col="part",
                file_col="fid", bytes_col="sz",
            )
            .orderBy("job_id")
            .collect()
        )
        assert sum(r["n_files"] for r in plan) == len(sizes)
        assert sum(r["total_bytes"] for r in plan) == sum(sizes)
        for r in plan:
            members = sizes[r["min_file_id"]: r["max_file_id"] + 1]
            assert len(members) == r["n_files"]  # contiguous, exclusive
            assert r["total_bytes"] <= target + max(members)
        bounds = [(r["min_file_id"], r["max_file_id"]) for r in plan]
        assert bounds == sorted(bounds)
        assert all(a2 == b1 + 1 for (_, b1), (a2, _) in zip(bounds, bounds[1:]))

    run()


# ----------------------------------------------- contrastive negatives

def test_contrastive_negatives_semantics(spark):
    from mapreduce_inverted_index_spark.operators.curation import (
        contrastive_negatives,
    )

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(40)], "doc_id bigint, source string"
    )
    out = contrastive_negatives(docs, k=4).collect()
    by_anchor = {}
    for r in out:
        assert r["neg_id"] != r["anchor_id"]
        assert r["same_group"] == (r["neg_id"] % 3 == r["anchor_id"] % 3)
        by_anchor.setdefault(r["anchor_id"], []).append(r["neg_no"])
    # every anchor drew <= 4 negatives (== 4 unless it drew itself)
    assert set(by_anchor) == set(range(40))
    assert all(1 <= len(v) <= 4 for v in by_anchor.values())
    # deterministic under repartitioning (replayable batches)
    again = contrastive_negatives(
        spark.createDataFrame(
            [(i, f"s{i % 3}") for i in range(40)],
            "doc_id bigint, source string",
        ).repartition(7),
        k=4,
    ).collect()
    key = lambda rows: sorted((r["anchor_id"], r["neg_no"], r["neg_id"]) for r in rows)  # noqa: E731
    assert key(again) == key(out)


# ---------------------------------------------------- hard negatives

def test_hard_negatives_excludes_same_label_and_ranks(spark):
    from mapreduce_inverted_index_spark.operators.similarity import (
        hard_negatives,
    )

    # anchor [1,0]; same-label near-dup must be excluded, the
    # nearest other-label vectors win in cosine order.
    rows = [
        (0, [1.0, 0.0], 0),     # anchor
        (1, [0.99, 0.14], 0),   # same label — excluded however close
        (2, [0.9, 0.44], 1),    # cos ~0.899 -> rank 2
        (3, [1.0, 0.05], 1),    # cos ~0.999 -> rank 1
        (4, [0.0, 1.0], 1),     # cos 0     -> rank 3
        (5, [-1.0, 0.0], 2),    # cos -1    -> rank 4 (cut at k=3)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    anchors = emb.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    got = [
        (r["vec_id"], r["rank"])
        for r in hard_negatives(emb, anchors, k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(3, 1), (2, 2), (4, 3)]


def test_policy_filter_null_text_is_dropped(spark):
    """A NULL text (the reference's failed-fetch row) must fire
    too_short, not sail through with every rule NULL-skipped."""
    docs = spark.createDataFrame(
        [(1, None)], "doc_id bigint, text string"
    )
    r = policy_filter(docs).collect()[0]
    assert r["n_tokens"] == 0
    assert "too_short" in r["reasons"]
    assert not r["keep"]


# ----------------------------------------------------- vocab encoding

def test_encode_docs_roundtrip(spark):
    """Encoding under the corpus vocab is lossless (decode == original
    token stream)."""
    from mapreduce_inverted_index_spark.operators.textstats import (
        build_vocab,
        encode_docs,
    )

    docs = spark.createDataFrame(
        [
            (1, "red blue red green red blue"),
            (2, "blue green yellow"),
            (3, ""),
        ],
        "doc_id bigint, text string",
    )
    vocab = {r["term"]: r["token_id"] for r in build_vocab(docs).collect()}
    # freq ranks: red(3)=0, blue(3)? red=3, blue=3, green=2, yellow=1
    # tie red/blue broken by term asc -> blue=0, red=1
    assert vocab == {"blue": 0, "red": 1, "green": 2, "yellow": 3}
    inv = {v: k for k, v in vocab.items()}
    enc = {r["doc_id"]: list(r["token_ids"]) for r in encode_docs(docs).collect()}
    assert [inv[t] for t in enc[1]] == "red blue red green red blue".split()
    assert [inv[t] for t in enc[2]] == "blue green yellow".split()
    assert 3 not in enc  # empty doc: no row (matches tokenize-empty)
