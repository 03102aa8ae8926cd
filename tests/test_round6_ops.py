"""Round-6 operator semantics beyond the registry differential:

* gap codec: decode(encode(p)) == p on adversarial posting shapes.
* triangle_stats: exact counts on known graphs (K4, path, wheel) and
  equality with brute-force enumeration on a pseudo-random graph —
  the degree-orientation rewrite must not change the answer.
* snapshot_merge: upsert wins, tombstones delete, inserts appear,
  version ties resolve to the delta side.
* group_sample: exact per-group counts, deterministic across
  partitionings.
* passage ops: short docs, shared prefixes, null text.
* semantic dedup: precision 1.0 by construction; measured recall vs
  brute force above the contract floor on the real sf0.001 fixture;
  r=1 multi-assignment degenerates to ivf_assign.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.graph import (
    cooccurrence_edges,
    triangle_stats,
)
from mapreduce_inverted_index_spark.operators.inverted_index import (
    gap_decode_postings,
    gap_encode_index,
)
from mapreduce_inverted_index_spark.operators.passages import (
    boilerplate_profile,
    doc_passages,
)
from mapreduce_inverted_index_spark.operators.similarity import (
    ivf_assign,
    ivf_centroids,
    ivf_multi_assign,
    semantic_dedup_pairs,
)
from mapreduce_inverted_index_spark.operators.snapshots import (
    group_sample,
    snapshot_merge,
)
from mapreduce_inverted_index_spark.sources.tables import load_table


# ------------------------------------------------------------- gap codec

def test_gap_codec_roundtrip_shapes(spark):
    rows = [
        ("one", [7]),
        ("dense", list(range(100, 200))),
        ("sparse", [1, 1000, 10**12, 10**12 + 1]),
        ("zero_first", [0, 5, 6]),
    ]
    idx = spark.createDataFrame(
        [(t, p, len(p)) for t, p in rows], "term string, postings array<bigint>, df bigint"
    )
    enc = gap_encode_index(idx)
    got_gaps = {r["term"]: r["gaps"] for r in enc.collect()}
    assert got_gaps["one"] == [7]
    assert got_gaps["dense"] == [100] + [1] * 99
    assert got_gaps["sparse"] == [1, 999, 10**12 - 1000, 1]
    dec = {r["term"]: r["postings"] for r in gap_decode_postings(enc).collect()}
    for t, p in rows:
        assert dec[t] == p, t


# ------------------------------------------------------------- triangles

def _tri(spark, edges):
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    return triangle_stats(df).collect()[0]


def test_triangles_known_graphs(spark):
    k4 = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    r = _tri(spark, k4)
    assert (r["n_vertices"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)

    path = [(0, 1), (1, 2), (2, 3)]
    r = _tri(spark, path)
    assert (r["n_vertices"], r["n_edges"], r["n_triangles"]) == (4, 3, 0)

    # wheel W5: hub 0 + 5-cycle rim -> 5 triangles
    rim = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)]
    spokes = [(0, i) for i in range(1, 6)]
    r = _tri(spark, rim + spokes)
    assert (r["n_vertices"], r["n_edges"], r["n_triangles"]) == (6, 10, 5)


def test_triangles_match_bruteforce_on_pseudorandom(spark):
    # deterministic "random" graph: edge (u, v) iff md5-ish hash parity
    n = 40
    edges = [
        (u, v)
        for u, v in itertools.combinations(range(n), 2)
        if (u * 7919 + v * 104729) % 5 == 0
    ]
    adj = {i: set() for i in range(n)}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    brute = sum(
        1
        for a, b, c in itertools.combinations(range(n), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    r = _tri(spark, edges)
    assert r["n_triangles"] == brute
    assert r["n_edges"] == len(edges)


def test_cooccurrence_edges_small(spark):
    rows = [
        # u1,u2 share (click, 10:05); u3 is same minute, other type;
        # u4 same type, other minute -> only (1,2) is an edge.
        (1, "2024-01-01 10:05:10", "click"),
        (2, "2024-01-01 10:05:55", "click"),
        (3, "2024-01-01 10:05:30", "view"),
        (4, "2024-01-01 10:06:05", "click"),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, ty) for i, (u, t, ty) in enumerate(rows)],
        "event_id bigint, user_id bigint, ts_s string, event_type string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    got = {(r["u"], r["v"]) for r in cooccurrence_edges(ev).collect()}
    assert got == {(1, 2)}


# -------------------------------------------------------- snapshot merge

def test_snapshot_merge_semantics(spark):
    base = spark.createDataFrame(
        [(1, "a", 1, False), (2, "b", 1, False), (3, "c", 1, False)],
        "k bigint, val string, _version int, _deleted boolean",
    )
    delta = spark.createDataFrame(
        [
            (2, "b2", 2, False),   # update wins by version
            (3, "gone", 2, True),  # tombstone deletes
            (4, "d", 1, False),    # insert (new key)
            (1, "a-tie", 1, False),  # version tie -> delta side wins
        ],
        "k bigint, val string, _version int, _deleted boolean",
    )
    got = {
        r["k"]: r["val"]
        for r in snapshot_merge(base, delta, ["k"]).collect()
    }
    assert got == {1: "a-tie", 2: "b2", 4: "d"}


def test_triangle_stats_empty_graph(spark):
    empty = spark.createDataFrame([], "u bigint, v bigint")
    r = triangle_stats(empty).collect()[0]
    assert (r["n_vertices"], r["n_edges"], r["n_triangles"]) == (0, 0, 0)


def test_snapshot_merge_full_row_tiebreak_is_deterministic(spark):
    # two same-key same-version rows on the SAME side: winner must be
    # fixed by the row hash, not by partitioning/arrival order
    base = spark.createDataFrame(
        [(1, "x", 1, False)], "k bigint, val string, _version int, _deleted boolean"
    )
    delta = spark.createDataFrame(
        [(1, "a", 2, False), (1, "b", 2, False)],
        "k bigint, val string, _version int, _deleted boolean",
    )
    got1 = snapshot_merge(base, delta, ["k"]).collect()[0]["val"]
    got2 = snapshot_merge(
        base.repartition(7), delta.repartition(3).sort(F.desc("val")), ["k"]
    ).collect()[0]["val"]
    assert got1 == got2


def test_group_sample_counts_and_determinism(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents")
    sizes = {r["source"]: r["n"] for r in
             docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    out = group_sample(docs, "source", 20)
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got == {s: min(20, n) for s, n in sizes.items()}
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in group_sample(docs.repartition(13), "source", 20).collect()
    )
    assert ids1 == ids2  # partitioning-independent


# ------------------------------------------------------------- passages

def test_passages_short_and_null_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),                      # < 8 words -> 1 passage
            (2, " ".join(["w"] * 17)),              # 17 words -> 3 passages
            (3, None),                              # null -> no rows
            (4, ""),                                # empty -> no rows
        ],
        "doc_id bigint, text string",
    )
    p = doc_passages(docs, k=8)
    counts = {r["doc_id"]: r["n"] for r in
              p.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 1, 2: 3}


def test_boilerplate_flags_shared_prefix(spark):
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail a b c"),
            (2, shared + " other words here now"),
            (3, "completely different text with no overlap at all"),
        ],
        "doc_id bigint, text string",
    )
    prof = {r["doc_id"]: r for r in boilerplate_profile(docs, k=8).collect()}
    assert prof[1]["n_common"] == 1 and prof[2]["n_common"] == 1
    assert prof[3]["n_common"] == 0
    assert prof[3]["retained_ratio"] == 1.0


# -------------------------------------------------------- semantic dedup

def test_semantic_dedup_precision_and_recall_sf0001(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    tau = 0.4
    found = semantic_dedup_pairs(emb, tau=tau, r=3)
    rows = found.collect()
    assert all(r["cos_sim"] >= tau for r in rows)  # precision by construction
    # brute anchor
    from mapreduce_inverted_index_spark.functions.vectors import cosine_similarity

    e = emb.select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
    brute = {
        (r["a_id"], r["b_id"])
        for r in a.crossJoin(b)
        .where(F.col("a_id") < F.col("b_id"))
        .where(F.round(cosine_similarity("va", "vb"), 6) >= tau)
        .collect()
    }
    got = {(r["a_id"], r["b_id"]) for r in rows}
    assert got <= brute
    if brute:
        assert len(got & brute) / len(brute) >= 0.5  # contract floor


def test_interleave_bits_known_values(spark):
    from mapreduce_inverted_index_spark.operators.layout import (
        sql_interleave_bits,
    )

    df = spark.createDataFrame(
        [(3, 1), (0, 0), (255, 0), (0, 255), (255, 255)], "x bigint, y bigint"
    )
    got = [r["z"] for r in df.select(
        F.expr(sql_interleave_bits("x", "y", 8)).alias("z")
    ).collect()]
    # x bits at even positions, y bits at odd
    assert got == [
        0b111,            # x=0b11 -> 0b101, y=0b1 -> 0b010
        0,
        0b0101010101010101,
        0b1010101010101010,
        0xFFFF,
    ]
    # a stride through the dense 8-bit grid against a Python interleave
    sweep = spark.range(0, 1 << 16, 257).selectExpr(
        "CAST(id % 256 AS BIGINT) AS x", "CAST(id div 256 AS BIGINT) AS y"
    )
    for r in sweep.select(
        "x", "y", F.expr(sql_interleave_bits("x", "y", 8)).alias("z")
    ).collect():
        want = sum(
            ((r["x"] >> i) & 1) << (2 * i) | ((r["y"] >> i) & 1) << (2 * i + 1)
            for i in range(8)
        )
        assert r["z"] == want, (r["x"], r["y"])


def test_zorder_envelopes_are_2d_narrow(spark, sf_oracle):
    from mapreduce_inverted_index_spark.operators.layout import (
        zorder_layout_profile,
    )

    orders = load_table(spark, sf_oracle, "orders").select(
        "o_custkey", "o_orderdate"
    )
    prof = zorder_layout_profile(
        orders, "o_custkey", "o_orderdate", n_files=16, bits=8
    ).collect()
    assert len(prof) == 16
    gx_min = min(r["min_x"] for r in prof)
    gx_max = max(r["max_x"] for r in prof)
    gy_min = min(r["min_y"] for r in prof)
    gy_max = max(r["max_y"] for r in prof)
    x_range = gx_max - gx_min
    y_range = (gy_max - gy_min).total_seconds()
    # 16 z-prefix files = 2 leading bits per dimension -> each file
    # covers ~1/4 of each dimension's rank range. Rank != value, so
    # allow generous slack; a linear sort would put ~1.0 of the
    # second dimension in every file, which is what this rules out.
    for r in prof:
        assert (r["max_x"] - r["min_x"]) / x_range <= 0.6
        assert (r["max_y"] - r["min_y"]).total_seconds() / y_range <= 0.6
    # and files hold roughly equal rows (rank-grid equidistribution)
    n_total = sum(r["n_rows"] for r in prof)
    for r in prof:
        assert r["n_rows"] >= n_total / 16 * 0.4


def test_lm_scores_rank_common_below_rare(spark):
    from mapreduce_inverted_index_spark.operators.textstats import (
        lm_unigram_scores,
    )

    # corpus dominated by "alpha beta"; doc 10 is pure common words,
    # doc 11 pure rare words -> rare doc must score strictly higher
    # (less probable); identical docs score identically
    docs = spark.createDataFrame(
        [(i, "alpha beta alpha beta") for i in range(10)]
        + [(10, "alpha beta"), (11, "zzz qqq"), (12, "zzz qqq")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["neg_logprob_per_tok"]
           for r in lm_unigram_scores(docs).collect()}
    assert got[11] > got[10]
    assert got[11] == got[12]


def test_ivf_pruned_scan_equals_inmemory_probe(spark, sf_smoke, tmp_path):
    from mapreduce_inverted_index_spark.operators.similarity import (
        ivf_pruned_scan_topk,
        ivf_topk,
        write_ivf_cells,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = ivf_centroids(emb, 16, 3)
    assigned = ivf_assign(emb, cents)
    path = str(tmp_path / "cells")
    write_ivf_cells(assigned, path)
    scan = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_pruned_scan_topk(spark, path, cents, qs, k=5, n_probe=4).collect()
    }
    mem = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(
            emb, qs, k=5, n_cells=16, n_probe=4, cents=cents, assigned=assigned
        ).collect()
    }
    assert scan == mem  # same candidates -> identical results
    # and the scan really is partition-pruned
    plan = (
        spark.read.parquet(path)
        .where(F.col("cell").isin([1, 2]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [cell" in plan


def test_multi_assign_r1_equals_argmax(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    cents = ivf_centroids(emb, 16, 3)
    single = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    multi = {r["vec_id"]: r["cell"] for r in
             ivf_multi_assign(emb, cents, r=1).collect()}
    assert single == multi


# -------------------------------------------------- streaming heavy hitters

def test_stream_frequent_terms_incremental_passes(spark, tmp_path):
    """Three file-drop passes must maintain a valid MG summary (state
    bounded by k) whose verified answer equals batch GROUP BY HAVING
    over everything ingested so far — including a trimming-heavy
    configuration (k << vocabulary)."""
    from mapreduce_inverted_index_spark.streaming.sketches import (
        maintain_frequent_terms_available_now,
        verified_heavy_terms,
    )

    land = tmp_path / "landing"
    land.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    phi, k = 0.05, 25  # k+1 > 1/phi holds; vocab will exceed k

    def drop(name: str, rows):
        # single-file shards (pyarrow), mirroring the fixture layout -
        # pathGlobFilter matches leaf file names, not subpaths
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            str(land / name),
        )

    def run():
        maintain_frequent_terms_available_now(
            spark, str(land), state, ckpt, k=k, glob="*.parquet"
        )

    def expected():
        docs = spark.read.option("pathGlobFilter", "*.parquet").parquet(
            str(land)
        )
        from mapreduce_inverted_index_spark.functions.text import terms as T

        toks = docs.select(F.explode(T("text", keep_duplicates=True)).alias("t"))
        n = toks.count()
        import math

        thr = math.ceil(phi * n)
        return {
            (r["t"], r["n"])
            for r in toks.groupBy("t").agg(F.count("*").alias("n")).collect()
            if r["n"] >= thr
        }

    def got():
        return {
            (r["term"], r["n_occ"])
            for r in verified_heavy_terms(
                spark, str(land), state, phi, glob="*.parquet"
            ).collect()
        }

    hot = "alpha beta " * 20
    cold1 = " ".join(f"c{i}" for i in range(60))
    drop("d1.parquet", [(1, hot + cold1), (2, hot)])
    run()
    assert spark.read.parquet(state).count() <= k
    assert got() == expected()

    cold2 = " ".join(f"d{i}" for i in range(60))
    drop("d2.parquet", [(3, "alpha gamma " * 15 + cold2)])
    run()
    assert spark.read.parquet(state).count() <= k
    assert got() == expected()

    run()  # no new files -> state untouched, answer unchanged
    assert got() == expected()
