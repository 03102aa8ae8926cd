"""Round-9 operator tests: bucket-level index takedown, the shared
partition-dir swap, flat-store rename-aside crash-safety, the
bigram-LM join route gate, streaming auto-compaction, and the
doc-keyed co-located bucket tier."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _index_rows(df):
    return sorted(
        (r["term"], tuple(r["postings"]), r["df"])
        for r in df.select("term", "postings", "df").collect()
    )


def _bucket_files(path: str) -> dict:
    """{bucket dir -> sorted [(file, size, mtime_ns)]} — the exact-
    files fingerprint untouched buckets must keep."""
    out = {}
    for d in sorted(os.listdir(path)):
        if not d.startswith("bucket="):
            continue
        full = f"{path}/{d}"
        out[d] = sorted(
            (f, os.path.getsize(f"{full}/{f}"), os.stat(f"{full}/{f}").st_mtime_ns)
            for f in os.listdir(full)
            if f.endswith(".parquet")
        )
    return out


def test_delete_from_index_store_touches_only_affected_buckets(spark, tmp_path):
    """The bucketed takedown must (a) leave the store equal to
    build_index of the surviving corpus and (b) keep every untouched
    bucket directory's exact files (same names, sizes, mtimes).
    Synthetic few-term docs so the dead docs' terms land in a strict
    subset of buckets — real documents' hundreds of distinct terms
    would touch every one of 16 buckets and make (b) vacuous (at
    corpus scale the bucket count is thousands, so a takedown batch
    always touches a subset; per-bucket rewrite cost is the point)."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )

    # letter suffixes: the tokenizer's [^a-z\s] regex strips digits
    docs = spark.createDataFrame(
        [
            (
                i,
                f"alpha{chr(97 + i)} beta{chr(97 + i)} "
                f"gamma{chr(97 + i % 3)}",
            )
            for i in range(20)
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "store")
    write_index_store(build_index(docs), path)
    before = _bucket_files(path)
    assert len(before) > 4  # the test is vacuous on a 1-bucket store

    dead = [0, 1]
    affected = delete_from_index_store(spark, path, dead)
    assert affected  # those docs' terms live somewhere

    after = _bucket_files(path)
    untouched = [d for d in before if int(d.split("=")[1]) not in affected]
    assert untouched, "a 2-doc/6-term takedown should not touch every bucket"
    for d in untouched:
        assert after.get(d) == before[d], f"{d} was rewritten"

    want = _index_rows(build_index(docs.where(~F.col("doc_id").isin(dead))))
    assert _index_rows(read_index_store(spark, path)) == want


def test_delete_from_index_store_noop_and_idempotent(spark, tmp_path):
    """Ghost ids (never ingested) must be a pure no-op — zero affected
    buckets, zero file churn; replaying a delete is idempotent."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "store")
    write_index_store(build_index(docs), path)

    dead = [r["doc_id"] for r in docs.limit(2).collect()]
    delete_from_index_store(spark, path, dead)
    snap = _bucket_files(path)
    rows = _index_rows(read_index_store(spark, path))

    assert delete_from_index_store(spark, path, [10**12, 10**12 + 1]) == []
    assert _bucket_files(path) == snap  # ghost pass: zero churn

    delete_from_index_store(spark, path, dead)  # replay
    assert _index_rows(read_index_store(spark, path)) == rows


def test_takedown_stream_bucketed_store(spark, tmp_path):
    """maintain_takedowns_available_now must detect the bucketed
    layout and fold through delete_from_index_store: invariant holds
    across overlapping passes, and buckets untouched by a pass keep
    their exact files."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_takedowns_available_now,
    )

    docs = load_table(spark, SF, "documents")
    index_dir = str(tmp_path / "index")
    queue = str(tmp_path / "queue")
    ckpt = str(tmp_path / "ckpt")
    write_index_store(build_index(docs), index_dir)

    batches = [
        [r["doc_id"] for r in docs.where(F.col("doc_id") % 10 == 0).collect()],
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
        want = _index_rows(
            build_index(docs.where(~F.col("doc_id").isin(list(gone))))
        )
        got = _index_rows(
            spark.read.parquet(index_dir).select("term", "postings", "df")
        )
        assert got == want

    # a no-new-files pass leaves the store byte-identical
    snap = _bucket_files(index_dir)
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    assert _bucket_files(index_dir) == snap


def test_colocated_doc_tier_has_zero_exchange(spark):
    """The doc-keyed bucket pair (tf x dl) must SortMergeJoin with
    ZERO Exchange anywhere in the plan — both tables pre-partitioned
    and pre-sorted on doc_id at write time (the SMB fact-pair
    property on the doc axis)."""
    from mapreduce_inverted_index_spark.plans.registry import all_queries

    df = all_queries()["colocated_doc_tf_norm"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 0, plan[:2000]


def test_lm_bigram_routes_are_value_identical(spark):
    """The LM join-route gate must never leak into values: the default
    threshold's broadcast route and a threshold of 0's shuffle route
    yield identical rows, the default route really does broadcast the
    LM, and the shuffle route's plan really does drop the LM
    broadcasts."""
    from mapreduce_inverted_index_spark.operators.textstats import (
        lm_bigram_scores,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    broadcast = lm_bigram_scores(docs)
    rows_b = sorted(map(tuple, broadcast.collect()))
    plan_b = broadcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b and "ShuffledHashJoin" not in plan_b
    shuffled = lm_bigram_scores(docs, broadcast_max_rows=0)
    assert sorted(map(tuple, shuffled.collect())) == rows_b

    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    # every LM-SIZED join (keys prev / w / (prev, w)) must be a
    # shuffle join on this route; the 1-row corpus-totals cross join
    # and the doc-keyed output join may still broadcast (AQE's call —
    # they are bounded by docs, not by the LM)
    assert "ShuffledHashJoin" in plan
    for bad in ("BroadcastHashJoin [prev", "BroadcastHashJoin [w#"):
        assert bad not in plan, plan[:2000]


def test_lm_bigram_auto_probe_is_bounded(spark):
    """The probe must pick the broadcast route under the threshold and
    the shuffle route when the threshold is tiny — same values either
    way (the gate is a plan decision, not a semantic one)."""
    from mapreduce_inverted_index_spark.operators.textstats import (
        lm_bigram_scores,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    want = sorted(map(tuple, lm_bigram_scores(docs).collect()))
    tiny = lm_bigram_scores(docs, broadcast_max_rows=10)
    assert sorted(map(tuple, tiny.collect())) == want
    plan = tiny._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    for bad in ("BroadcastHashJoin [prev", "BroadcastHashJoin [w#"):
        assert bad not in plan, plan[:2000]


def test_semantic_maintenance_self_compacts(spark, tmp_path):
    """Six maintenance passes with max_files_per_cell=2 must keep
    every cell dir at <= 2 parquet files (the ADD loop appends one
    per pass; the end-of-pass compaction heals crossings) while the
    state stays exactly ivf_assign of everything ingested under the
    frozen codebook."""
    from mapreduce_inverted_index_spark.operators.similarity import ivf_assign
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    land = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    n_passes = 6
    for k in range(n_passes):
        emb.where(F.col("vec_id") % n_passes == k).coalesce(1).write.mode(
            "append"
        ).parquet(land)
        maintain_semantic_cells_available_now(
            spark, land, state, ckpt, n_cells=4, max_files_per_cell=2
        )
        cells_dir = f"{state}/cells"
        for d in os.listdir(cells_dir):
            if d.startswith("cell="):
                n_files = len(
                    [
                        f
                        for f in os.listdir(f"{cells_dir}/{d}")
                        if f.endswith(".parquet")
                    ]
                )
                assert n_files <= 2, f"pass {k}: {d} has {n_files} files"

    cents = spark.read.parquet(f"{state}/cents")
    got = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{state}/cells").collect()
    )
    want = sorted(
        (r["vec_id"], r["cell"]) for r in ivf_assign(emb, cents).collect()
    )
    assert got == want


def test_merge_into_index_store_touches_only_delta_buckets(spark, tmp_path):
    """The bucket-local ADD: merging a delta index rewrites only the
    buckets the delta's terms hash into; the store equals
    build_index of the union; new-bucket terms land in fresh dirs."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        merge_into_index_store,
        read_index_store,
        write_index_store,
    )

    old = spark.createDataFrame(
        [
            (i, f"alpha{chr(97 + i)} beta{chr(97 + i)}")
            for i in range(12)
        ],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(100, "alphaa deltaq"), (101, "deltaq deltaz")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "store")
    write_index_store(build_index(old), path)
    before = _bucket_files(path)

    affected = merge_into_index_store(spark, path, build_index(new))
    assert affected
    after = _bucket_files(path)
    untouched = [d for d in before if int(d.split("=")[1]) not in affected]
    assert untouched, "a 3-term delta should not touch every bucket"
    for d in untouched:
        assert after.get(d) == before[d], f"{d} was rewritten"

    want = _index_rows(build_index(old.union(new)))
    assert _index_rows(read_index_store(spark, path)) == want

    # merging an empty delta is a no-op
    empty = build_index(
        spark.createDataFrame([], "doc_id bigint, text string")
    )
    assert merge_into_index_store(spark, path, empty) == []
    assert _bucket_files(path) == after


def test_term_bucket_matches_spark_xxhash64(spark, monkeypatch):
    """The Python bucket hash equals ``pmod(xxhash64(term), n)`` on
    every term of the fixture corpus and of the benchmark's Zipf
    vocabulary, plus edge strings: empty, non-ASCII, and 32+ bytes
    (the 32-byte stripe loop), at bucket counts small and large
    enough to expose any bit of the hash."""
    import importlib.util
    import sys

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        term_bucket,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    spec = importlib.util.spec_from_file_location(
        "perfbench_gen",
        os.path.join(os.path.dirname(__file__), "..", "perfbench", "gen.py"),
    )
    gen = importlib.util.module_from_spec(spec)
    # dataclasses resolve annotations through sys.modules
    monkeypatch.setitem(sys.modules, spec.name, gen)
    spec.loader.exec_module(gen)

    fixture = [
        r["term"]
        for r in build_index(load_table(spark, SF, "documents"))
        .select("term")
        .collect()
    ]
    edge = ["", "é", "naïve café", "検索エンジン", "x" * 32, "ab" * 16 + "c", "ü" * 35]
    words = fixture + list(gen.vocabulary()) + edge
    mods = (16, 1_000_003, 2**31 - 1)
    rows = (
        spark.createDataFrame([(w,) for w in words], "term string")
        .select(
            "term",
            F.xxhash64("term").alias("h"),
            *[
                F.pmod(F.xxhash64("term"), F.lit(n)).cast("int").alias(f"b{n}")
                for n in mods
            ],
        )
        .collect()
    )
    assert len(fixture) > 20 and len(rows) == len(words) > 50_000
    assert any(r["h"] < 0 for r in rows) and any(r["h"] > 0 for r in rows)
    assert max(len(w.encode()) for w in words) >= 64
    bad = [
        (r["term"], n)
        for r in rows
        for n in mods
        if term_bucket(r["term"], n) != r[f"b{n}"]
    ]
    assert not bad, bad[:10]


def test_term_lookup_store_prunes_partitions(spark, tmp_path, monkeypatch):
    """The store probe must read exactly the manifest-named files of
    the probe terms' buckets, hashed here independently with
    ``F.xxhash64``, and return exactly the index rows for those
    terms."""
    import pyarrow.parquet as pq

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        term_lookup_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import read_manifest
    from mapreduce_inverted_index_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    index = build_index(docs)
    path = str(tmp_path / "store")
    write_index_store(index, path)

    read = []
    real = pq.read_table

    def recording(files, *a, **k):
        read.extend(files)
        return real(files, *a, **k)

    monkeypatch.setattr(pq, "read_table", recording)
    terms = ["join", "window"]
    got = term_lookup_store(spark, path, terms)
    monkeypatch.undo()

    manifest = read_manifest(path, "bucket")
    want_buckets = sorted(
        {
            r["b"]
            for r in spark.createDataFrame([(t,) for t in terms], "term string")
            .select(
                F.pmod(F.xxhash64("term"), F.lit(manifest["n_buckets"]))
                .cast("int")
                .alias("b")
            )
            .collect()
        }
    )
    assert len(want_buckets) == 2, want_buckets
    assert sorted(read) == sorted(
        f"{path}/bucket={b}/{fn}"
        for b in want_buckets
        for fn in manifest["parts"][str(b)]
    )

    want = sorted(
        map(
            tuple,
            index.where(F.col("term").isin(terms))
            .select("term", "postings", "df")
            .collect(),
        )
    )
    assert len(want) == 2
    assert sorted(map(tuple, got.collect())) == want


def test_maintain_index_bucketed_store_add(spark, tmp_path):
    """The streaming ADD loop must detect a bucketed store and fold
    each delta bucket-locally: after every pass the store equals a
    batch build over all files so far, and a pass whose delta
    vocabulary misses a bucket leaves that bucket's files untouched."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_index_available_now,
        streamed_doc_ids,
    )

    src = tmp_path / "landing"
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def corpus():
        return (
            spark.read.format("text")
            .option("wholetext", "true")
            .load(str(src))
            .select(
                F.input_file_name().alias("source"),
                F.col("value").alias("text"),
            )
        )

    def stored():
        return _index_rows(
            spark.read.parquet(index_dir).select("term", "postings", "df")
        )

    # seed the BUCKETED store from the first file batch
    (src / "a.txt").write_text("alphaq betaq gammaq deltaq epsq zetaq")
    (src / "b.txt").write_text("alphaq thetaq iotaq kappaq lambdaq muq")
    maintain = maintain_index_available_now
    write_index_store(build_index(streamed_doc_ids(corpus())), index_dir)
    # checkpoint must see the seed files as consumed: run one pass
    # BEFORE adding new files — it folds the same two files into the
    # store; merge is idempotent for identical (term, doc) pairs
    maintain(spark, str(src), index_dir, ckpt)
    assert stored() == _index_rows(build_index(streamed_doc_ids(corpus())))

    before = _bucket_files(index_dir)
    (src / "c.txt").write_text("alphaq nuq")  # tiny vocabulary delta
    maintain(spark, str(src), index_dir, ckpt)
    assert stored() == _index_rows(build_index(streamed_doc_ids(corpus())))
    after = _bucket_files(index_dir)
    # the delta hashed into a strict subset of buckets
    changed = [d for d in before if after.get(d) != before[d]]
    untouched = [d for d in before if after.get(d) == before[d]]
    assert untouched, "a 3-term delta should not rewrite every bucket"
    assert len(changed) < len(before)

    # no-new-files pass: byte-identical store
    snap = _bucket_files(index_dir)
    maintain(spark, str(src), index_dir, ckpt)
    assert _bucket_files(index_dir) == snap


def test_bm25_colocated_has_no_doc_exchange(spark):
    """With tf and dl from the co-bucketed doc tables, the score
    join must be a doc_id SortMergeJoin over bucketed scans with NO
    doc_id re-shuffle anywhere (the per-query doc-axis Exchange the
    plain form pays); scores equal the plain bm25_topk."""
    from mapreduce_inverted_index_spark.plans.registry import all_queries

    qs = all_queries()
    df = qs["bm25_topk_colocated"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin [doc_id" in plan
    assert "hashpartitioning(doc_id" not in plan, plan[:2000]

    want = [tuple(r) for r in qs["bm25_topk"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()]
    assert [tuple(r) for r in df.collect()] == want


def test_skipgram_pairs_matches_bruteforce(spark):
    """Window semantics pinned against a Python brute force on edge
    shapes: window at text boundaries, repeated tokens (each
    occurrence pairs separately), single-token docs (emit nothing)."""
    from collections import Counter

    from mapreduce_inverted_index_spark.operators.textstats import (
        skipgram_pairs,
    )

    texts = ["a b c d e", "x y", "solo", "p q p q p"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for w in (1, 2, 3):
        got = sorted(map(tuple, skipgram_pairs(docs, window=w).collect()))
        c: Counter = Counter()
        for t in texts:
            xs = t.split()
            for i, x in enumerate(xs):
                for j in range(max(0, i - w), min(len(xs), i + w + 1)):
                    if j != i:
                        c[(x, xs[j])] += 1
        assert got == sorted((a, b, n) for (a, b), n in c.items()), w


def test_skipgram_pairs_plan_has_no_join(spark):
    """Pair generation must be a pure array expression: no join of
    any kind in the plan, one aggregate shuffle only."""
    from mapreduce_inverted_index_spark.operators.textstats import (
        skipgram_pairs,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    df = skipgram_pairs(load_table(spark, SF, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]


def test_index_store_keeps_one_file_per_bucket(spark, tmp_path):
    """Build, merge, and delete must each leave every bucket dir with
    exactly ONE parquet file — rewrites pack per bucket instead of
    scattering one file per shuffle partition."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        merge_into_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "store")

    def assert_one_file_each():
        for d, files in _bucket_files(path).items():
            assert len(files) == 1, f"{d}: {len(files)} files"

    write_index_store(build_index(docs.where(F.col("doc_id") % 3 != 0)), path)
    assert_one_file_each()
    merge_into_index_store(
        spark, path, build_index(docs.where(F.col("doc_id") % 3 == 0))
    )
    assert_one_file_each()
    delete_from_index_store(
        spark, path, [r["doc_id"] for r in docs.limit(3).collect()]
    )
    assert_one_file_each()


def test_bucketed_store_full_streaming_lifecycle(spark, tmp_path):
    """ADD and DELETE streams composed on ONE bucketed store: ingest
    pass, takedown pass, another ingest, another takedown — after
    every step the store equals build_index(ingested so far) minus
    every erased id. This is the operational loop a corpus pipeline
    actually runs; the invariant composes because both folds are
    bucket-local rewrites of the same layout."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_index_available_now,
        maintain_takedowns_available_now,
        streamed_doc_ids,
    )

    src = tmp_path / "landing"
    index_dir = str(tmp_path / "index")
    queue = str(tmp_path / "queue")
    ckpt_add = str(tmp_path / "ckpt_add")
    ckpt_del = str(tmp_path / "ckpt_del")
    src.mkdir()

    def corpus():
        return (
            spark.read.format("text")
            .option("wholetext", "true")
            .load(str(src))
            .select(
                F.input_file_name().alias("source"),
                F.col("value").alias("text"),
            )
        )

    def doc_id_of(fname):
        return [
            r["doc_id"]
            for r in streamed_doc_ids(corpus())
            .where(F.col("text").contains(fname))
            .collect()
        ]

    erased: list = []

    def check():
        want = _index_rows(
            build_index(
                streamed_doc_ids(corpus()).where(
                    ~F.col("doc_id").isin(erased) if erased else F.lit(True)
                )
            )
        )
        got = _index_rows(
            spark.read.parquet(index_dir).select("term", "postings", "df")
        )
        assert got == want

    # seed store + consume seed files through the ADD checkpoint
    (src / "a.txt").write_text("afile alphaq betaq")
    (src / "b.txt").write_text("bfile gammaq deltaq")
    write_index_store(build_index(streamed_doc_ids(corpus())), index_dir)
    maintain_index_available_now(spark, str(src), index_dir, ckpt_add)
    check()

    # takedown a.txt's doc
    spark.createDataFrame(
        [(int(i),) for i in doc_id_of("afile")], "doc_id bigint"
    ).coalesce(1).write.mode("append").parquet(queue)
    erased += doc_id_of("afile")
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt_del)
    check()

    # ingest c.txt, then takedown b.txt's doc
    (src / "c.txt").write_text("cfile alphaq epsq")
    maintain_index_available_now(spark, str(src), index_dir, ckpt_add)
    check()
    spark.createDataFrame(
        [(int(i),) for i in doc_id_of("bfile")], "doc_id bigint"
    ).coalesce(1).write.mode("append").parquet(queue)
    erased += doc_id_of("bfile")
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt_del)
    check()


def test_funnel_colocated_has_no_user_exchange(spark):
    """The user-bucketed funnel must run all three per-user
    aggregates and both stage joins on the bucket distribution —
    no user_id re-shuffle anywhere; answers equal the plain funnel."""
    from mapreduce_inverted_index_spark.plans.registry import all_queries

    qs = all_queries()
    df = qs["event_funnel_colocated"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(user_id" not in plan, plan[:2000]

    want = sorted(
        map(
            tuple,
            qs["event_funnel_conversion"]
            .fn(spark, "/root/testdata/sf0.001")
            .collect(),
        )
    )
    assert sorted(map(tuple, df.collect())) == want
